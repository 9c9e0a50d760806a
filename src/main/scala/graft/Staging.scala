package graft

/** JVM-lifetime memoized temp-dir staging — the shared "lake snapshot"
  * scratch behind Io's round-trip staging, streaming file sinks, and
  * Dedup's CC-label registry.
  *
  * Contract: `dir(key, tag)(write)` runs `write` into a fresh temp
  * directory ONCE per key and returns the same path for the JVM's
  * lifetime. Like every lake-snapshot cache here (Ann.codebooks), it
  * assumes the source data a key derives from is immutable while the
  * process lives. ONE shutdown hook deletes every staged tree, so
  * scratch never accumulates across processes regardless of which
  * module staged it.
  */
object Staging {

  private val staged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // bumped once per NEW memoized dir() key — bench snapshots it
  // around each timed run to detect staging-backed queries (their
  // second run would read the memoized tree: different work, so
  // best-of-2 must not compare them)
  private val landed = new java.util.concurrent.atomic.AtomicLong(0)

  /** Count of memoized dir() keys this JVM has landed so far. */
  def stagedKeys: Long = landed.get

  // registered at object init — any dir() call initializes the object
  // first, so the hook always exists before a tree does
  private val cleanup: Thread = {
    val th = new Thread(() => staged.values.forEach { d =>
      try Fs.deleteTree(d) catch { case _: Exception => }
    }, "graft-staging-cleanup")
    Runtime.getRuntime.addShutdownHook(th)
    th
  }

  /** The staged path for `key`, materializing it via `write` on first
    * use. `tag` only names the temp dir (debuggability).
    *
    * `write` runs a Spark job, so it must NOT run inside the map's
    * bin lock (a colliding key would block for the whole job and a
    * recursive dir() call would throw): stage into a private dir
    * first, then publish with putIfAbsent. Two racing stagings of the
    * same key both run `write`; the loser's tree is deleted — a
    * duplicated job beats a held lock. A `write` that throws has its
    * tree deleted before the rethrow, so failures leak no scratch.
    */
  def dir(key: String, tag: String)(write: String => Unit): String = {
    val existing = staged.get(key)
    if (existing != null) return existing
    val d = Fs.tempDir(tag)
    try write(d)
    catch {
      case e: Throwable =>
        try Fs.deleteTree(d) catch { case _: Exception => }
        throw e
    }
    val prior = staged.putIfAbsent(key, d)
    if (prior == null) { landed.incrementAndGet(); d }
    else {
      try Fs.deleteTree(d) catch { case _: Exception => }
      prior
    }
  }

  /** A FRESH scratch dir (no memoization — every call returns a new
    * one) registered with the same shutdown cleanup as staged trees.
    * The default home for session-scoped mutable state (st13's
    * group-maintenance tables) that a deployment would instead point
    * at durable storage.
    */
  def scratch(tag: String): String = {
    val d = Fs.tempDir(tag)
    staged.put(s"scratch:$d", d)
    d
  }

  /** Release a [[scratch]] dir its caller is done with: delete its
    * tree now, and forget it, instead of at JVM exit.
    */
  def release(d: String): Unit =
    try Fs.deleteTree(d)
    finally { staged.remove(s"scratch:$d"); () }

  /** Count of [[scratch]] dirs not yet released — spec access. */
  private[graft] def scratchKeys: Int = {
    var n = 0
    staged.keySet.forEach(k => if (k.startsWith("scratch:")) n += 1)
    n
  }

  /** The staged path for `key`, if this JVM landed it — spec access. */
  def lookup(key: String): Option[String] = Option(staged.get(key))
}
