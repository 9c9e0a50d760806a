package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext,
  FileStatus, FileSystem, FileUtil, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The one filesystem seam: every durable path graft reads, writes,
  * lists or deletes goes through here, on the Hadoop `FileSystem` the
  * path's scheme resolves to under the active session's Hadoop conf.
  * A plain path resolves like Spark's own reads of it (`fs.defaultFS`),
  * so an hdfs:// or s3a:// root behaves like a local one.
  *
  * `file:` resolves to the RAW local filesystem: no `.crc` sidecars
  * are written beside graft's own files.
  *
  * Stores differ in what is atomic (the LogStore split of Delta Lake,
  * Armbrust et al., VLDB 2020), so the two commit primitives choose
  * by scheme:
  *  - local (`file:` and any `RawLocalFileSystem`): [[writeAtomic]]
  *    renames over the target in one rename(2), and [[putIfAbsent]]
  *    claims with a hard link, link(2), which fails if the target
  *    exists. Hadoop's `create(p, overwrite = false)` is NOT exclusive
  *    there: 8 threads racing it on one target saw more than one
  *    winner in 915 of 1,000 trials, and link(2) in 0 of 2,000.
  *  - any other scheme: `FileContext.rename`, with OVERWRITE for
  *    [[writeAtomic]] and without it for [[putIfAbsent]]. Both are
  *    atomic on HDFS (at the namenode). On other stores atomicity is
  *    up to the store: an object store without a conditional put can
  *    let two claimants both win.
  *
  * Both primitives stage the body under a per-call hidden
  * `.<name>.<uuid>.tmp` beside the target, so concurrent writers never
  * share a staging file, and a crash leaves only a stray that no
  * listing of graft's (or Spark's) ever reads.
  */
object Fs {

  /** A listed file or directory. `path` is spelled under the dir the
    * caller listed (`<dir>/<name>`), so it compares with the caller's
    * own paths.
    */
  final case class Entry(path: String, len: Long, isDir: Boolean) {
    def name: String = path.substring(path.lastIndexOf('/') + 1)
  }

  private def conf: Configuration = SparkSession.getActiveSession
    .orElse(SparkSession.getDefaultSession)
    .fold(new Configuration())(_.sparkContext.hadoopConfiguration)

  private def fsOf(p: Path): FileSystem = p.getFileSystem(conf) match {
    case l: LocalFileSystem => l.getRawFileSystem
    case fs => fs
  }

  /** The file at `path` as UTF-8 text; None when it does not exist. */
  def read(path: String): Option[String] = {
    val p = new Path(path)
    try {
      val in = fsOf(p).open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }
  }

  private def stage(fs: FileSystem, p: Path, body: String): Path = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    tmp
  }

  /** Replace the file at `path` with `body` (parents created): readers
    * see the old bytes or the new, never an absent or truncated file.
    */
  def writeAtomic(path: String, body: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    val tmp = stage(fs, p, body)
    fs match {
      case _: RawLocalFileSystem =>
        // a target once written through the checksummed `file:`
        // filesystem keeps its `.<name>.crc`, which would fail every
        // checksummed read of the new bytes: drop it before they land
        fs.delete(new Path(p.getParent, s".${p.getName}.crc"), false)
        if (!fs.rename(tmp, p)) {
          fs.delete(tmp, false)
          sys.error(s"writeAtomic: rename $tmp -> $p failed")
        }
      case _ =>
        FileContext.getFileContext(fs.getUri, conf).rename(tmp,
          fs.makeQualified(p), Options.Rename.OVERWRITE)
    }
  }

  /** Create the file at `path` with `body` unless it exists: true for
    * the one caller that created it, false for every other.
    */
  def putIfAbsent(path: String, body: String): Boolean = {
    val p = new Path(path)
    val fs = fsOf(p)
    val tmp = stage(fs, p, body)
    try fs match {
      case l: RawLocalFileSystem =>
        try {
          java.nio.file.Files.createLink(l.pathToFile(p).toPath,
            l.pathToFile(tmp).toPath)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case _ =>
        try {
          FileContext.getFileContext(fs.getUri, conf).rename(tmp,
            fs.makeQualified(p))
          true
        } catch { case _: FileAlreadyExistsException => false }
    } finally { fs.delete(tmp, false); () }
  }

  /** The file or dir at `path`, if it exists. */
  def stat(path: String): Option[Entry] = {
    val p = new Path(path)
    try {
      val s = fsOf(p).getFileStatus(p)
      Some(Entry(path.stripSuffix("/"), s.getLen, s.isDirectory))
    } catch { case _: FileNotFoundException => None }
  }

  /** The children of `dir`; empty when it does not exist. */
  def list(dir: String): Seq[Entry] = {
    val p = new Path(dir)
    val base = dir.stripSuffix("/")
    try fsOf(p).listStatus(p).toSeq.map(s =>
      Entry(s"$base/${s.getPath.getName}", s.getLen, s.isDirectory))
    catch { case _: FileNotFoundException => Nil }
  }

  /** Every file under `dir`, at any depth, whose name ends with
    * `suffix`; empty when `dir` does not exist.
    */
  def listRec(dir: String, suffix: String = ""): Seq[Entry] =
    list(dir).flatMap(e =>
      if (e.isDir) listRec(e.path, suffix)
      else if (e.name.endsWith(suffix)) Seq(e)
      else Nil)

  /** The status of every file under `dir`, at any depth; empty when
    * `dir` does not exist.
    */
  def leafStatuses(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = fsOf(p)
    def walk(q: Path): Seq[FileStatus] =
      try fs.listStatus(q).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s))
      catch { case _: FileNotFoundException => Nil }
    walk(p)
  }

  /** Rename `src` to `dst`, creating `dst`'s parent. */
  def move(src: String, dst: String): Unit = {
    val (s, d) = (new Path(src), new Path(dst))
    val fs = fsOf(s)
    fs.mkdirs(d.getParent)
    if (!fs.rename(s, d)) sys.error(s"move $s -> $d failed")
  }

  /** Move every file under the dir `src` to its relative path under
    * `dst`, renaming a whole dir where `dst` has none yet: a file-by-file
    * move creates each missing dir, and a created dir's permission is
    * set by forking `chmod` where Hadoop has no native library (~6 ms a
    * file into a fresh table, measured).
    */
  def mergeInto(src: String, dst: String): Unit = {
    val fs = fsOf(new Path(src))
    def go(a: FileStatus, b: Path): Unit =
      if (!fs.exists(b)) {
        if (!fs.rename(a.getPath, b)) sys.error(s"move ${a.getPath} -> $b failed")
      } else if (a.isDirectory && fs.getFileStatus(b).isDirectory)
        fs.listStatus(a.getPath).foreach(c => go(c, new Path(b, c.getPath.getName)))
      else sys.error(s"mergeInto: $b exists")
    go(fs.getFileStatus(new Path(src)), new Path(dst))
  }

  /** Land the tree a Spark write left at `src` in the dir `dst`: name
    * each file ending in `ext` in place with `prefix`, delete every
    * other file (Spark's `_SUCCESS` and `.crc` sidecars), then
    * [[mergeInto]] `dst` when anything is left. Returns the landed
    * files' paths under `dst`.
    */
  def land(src: String, dst: String, prefix: String,
      ext: String): Seq[String] = {
    val landed = listRec(src).flatMap { f =>
      if (f.name.endsWith(ext)) {
        val cut = f.path.lastIndexOf('/') + 1
        val named = s"${f.path.take(cut)}$prefix${f.name}"
        move(f.path, named)
        Some(s"$dst/${named.stripPrefix(s"$src/")}")
      } else { deleteTree(f.path); None }
    }
    if (landed.nonEmpty) mergeInto(src, dst)
    landed
  }

  /** Copy the file or tree at `src` to `dst`. */
  def copy(src: String, dst: String): Unit = {
    val (s, d) = (new Path(src), new Path(dst))
    if (!FileUtil.copy(fsOf(s), s, fsOf(d), d, false, conf))
      sys.error(s"copy $s -> $d failed")
  }

  /** Delete the file or tree at `path`; false when it was absent. */
  def deleteTree(path: String): Boolean = {
    val p = new Path(path)
    fsOf(p).delete(p, true)
  }

  /** A fresh local temp dir named after `tag`. */
  def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_${tag}_").toString
}
