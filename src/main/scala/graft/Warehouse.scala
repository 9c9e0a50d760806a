package graft

import org.apache.spark.sql.SparkSession

/** Idempotent warehouse-table lifecycle for the bucketed index
  * builders: drop the catalog entries AND their orphaned locations
  * (an in-memory catalog forgets tables across JVMs; the warehouse
  * directory does not).
  */
private[graft] object Warehouse {
  def reset(spark: SparkSession, db: String, tables: Seq[String]): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    for (tbl <- tables) {
      spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
      Fs.deleteTree(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/$db.db/$tbl")
    }
  }
}
