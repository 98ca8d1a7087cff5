package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Parquet

/** Table access helpers for the driver test data (TESTDATA.md). */
object Tables {
  /** Test-data table `table` (`<dir>/<table>.parquet`), read through the
    * engine's one parquet reader. */
  def read(s: SparkSession, dir: String, table: String): DataFrame =
    Parquet.read(s, s"$dir/$table.parquet")

  /** `events.ts` encoding has drifted across testdata generations:
    * TIMESTAMP(NANOS) (read as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), then
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) which Spark reads as
    * TIMESTAMP_NTZ. Normalize both to a session-tz TIMESTAMP: every
    * entry point pins the session timezone to UTC, so the NTZ→TZ cast is
    * value-preserving and keeps matching the DuckDB oracle (itself NTZ). */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = read(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // integer div: ns values (~1.7e18) exceed double's 2^53 exact range
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** The per-process staging name `<name>_p<pid>`: two JVMs on one box
    * (a correctness run beside a bench run) otherwise drop or overwrite
    * each other's staged tables and directories mid-read. Re-runs within
    * one JVM reuse the name, so each staging helper wipes it first. */
  def processLocal(name: String): String =
    s"${name}_p${ProcessHandle.current.pid}"

  /** This process's staging table `name`, already dropped with its
    * warehouse directory. */
  def stagedTable(s: SparkSession, name: String): String = {
    val table = processLocal(name)
    dropStagedTable(s, table)
    table
  }

  /** This process's staging directory `name` under `java.io.tmpdir`,
    * wiped of any earlier run's files. */
  def stagedDir(name: String): String = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"),
      processLocal(name))
    deleteRecursively(d)
    d.toString
  }

  /** Drop a staging table AND its warehouse directory. `DROP TABLE` alone
    * is not enough under the gate: a crashed earlier run can leave the
    * data directory behind with no catalog entry, and the next
    * `saveAsTable` then fails on the non-empty location. */
  def dropStagedTable(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    // conf value may be a file: URI or a bare (possibly relative) path
    val raw = s.conf.get("spark.sql.warehouse.dir",
      new java.io.File("spark-warehouse").toURI.toString)
    val uri = new java.net.URI(raw)
    val warehouse = new java.io.File(
      if (uri.getScheme == "file" || uri.getScheme == null) uri.getPath
      else raw)
    deleteRecursively(new java.io.File(warehouse, table))
  }

  /** Delete `f` and everything under it; a missing file is left alone. */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }
}
