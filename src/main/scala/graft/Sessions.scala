package graft

import org.apache.spark.sql.SparkSession

/** The one `SparkSession` factory of the entry points and tools. */
object Sessions {
  /** Parquet TIMESTAMP(NANOS) columns (`events.ts`) read as longs. */
  val NanosAsLong: (String, String) = "spark.sql.legacy.parquet.nanosAsLong" -> "true"
  val Adaptive: (String, String) = "spark.sql.adaptive.enabled" -> "true"

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time and no UI, plus `confs`; an existing session is returned as
    * is (`getOrCreate`). */
  def local(cpus: String, confs: (String, String)*): SparkSession =
    confs.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
}
