package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType}
import graft.sources.{BucketedTap, ParquetTap, SequenceFileTap, SinkMode}
import graft.streaming.StreamOps

/** Tap writes and reads, table writes and stream commits on `file:` run
  * without launching a process per directory, file, status or rename:
  * the JVM's own `jdk.ProcessStart` events are counted while they run. */
class ProcessLaunchSpec extends SparkSpec {
  private val Forked = Set("chmod", "readlink", "ls")

  /** Commands (basename of the program) launched while `body` runs. */
  private def launches(body: => Unit): Map[String, Int] = {
    val file = Files.createTempFile("launches", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
    } finally rec.close()
    try RecordingFile.readAllEvents(file).asScala.toSeq
      .map(_.getString("command").trim.split("\\s+").head.split('/').last)
      .groupBy(identity).map { case (c, cs) => c -> cs.size }
    finally Files.delete(file)
  }

  test("tap round trips, a bucketed write and a 2-batch stream launch no chmod, readlink or ls") {
    val tmp = Files.createTempDirectory("process-launch")
    val rows = spark.range(400).select(col("id"), (col("id") % 7).as("k"))
    val in = tmp.resolve("in").toString
    Seq(0, 1).foreach(b => rows.where(col("id") % 2 === b).coalesce(1)
      .write.mode("append").parquet(in))
    val table = "process_launch_bucketed"
    val counts = launches {
      val pq = ParquetTap(tmp.resolve("pq").toString)
      pq.write(rows, SinkMode.Replace)
      assert(pq.read(spark).count() == 400L)
      BucketedTap(table, 4, Seq("k")).write(rows, SinkMode.Replace)
      val seq = SequenceFileTap(tmp.resolve("seq").toString)
      seq.write(rows.select(col("id").cast("string"), col("k").cast("string")), SinkMode.Replace)
      assert(seq.read(spark).count() == 400L)
      var batches = 0
      StreamOps.runForeachBatch(StreamOps.readStream(spark, in,
          new StructType().add("id", LongType).add("k", LongType),
          Map("maxFilesPerTrigger" -> "1")), tmp.resolve("chk").toString) { (b, _) =>
        b.count()
        batches += 1
      }
      assert(batches == 2)
    }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val forked = counts.filter { case (c, _) => Forked(c) }
    assert(forked.isEmpty, s"launched ${forked.toSeq.sorted.map { case (c, n) => s"$c×$n" }
      .mkString(", ")}; every launch: ${counts.toSeq.sorted.mkString(", ")}")
  }
}
