package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import graft.sources.{Parquet, ParquetTap, PartitionTap, SinkMode}
import graft.streaming.StreamOps

/** `graft.sources.Parquet` reads the schema Spark's own parquet inference
  * reads, from one footer on the driver, without launching a job. */
class ParquetReaderSpec extends SparkSpec {
  private def tmp(): String = Files.createTempDirectory("parquet-reader").toString

  /** The reader's schema equals `spark.read.parquet`'s for `path`. */
  private def sameSchema(path: String, options: Map[String, String] = Map.empty) = {
    val ours = Parquet.read(spark, path, options).schema
    val theirs = spark.read.options(options).parquet(path).schema
    assert(ours == theirs, s"$path: reader $ours, spark.read.parquet $theirs")
    ours
  }

  private def tables: Seq[String] =
    new java.io.File(sf()).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq

  test("every test-data table reads with spark.read.parquet's schema") {
    assert(tables.contains("events.parquet") && tables.size >= 8, tables)
    tables.foreach(t => sameSchema(s"${sf()}/$t"))
  }

  test("a TIMESTAMP(NANOS) column reads as nanos under NanosAsLong, " +
       "as spark.read.parquet reads it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val file = s"${tmp()}/nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L)) finally w.close()
    assert(spark.conf.get(Sessions.NanosAsLong._1) == "true")
    assert(sameSchema(file)("ts").dataType == LongType)
    assert(Parquet.read(spark, file).head().getLong(0) == 1700000000123456789L)
  }

  test("a multi-file directory reads with spark.read.parquet's schema") {
    val dir = s"${tmp()}/multi"
    spark.range(200).select(col("id"), (col("id") % 7).as("k"),
        col("id").cast("string").as("s"))
      .repartition(4).write.parquet(dir)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) == 4)
    sameSchema(dir)
  }

  test("a PartitionTap directory reads with its partition columns") {
    val dir = s"${tmp()}/parts"
    val tap = PartitionTap(ParquetTap(dir), Seq("p", "q"))
    tap.write(spark.range(50).select(col("id"), (col("id") % 3).as("p"),
      (col("id") % 2).cast("string").as("q")), SinkMode.Replace)
    val schema = sameSchema(dir)
    assert(tap.read(spark).schema == schema)
    assert(schema.fieldNames.toSeq == Seq("id", "p", "q"), schema)
  }

  test("a stream sink's output is read through its _spark_metadata log, " +
       "not a stray uncommitted file") {
    val root = tmp()
    val (in, out, chk) = (s"$root/in", s"$root/out", s"$root/chk")
    val batch = spark.range(30).select(col("id"), (col("id") * 2).as("v"))
    batch.write.parquet(in)
    StreamOps.runToParquet(
      StreamOps.readStream(spark, in, batch.schema), out, chk)
    // sorts before the sink's part files, so a listing of the directory
    // would take its schema
    spark.range(5).select(col("id").cast("string").as("stray"))
      .coalesce(1).write.parquet(s"$root/stray")
    val strayFile = new java.io.File(s"$root/stray").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(strayFile.toPath, new java.io.File(s"$out/a-stray.parquet").toPath)
    val schema = sameSchema(out)
    assert(schema.fieldNames.toSeq == Seq("id", "v"), schema)
    assert(Parquet.read(spark, out).count() == 30)
  }

  test("mergeSchema merges two files' columns as Spark does") {
    val dir = s"${tmp()}/merge"
    spark.range(10).select(col("id"), col("id").as("a"))
      .coalesce(1).write.parquet(dir)
    spark.range(10).select(col("id"), col("id").cast("string").as("b"))
      .coalesce(1).write.mode("append").parquet(dir)
    val merged = sameSchema(dir, Map("mergeSchema" -> "true"))
    assert(merged.fieldNames.toSet == Set("id", "a", "b"), merged)
    // without the option one file's footer decides, as in Spark
    assert(sameSchema(dir).size == 2)
  }

  test("a read launches no job; spark.read.parquet launches one per read") {
    val paths = tables.map(t => s"${sf()}/$t")
    var reads = Seq.empty[DataFrame]
    assert(jobsOf { reads = paths.map(p => Parquet.read(spark, p)) } == 0)
    assert(reads.size == paths.size && reads.forall(_.schema.nonEmpty))
    assert(jobsOf(spark.read.parquet(paths.head)) == 1)
  }
}
