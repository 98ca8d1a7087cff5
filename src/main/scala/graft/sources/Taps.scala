package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchemaParquet
import org.apache.spark.sql.types.{StructField, StructType}

/** Sink modes — Spark-native equivalent of the reference's `SinkMode`
  * handling (`planner/FlinkFlow.java:94-103` delete-on-start for REPLACE). */
sealed trait SinkMode { def toSaveMode: SaveMode }
object SinkMode {
  case object Replace extends SinkMode { val toSaveMode = SaveMode.Overwrite }
  case object Keep    extends SinkMode { val toSaveMode = SaveMode.ErrorIfExists }
  case object Update  extends SinkMode { val toSaveMode = SaveMode.Append }
}

/** A source/sink endpoint. The reference wraps arbitrary Hadoop taps in
  * `runtime/source/TapInputFormat.java` (split computation, locality,
  * size stats — `:226-270`); with Spark's FileScan all of that is native,
  * so a Tap is just a typed reader/writer recipe.
  */
sealed trait Tap {
  def read(spark: SparkSession): DataFrame
  def write(df: DataFrame, mode: SinkMode): Unit
  /** Read with per-pipe ConfigDef properties (from `Pipe.withConfig` scopes)
    * applied as reader options. File taps honor them; others ignore. */
  def read(spark: SparkSession, options: Map[String, String]): DataFrame =
    read(spark)
  /** Reference `Scheme.getNumSinkParts` → repartition before write
    * (`FlinkFlowStep.java:384-405`). */
  def numSinkParts: Option[Int] = None
}

/** The one parquet input reader. Every parquet input of the engine
  * reads through [[Parquet.read]], which plans the same scan as
  * `spark.read.parquet` (same file listing, options and plan text)
  * except that the schema comes from one footer read on the driver: no
  * schema-inference job runs when a flow is built, as the reference
  * reads `tap.getSourceFields()` on the client. Nothing is kept between
  * calls, so a rewritten path is read afresh. */
object Parquet {
  def read(spark: SparkSession, path: String,
           options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(classOf[FooterSchemaParquet].getName)
      .options(options).load(path)
}

final case class ParquetTap(path: String, parts: Option[Int] = None) extends Tap {
  def read(spark: SparkSession): DataFrame = Parquet.read(spark, path)
  override def read(spark: SparkSession, options: Map[String, String]): DataFrame =
    Parquet.read(spark, path, options)
  def write(df: DataFrame, mode: SinkMode): Unit = {
    val out = parts.fold(df)(n => df.repartition(n))
    out.write.mode(mode.toSaveMode).parquet(path)
  }
  override def numSinkParts: Option[Int] = parts
}

/** ORC columnar tap — Spark-native ORC (vectorized read, predicate
  * pushdown, zone-map row-group skipping like parquet). The reference's
  * generic Hadoop-scheme escape hatch covers ORC via hive serdes; here it
  * is a first-class columnar format. */
final case class OrcTap(path: String, parts: Option[Int] = None) extends Tap {
  def read(spark: SparkSession): DataFrame = spark.read.orc(path)
  override def read(spark: SparkSession, options: Map[String, String]): DataFrame =
    spark.read.options(options).orc(path)
  def write(df: DataFrame, mode: SinkMode): Unit = {
    val out = parts.fold(df)(n => df.repartition(n))
    out.write.mode(mode.toSaveMode).orc(path)
  }
  override def numSinkParts: Option[Int] = parts
}

/** JSON-lines tap (one JSON object per line). Schema should be supplied
  * on read: inference costs an extra full scan, and at 100 TB the sampled
  * inference can also mistype sparse fields. */
final case class JsonLinesTap(path: String,
                              schema: Option[StructType] = None) extends Tap {
  def read(spark: SparkSession): DataFrame = read(spark, Map.empty)
  override def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
    val r = spark.read.options(options)
    schema match {
      case Some(s) => r.schema(s).json(path)
      case None    => r.json(path)
    }
  }
  def write(df: DataFrame, mode: SinkMode): Unit =
    df.write.mode(mode.toSaveMode).json(path)
}

/** `TextDelimited` scheme — header/quote/typed-fields support mirrors the
  * reference test platform's construction (`FlinkTestPlatform.java:153-167`). */
final case class CsvTap(
    path: String,
    delimiter: String = ",",
    header: Boolean = false,
    schema: Option[StructType] = None,
    quote: String = "\"",
    strict: Boolean = false,
    safe: Boolean = true) extends Tap {
  def read(spark: SparkSession): DataFrame = read(spark, Map.empty)
  override def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
    // Cascading TextDelimited's two tolerance knobs
    // (cascading.scheme.util.DelimitedParser): `strict` = a line whose
    // token count differs from the declared fields fails the flow;
    // `safe` = a token that fails type coercion becomes null instead of
    // failing. Spark's CSV parser folds both failure classes into its
    // parse mode, so either strictness demand maps to FAILFAST and the
    // tolerant default to PERMISSIVE (short rows pad with null, extra
    // tokens drop, bad coercions null — upstream's non-strict+safe).
    val mode = if (strict || !safe) "FAILFAST" else "PERMISSIVE"
    val r = spark.read
      .option("delimiter", delimiter)
      .option("header", header.toString)
      .option("quote", quote)
      // Cascading's DelimitedParser escapes a quote INSIDE a quoted
      // field by DOUBLING it (RFC 4180), never by backslash; Spark's
      // default escape is '\\', which would misparse upstream-written
      // files (and write files upstream misparses). Setting escape =
      // quote selects univocity's quote-doubling mode on both sides.
      .option("escape", quote)
      .option("mode", mode)
      .options(options) // per-pipe ConfigDef overrides win
    schema match {
      case Some(s) => r.schema(s).csv(path)
      case None    => r.option("inferSchema", "true").csv(path)
    }
  }
  def write(df: DataFrame, mode: SinkMode): Unit =
    df.write.mode(mode.toSaveMode)
      .option("delimiter", delimiter).option("header", header.toString)
      .option("quote", quote).option("escape", quote) // RFC quote doubling
      .csv(path)
}

/** `TextLine` scheme. Cascading exposes (`offset: Long`, `line: String`)
  * where offset is the byte offset in the file. The default (`offsets =
  * false`) uses Spark's native text source — columnar, pushdown-friendly —
  * and exposes only `line`; `offsets = true` reads through the Hadoop
  * TextInputFormat (whose record key IS the byte offset), matching the
  * Cascading field layout exactly. */
final case class TextLineTap(path: String, offsets: Boolean = false) extends Tap {
  def read(spark: SparkSession): DataFrame = read(spark, Map.empty)
  override def read(spark: SparkSession, options: Map[String, String]): DataFrame =
    if (!offsets)
      spark.read.options(options).text(path).withColumnRenamed("value", "line")
    else {
      import org.apache.hadoop.io.{LongWritable, Text}
      val rdd = spark.sparkContext.newAPIHadoopFile(path,
          classOf[org.apache.hadoop.mapreduce.lib.input.TextInputFormat],
          classOf[LongWritable], classOf[Text])
        .map { case (k, v) => org.apache.spark.sql.Row(k.get(), v.toString) }
      spark.createDataFrame(rdd, StructType(Seq(
        StructField("offset", org.apache.spark.sql.types.LongType),
        StructField("line", org.apache.spark.sql.types.StringType))))
    }
  def write(df: DataFrame, mode: SinkMode): Unit =
    df.write.mode(mode.toSaveMode).text(path)
}

/** `PartitionTap` — directory-per-key-value layout →
  * `df.write.partitionBy`; reads get partition-pruned scans for free. */
final case class PartitionTap(parent: ParquetTap, partitionCols: Seq[String]) extends Tap {
  def read(spark: SparkSession): DataFrame = parent.read(spark)
  def write(df: DataFrame, mode: SinkMode): Unit =
    df.write.mode(mode.toSaveMode).partitionBy(partitionCols: _*)
      .parquet(parent.path)
}

/** SequenceFile scheme (key/value Text) — the remaining Hadoop scheme the
  * reference's test platform exercises ("Supports all Cascading Hadoop Taps
  * and Schemes", reference README.md:18). Fields: (key string, value
  * string). */
final case class SequenceFileTap(path: String) extends Tap {
  import org.apache.hadoop.io.Text
  def read(spark: SparkSession): DataFrame = {
    val rdd = spark.sparkContext
      .sequenceFile(path, classOf[Text], classOf[Text])
      .map { case (k, v) => (k.toString, v.toString) }
    spark.createDataFrame(rdd).toDF("key", "value")
  }
  def write(df: DataFrame, mode: SinkMode): Unit = {
    require(df.columns.length == 2, "SequenceFileTap expects (key, value)")
    val p = new org.apache.hadoop.fs.Path(path)
    // session's hadoop conf, not a blank one: fs.defaultFS/credentials from
    // spark.hadoop.* must reach the Replace/Keep filesystem checks
    val fs = p.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    mode match {
      case SinkMode.Replace => fs.delete(p, true)
      case SinkMode.Keep if fs.exists(p) =>
        throw new IllegalStateException(s"$path exists (SinkMode.Keep)")
      case _ => ()
    }
    df.rdd.map(r => (new Text(String.valueOf(r.get(0))),
        new Text(String.valueOf(r.get(1)))))
      .saveAsSequenceFile(path)
  }
}

/** Generic Hadoop-scheme escape hatch — the reference claims "all Cascading
  * Hadoop Taps and Schemes" via its `TapInputFormat` wrapper
  * (`runtime/source/TapInputFormat.java:61-321`); the concrete taps above
  * cover every scheme its own test platform constructs, and this tap closes
  * the remainder: any `mapreduce.InputFormat[K, V]` becomes a source via a
  * record converter, and rows write back through an optional
  * `OutputFormat`. Deliberately RDD-based: it is the boundary adapter for
  * legacy formats with no native Spark source, never a hot path.
  */
final case class HadoopTap[K, V](
    path: String,
    inputFormat: Class[_ <: org.apache.hadoop.mapreduce.InputFormat[K, V]],
    keyClass: Class[K],
    valueClass: Class[V],
    schema: StructType,
    toRow: (K, V) => org.apache.spark.sql.Row,
    fromRow: Option[org.apache.spark.sql.Row => (K, V)] = None,
    outputFormat: Option[Class[_ <: org.apache.hadoop.mapreduce.OutputFormat[K, V]]] = None)
    extends Tap {
  def read(spark: SparkSession): DataFrame = {
    val conv = toRow
    val rdd = spark.sparkContext
      .newAPIHadoopFile(path, inputFormat, keyClass, valueClass)
      .map { case (k, v) => conv(k, v) }
    spark.createDataFrame(rdd, schema)
  }
  def write(df: DataFrame, mode: SinkMode): Unit = {
    val (conv, ofmt) = (fromRow, outputFormat) match {
      case (Some(c), Some(o)) => (c, o)
      case _ => throw new UnsupportedOperationException(
        "HadoopTap write requires fromRow and outputFormat")
    }
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    mode match {
      case SinkMode.Replace => fs.delete(p, true)
      case SinkMode.Keep if fs.exists(p) =>
        throw new IllegalStateException(s"$path exists (SinkMode.Keep)")
      case _ => ()
    }
    // PairRDDFunctions needs ClassTags, which a case class can't carry as
    // implicits — build them from the explicit Class handles.
    val kt = scala.reflect.ClassTag[K](keyClass)
    val vt = scala.reflect.ClassTag[V](valueClass)
    new org.apache.spark.rdd.PairRDDFunctions(df.rdd.map(conv))(kt, vt, null)
      .saveAsNewAPIHadoopFile(path, keyClass, valueClass, ofmt)
  }
}

/** Boundary coercion for common Hadoop `Writable`s (reference
  * `types/field/FieldTypeInfo.java:166-176` registers per-Writable
  * serializers so Writables can travel INSIDE flows; here the engine's
  * columns are Tungsten-native, so Writables are converted AT THE TAP
  * BOUNDARY instead — rows never carry live Writable objects, and an
  * unsupported Writable fails with a directed error naming the supported
  * set rather than a deep encoder stack trace). */
object WritableCoercion {
  import org.apache.hadoop.io._
  import org.apache.spark.sql.types._

  /** Native Spark column type for a Writable class; directed error for
    * anything outside the supported set. */
  def dataTypeOf(cls: Class[_]): DataType = cls match {
    case c if c == classOf[LongWritable]    => LongType
    case c if c == classOf[IntWritable]     => IntegerType
    case c if c == classOf[DoubleWritable]  => DoubleType
    case c if c == classOf[FloatWritable]   => FloatType
    case c if c == classOf[BooleanWritable] => BooleanType
    case c if c == classOf[Text]            => StringType
    case c if c == classOf[BytesWritable]   => BinaryType
    case c if c == classOf[NullWritable]    => NullType
    case other => throw new UnsupportedOperationException(
      s"WritableCoercion: ${other.getName} is not coercible to a native " +
        "column — supported: LongWritable, IntWritable, DoubleWritable, " +
        "FloatWritable, BooleanWritable, Text, BytesWritable, NullWritable. " +
        "Rows never carry live Writables in flows; convert at the tap " +
        "boundary with a custom HadoopTap toRow/fromRow.")
  }

  /** Writable → JVM native value. COPIES the payload (Hadoop record
    * readers reuse Writable instances across records). */
  def toNative(w: Any): Any = w match {
    case x: LongWritable    => x.get()
    case x: IntWritable     => x.get()
    case x: DoubleWritable  => x.get()
    case x: FloatWritable   => x.get()
    case x: BooleanWritable => x.get()
    case x: Text            => x.toString
    case x: BytesWritable   => x.copyBytes()
    case _: NullWritable    => null
    case null => null
    case other => throw new UnsupportedOperationException(
      s"WritableCoercion: ${other.getClass.getName} (see dataTypeOf)")
  }

  /** JVM native value → fresh Writable of the given class. Nulls fail
    * loudly (except NullWritable): the Writable value classes have no
    * null representation — String.valueOf(null) would silently write the
    * literal text "null" and a null numeric would unbox to 0/0.0/false,
    * round-tripping WRONG concrete values. Write nullable columns through
    * a custom HadoopTap fromRow that picks an explicit sentinel. */
  def fromNative(v: Any, cls: Class[_]): Writable = cls match {
    case c if c == classOf[NullWritable]    => NullWritable.get()
    case _ if v == null => throw new UnsupportedOperationException(
      s"WritableCoercion: null value for ${cls.getName} — Writables have " +
        "no null representation; coerce nulls to an explicit sentinel " +
        "before the tap (or use a custom HadoopTap fromRow)")
    case c if c == classOf[LongWritable]    => new LongWritable(v.asInstanceOf[Long])
    case c if c == classOf[IntWritable]     => new IntWritable(v.asInstanceOf[Int])
    case c if c == classOf[DoubleWritable]  => new DoubleWritable(v.asInstanceOf[Double])
    case c if c == classOf[FloatWritable]   => new FloatWritable(v.asInstanceOf[Float])
    case c if c == classOf[BooleanWritable] => new BooleanWritable(v.asInstanceOf[Boolean])
    case c if c == classOf[Text]            => new Text(String.valueOf(v))
    case c if c == classOf[BytesWritable]   => new BytesWritable(v.asInstanceOf[Array[Byte]])
    case other => throw new UnsupportedOperationException(
      s"WritableCoercion: ${other.getName} (see dataTypeOf)")
  }
}

object HadoopTap {
  /** A HadoopTap over Writable key/value records with schema and both
    * converters DERIVED from the Writable classes — the ergonomic path
    * for the common Hadoop formats (SequenceFile of LongWritable/Text/
    * BytesWritable etc.). Unsupported Writable types fail construction
    * with the WritableCoercion directed error. */
  def writables[K <: org.apache.hadoop.io.Writable,
                V <: org.apache.hadoop.io.Writable](
      path: String,
      inputFormat: Class[_ <: org.apache.hadoop.mapreduce.InputFormat[K, V]],
      keyClass: Class[K], valueClass: Class[V],
      keyName: String = "key", valueName: String = "value",
      outputFormat: Option[Class[_ <: org.apache.hadoop.mapreduce.OutputFormat[K, V]]] = None)
      : HadoopTap[K, V] = {
    val schema = StructType(Seq(
      StructField(keyName, WritableCoercion.dataTypeOf(keyClass)),
      StructField(valueName, WritableCoercion.dataTypeOf(valueClass))))
    val (kc, vc) = (keyClass, valueClass) // serializable captures
    HadoopTap(path, inputFormat, keyClass, valueClass, schema,
      toRow = (k: K, v: V) => org.apache.spark.sql.Row(
        WritableCoercion.toNative(k), WritableCoercion.toNative(v)),
      fromRow = Some((r: org.apache.spark.sql.Row) =>
        (WritableCoercion.fromNative(r.get(0), kc).asInstanceOf[K],
         WritableCoercion.fromNative(r.get(1), vc).asInstanceOf[V])),
      outputFormat = outputFormat)
  }
}

/** Bucketed-table tap: writes through `bucketBy(+sortBy).saveAsTable`, so
  * every later join or aggregation on the bucket keys between co-bucketed
  * tables runs with NO shuffle exchange (plan-asserted in BucketingSpec) —
  * the canonical 100 TB co-location strategy for a fact table joined
  * repeatedly on the same key: pay the layout shuffle once at write time,
  * never again at read time. Bucket count should be sized so one bucket ≈
  * one task's worth of data at the target scale. */
final case class BucketedTap(table: String, buckets: Int, keys: Seq[String],
                             sortKeys: Seq[String] = Nil) extends Tap {
  require(keys.nonEmpty, "BucketedTap requires at least one bucket key")
  def read(spark: SparkSession): DataFrame = spark.table(table)
  def write(df: DataFrame, mode: SinkMode): Unit = {
    val w = df.write.mode(mode.toSaveMode).bucketBy(buckets, keys.head, keys.tail: _*)
    val ws = if (sortKeys.nonEmpty) w.sortBy(sortKeys.head, sortKeys.tail: _*) else w
    ws.saveAsTable(table)
  }

  /** COMPACT the table in place: every `SinkMode.Update` append lands a
    * fresh file set (up to writer-tasks × buckets files per ingest), so
    * a daily index loop accumulates O(days) files per bucket and the
    * bucket-aware scan pays per FILE, not per row — the classic
    * small-files decay of an append-maintained index. Compaction
    * rewrites the accumulated rows through the SAME bucket layout —
    * repartitioned to the bucket count on the bucket keys, so each
    * writer task holds exactly one bucket (Spark's repartition and
    * bucketBy share the Murmur3 hash) and the result is ONE file per
    * bucket — into a staging table, then swaps it in (drop + rename).
    * Content, bucketing metadata, and every downstream zero-exchange
    * plan are unchanged; only the file count collapses. Run at the same
    * cadence as corpus refresh (q133's loop: many appends, one compact).
    *
    * The staging table is required: Spark refuses to overwrite a table
    * that feeds its own write, and materializing the index to sidestep
    * that would buffer the whole table in executor memory. */
  def compact(spark: SparkSession): Unit = {
    val staging = table + "__compact"
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    BucketedTap(staging, buckets, keys, sortKeys)
      .write(BucketedTap.alignToBuckets(read(spark), buckets, keys),
        SinkMode.Replace)
    // SINGLE-WRITER, NO-CONCURRENT-READER swap: the drop DELETES the old
    // generation's files immediately, so a reader that planned before the
    // swap fails (or silently under-reads with ignoreMissingFiles) when
    // it executes after it. This is the maintenance-window form — run it
    // where the refresh loop owns the table exclusively (the q133/q205
    // cadence). For compaction under concurrent readers use
    // [[PingPongBucketedTap]], whose generation swap keeps the previous
    // file set alive for one full compact cycle.
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    // the session caches the table's resolved file index by name — a
    // reader that planned against the pre-swap listing would silently
    // read the DROPPED files (or double-count); invalidate explicitly
    spark.catalog.refreshTable(table)
  }
}

object BucketedTap {
  /** Align writer tasks to BUCKETS explicitly: a plain
    * repartition(buckets, keys) does NOT land each bucket in one task
    * (measured: every bucket split across two partitions — Dataset
    * repartitioning and the bucket-id function disagree), and each task
    * then writes one file per bucket it happens to hold. The bucket id
    * IS pmod(hash(keys), buckets) (verified against written file
    * suffixes), so partition by that value with an identity partitioner
    * — each task holds exactly one whole bucket and writes exactly one
    * file. One shuffle, the same cost the repartition would have paid. */
  private[sources] def alignToBuckets(df: DataFrame, buckets: Int,
                                      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val schema = df.schema
    val keyed = df
      .withColumn("__b", pmod(hash(keys.map(col): _*), lit(buckets)))
      .rdd.map(r => (r.getAs[Int]("__b"), r))
      .partitionBy(new org.apache.spark.Partitioner {
        def numPartitions: Int = buckets
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .values
      .map(r => org.apache.spark.sql.Row(r.toSeq.dropRight(1): _*))
    df.sparkSession.createDataFrame(keyed, schema)
  }
}

/** Blue/green (ping-pong) generation wrapper around [[BucketedTap]] for
  * indexes compacted UNDER CONCURRENT READERS. The data lives in two
  * alternating managed bucketed tables `<table>__g0` / `<table>__g1`;
  * `<table>` itself is a VIEW pointing at the live generation, so every
  * reader contract (`spark.table(name)`, bucket-aware scans, bucket
  * pruning, zero-exchange index joins — the bucketSpec rides the
  * resolved relation, a `SELECT *` view is transparent to it) is
  * unchanged. [[compact]] rewrites the live generation into the OTHER
  * slot (one file per bucket via the explicit bucket-id partitioner) and
  * atomically repoints the view — one catalog op, no data-path rename or
  * drop at swap time. The retired generation's FILES SURVIVE until the
  * NEXT compact retires its slot, so any reader that planned against the
  * pre-swap view keeps reading a complete, consistent file set for a
  * full compact cycle (at refresh cadence: typically a day) — the
  * guarantee [[BucketedTap.compact]]'s drop+rename swap cannot give.
  * Single WRITER still assumed (appends and compacts are one loop);
  * only readers are concurrent. */
final case class PingPongBucketedTap(table: String, buckets: Int,
                                     keys: Seq[String],
                                     sortKeys: Seq[String] = Nil) extends Tap {
  require(keys.nonEmpty, "PingPongBucketedTap requires at least one bucket key")
  private def gen(i: Int) = s"${table}__g$i"
  private def inner(t: String) = BucketedTap(t, buckets, keys, sortKeys)

  /** The live generation (0 or 1), parsed from the view pointer. */
  def liveGeneration(spark: SparkSession): Int = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val txt = meta.viewText.getOrElse(throw new IllegalStateException(
      s"PingPongBucketedTap: $table exists but is not a view — was it " +
        "written by a plain BucketedTap? The two layouts don't mix."))
    if (txt.contains(gen(0))) 0
    else if (txt.contains(gen(1))) 1
    else throw new IllegalStateException(
      s"PingPongBucketedTap: view $table does not point at a generation " +
        s"table (view text: $txt)")
  }

  private def repoint(spark: SparkSession, g: Int): Unit =
    spark.sql(s"CREATE OR REPLACE VIEW $table AS SELECT * FROM ${gen(g)}")

  def read(spark: SparkSession): DataFrame = spark.table(table)

  def write(df: DataFrame, mode: SinkMode): Unit = {
    val spark = df.sparkSession
    mode match {
      case SinkMode.Replace =>
        // fresh layout: generation 0 carries the data, the view points
        // at it. DROP VIEW fails directed if `table` is a plain TABLE —
        // never silently delete a layout this tap didn't create.
        spark.sql(s"DROP VIEW IF EXISTS $table")
        Seq(0, 1).foreach(i => spark.sql(s"DROP TABLE IF EXISTS ${gen(i)}"))
        inner(gen(0)).write(df, SinkMode.Replace)
        repoint(spark, 0)
      case SinkMode.Update =>
        // appends land in the LIVE generation — the view keeps resolving
        // to it, so readers see the appended rows on their next plan
        inner(gen(liveGeneration(spark))).write(df, SinkMode.Update)
        spark.catalog.refreshTable(gen(liveGeneration(spark)))
      case SinkMode.Keep =>
        inner(gen(0)).write(df, SinkMode.Keep)
        repoint(spark, 0)
    }
  }

  /** Rewrite the live generation into the other slot (one file per
    * bucket) and repoint the view. The OLD generation is retired — its
    * table and files are dropped — at the START of the NEXT compact,
    * not now: that lag is the concurrency guarantee. */
  def compact(spark: SparkSession): Unit = {
    val cur = liveGeneration(spark)
    val next = 1 - cur
    spark.sql(s"DROP TABLE IF EXISTS ${gen(next)}")
    inner(gen(next)).write(
      BucketedTap.alignToBuckets(spark.table(gen(cur)), buckets, keys),
      SinkMode.Replace)
    repoint(spark, next)
    spark.catalog.refreshTable(table)
  }

  /** Drop the view and both generations (test/maintenance teardown). */
  def drop(spark: SparkSession): Unit = {
    spark.sql(s"DROP VIEW IF EXISTS $table")
    Seq(0, 1).foreach(i => spark.sql(s"DROP TABLE IF EXISTS ${gen(i)}"))
  }
}

/** Cascading `MultiSourceTap`: several taps presented as ONE source —
  * the concatenation happens at the tap boundary, so a pipe assembly
  * written against a single logical input runs unchanged over N physical
  * inputs (the upstream contract; schemas must align positionally, the
  * Merge rule). Read-only, like the upstream tap. */
final case class MultiSourceTap(taps: Seq[Tap]) extends Tap {
  require(taps.nonEmpty, "MultiSourceTap requires at least one child tap")
  def read(spark: SparkSession): DataFrame =
    taps.map(_.read(spark)).reduce(_ unionAll _)
  def write(df: DataFrame, mode: SinkMode): Unit =
    throw new UnsupportedOperationException(
      "MultiSourceTap is read-only (write to a child tap)")
}

/** An in-memory tap for tests and composition: wraps an existing DataFrame. */
final case class DataFrameTap(df: DataFrame) extends Tap {
  def read(spark: SparkSession): DataFrame = df
  def write(out: DataFrame, mode: SinkMode): Unit =
    throw new UnsupportedOperationException("DataFrameTap is read-only")
}
