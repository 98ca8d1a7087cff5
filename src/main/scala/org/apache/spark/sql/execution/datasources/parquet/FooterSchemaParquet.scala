package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType

/** Spark's parquet format with one change: [[inferSchema]] reads the
  * footer of the file Spark's own inference would pick, on the driver,
  * instead of running a one-task job to read it.
  *
  *  - The file list is the one `DataSource` hands every file format, so
  *    a stream sink's output is read through its `_spark_metadata` log
  *    and a file the log never committed is not looked at.
  *  - Without `mergeSchema` the file is the first of `_common_metadata`,
  *    `_metadata` and the data files in path order, as in
  *    `ParquetUtils.inferSchema`; the converter takes the session
  *    settings `ParquetFileFormat.mergeSchemasInParallel` gives it (binary
  *    as string, INT96, NTZ inference, `nanosAsLong`, unknown type
  *    annotations), and `ignoreCorruptFiles` is honoured.
  *  - With `mergeSchema` set, by option or conf, every file's footer is
  *    needed and Spark's parallel merge runs as before.
  *
  * The class inherits `shortName() = "parquet"`, so plans print
  * `parquet`; it is not registered under a name of its own. Every
  * parquet read goes through it, because `ParquetFileFormat.hashCode` is
  * per class and a plan mixing the two classes would lose exchange
  * reuse. It lives in Spark's parquet package because the footer
  * reader Spark's inference uses is private to it; `graft.sources.Parquet`
  * is the reader the engine calls. */
final class FooterSchemaParquet extends ParquetFileFormat {
  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val conf = getSqlConf(spark)
    if (new ParquetOptions(options, conf).mergeSchema)
      super.inferSchema(spark, options, files)
    else {
      val sorted = files.sortBy(_.getPath.toString)
      def named(name: String) = sorted.find(_.getPath.getName == name)
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val file = summaries.view.flatMap(named).headOption
        .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation)
      val ignoreCorrupt =
        new FileSourceOptions(CaseInsensitiveMap(options)).ignoreCorruptFiles
      ParquetFileFormat.readParquetFootersInParallel(
          getHadoopConf(spark, options), file.toSeq, ignoreCorrupt)
        .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    }
  }
}
