package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet METADATA on the driver, never as a Spark job — the rule
  * Delta's transaction log follows (Armbrust et al., VLDB 2020) and
  * the store's manifests already keep.
  *
  * `spark.read.parquet(p)` without a schema runs a one-task job to
  * read one footer (~57 ms per read on a 4-core host, measured), and a
  * one-row `df.write` pays Spark's whole write protocol. Here:
  *
  *  - [[schema]] opens the SAME single footer Spark's non-merging
  *    inference opens (a `_common_metadata`/`_metadata` summary file
  *    first, else the first data file in path order, hidden names
  *    skipped by Spark's own rule) and converts it with the same
  *    converter settings, so `spark.read.schema(schema(spark, ps))
  *    .parquet(ps: _*)` is the frame `spark.read.parquet(ps: _*)`
  *    builds — partition directories still add their columns in the
  *    read. Footer-MERGING reads (`mergeSchema`) stay Spark's.
  *  - [[rowCount]] sums the footers' row-group counts: `count()` of an
  *    unfiltered read, answered without opening the data.
  *  - [[write]] writes small collected rows as one parquet file
  *    through Spark's own `OutputWriterFactory` — the file Spark's
  *    writer would produce (schema, metadata, codec), with no job.
  *    The snapshot store's bloom-free stats sidecars are written here
  *    from rows the data write's own tasks computed
  *    ([[org.apache.spark.sql.graft.FileStatsWriter]]).
  *  - [[collect]] reads small parquet files back into rows through
  *    Spark's own parquet reader — `collect()` of a read, with no job —
  *    for the bloom-free sidecars a pruned probe walks.
  */
object DriverParquet {

  /** Spark's listing rule (`HadoopFSUtils.shouldFilterOutPathName`):
    * `.`-prefixed names, `_`-prefixed names without `=` (an `=` marks
    * a partition directory) and in-flight `._COPYING_` copies are not
    * data — except the parquet summary files. Root paths are listed
    * whatever their name, as Spark does.
    */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

  private def summary(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    n == "_common_metadata" || n == "_metadata"
  }

  /** The leaf files a parquet read of `paths` scans (summary files
    * included), sorted by path string as Spark's schema inference
    * sorts them.
    */
  private[graft] def files(spark: SparkSession,
      paths: Seq[String]): Seq[FileStatus] =
    filesIn(spark.sessionState.newHadoopConf(), paths)

  private def filesIn(conf: Configuration,
      paths: Seq[String]): Seq[FileStatus] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(st.getPath).toSeq
          .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
      leaves(fs.getFileStatus(path))
    }.sortBy(_.getPath.toString)

  /** The data files of `paths` as plain path strings — what a sidecar
    * read passes instead of its `_stats` root, which Spark would warn
    * about as a hidden path on every read.
    */
  private[graft] def dataFiles(spark: SparkSession,
      paths: Seq[String]): Seq[String] =
    files(spark, paths).filterNot(summary).map(_.getPath.toString)

  private def footer(conf: Configuration, st: FileStatus) =
    ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)

  /** The schema `spark.read.parquet(paths: _*)` infers, read from one
    * footer on the driver. Loud when `paths` hold no parquet file, as
    * Spark's inference is.
    */
  def schema(spark: SparkSession, paths: Seq[String]): StructType = {
    val hconf = spark.sessionState.newHadoopConf()
    val all = filesIn(hconf, paths)
    val pick = all.find(_.getPath.getName == "_common_metadata")
      .orElse(all.find(_.getPath.getName == "_metadata"))
      .orElse(all.find(!summary(_)))
      .getOrElse(throw new IllegalArgumentException(
        s"Unable to infer schema for Parquet: no data file under " +
          paths.mkString(", ")))
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    // a file source reads back all-nullable, whatever the file says
    org.apache.spark.sql.graft.SchemaBridge.asNullable(
      ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(pick.getPath, footer(hconf, pick)),
        converter))
  }

  /** `spark.read.parquet(paths: _*)` with the schema from [[schema]]:
    * the same frame, no inference job.
    */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(schema(spark, paths)).parquet(paths: _*)

  /** `spark.read.parquet(paths: _*).count()` from the footers' row
    * counts.
    */
  def rowCount(spark: SparkSession, paths: Seq[String]): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    filesIn(conf, paths).filterNot(summary)
      .map(st => footer(conf, st).getBlocks.asScala.map(_.getRowCount).sum)
      .sum
  }

  /** `spark.read.schema(schema).parquet(files: _*).collect()` on the
    * driver: each file goes through the reader a scan task runs
    * (`ParquetFileFormat.buildReaderWithPartitionValues` — the same
    * type upcasts, rebase modes and missing-column nulls), so the rows
    * equal the collected read's, in `files` order. For files-sized
    * bookkeeping only (stats sidecars); data stays in Spark.
    */
  def collect(spark: SparkSession, files: Seq[String],
      schema: StructType): Seq[Row] = {
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    val hconf = spark.sessionState.newHadoopConf()
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark,
      schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hconf)
    val toRow = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder(schema).resolveAndBind().createDeserializer()
    files.flatMap { f =>
      val path = new Path(f)
      val st = path.getFileSystem(hconf).getFileStatus(path)
      read(PartitionedFile(org.apache.spark.sql.catalyst.InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromFileStatus(st), 0L, st.getLen,
          Array.empty, st.getModificationTime, st.getLen))
        .map(toRow).toVector
    }
  }

  /** Write `rows` as ONE parquet file under the directory `dir`
    * (created if missing), through Spark's parquet `OutputWriterFactory`
    * on the driver — for bookkeeping rows already in driver memory
    * (manifests, stats sidecars). Zero rows still write a
    * schema-bearing file, as a one-partition Spark write does.
    */
  def write(spark: SparkSession, dir: String, schema: StructType,
      rows: Iterable[Row]): Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration, new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
    val file = s"$dir/part-00000-${java.util.UUID.randomUUID()}-c000" +
      factory.getFileExtension(ctx)
    val toInternal = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder(schema).createSerializer()
    val out = factory.newInstance(file, schema, ctx)
    try rows.foreach(r => out.write(toInternal(r)))
    finally out.close()
  }
}
