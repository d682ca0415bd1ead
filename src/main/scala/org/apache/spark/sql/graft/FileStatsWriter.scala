package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet,
  EmptyRow, Expression, JoinedRow, NamedExpression, SpecificInternalRow,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.classic
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSource,
  FileFormatWriter, PartitioningUtils, WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.SchemaUtils

/** The one parquet data writer of the snapshot store's segments and
  * the layout roots: `df.write.parquet(path)` with per-file statistics
  * folded by the writing tasks themselves — Delta's TransactionalWrite
  * pattern (Armbrust et al., VLDB 2020), which never re-scans a written
  * file for its min/max/null counts.
  *
  * It runs the steps `df.write` runs on this path, in its order:
  * `DataSource.validateSchema`, partition-column validation, the
  * column-name duplication and map-key collation checks, the
  * existing-path refusal (`errorifexists`) or clear (`overwrite`),
  * then Spark's own `FileFormatWriter` under the session's commit
  * protocol (task-attempt atomicity, `_SUCCESS`), which runs
  * `DataSourceUtils.verifySchema`, applies the session's parquet
  * settings (codec, timestamp type, rebase modes) in `prepareWrite`
  * and honours `maxRecordsPerFile` in its tasks.
  *
  * `stats` are aggregate columns (Spark's own declarative aggregates —
  * `min`, `max`, `count`, `sum`), resolved against the WRITTEN columns
  * (partition columns excluded, as the file holds them) and bound per
  * task with a mutable projection; every task folds them per file it
  * writes and returns one row per non-empty file through
  * `processStats`, so only committed task attempts contribute. Each
  * row's `file` is the committed file's qualified URI — the string
  * `input_file_name()` reports on a later read.
  */
object FileStatsWriter {

  /** Per-file statistics of one write: the sidecar schema (`file`,
    * then the `stats` aggregates) and one row per non-empty file,
    * sorted by `file`.
    */
  final case class FileStats(schema: StructType, rows: Seq[Row])

  def write(df: DataFrame, path: String, overwrite: Boolean,
      partitionBy: Seq[String], stats: Seq[Column]): Option[FileStats] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val conf = spark.sessionState.conf
    val format = new ParquetFileFormat
    DataSource.validateSchema(format.toString, ds.schema, conf)
    PartitioningUtils.validatePartitionColumn(ds.schema, partitionBy,
      conf.caseSensitiveAnalysis)
    SchemaUtils.checkColumnNameDuplication(ds.schema.fieldNames.toSeq,
      conf.caseSensitiveAnalysis)
    if (!conf.allowCollationsInMapKeys)
      SchemaUtils.checkNoCollationsInMapKeys(ds.schema)
    val hconf = spark.sessionState.newHadoopConf()
    val out = new Path(path)
    val fs = out.getFileSystem(hconf)
    val root = out.makeQualified(fs.getUri, fs.getWorkingDirectory)
    if (fs.exists(root)) {
      if (!overwrite) throw QueryCompilationErrors.outputPathAlreadyExistsError(root)
      if (!fs.delete(root, true))
        throw QueryExecutionErrors.cannotClearOutputDirectoryError(root)
    }
    // a fresh execution of the frame's plan, as `df.write` plans one
    val qe = classic.Dataset.ofRows(spark, ds.logicalPlan).queryExecution
    val plan = qe.executedPlan
    val output = plan.output
    val partCols = partitionBy.map(c => output.find(a => conf.resolver(a.name, c)).get)
    val dataCols = output.filterNot(AttributeSet(partCols).contains)
    val tracker = if (stats.isEmpty) None else {
      val agg = classic.Dataset.ofRows(spark, LocalRelation(dataCols))
        .select(stats: _*).queryExecution.analyzed.asInstanceOf[Aggregate]
      Some(new FileStatsTracker(dataCols, agg.aggregateExpressions))
    }
    val committer = FileCommitProtocol.instantiate(
      conf.fileCommitProtocolClass, java.util.UUID.randomUUID().toString,
      root.toString)
    SQLExecution.withNewExecutionId(qe, Some(s"write parquet $root")) {
      FileFormatWriter.write(spark, plan, format, committer,
        FileFormatWriter.OutputSpec(root.toString, Map.empty, output), hconf,
        partCols, None, tracker.toSeq, Map.empty)
    }
    spark.sharedState.cacheManager.recacheByPath(spark, root, fs)
    tracker.map { t =>
      val aggSchema = StructType(t.named.map(_.toAttribute).map(a =>
        StructField(a.name, a.dataType, a.nullable, a.metadata)))
      val toRow = ExpressionEncoder(aggSchema).resolveAndBind().createDeserializer()
      // a task reports the file it wrote under its attempt directory;
      // the commit keeps the trailing `<partition dirs>/<file name>`.
      // Qualified as the file system qualifies a listed file — the
      // form a read's `input_file_name()` reports (file:///… locally)
      val rows = t.files.map { case (tmp, r) =>
        val file = fs.makeQualified(Path.getPathWithoutSchemeAndAuthority(
          tmp.split('/').takeRight(partCols.size + 1)
            .foldLeft(root)(new Path(_, _)))).toUri.toString
        Row.fromSeq(file +: toRow(r).toSeq)
      }.sortBy(_.getString(0))
      FileStats(StructType(StructField("file", StringType, nullable = false) +:
        aggSchema.fields), rows)
    }
  }
}

/** One task's per-file results: (the path the task wrote, the
  * evaluated aggregates).
  */
private final case class TaskFileStats(files: Seq[(String, UnsafeRow)])
  extends WriteTaskStats

/** The job half: ships the resolved aggregates to the tasks and keeps
  * the committed tasks' results on the driver.
  */
private final class FileStatsTracker(val dataCols: Seq[Attribute],
    val named: Seq[NamedExpression]) extends WriteJobStatsTracker {
  @transient var files: Seq[(String, UnsafeRow)] = Nil

  override def newTaskInstance(): WriteTaskStatsTracker =
    new FileStatsTaskTracker(dataCols, named)

  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    files = stats.flatMap(_.asInstanceOf[TaskFileStats].files)
}

/** The task half: one aggregation buffer per open file, updated by a
  * mutable projection over (buffer, written row) — the buffer layout
  * and update/evaluate expressions are the aggregates' own, so a file's
  * row equals what `groupBy(input_file_name()).agg(stats)` computes
  * over it.
  */
private final class FileStatsTaskTracker(dataCols: Seq[Attribute],
    named: Seq[NamedExpression]) extends WriteTaskStatsTracker {
  private val fns: Seq[DeclarativeAggregate] = named.flatMap(_.collect {
    case ae: AggregateExpression => ae.aggregateFunction match {
      case d: DeclarativeAggregate => d
      case f => throw new IllegalArgumentException(
        s"per-file stats need declarative aggregates, got ${f.prettyName}")
    }
  })
  private val bufAttrs = fns.flatMap(_.aggBufferAttributes)
  private val init = GenerateMutableProjection.generate(
    fns.flatMap(_.initialValues), Nil, useSubexprElimination = false)
  private val update = GenerateMutableProjection.generate(
    fns.flatMap(_.updateExpressions), bufAttrs ++ dataCols,
    useSubexprElimination = true)
  private val evaluate = UnsafeProjection.create(
    named.map(_.transform {
      case ae: AggregateExpression =>
        ae.aggregateFunction.asInstanceOf[DeclarativeAggregate].evaluateExpression
    }), bufAttrs)
  // variable-length buffer slots may be handed a value that points into
  // the (reused) input row: a slot whose value changed is copied
  private val refSlots = bufAttrs.indices
    .filterNot(i => UnsafeRow.isFixedLength(bufAttrs(i).dataType)).toArray
  private val joined = new JoinedRow

  private final class Open(val buf: SpecificInternalRow) {
    val held = new Array[Any](refSlots.length)
    var rows = 0L
  }
  private val open = scala.collection.mutable.HashMap.empty[String, Open]
  private val done = scala.collection.mutable.ArrayBuffer.empty[(String, UnsafeRow)]

  override def newPartition(partitionValues: InternalRow): Unit = ()

  override def newFile(filePath: String): Unit = {
    val buf = new SpecificInternalRow(bufAttrs.map(_.dataType))
    init.target(buf).apply(EmptyRow)
    open(filePath) = new Open(buf)
  }

  override def newRow(filePath: String, row: InternalRow): Unit = {
    val f = open(filePath)
    update.target(f.buf).apply(joined(f.buf, row))
    var k = 0
    while (k < refSlots.length) {
      val i = refSlots(k)
      val v = f.buf.get(i, bufAttrs(i).dataType)
      if (v != null && !(v.asInstanceOf[AnyRef] eq f.held(k).asInstanceOf[AnyRef])) {
        val c = InternalRow.copyValue(v)
        f.buf.update(i, c)
        f.held(k) = c
      }
      k += 1
    }
    f.rows += 1
  }

  override def closeFile(filePath: String): Unit =
    open.remove(filePath).filter(_.rows > 0).foreach(f =>
      done += ((filePath, evaluate(f.buf).copy())))

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
    open.keys.toSeq.foreach(closeFile)
    TaskFileStats(done.toSeq)
  }
}
