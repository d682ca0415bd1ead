package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.SnapshotStore
import graft.ops.LayoutOps.ColRange

/** One timed call of an iteration: a query, a pipeline sink or a store
  * operation. `rows` is what the output check compared; a unit that
  * threw or mismatched is `ok = false` and its time is never used. */
final case class UnitRun(name: String, seconds: Double, rows: Long, ok: Boolean)

final case class IterRun(wall: Double, units: Seq[UnitRun], extra: Map[String, Double] = Map.empty)

/** A workload owns its inputs and one iteration over them. Timings
  * cover only the calls into graft; draining, wiping and output checks
  * sit outside them. */
trait Workload {
  def name: String
  /** Generate the seeded inputs under `dir` and load them. */
  def prepare(dir: String): Unit
  def iteration(tr: Tracer, i: Int): IterRun
  /** Counts a failing unit would otherwise hide (e.g. expected names
    * missing from the program). */
  def setupFailures: Seq[String] = Nil
}

object Workload {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body`, returning its result or None if it threw. Errors go to
    * stderr: a failed unit is counted, never timed. */
  def attempt[A](what: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] $what failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }

  def apply(name: String, spark: SparkSession, seed: Long, cores: Int,
      expected: java.io.File, suiteData: String): Workload = name match {
    case "suite" => new Both(
      new Suite(spark, seed, Json.readCounts(new java.io.File(expected, "suite.json")), suiteData),
      new Pipeline(spark, seed, cores, Json.readCounts(new java.io.File(expected, "pipeline.json"))))
    case "store" => new Store(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workload._

/** Two workloads run as one: each iteration runs `a`, then `b`. */
final class Both(a: Workload, b: Workload) extends Workload {
  val name = a.name
  override def setupFailures: Seq[String] = a.setupFailures ++ b.setupFailures
  def prepare(dir: String): Unit = { a.prepare(s"$dir/${a.name}"); b.prepare(s"$dir/${b.name}") }
  def iteration(tr: Tracer, i: Int): IterRun = {
    val x = a.iteration(tr, i)
    val y = b.iteration(tr, i)
    IterRun(x.wall + y.wall, x.units ++ y.units, x.extra ++ y.extra)
  }
}

/** Pinned stateless queries of `graft.SparkEntry.allQueries` over the
  * fixed tables in `dataDir` ([[SuiteData]]), each iteration in a new
  * seeded order so no one order's cache and JIT effects set the result.
  * Each query is constructed, planned and run to completion; cached
  * blocks are drained between queries. */
final class Suite(spark: SparkSession, seed: Long, expected: Map[String, Long],
    dataDir: String) extends Workload {
  val name = "suite"
  private val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
  private val units = expected.keys.toVector.sorted.filter(byName.contains)
  private val order = new scala.util.Random(seed)

  override def setupFailures: Seq[String] = expected.keys.toSeq.sorted.filterNot(byName.contains)

  def prepare(d: String): Unit =
    graft.Tables.names.foreach(n => graft.Tables.load(spark, dataDir, n).count())

  def iteration(tr: Tracer, i: Int): IterRun = {
    val runs = order.shuffle(units).map { q =>
      Harness.drain(spark)
      val (rows, secs) = timed(tr.span("queries.unit", q) {
        attempt(q) {
          val df = tr.span("queries.construct", q)(byName(q).run(spark, dataDir))
          Harness.materialize(df, tr, q)
        }
      })
      UnitRun(q, secs, rows.getOrElse(-1L), rows.contains(expected(q)))
    }
    IterRun(runs.map(_.seconds).sum, runs)
  }
}

/** `graft.pipeline.FullPipeline.run(cutCleaned = true)` over the seeded
  * manifest, then every sink run to completion. */
final class Pipeline(spark: SparkSession, seed: Long, cores: Int,
    expected: Map[String, Long]) extends Workload {
  val name = "pipeline"
  private var dir = ""

  def prepare(d: String): Unit = {
    dir = d
    PipelineData.write(spark, dir, seed, cores)
    PipelineData.nodes.foreach(n => spark.read.parquet(s"$dir/$n").count())
  }

  private def sinks(out: graft.pipeline.FullPipeline.Outputs): Seq[(String, DataFrame)] =
    Seq("findings" -> out.findings) ++
      out.sra.toSeq.flatMap { case (w, c) => Seq("sra_wide" -> w, "sra_constancy" -> c) } ++
      out.ssm.map("ssm" -> _) ++
      out.subjectConsent.map("subject_consent" -> _) ++
      out.sampleAttributes.map("sample_attributes" -> _) ++
      out.dcfIndex.map("dcf_index" -> _) ++
      out.tabBroken.toSeq.sortBy(_._1).map { case (n, df) => s"tab_$n" -> df } ++
      out.cds.map("cds" -> _)

  def iteration(tr: Tracer, i: Int): IterRun = {
    val t0 = System.nanoTime()
    val built = attempt("pipeline construct") {
      val m = tr.span("pipeline.manifest_read")(
        PipelineData.nodes.map(n => n -> spark.read.parquet(s"$dir/$n")).toMap)
      tr.span("pipeline.construct")(graft.pipeline.FullPipeline.run(
        m, graft.PipelineStress.catalog, study = "st1", phsAccession = "phs000123",
        consentMap = (0 to 4).map(c => s"CG$c" -> s"${c + 1}").toMap, cutCleaned = true))
    }
    val produced = built.map(sinks).getOrElse(Nil).map { case (s, df) =>
      val (rows, secs) = timed(tr.span(s"pipeline.sink.$s", s)(
        attempt(s"sink $s")(Harness.materialize(df, tr, s))))
      UnitRun(s, secs, rows.getOrElse(-1L), rows.exists(expected.get(s).contains))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // a sink the program no longer produces is a failed unit
    val missing = expected.keys.toSeq.sorted.filterNot(s => produced.exists(_.name == s))
      .map(UnitRun(_, 0.0, -1L, ok = false))
    IterRun(wall, produced ++ missing)
  }
}

/** A fresh `SnapshotStore` root per iteration (wiped outside the
  * timing): seeded appends with stats, a merge, a range delete, four
  * kinds of read, then compaction and vacuum. The expected row counts
  * come from replaying the same keys on a set ([[StorePlan.expect]]). */
final class Store(spark: SparkSession, seed: Long) extends Workload {
  val name = "store"
  private val plan = StoreData.plan(seed)
  private val (keptIds, prunedIds) = plan.expect
  private var dir = ""
  private var inputBytes = 0L

  def prepare(d: String): Unit = {
    dir = d
    StoreData.write(spark, s"$dir/in", plan, seed)
    inputBytes = Harness.du(new java.io.File(s"$dir/in"))._1
  }

  private val stats = Seq("id")

  def iteration(tr: Tracer, i: Int): IterRun = {
    Option(new java.io.File(dir).listFiles()).foreach(
      _.filter(_.getName.startsWith("store-")).foreach(Harness.wipe))
    val root = new java.io.File(dir, s"store-$i")
    val path = root.getAbsolutePath
    val units = Vector.newBuilder[UnitRun]
    var healthy = true
    /** Time one store call; `check` turns its result into (rows, ok). */
    def op[A](unit: String, layer: String)(call: => A)(check: A => (Long, Boolean)): Option[A] = {
      val (res, secs) = timed(tr.span(layer, unit)(attempt(s"store $unit")(call)))
      val (rows, ok) = res.map(check).getOrElse((-1L, false))
      healthy &&= ok
      units += UnitRun(unit, secs, rows, ok)
      res
    }
    def read(p: String) = spark.read.parquet(p)
    def mat(df: DataFrame, unit: String) = Harness.materialize(df, tr, unit)

    plan.appendIds.indices.foreach { b =>
      op(s"append-$b", "io.commit_append")(
        SnapshotStore.commitAppend(read(s"$dir/in/append-$b"), path, statsCols = stats))(
        v => (StoreData.BatchRows.toLong, v == b + 1))
    }
    val nAppend = plan.appendIds.length
    op("merge", "io.commit_merge")(
      SnapshotStore.commitMerge(read(s"$dir/in/merge"), "id", path, statsCols = stats))(
      m => (plan.mergeIds.length.toLong, m.exists(_.version == nAppend + 1)))
    op("delete", "io.commit_delete")(SnapshotStore.commitDeleteWhere(spark, path,
      Seq(ColRange("id", plan.deleteLo, plan.deleteHi)), "id", statsCols = stats))(
      d => (d.map(_.rowsDeleted).getOrElse(-1L), d.exists(_.version == nAppend + 2)))
    val latest = nAppend + 2
    op("read_latest", "io.read_latest")(mat(SnapshotStore.read(spark, path), "read_latest"))(
      n => (n, n == keptIds.size))
    op("read_pruned", "io.read_pruned")(mat(SnapshotStore.readPrunedRange(spark, path,
      Seq(ColRange("id", plan.readLo, plan.readHi))).df, "read_pruned"))(
      n => (n, n == prunedIds.size))
    op("read_changes", "io.read_changes")(
      mat(SnapshotStore.readChanges(spark, path, 1, latest), "read_changes"))(n => (n, n > 0))
    op("history", "io.history")(mat(SnapshotStore.history(spark, path), "history"))(
      n => (n, n == latest))
    val (bytes, files) = Harness.du(root)
    op("compact", "io.compact")(SnapshotStore.compact(spark, path))(
      v => (keptIds.size.toLong, v == latest + 1))
    op("vacuum", "io.vacuum")(SnapshotStore.vacuum(spark, path, latest + 1))(
      gone => (gone.length.toLong, gone.nonEmpty))
    val done = units.result()
    // final state, outside the timing: version and row count
    val finalOk = healthy && attempt("store final check") {
      SnapshotStore.versions(spark, path).max == latest + 1 &&
        SnapshotStore.read(spark, path).count() == keptIds.size
    }.contains(true)
    IterRun(done.map(_.seconds).sum,
      if (finalOk) done else done.map(_.copy(ok = false)),
      Map("io.bytes_per_user_byte" -> bytes.toDouble / inputBytes, "io.files_written" -> files.toDouble))
  }
}
