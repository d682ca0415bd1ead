package graft

/** Plan regression net: analyzes every graded query's physical plan on
  * sf0.001 and rejects shapes that do not survive scale — a
  * non-broadcast cartesian product is never acceptable (the broadcast
  * nested-loop joins in the similarity queries carry a 1-row query
  * vector or a centroid handful and are fine).
  */
class PlanAuditSpec extends SparkSpecBase {

  test("no query plans a non-broadcast cartesian product") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val offenders = SparkEntry.allQueries.flatMap { q =>
      val plan = q.run(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(q.name) else None
    }
    offenders shouldBe empty
  }

  test("filters reach the parquet scans (pushdown present where expected)") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    // q02 filters on a scanned column; its scan must carry PushedFilters
    val plan = SparkEntry.queries("q02_filter_membership")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    plan should include("PushedFilters: [")
    plan should not include "PushedFilters: []"
  }

  test("the CDS flatten's runtime plan broadcasts its dimension sides") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    // checkpointed inputs carry no stats, so the static plan can show
    // sort-merge joins; after execution AQE's final plan must have
    // converted the catalog-sized node-table sides to broadcasts
    val df = SparkEntry.queries("q73_cds_flatten")(spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
  }

  test("the SRA spread aggregates conditionally — no pivot Expand pass") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val plan = SparkEntry.queries("q70_sra_stage")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // spread columns are conditional aggregates with compile-time
    // labels — one aggregation, never an Expand/pivot double shuffle
    plan should include regex "(Hash|Sort|ObjectHash)Aggregate"
    plan should not include "Expand"
  }

  test("the salted skew join broadcasts its exploded dim — no fact-side join shuffle") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val plan = SparkEntry.queries("q130_salted_skew_join")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("media feature extraction projects binary payloads away before its sort") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    // the orderBy's range-shuffle must move only feature rows — the
    // payload bytes stay in their input split
    val sorts = SparkEntry.queries("q53_media_features")(
      spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan.collect {
      case so: org.apache.spark.sql.catalyst.plans.logical.Sort => so
    }
    sorts should not be empty
    sorts.foreach(so =>
      so.child.output.map(_.name) should not contain "payload")
  }

  test("the IVF coarse assignment prunes to rank-1 before its exchange") {
    import spark.implicits._
    // the n×k (vector, centroid) crossJoin must reduce map-side: the
    // ranking window needs a WindowGroupLimit in Partial mode ahead of
    // the exchange, so ~n winner candidates shuffle, not n×k vector
    // rows. This sits behind a checkpoint in the graded queries, so
    // audit the pre-checkpoint subplan directly.
    val corpus = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => (1.0f + i % 7 + d)))).toDF("id", "vec")
    val centroids = (1L to 4L).map(c =>
      (c, Array.tabulate(8)(d => (c + d).toFloat))).toDF("cid", "cvec")
    val plan = graft.ops.SimilarityOps.ivfAssign(corpus, "id", "vec", centroids)
      .queryExecution.executedPlan.toString
    plan should include regex "WindowGroupLimit.*Partial"
    plan should include regex "WindowGroupLimit.*Final"
  }

  test("the shard pack plans the two-pass prefix sum — no window operator") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    // the declarative alternative (sum over a global ORDER BY) would
    // plan a single-partition WindowExec — the shape that cannot
    // survive 100 TB; the operator must show mapPartitions over the
    // pinned range-partitioned scan instead. This audit pins the
    // AT-SCALE shape, so it forces the distributed path (below the
    // local-gate cap the op legitimately answers from a driver-local
    // LocalRelation instead — CorpusOpsSpec pins bit-equality of the
    // two).
    val plan = graft.ops.LocalGate.forcedDistributed(SparkEntry.queries(
      "q140_shard_pack")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString)
    plan should not include "Window"
    plan should include("MapPartitions")
  }

  test("map-side decontamination shuffles only for its output order") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    // the dict-overlap path counts per row against the broadcast
    // dictionary: no join, no aggregation — the ONLY exchange in the
    // plan is the final ORDER BY's range partitioning
    val plan = SparkEntry.queries("q146_decontaminate_mapside")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    "Exchange ".r.findAllIn(plan).length shouldBe 1
    plan should include("Exchange rangepartitioning")
    plan should not include "HashAggregate"
    plan should not include "Join"
  }

  test("document chunking is one map pass — no exchange beyond the output order") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    // tokenize + integer chunk arithmetic + explode + slices: nothing
    // aggregates, nothing joins — the ONLY exchange is the ORDER BY's
    val plan = SparkEntry.queries("q197_doc_chunking")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    "Exchange ".r.findAllIn(plan).length shouldBe 1
    plan should include("Exchange rangepartitioning")
    plan should not include "HashAggregate"
    plan should not include "Join"
  }

  test("temperature mixture joins only the broadcast rate table — the corpus never hash-shuffles") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    // rates derive from a k-row aggregate + 1-row min; the corpus
    // side streams through a broadcast join and the bucket filter —
    // its only exchange is the final ORDER BY (the aggregate's own
    // exchange moves k rows, not the corpus)
    val plan = SparkEntry.queries("q199_mixture_temperature")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "SortMergeJoin"
    "Exchange rangepartitioning".r.findAllIn(plan).length shouldBe 1
  }

  test("studyStatsWide with explicit pivot values runs zero jobs at plan build") {
    import org.apache.spark.sql.functions.{col, lit}
    // an unvalued pivot() runs a driver-side distinct JOB at plan time;
    // with the column vocabulary threaded through it must run none
    val long = strDf(Seq("study_id", "column_name", "value"))(
      Seq("ST0", "study_name", "Study 0"), Seq("ST1", "study_name", "Study 1"))
    // Probe via the MAX retained job id, not the count: the status
    // tracker evicts old jobs past spark.ui.retainedJobs, so a count
    // can SHRINK as unrelated suites run in the shared session (the
    // r11 flake); ids are monotonic, so the max only moves when a new
    // job actually ran.
    def lastJob = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).maxOption.getOrElse(-1)
    val before = lastJob
    graft.ops.StatsOps.studyStatsWide(long, columnNames = Seq("study_name"))
    lastJob shouldBe before
    graft.ops.StatsOps.studyStatsWide(long) // unvalued: pays the job
    lastJob should be > before
  }

  test("bqSearch broadcasts codes and shortlist — WindowGroupLimit rerank, no cartesian") {
    import spark.implicits._
    val emb = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => 1.0f + (i * 3 + d) % 11 - 5)))
      .toDF("id", "vec")
    val q = (0L until 4L).map(i =>
      (i * 16, Array.tabulate(8)(d => 1.0f + (i + d) % 7 - 3)))
      .toDF("qid", "qv")
    val plan = graft.ops.SimilarityOps
      .bqSearch(emb, "id", "vec", q, "qid", "qv", rerank = 8, k = 2)
      .queryExecution.executedPlan.toString
    // the rank-≤-k rerank must prune map-side (the ivfAssign shape)
    plan should include regex "WindowGroupLimit.*Partial"
    plan should include regex "WindowGroupLimit.*Final"
    // the pinned shortlist and the query vectors ride broadcast hash
    // joins in the refine (the Hamming pass sits behind the
    // checkpoint); nothing plans an unbroadcast cartesian
    plan should not include "CartesianProduct"
    plan should include("BroadcastHashJoin")
  }

  test("the two-phase prefix ops window WITHIN pinned range partitions — never a global-order single partition") {
    import spark.implicits._
    // a global cumsum via Window.orderBy would plan an empty-key
    // windowspec (the single-partition shape WindowExec warns about);
    // both ops must key their window on the pinned partition id
    val docs = (1L to 200L).map(i => (i, i % 13 + 1)).toDF("doc_id", "tok")
    // at-scale shape audit: force the distributed path (the local
    // fast path below the local-gate cap has no window at all)
    graft.ops.LocalGate.forcedDistributed {
      val packPlan = graft.ops.CorpusOps
        .packSequences(docs, "doc_id",
          org.apache.spark.sql.functions.col("tok"), seqLen = 64L,
          nBuckets = 4)
        .queryExecution.executedPlan.toString
      packPlan should include regex "windowspecdefinition\\(__pid"
      val shufPlan = graft.ops.CorpusOps
        .globalShuffle(docs, "doc_id", "s1", nBuckets = 4)
        .queryExecution.executedPlan.toString
      shufPlan should include regex "windowspecdefinition\\(__pid"
    }
  }

  test("the Zipf top-N rank prunes map-side — WindowGroupLimit before the stratum exchange") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    // the r<=64 filter over row_number must become the Partial+Final
    // WindowGroupLimit pair (the ivfAssign audit shape): only ~64
    // winner candidates per stratum shuffle, never the full
    // (stratum, term) frequency table
    val plan = SparkEntry.queries("q217_zipf_slope")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    plan should include regex "WindowGroupLimit.*Partial"
    plan should include regex "WindowGroupLimit.*Final"
  }
}
