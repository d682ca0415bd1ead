package graft

import org.apache.spark.sql.functions._

import graft.ops.GraphOps
import graft.ops.LocalGate.forcedDistributed

class GraphOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("resolveChain walks sample->pdx->sample chains to the root") {
    // c -> b -> a (root), d root, e -> d
    val edges = Seq(
      ("a", null.asInstanceOf[String]),
      ("b", "a"), ("c", "b"),
      ("d", null.asInstanceOf[String]), ("e", "d")).toDF("key", "parent")
    val out = GraphOps.resolveChain(edges)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    out("a") shouldBe ("a", 0)
    out("b") shouldBe ("a", 1)
    out("c") shouldBe ("a", 2)
    out("e") shouldBe ("d", 1)
  }

  test("resolveChain caps runaway cycles at maxIter") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("key", "parent")
    // cycle: nothing resolves, loop must terminate
    GraphOps.resolveChain(edges, maxIter = 3).count() shouldBe 0
  }

  test("walkBack joins along the hop path with prefixes") {
    val files = Seq(("f1", "s1")).toDF("file_id", "sample_id")
    val samples = Seq(("s1", "p1")).toDF("sample_id", "participant_id")
    val out = GraphOps.walkBack(files,
      Seq((samples, "sample_id", "sample_id", "sm_")))
    out.columns should contain("sm_participant_id")
    out.head().getAs[String]("sm_participant_id") shouldBe "p1"
  }

  test("cascadeDelete removes transitively-linked rows only") {
    val customer = Seq(("c1"), ("c2")).toDF("c_id")
    val orders = Seq(("o1", "c1"), ("o2", "c2")).toDF("o_id", "o_cust")
    val items = Seq(("i1", "o1"), ("i2", "o2"), ("i3", "o2")).toDF("i_id", "i_ord")
    val out = GraphOps.cascadeDelete(
      tables = Map("customer" -> customer, "orders" -> orders, "items" -> items),
      keyOf = Map("customer" -> "c_id", "orders" -> "o_id", "items" -> "i_id"),
      edges = Seq(("orders", "o_cust", "customer"), ("items", "i_ord", "orders")),
      seedTable = "customer",
      seedKeys = Seq("c1").toDF("key"))
    out("customer").as[String].collect() shouldBe Array("c2")
    out("orders").collect().map(_.getString(0)) shouldBe Array("o2")
    out("items").collect().map(_.getString(0)).sorted shouldBe Array("i2", "i3")
  }

  test("entryRemover cascades over dotted link columns and reports both sides") {
    val participant = strDf(Seq("participant_id", "name"))(
      Seq("P1", "a"), Seq("P2", "b"))
    val sample = strDf(Seq("sample_id", "participant.participant_id"))(
      Seq("S1", "P1"), Seq("S2", "P1"), Seq("S3", "P2"))
    val file = strDf(Seq("file_id", "sample.sample_id"))(
      Seq("F1", "S1"), Seq("F2", "S2"), Seq("F3", "S3"))
    val (kept, deleted, relations) = GraphOps.entryRemover(
      Map("participant" -> participant, "sample" -> sample, "file" -> file),
      strDf(Seq("entry_id"))(Seq("P1")))
    kept("participant").collect().map(_.getString(0)) shouldBe Array("P2")
    kept("sample").collect().map(_.getString(0)).sorted shouldBe Array("S3")
    kept("file").collect().map(_.getString(0)).sorted shouldBe Array("F3")
    deleted("sample").collect().map(_.getString(0)).sorted shouldBe
      Array("S1", "S2")
    deleted("file").collect().map(_.getString(0)).sorted shouldBe
      Array("F1", "F2")
    relations.collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq shouldBe Seq(("P1", "S1"), ("P1", "S2"),
        ("S1", "F1"), ("S2", "F2"))
  }

  test("pageRank matches a driver-side replica exactly and is deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a -> b, b -> c, c -> a, a -> c; node d is a pure sink fed by c
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L),
      (1L, 2L) /* dup edge: must not double-contribute */)
      .toDF("s", "t")
    val got = GraphOps.pageRank(edges, "s", "t", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // replica of the documented semantics in plain doubles
    val e = Set((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
    val nodes = (e.map(_._1) ++ e.map(_._2)).toSeq.sorted
    val od = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    (1 to 3).foreach { _ =>
      val in = e.toSeq.groupBy(_._2).map { case (dst, es) =>
        // decimal-rounded contributions summed exactly: replicate the
        // rounding with BigDecimal HALF_UP at scale 18
        dst -> es.map { case (src, _) =>
          BigDecimal(r(src) / od(src))
            .setScale(18, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
      }
      r = nodes.map(v =>
        v -> ((1 - 0.85) / n + 0.85 * in.getOrElse(v, 0.0))).toMap
    }
    got.keySet shouldBe r.keySet
    nodes.foreach(v => got(v) shouldBe r(v)) // bit-exact
    // rank sinks leak by the documented variant: total < 1
    got.values.sum should be < 1.0
    // deterministic across runs
    GraphOps.pageRank(edges, "s", "t", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap shouldBe got
    // the distributed rounds (forced: local cap 0) must agree with the
    // driver-local fast path bit for bit — same guard as the CC spec
    forcedDistributed(GraphOps.pageRank(edges, "s", "t", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap) shouldBe got
  }

  test("pageRankConverged conserves mass under dangling nodes and stops at eps") {
    import spark.implicits._
    // node 4 is a pure sink: without redistribution its rank leaks
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
      .toDF("s", "t")
    val (ranks, rounds) = GraphOps.pageRankConverged(edges, "s", "t",
      eps = 1e-12, maxIters = 100)
    // dangling-mass redistribution conserves total rank at 1
    val total = ranks.collect().map(_.getDouble(1)).sum
    total shouldBe 1.0 +- 1e-9
    // epsilon termination stopped well before the budget
    rounds should be < 100
    rounds should be > 1

    // converged means one more round moves less than eps
    val (again, rounds2) = GraphOps.pageRankConverged(edges, "s", "t",
      eps = 1e-12, maxIters = rounds + 5)
    rounds2 shouldBe rounds
    again.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap shouldBe
      ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("pageRankConverged ≡ pageRank bit-exactly on a graph with no dangling nodes") {
    import spark.implicits._
    // every node has an out-edge: dangling mass is 0 every round, so
    // the update is arithmetically the fixed-round variant's
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "t")
    val fixed = GraphOps.pageRank(edges, "s", "t", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (conv, rounds) = GraphOps.pageRankConverged(edges, "s", "t",
      eps = 0.0, maxIters = 3)
    rounds shouldBe 3 // eps = 0 never converges early
    conv.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap shouldBe
      fixed
  }

  test("triangleCounts: cliques, chains, hubs, and random graphs match the brute force; input is normalized") {
    import spark.implicits._
    def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
      GraphOps.triangleCounts(edges.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4: 4 triangles, every node in 3
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    run(k4) shouldBe (0L to 3L).map(_ -> 3L).toMap
    // chain and star: no triangles at all
    run(Seq((1L, 2L), (2L, 3L), (3L, 4L))) shouldBe Map.empty
    run(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))) shouldBe Map.empty
    // direction, duplicates and self-loops normalize away
    run(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L),
      (1L, 2L))) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    // a skewed hub graph (the degree-orientation regime): hub 0 joins
    // every rim pair that is itself an edge
    val hub = (1L to 10L).map(i => (0L, i)) ++
      Seq((1L, 2L), (3L, 4L), (4L, 5L), (3L, 5L))
    val got = run(hub)
    got(0L) shouldBe 4L // {0,1,2} {0,3,4} {0,4,5} {0,3,5}; {3,4,5} has no 0
    got(4L) shouldBe 3L // {0,3,4} {0,4,5} {3,4,5}
    // random graphs vs driver-side brute force
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val n = 12
      val es = (for (a <- 0L until n; b <- 0L until n
        if a < b && rnd.nextDouble() < 0.35) yield (a, b)).toSeq
      val set = es.toSet
      val brute = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for (x <- 0L until n; y <- x + 1 until n; z <- y + 1 until n)
        if (set((x, y)) && set((y, z)) && set((x, z))) {
          brute(x) += 1; brute(y) += 1; brute(z) += 1
        }
      run(es) shouldBe brute.toMap
    }
  }

  // ------------------------------------------------------------------
  // r18: resolveChain / entryRemover driver-local fast paths must be
  // bit-identical to the distributed rounds (forced via graft.localMax=0).
  // ------------------------------------------------------------------

  test("resolveChain local fast path ≡ distributed: chains, externals, cycles, depth cutoff") {
    // long chain (depth 9), an external root (parent never a key),
    // a 3-cycle, a branch joining the long chain mid-way
    val edges = (
      Seq(("n0", null.asInstanceOf[String])) ++
      (1 to 9).map(i => (s"n$i", s"n${i - 1}")) ++
      Seq(("x1", "EXTERNAL"), ("x2", "x1"),
        ("c1", "c3"), ("c2", "c1"), ("c3", "c2"),
        ("m1", "n4"))).toDF("key", "parent")
    def dump(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1).toList
    for (mi <- Seq(20, 3, 2, 0)) {
      val local = dump(GraphOps.resolveChain(edges, maxIter = mi))
      val dist = forcedDistributed(
        dump(GraphOps.resolveChain(edges, maxIter = mi)))
      withClue(s"maxIter=$mi: ") { local shouldBe dist }
    }
    // the cutoff boundary is exact: depth ≤ 2^maxIter - 1 resolves
    val out3 = GraphOps.resolveChain(edges, maxIter = 3).collect()
      .map(r => r.getString(0) -> r.getInt(2)).toMap
    out3.values.max shouldBe 7 // f(3) = 7; n8 (depth 8) is NOT done
    out3.contains("n7") shouldBe true
    out3.contains("n8") shouldBe false
    out3("x2") shouldBe 2 // external root two hops up
    out3.contains("c1") shouldBe false // cycles never resolve
  }

  test("entryRemover local fast path ≡ distributed, incl. the maxHops raise") {
    val participant = strDf(Seq("participant_id", "name"))(
      Seq("P1", "a"), Seq("P2", "b"))
    val sample = strDf(Seq("sample_id", "participant.participant_id"))(
      Seq("S1", "P1"), Seq("S2", "P1"), Seq("S3", "P2"))
    val file = strDf(Seq("file_id", "sample.sample_id"))(
      Seq("F1", "S1"), Seq("F2", "S2"), Seq("F3", "S3"))
    val nodes = Map("participant" -> participant, "sample" -> sample,
      "file" -> file)
    val seeds = strDf(Seq("entry_id"))(Seq("P1"))
    def dump(res: (Map[String, org.apache.spark.sql.DataFrame],
        Map[String, org.apache.spark.sql.DataFrame],
        org.apache.spark.sql.DataFrame)) = (
      res._1.map { case (k, v) =>
        k -> v.collect().map(_.getString(0)).sorted.toList },
      res._2.map { case (k, v) =>
        k -> v.collect().map(_.getString(0)).sorted.toList },
      res._3.collect().map(r => (r.getString(0), r.getString(1)))
        .sorted.toList)
    val local = dump(GraphOps.entryRemover(nodes, seeds))
    val dist = forcedDistributed(
      dump(GraphOps.entryRemover(nodes, seeds)))
    local shouldBe dist
    // both paths raise the same loud incompleteness guard
    val eL = intercept[IllegalStateException](
      GraphOps.entryRemover(nodes, seeds, maxHops = 1))
    val eD = forcedDistributed(
      intercept[IllegalStateException](
        GraphOps.entryRemover(nodes, seeds, maxHops = 1)))
    eL.getMessage shouldBe eD.getMessage
  }
}
