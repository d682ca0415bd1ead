package graft

import org.apache.spark.sql.functions._

import graft.ops.DedupOps
import graft.ops.LocalGate.forcedDistributed

class DedupOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "completely different content about spark engines here")
  ).toDF("doc_id", "text")

  test("exactDedup keeps min id per content hash") {
    val out = DedupOps.exactDedup(docs, "doc_id", "text")
    out.count() shouldBe 3
    val dup = out.filter(col("n_copies") === 2).head()
    dup.getAs[Long]("keep_id") shouldBe 1L
  }

  test("identical docs share every minhash band; near-dups some") {
    val sigs = DedupOps.minhashBands(docs, "doc_id", "text", 3, 4)
    val rows = sigs.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    rows(1L) shouldBe rows(2L)
    rows(1L) should not be rows(4L)
  }

  test("wide minhash: first 4 bands unchanged, salted groups add independent bands") {
    val four = DedupOps.minhashBands(docs, "doc_id", "text", 3, 4)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val eight = DedupOps.minhashBands(docs, "doc_id", "text", 3, 8)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    four.keys.foreach { id =>
      eight(id).take(4) shouldBe four(id)       // group 0 is unsalted
      eight(id).drop(4) should not be four(id)  // group 1 is a new family
    }
    // identical docs still agree on every band; fused pipeline accepts >4
    eight(1L) shouldBe eight(2L)
    DedupOps.nearDupPairs(docs, "doc_id", "text", 3, 8)
      .filter(col("id1") === 1 && col("id2") === 2)
      .head().getAs[Double]("jaccard") shouldBe 1.0
  }

  test("lshCandidatePairs surfaces the exact-dup pair, canonicalized") {
    val sigs = DedupOps.minhashBands(docs, "doc_id", "text", 3, 4)
    val pairs = DedupOps.lshCandidatePairs(sigs, "doc_id", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    all(pairs.map { case (a, b) => a < b }) shouldBe true
  }

  test("fused nearDupPairs equals the staged bands->candidates->jaccard pipeline") {
    val fused = DedupOps.nearDupPairs(docs, "doc_id", "text", 3, 4)
    val sigs = DedupOps.minhashBands(docs, "doc_id", "text", 3, 4)
    val cands = DedupOps.lshCandidatePairs(sigs, "doc_id", 4)
    val staged = DedupOps.ngramJaccard(docs, "doc_id", "text", 3, cands)
    sortedRows(fused) shouldBe sortedRows(staged)
  }

  test("shingleDigestFrame rides keep columns; split pipeline equals fused") {
    val withLen = docs.withColumn("__len",
      org.apache.spark.sql.functions.length(col("text")))
    val hashed = DedupOps.shingleDigestFrame(
      withLen, "doc_id", "text", 3, 4, keep = Seq("__len"))
    // keep columns survive materialization with their values intact
    hashed.columns should contain allOf ("doc_id", "__len", "__hs")
    hashed.select("doc_id", "__len").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap shouldBe
      withLen.select("doc_id", "__len").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // pairs from the pre-materialized frame equal the one-call form
    sortedRows(DedupOps.nearDupPairsFromDigests(hashed, "doc_id", 4)) shouldBe
      sortedRows(DedupOps.nearDupPairs(docs, "doc_id", "text", 3, 4))
  }

  test("connectedComponents pairsDistinct fast path equals the default") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    sortedRows(DedupOps.connectedComponents(pairs, pairsDistinct = true)) shouldBe
      sortedRows(DedupOps.connectedComponents(pairs))
    // duplicate edges with the default (defensive dedup) still converge
    val dup = pairs.unionByName(pairs)
    sortedRows(DedupOps.connectedComponents(dup)) shouldBe
      sortedRows(DedupOps.connectedComponents(pairs))
  }

  test("connectedComponents local union-find equals the distributed rounds") {
    // a multi-round graph (chain), an isolated seed node, string ids,
    // and a null-id edge (the local path must hand nulls back to the
    // distributed join algebra, not fork it)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 9L), (7L, 8L))
      .toDF("id1", "id2")
    val nodes = Seq(42L, 4L).toDF("mg_id")
    val local = sortedRows(
      DedupOps.connectedComponents(pairs, nodes = Some(nodes)))
    val dist = forcedDistributed(sortedRows(
      DedupOps.connectedComponents(pairs, nodes = Some(nodes))))
    local shouldBe dist
    local.map(_.toSeq) should contain (Seq(42L, 42L)) // isolated seed
    val sPairs = Seq(("b", "c"), ("a", "b")).toDF("id1", "id2")
    sortedRows(DedupOps.connectedComponents(sPairs)) shouldBe
      forcedDistributed(sortedRows(DedupOps.connectedComponents(sPairs)))
    // null ids: local path must refuse (take the distributed result)
    val withNull = Seq((java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(3L)))
      .toDF("id1", "id2")
    sortedRows(DedupOps.connectedComponents(withNull)) shouldBe
      forcedDistributed(sortedRows(DedupOps.connectedComponents(withNull)))
  }

  test("ngramJaccard is 1.0 for identical docs") {
    val cands = Seq((1L, 2L)).toDF("id1", "id2")
    val out = DedupOps.ngramJaccard(docs, "doc_id", "text", 3, cands)
    val r = out.filter(col("id1") === 1 && col("id2") === 2).head()
    r.getAs[Double]("jaccard") shouldBe 1.0
  }

  test("ngramJaccard silently drops candidate docs with no shingles (< k tokens)") {
    val mixed = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "too short")).toDF("doc_id", "text") // doc 3: 2 tokens < k=3
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val out = DedupOps.ngramJaccard(mixed, "doc_id", "text", 3, cands)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out shouldBe Array((1L, 2L)) // (1,3) has no shingle overlap to verify
  }

  test("native ShingleHashes equals transform(shingles, md5) incl. edge cases") {
    val texts = Seq("a b c d e", "one two", "", "x  y z", "solo").toDF("text")
    val both = texts.select(
      graft.expr.ShingleHashes.shingleHashes(col("text"), 3).as("native"),
      transform(graft.ops.TextOps.shingles(col("text"), 3), s => md5(s)).as("hof"))
    both.collect().foreach { r =>
      r.getSeq[String](0) shouldBe r.getSeq[String](1)
    }
  }

  test("simhash16 equal for identical text, 16 bits wide") {
    val out = docs.select(col("doc_id"), DedupOps.simhash16(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe out(2L)
    out(1L).length shouldBe 16
    out(1L).forall(c => c == '0' || c == '1') shouldBe true
  }

  test("native SimHash16 expression equals the composable definition") {
    val texts = docs.select(col("text"))
      .unionByName(Seq("", "one", "a  b").toDF("text"))
    val both = texts.select(
      graft.expr.SimHash16.simhash16(col("text")).as("native"),
      DedupOps.simhash16(col("text")).as("hof"))
    both.collect().foreach(r => r.getString(0) shouldBe r.getString(1))
  }

  test("semanticDedup: transitive in-cell closure, min-id reps, singletons keep") {
    // chain at 0°/25°/50° in the (x,y) plane with τ = cos(30°): adjacent
    // links pass (cos 25° ≈ .906), the endpoints alone would NOT
    // (cos 50° ≈ .643) — only the transitive closure joins all three.
    def v(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
    }
    val emb = Seq(
      (10L, v(0)), (11L, v(25)), (12L, v(50)),
      (20L, Array(0f, 0f, 1f, 0f))) // other cell, lone survivor
      .toDF("vec_id", "embedding")
    val centroids = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 0f, 1f, 0f)))
      .toDF("cid", "cvec")
    val out = DedupOps.semanticDedup(emb, "vec_id", "embedding",
        centroids, tau = math.cos(math.toRadians(30)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    out(10L) shouldBe ((10L, true))
    out(11L) shouldBe ((10L, false))
    out(12L) shouldBe ((10L, false)) // via 11 only — transitive
    out(20L) shouldBe ((20L, true))
    out.size shouldBe 4
  }

  test("semanticDedup nprobe=2: a boundary pair split across cells is found; same-cell pairs stay a subset") {
    def v(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
    }
    // centroids at 0° and 90°; the near-duplicate pair straddles the
    // 45° boundary: 43° indexes under c0, 47° under c1 — same-cell
    // pair generation (the paper) cannot examine them, top-2 probing
    // meets them in BOTH cells (and the pair dedupes before the
    // closure)
    val emb = Seq(
      (10L, v(43)), (11L, v(47)),
      (20L, v(5)), (21L, v(8)), // same-cell dup, must stay found
      (30L, Array(0f, 0f, 1f, 0f))) // far singleton
      .toDF("vec_id", "embedding")
    val centroids = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)))
      .toDF("cid", "cvec")
    val tau = math.cos(math.toRadians(10))
    def run(nprobe: Int) = DedupOps.semanticDedup(
        emb, "vec_id", "embedding", centroids, tau, nprobe)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    val p1 = run(1)
    p1(10L) shouldBe ((10L, true)) // boundary pair MISSED at nprobe=1
    p1(11L) shouldBe ((11L, true))
    p1(21L) shouldBe ((20L, false))
    val p2 = run(2)
    p2(10L) shouldBe ((10L, true))
    p2(11L) shouldBe ((10L, false)) // recovered by the second probe
    p2(30L) shouldBe ((30L, true))
    // superset property: every nprobe=1 merge survives at nprobe=2
    p1.filter { case (id, (rep, _)) => rep != id }.foreach {
      case (id, (rep, _)) => p2(id)._1 should be <= rep
    }
    p2.keySet shouldBe p1.keySet // one row per corpus id, both forms
  }

  test("winnowCandidates: a copied paragraph pairs up; boilerplate fingerprints drop before the join") {
    val para = (1 to 12).map(i => s"p$i").mkString(" ") // 12 shared tokens
    val boiler = "copyright header for every file" // in EVERY doc
    val corpus = Seq(
      (1L, s"$boiler alpha beta $para"),
      (2L, s"$boiler $para gamma delta"),
      (3L, s"$boiler unrelated text entirely different words here"),
      (4L, s"$boiler nothing shared with any other document at all"))
      .toDF("doc_id", "text")
    // maxDf=2: the boilerplate's fingerprints appear in all 4 docs and
    // must drop; the copied paragraph (≥ w+k−1 = 6 shared tokens)
    // guarantees shared fingerprints between 1 and 2 only
    val out = DedupOps.winnowCandidates(corpus, "doc_id", "text",
        k = 3, w = 4, minShared = 1L, maxDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out should contain((1L, 2L))
    // no pair is justified ONLY by boilerplate
    out.foreach { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L)) shouldBe true }
    // with the DF filter loosened the boilerplate pairs everything
    val loose = DedupOps.winnowCandidates(corpus, "doc_id", "text",
        k = 3, w = 4, minShared = 1L, maxDf = 64L)
      .count()
    loose shouldBe 6L // all C(4,2) pairs share the header
  }

  test("winnowOverlapSpans ≡ reference islands fold over the match-span evidence; separated runs stay separate islands") {
    val para = (1 to 12).map(i => s"p$i").mkString(" ")
    val run2 = (1 to 8).map(i => s"q$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$para m1 m2 m3 m4 $run2"), // shares para AND run2 with 4
      (2L, s"intro words $para trailer"),
      (3L, s"$run2 something else entirely here"),
      (4L, s"$para f1 f2 f3 f4 f5 f6 $run2"))
      .toDF("doc_id", "text")
    val k = 3
    val ev = DedupOps.winnowMatchSpans(corpus, "doc_id", "text",
        k = k, w = 4, minShared = 1L, maxDf = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(3), r.getLong(4)))
    def islands(ps: Seq[Long]): (Long, Long) = {
      val t = 4 + k - 1 // the winnow guarantee length (w + k - 1)
      val sorted = ps.distinct.sorted
      var spans = 0L; var cov = 0L
      var start = -1L; var last = -1L
      sorted.foreach { p =>
        if (start < 0 || p - last > t) {
          if (start >= 0) cov += last - start + k
          spans += 1; start = p
        }
        last = p
      }
      if (start >= 0) cov += last - start + k
      (spans, cov)
    }
    val nTok = corpus.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").length.toLong)
      .toMap
    val expected = ev.groupBy(t => (t._1, t._2)).map { case ((a, b), rows) =>
      val (n1, c1) = islands(rows.map(_._3).toSeq)
      val (n2, c2) = islands(rows.map(_._4).toSeq)
      (a, b) -> ((n1, c1, c1.toDouble / nTok(a),
        n2, c2, c2.toDouble / nTok(b)))
    }
    val out = DedupOps.winnowOverlapSpans(corpus, "doc_id", "text",
        k = k, w = 4, minShared = 1L, maxDf = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getLong(5), r.getLong(6), r.getDouble(7)))).toMap
    out shouldBe expected
    // the two separated shared runs between 1 and 4 are TWO islands
    // on both sides (the mid gap exceeds the guarantee length)
    out((1L, 4L))._1 shouldBe 2L
    out((1L, 4L))._4 shouldBe 2L
    // the single shared paragraph between 1 and 2 is ONE island
    out((1L, 2L))._1 shouldBe 1L
  }

  test("dupSpanCoverage: corpus-wide window counts, interval union, ppm") {
    val corpus = Seq(
      (1L, "a b c d e"),     // ab bc shared with doc 2 -> tokens 0..2
      (2L, "a b c x y"),     // same coverage
      (3L, "z z z"),         // zz appears twice WITHIN the doc -> full cover
      (4L, "p q r"),         // no duplicated window
      (5L, "a b m m q a b"), // ab at pos 0 and 5 -> two islands
      (6L, "x")              // shorter than w -> zeros
    ).toDF("doc_id", "text")
    val out = DedupOps.dupSpanCoverage(corpus, "doc_id", "text", w = 2)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    out(1L) shouldBe ((5L, 2L, 3L, 600000L))
    out(2L) shouldBe ((5L, 2L, 3L, 600000L))
    out(3L) shouldBe ((3L, 2L, 3L, 1000000L))
    out(4L) shouldBe ((3L, 0L, 0L, 0L))
    out(5L) shouldBe ((7L, 2L, 4L, 571428L))
    out(6L) shouldBe ((1L, 0L, 0L, 0L))
  }
}
