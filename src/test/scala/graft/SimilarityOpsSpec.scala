package graft

import org.apache.spark.sql.functions._

import graft.ops.SimilarityOps
import graft.ops.LocalGate.forcedDistributed

class SimilarityOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("cosine of parallel vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1f, 0f), Array(2f, 0f)),
      (Array(1f, 0f), Array(0f, 3f))).toDF("a", "b")
    val out = df.select(SimilarityOps.cosine(col("a"), col("b"))).as[Double].collect()
    out(0) shouldBe 1.0 +- 1e-12
    out(1) shouldBe 0.0 +- 1e-12
  }

  test("native FloatDot is bit-identical to the composable fold") {
    val df = Seq(
      (Array(1.5f, -2.25f, 3.125f), Array(0.5f, 4f, -1f)),
      (Array(0f, 0f), Array(0f, 0f))).toDF("a", "b")
    df.select((SimilarityOps.dot(col("a"), col("b")) ===
      SimilarityOps.dotHof(col("a"), col("b"))).as("eq"))
      .collect().foreach(_.getBoolean(0) shouldBe true)
    // mismatched lengths -> null (zip_with null-pad contract)
    Seq((Array(1f, 2f), Array(1f))).toDF("a", "b")
      .select(SimilarityOps.dot(col("a"), col("b"))).head().isNullAt(0) shouldBe true
  }

  test("native PlaneSigns is bit-identical to the composed sign concat") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val planes = SimilarityOps.hyperplanes(seed = 42L, bits = 16, dim = 4)
      val df = Seq(
        Array(1.5f, -2.25f, 3.125f, 0.01f),
        Array(0f, 0f, 0f, 0f),
        Array(-0.004f, 0.993f, -0.51f, 0.2f),
        null.asInstanceOf[Array[Float]]) // null vec -> all-zero bits, NOT null
        .toDF("v")
      val out = df.select(
        SimilarityOps.hyperplaneSigns(col("v"), planes).as("nat"),
        SimilarityOps.hyperplaneSignsComposed(col("v"), planes).as("twin"))
        .collect()
      out.foreach(r => r.getString(0) shouldBe r.getString(1))
      out(3).getString(0) shouldBe "0" * 16
      // malformed vectors fail loudly instead of skewing LSH buckets:
      // shorter than dim throws (as the twin's ANSI element_at would) …
      def chainText(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString("\n")
      val short = intercept[Exception] {
        Seq(Array(1f, 2f)).toDF("v")
          .select(SimilarityOps.hyperplaneSigns(col("v"), planes)).head()
      }
      chainText(short) should include("plane_signs")
      // … and a null ELEMENT throws too (stricter than the twin, which
      // would silently emit the all-zeros bucket for it)
      val nullElem = intercept[Exception] {
        spark.sql("SELECT array(float(1.0), float(NULL), float(3.0), float(4.0)) AS v")
          .select(SimilarityOps.hyperplaneSigns(col("v"), planes)).head()
      }
      chainText(nullElem) should include("plane_signs")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None    => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("bruteForceTopK returns k nearest by cosine, id tie-break") {
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(-1f, 0f))).toDF("id", "vec")
    val query = Seq(Tuple1(Array(1f, 0f))).toDF("query_vec")
    val out = SimilarityOps.bruteForceTopK(corpus, "id", "vec", query, 2)
      .select("id").as[Long].collect()
    out shouldBe Array(1L, 2L)
  }

  test("signBucket concatenates sign bits of leading dims") {
    val df = Seq(Tuple1(Array(1f, -2f, 3f))).toDF("v")
    df.select(SimilarityOps.signBucket(col("v"), 3)).as[String].head() shouldBe "101"
  }

  test("ivfNearestNeighbor assigns to nearest centroid and searches the cell") {
    val corpus = Seq(
      (1L, Array(1f, 0.1f)), (2L, Array(1f, 0.2f)),  // near centroid c0
      (3L, Array(0.1f, 1f))                          // near centroid c1, alone
    ).toDF("id", "vec")
    val centroids = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("cid", "cvec")
    val out = SimilarityOps.ivfNearestNeighbor(corpus, "id", "vec", centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(1L) shouldBe 2L
    out(2L) shouldBe 1L
    out.contains(3L) shouldBe false // singleton cell
  }

  test("trainCentroids converges to the two obvious clusters and plugs into IVF") {
    val corpus = Seq(
      (1L, Array(1f, 0.05f)), (2L, Array(1f, -0.05f)), (3L, Array(0.9f, 0f)),
      (4L, Array(0.05f, 1f)), (5L, Array(-0.05f, 1f)), (6L, Array(0f, 0.9f)))
      .toDF("id", "vec")
    val centroids = SimilarityOps.trainCentroids(corpus, "id", "vec", k = 2, iters = 4)
    val cs = centroids.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    cs should have size 2
    // one centroid points along x, the other along y
    val dirs = cs.values.map(v => if (v(0) > v(1)) "x" else "y").toSet
    dirs shouldBe Set("x", "y")
    // the trained quantizer drives the IVF search: neighbors stay
    // within their own cluster
    val nn = SimilarityOps.ivfNearestNeighbor(corpus, "id", "vec", centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Set(2L, 3L) should contain (nn(1L))
    Set(5L, 6L) should contain (nn(4L))
  }

  test("multi-probe ANN reaches neighbors one flipped bucket bit away") {
    // a corpus small enough that adaptive bits clamp to 1: two
    // opposite-sign clusters land in different buckets, and only the
    // probing variant can pair across them
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(-1f, 0.01f))).toDF("id", "vec")
    val planes = SimilarityOps.hyperplanes(seed = 7L, bits = 4, dim = 2)
    SimilarityOps.lshNearestNeighborHyperplane(corpus, "id", "vec", planes)
      .count() shouldBe 0 // split by the first hyperplane
    val probed = SimilarityOps.lshNearestNeighborMultiProbe(corpus, "id", "vec", planes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probed shouldBe Map(1L -> 2L, 2L -> 1L)
  }

  test("sqrtCentroidCount follows the sqrt(n) sizing rule") {
    SimilarityOps.sqrtCentroidCount(0L) shouldBe 1
    SimilarityOps.sqrtCentroidCount(100L) shouldBe 10
    SimilarityOps.sqrtCentroidCount(1000000L) shouldBe 1000
  }

  test("lshNearestNeighbor finds in-bucket top-1") {
    val corpus = Seq(
      (1L, Array(1f, 1f)), (2L, Array(1f, 0.9f)), // same bucket "11"
      (3L, Array(-1f, 1f))                        // bucket "01", alone
    ).toDF("id", "vec")
    val out = SimilarityOps.lshNearestNeighbor(corpus, "id", "vec", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(1L) shouldBe 2L
    out(2L) shouldBe 1L
    out.contains(3L) shouldBe false // singleton bucket: no neighbor
  }

  // ---- product quantization ----

  /** Deterministic LCG corpus (no RNG state), dim 8. */
  private def pqCorpus(n: Int): org.apache.spark.sql.DataFrame = {
    var st = 7L
    def nextQ(): Float = {
      st = st * 6364136223846793005L + 1442695040888963407L
      ((((st >>> 33) % 2001L) - 1000L) / 1000.0).toFloat
    }
    (0L until n.toLong).map(i => (i, Seq.fill(8)(nextQ()))).toDF("id", "vec")
  }

  test("FloatSqDist is bit-identical to the in-order HOF fold (codegen, no fallback)") {
    import org.apache.spark.sql.functions.{aggregate, lit, zip_with}
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val both = pqCorpus(32).crossJoin(
          pqCorpus(4).select(col("id").as("id2"), col("vec").as("vec2")))
        .select(
          SimilarityOps.sqDist(col("vec"), col("vec2")).as("native"),
          aggregate(zip_with(col("vec"), col("vec2"),
            (x, y) => (x.cast("double") - y.cast("double")) *
              (x.cast("double") - y.cast("double"))),
            lit(0.0), (acc, v) => acc + v).as("hof"))
        .collect()
      both.foreach(r => r.getDouble(0) shouldBe r.getDouble(1)) // bit-equal
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("pqEncode emits m in-range codes per vector — the ÷(dim/m) stored form") {
    val corpus = pqCorpus(40)
    val cb = SimilarityOps.trainPqCodebooks(corpus, "id", "vec",
      dim = 8, m = 4, ks = 3, iters = 2)
    val codes = SimilarityOps.pqEncode(corpus, "id", "vec", cb, dim = 8, m = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    codes.size shouldBe 40
    codes.values.foreach { cs =>
      cs.length shouldBe 4 // m codes instead of 8 floats
      cs.foreach(c => c should (be >= 0 and be < 3))
    }
  }

  test("PQ training fails loudly on a wrong-dimension vector instead of assigning it cell 0") {
    // FloatSqDist nulls on a length mismatch and null sorts FIRST
    // under the assignment argmin (ADVICE r12) — the guard must fire
    // before any slice reaches the distance.
    val bad = pqCorpus(10).unionByName(
      Seq((99L, Seq(1f, 2f, 3f))).toDF("id", "vec"))
    val ex = intercept[Exception] {
      SimilarityOps.trainPqCodebooks(bad, "id", "vec",
        dim = 8, m = 4, ks = 2, iters = 0)
    }
    Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n") should include("subspaceRows")
  }

  test("native PqAdc equals squared-L2 against the reconstructed vector (codegen, no fallback)") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val corpus = pqCorpus(40)
      val (m, ks, subDim) = (4, 3, 2)
      val cb = SimilarityOps.trainPqCodebooks(corpus, "id", "vec",
        dim = 8, m = m, ks = ks, iters = 1)
      val bc = spark.sparkContext.broadcast(
        SimilarityOps.collectCodebooks(cb, m, ks, subDim))
      val codes = SimilarityOps.pqEncode(corpus, "id", "vec", cb, dim = 8, m = m)
      // reconstruction reference: codes -> flat centroid slices
      val flat = bc.value.flat
      def recon(cs: Seq[Int]): Seq[Float] =
        cs.zipWithIndex.flatMap { case (c, j) =>
          ((j * ks + c) * subDim until (j * ks + c) * subDim + subDim)
            .map(flat)
        }
      val codesMap = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val reconDf = codesMap.toSeq.map { case (id, cs) =>
        (id, recon(cs)) }.toDF("id", "rvec")
      val adc = corpus.join(codes, "id")
        .select(col("id"),
          graft.expr.PqAdc.pqAdc(col("vec"), col("codes"), bc).as("adc"))
      val reference = corpus.join(reconDf, "id")
        .select(col("id"), SimilarityOps.sqDist(col("vec"), col("rvec")).as("ref"))
      val joined = adc.join(reference, "id").collect()
      joined.length shouldBe 40
      joined.foreach(r => r.getDouble(1) shouldBe r.getDouble(2)) // bit-equal
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("pqNearestNeighbor finds a planted near-duplicate through codes alone") {
    // two tight clusters + a planted near-identical pair; coarse cells
    // from the 2 lowest-id vectors separate the clusters
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)),
      (2L, Seq(0.98f, 0.01f, 0f, 0f, 0.99f, 0.02f, 0f, 0f)), // ≈ 0
      (3L, Seq(0.02f, 0.97f, 0.01f, 0f, 0f, 1.01f, 0f, 0f)), // ≈ 1
      (4L, Seq(0.97f, 0.02f, 0.01f, 0f, 1.01f, 0f, 0f, 0f))  // ≈ 0, 2
    ).toDF("id", "vec")
    val (m, ks) = (4, 3)
    val cb = SimilarityOps.trainPqCodebooks(corpus, "id", "vec",
      dim = 8, m = m, ks = ks, iters = 2)
    val bc = spark.sparkContext.broadcast(
      SimilarityOps.collectCodebooks(cb, m, ks, 2))
    val codes = SimilarityOps.pqEncode(corpus, "id", "vec", cb, dim = 8, m = m)
    val coarse = corpus.filter(col("id") < 2)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val out = SimilarityOps.pqNearestNeighbor(corpus, "id", "vec",
        coarse, codes, bc)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(2L) should (be(0L) or be(4L)) // its cluster, via codes
    out(3L) shouldBe 1L
    out.keySet should contain(0L)
  }

  test("tabled ADC equals the per-subspace driver fold bit-exactly and PqAdc to 1e-12 (codegen, no fallback)") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val corpus = pqCorpus(40)
      val (m, ks, subDim) = (4, 3, 2)
      val cb = SimilarityOps.trainPqCodebooks(corpus, "id", "vec",
        dim = 8, m = m, ks = ks, iters = 1)
      val bc = spark.sparkContext.broadcast(
        SimilarityOps.collectCodebooks(cb, m, ks, subDim))
      val codes = SimilarityOps.pqEncode(corpus, "id", "vec", cb, dim = 8, m = m)
      val out = corpus.join(codes, "id")
        .select(col("id"),
          graft.expr.PqAdc.pqAdcTable(
            graft.expr.PqAdc.pqDistTable(col("vec"), bc),
            col("codes")).as("tabled"),
          graft.expr.PqAdc.pqAdc(col("vec"), col("codes"), bc).as("adc"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      // driver reference replays the documented grouping: a
      // dimension-order fold WITHIN each subspace, partials summed in
      // subspace order — bit-equality pins the contract the q159
      // oracle replays
      val flat = bc.value.flat
      val vecs = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      val codesMap = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      out.foreach { case (id, tabled, adc) =>
        var acc = 0.0
        (0 until m).foreach { j =>
          var sub = 0.0
          (0 until subDim).foreach { t =>
            val d = vecs(id)(j * subDim + t).toDouble -
              flat((j * ks + codesMap(id)(j)) * subDim + t).toDouble
            sub += d * d
          }
          acc += sub
        }
        java.lang.Double.doubleToLongBits(tabled) shouldBe
          java.lang.Double.doubleToLongBits(acc)
        tabled shouldBe adc +- math.max(1e-12 * adc.abs, 1e-15)
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("pqNearestNeighborTabled picks pqNearestNeighbor's neighbors; the table builds once, above the cell exchange") {
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)),
      (2L, Seq(0.98f, 0.01f, 0f, 0f, 0.99f, 0.02f, 0f, 0f)),
      (3L, Seq(0.02f, 0.97f, 0.01f, 0f, 0f, 1.01f, 0f, 0f)),
      (4L, Seq(0.97f, 0.02f, 0.01f, 0f, 1.01f, 0f, 0f, 0f))
    ).toDF("id", "vec")
    val (m, ks) = (4, 3)
    val cb = SimilarityOps.trainPqCodebooks(corpus, "id", "vec",
      dim = 8, m = m, ks = ks, iters = 2)
    val bc = spark.sparkContext.broadcast(
      SimilarityOps.collectCodebooks(cb, m, ks, 2))
    val codes = SimilarityOps.pqEncode(corpus, "id", "vec", cb, dim = 8, m = m)
    val coarse = corpus.filter(col("id") < 2)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val base = SimilarityOps.pqNearestNeighbor(corpus, "id", "vec",
        coarse, codes, bc)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val tabledDf = SimilarityOps.pqNearestNeighborTabled(corpus, "id", "vec",
      coarse, codes, bc)
    val tabled = tabledDf
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    tabled.keySet shouldBe base.keySet
    tabled.foreach { case (id, (nn, adc)) =>
      nn shouldBe base(id)._1
      adc shouldBe base(id)._2 +- math.max(1e-12 * adc.abs, 1e-15)
    }
    // the build-once placement: the dist-table projection is its own
    // operator, NOT collapsed into the per-pair scoring projection
    // (that collapse would rebuild the m·ks table for every candidate)
    val plan = tabledDf.queryExecution.executedPlan.toString
    plan.linesIterator.filter(_.contains("pq_adc_table"))
      .foreach(l => l should not include "pq_dist_table")
    plan should include("pq_dist_table")
  }

  // ---- residual PQ ----

  /** Two clusters at dyadic centers ±10 with the SAME dyadic offset
    * pair {δ0, δ1} — center+offset sums are exact in float, so the
    * residuals are exactly the offsets, shared across clusters.
    */
  private val residCenters = Seq(
    0L -> Seq(10f, -10f, 10f, -10f, 10f, -10f, 10f, -10f),
    1L -> Seq(-10f, 10f, -10f, 10f, -10f, 10f, -10f, 10f))
  private val residDelta0 = Seq(0.5f, 0.25f, -0.5f, 0.375f, 0.25f, -0.25f, 0.5f, -0.375f)
  private val residDelta1 = Seq(-0.25f, -0.5f, 0.375f, -0.375f, -0.5f, 0.5f, -0.25f, 0.25f)
  private def residCorpus = Seq(
    0L -> residDelta0, 1L -> residDelta1, // cluster at centers(0)
    2L -> residDelta0, 3L -> residDelta1  // cluster at centers(1)
  ).zipWithIndex.map { case ((id, d), i) =>
    val c = residCenters(i / 2)._2
    (id, c.lazyZip(d).map(_ + _))
  }.toDF("id", "vec")

  test("residualFrame subtracts the assigned coarse centroid exactly") {
    val coarse = residCenters.toDF("cid", "cvec")
    val out = SimilarityOps.residualFrame(residCorpus, "id", "vec", coarse)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Float](2)))).toMap
    out(0L) shouldBe ((0L, residDelta0))
    out(1L) shouldBe ((0L, residDelta1))
    out(2L) shouldBe ((1L, residDelta0))
    out(3L) shouldBe ((1L, residDelta1))
  }

  test("residual codes reconstruct exactly where raw codes cannot, and the residual search pairs cells up") {
    // Residual space holds only TWO distinct subvectors per subspace
    // (the shared offsets), so ks=2 codebooks reconstruct residuals
    // EXACTLY; raw space holds four (2 centers × 2 offsets) and the
    // same budget must leave error ≥ the offset spread. This is the
    // by_residual=true claim in its sharpest deterministic form.
    val (m, ks) = (4, 2)
    val coarse = residCenters.toDF("cid", "cvec")
    val resid = graft.ops.Checkpoints.cut(
      SimilarityOps.residualFrame(residCorpus, "id", "vec", coarse),
      eager = true)
    val rcb = SimilarityOps.trainPqCodebooks(resid, "id", "rvec",
      dim = 8, m = m, ks = ks, iters = 2)
    val rbc = spark.sparkContext.broadcast(
      SimilarityOps.collectCodebooks(rcb, m, ks, 2))
    val rcodes = SimilarityOps.pqEncode(resid, "id", "rvec", rcb, dim = 8, m = m)
    val residErr = resid.join(rcodes, Seq("id"))
      .select(graft.expr.PqAdc.pqAdc(col("rvec"), col("codes"), rbc).as("e"))
      .agg(sum(col("e"))).collect().head.getDouble(0)
    residErr shouldBe 0.0 // dyadic offsets: Lloyd converges to them exactly

    val cb = SimilarityOps.trainPqCodebooks(residCorpus, "id", "vec",
      dim = 8, m = m, ks = ks, iters = 2)
    val bc = spark.sparkContext.broadcast(
      SimilarityOps.collectCodebooks(cb, m, ks, 2))
    val codes = SimilarityOps.pqEncode(residCorpus, "id", "vec", cb, dim = 8, m = m)
    val rawErr = residCorpus.join(codes, Seq("id"))
      .select(graft.expr.PqAdc.pqAdc(col("vec"), col("codes"), bc).as("e"))
      .agg(sum(col("e"))).collect().head.getDouble(0)
    rawErr should be > 0.1 // same budget, four points per subspace

    // exact reconstruction ⇒ the in-cell residual ADC IS the exact
    // residual distance: each vector's neighbor is its cell partner
    // at ‖δ0 − δ1‖²
    val trueD = residDelta0.lazyZip(residDelta1)
      .map((a, b) => (a.toDouble - b.toDouble) * (a.toDouble - b.toDouble)).sum
    val nn = SimilarityOps.pqNearestNeighborResidual(resid, "id", rcodes, rbc)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    nn shouldBe Map(
      0L -> ((1L, trueD)), 1L -> ((0L, trueD)),
      2L -> ((3L, trueD)), 3L -> ((2L, trueD)))
  }

  // ---- nprobe ----

  test("nprobe=2 finds the cross-cell neighbor single-cell IVF and PQ search miss") {
    // vectors 2 and 3 are nearly parallel but straddle the cell
    // boundary: each is the other's true neighbor, yet top-1 cell
    // search can only ever pair them with their cell anchor
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),      // cell-0 anchor/centroid
      (1L, Seq(0f, 1f, 0f, 0f)),      // cell-1 anchor/centroid
      (2L, Seq(0.72f, 0.69f, 0f, 0f)), // cell 0 (0.72 > 0.69)
      (3L, Seq(0.69f, 0.72f, 0f, 0f))  // cell 1
    ).toDF("id", "vec")
    val cents = corpus.filter(col("id") < 2)
      .select(col("id").as("cid"), col("vec").as("cvec"))

    // probe rank 1 IS the single-cell assignment
    val a1 = SimilarityOps.ivfAssign(corpus, "id", "vec", cents)
      .select(col("id"), col("cid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ap = SimilarityOps.ivfAssignProbed(corpus, "id", "vec", cents, 2)
    ap.filter(col("__rn") === 1).select(col("id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe a1

    val single = SimilarityOps.ivfNearestNeighbor(corpus, "id", "vec", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    single(2L) shouldBe 0L // capped by the cell ceiling
    single(3L) shouldBe 1L
    val probed = SimilarityOps.ivfNearestNeighborProbed(
        corpus, "id", "vec", cents, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probed(2L) shouldBe 3L // the true neighbor, found across cells
    probed(3L) shouldBe 2L

    // PQ twin: ks = n makes reconstruction exact, isolating the probe
    val (m, ks) = (2, 4)
    val cb = SimilarityOps.trainPqCodebooks(corpus, "id", "vec",
      dim = 4, m = m, ks = ks, iters = 2)
    val bc = spark.sparkContext.broadcast(
      SimilarityOps.collectCodebooks(cb, m, ks, 2))
    val codes = SimilarityOps.pqEncode(corpus, "id", "vec", cb, dim = 4, m = m)
    val pqSingle = SimilarityOps.pqNearestNeighbor(corpus, "id", "vec",
        cents, codes, bc)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pqSingle(2L) shouldBe 0L
    val pqProbed = SimilarityOps.pqNearestNeighborProbed(corpus, "id", "vec",
        cents, codes, bc, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pqProbed(2L) shouldBe 3L
    pqProbed(3L) shouldBe 2L
    // nprobe only ADDS candidates: anchors keep their single-cell pick
    pqProbed(0L) shouldBe pqSingle(0L)
    // the deployment combo — distance tables + nprobe — picks the
    // same neighbors
    val tabledProbed = SimilarityOps.pqNearestNeighborTabled(corpus, "id",
        "vec", cents, codes, bc, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    tabledProbed shouldBe pqProbed
  }

  test("ivfAssign fails loudly when a corrupt centroid yields NaN cosines") {
    // Spark sorts NaN as the largest double, so without the guard a
    // single NaN-element centroid would silently win EVERY assignment
    // and collapse the index into one cell. (A zero-NORM centroid is
    // already loud via ANSI's 0/0 DIVIDE_BY_ZERO; the NaN guard covers
    // the corrupt-ELEMENT case that divides cleanly into NaN.)
    val corpus = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("id", "vec")
    val cents = Seq((0L, Seq(1f, 0f)), (9L, Seq(Float.NaN, 1f)))
      .toDF("cid", "cvec")
    val e = intercept[Exception] {
      SimilarityOps.ivfAssign(corpus, "id", "vec", cents).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString(" | ")
    msgs should include("non-finite cosine")
  }

  test("topK faces return the exact ranked neighbor lists (FAISS search(q,k) contract)") {
    // same 2-cell corpus as the nprobe test; with nprobe=2 every query
    // reaches BOTH cells, so k=3 must return the exact full ranking
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.72f, 0.69f, 0f, 0f)),
      (3L, Seq(0.69f, 0.72f, 0f, 0f))
    ).toDF("id", "vec")
    val cents = corpus.filter(col("id") < 2)
      .select(col("id").as("cid"), col("vec").as("cvec"))

    val topk = SimilarityOps.ivfTopKProbed(corpus, "id", "vec", cents,
        nprobe = 2, k = 3)
      .orderBy(col("id1"), col("nn_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // hand-computed cosine order: 2 and 3 are each other's nearest,
    // then the nearer anchor, then the rest
    topk.groupBy(_._1).map { case (id, rows) =>
      id -> rows.sortBy(_._2).map(_._3).toSeq
    } shouldBe Map(
      0L -> Seq(2L, 3L, 1L), 1L -> Seq(3L, 2L, 0L),
      2L -> Seq(3L, 0L, 1L), 3L -> Seq(2L, 1L, 0L))

    // PQ tabled top-k at exact reconstruction (ks = n): ranking must
    // equal the driver-computed exact sqL2 ranking over all candidates
    val (m, ks) = (2, 4)
    val cb = SimilarityOps.trainPqCodebooks(corpus, "id", "vec",
      dim = 4, m = m, ks = ks, iters = 2)
    val bc = spark.sparkContext.broadcast(
      SimilarityOps.collectCodebooks(cb, m, ks, 2))
    val codes = SimilarityOps.pqEncode(corpus, "id", "vec", cb, dim = 4, m = m)
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sqL2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val expected = vecs.keys.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(c => (sqL2(vecs(q), vecs(c)), c)).take(3)
    }.toMap
    val pqTopk = SimilarityOps.pqTopKTabled(corpus, "id", "vec", cents,
        codes, bc, nprobe = 2, k = 3)
      .orderBy(col("id1"), col("nn_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pqTopk.groupBy(_._1).map { case (id, rows) =>
      id -> rows.sortBy(_._2).map(_._3).toSeq
    } shouldBe expected
  }

  // ---- SQ8 ----

  test("sq8 encodes on the per-dimension grid, ADC matches driver reconstruction, nprobe lifts the cell ceiling") {
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.72f, 0.69f, 0f, 0f)),
      (3L, Seq(0.69f, 0.72f, 0f, 0f))
    ).toDF("id", "vec")
    val cents = corpus.filter(col("id") < 2)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val p = SimilarityOps.trainSq8(corpus, "vec", dim = 4)
    // dims 0/1 span [0,1]; dims 2/3 are constant → vdiff 0
    p.vmin.toSeq shouldBe Seq(0d, 0d, 0d, 0d)
    p.vdiff.take(2).foreach(_ shouldBe 1d +- 1e-12)
    p.vdiff.drop(2).toSeq shouldBe Seq(0d, 0d)
    val bc = spark.sparkContext.broadcast(p)
    val codes = SimilarityOps.sq8Encode(corpus, "id", "vec", bc)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // hand-checked grid codes, incl. >127 values wrapping to negative
    // bytes (the decoder masks & 0xFF); constant dims encode 0
    def enc(x: Float): Int = Math.round(x * 255.0).toInt
    codes(0L).map(_ & 0xFF).toSeq shouldBe Seq(255, 0, 0, 0)
    codes(2L).map(_ & 0xFF).toSeq shouldBe Seq(enc(0.72f), enc(0.69f), 0, 0)
    assert(codes(2L)(0) < 0) // 184 as a signed byte — the wrap case

    // ADC ≡ driver-computed sqL2 against the reconstruction
    val vecs = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def recon(c: Array[Byte]): Seq[Double] =
      c.toSeq.zipWithIndex.map { case (b, t) =>
        p.vmin(t) + ((b & 0xFF) / 255.0) * p.vdiff(t) }
    def sqd(q: Seq[Float], r: Seq[Double]): Double =
      q.zip(r).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val adcs = SimilarityOps.sq8NearestNeighborProbed(corpus, "id", "vec",
        cents, SimilarityOps.sq8Encode(corpus, "id", "vec", bc), bc, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    adcs.foreach { case (id1, id2, adc) =>
      adc shouldBe sqd(vecs(id1), recon(codes(id2)))
    }
    // nprobe=2 finds the cross-cell near-parallel pair (the PQ/IVF
    // probed contract holds for the SQ8 face too)
    val nn = adcs.map(a => a._1 -> a._2).toMap
    nn(2L) shouldBe 3L
    nn(3L) shouldBe 2L

    // corrupt input fails loudly
    intercept[Exception] {
      SimilarityOps.sq8Encode(
        Seq((9L, Seq(Float.NaN, 0f, 0f, 0f))).toDF("id", "vec"),
        "id", "vec", bc).collect()
    }.toString
    intercept[Exception] {
      SimilarityOps.sq8Encode(
        Seq((9L, Seq(1f, 0f))).toDF("id", "vec"), "id", "vec", bc).collect()
    }.toString
  }

  test("collectCodebooks leaves NaN in dropped-cell slots and survivors verbatim") {
    val cb = Seq((0, 0L, Seq(1f, 2f)), (1, 1L, Seq(3f, 4f)))
      .toDF("sub", "cid", "cvec")
    val out = SimilarityOps.collectCodebooks(cb, m = 2, ks = 2, subDim = 2)
    out.flat.toSeq.take(2) shouldBe Seq(1f, 2f)
    out.flat(2).isNaN shouldBe true // (0,1) dropped
    out.flat.slice(6, 8).toSeq shouldBe Seq(3f, 4f)
    out.flat(4).isNaN shouldBe true // (1,0) dropped
  }

  // two tight clusters; EVERY low id sits in cluster A, so the
  // lowest-id k=2 init is degenerate by construction
  private def twoClusterCorpus = {
    def jitter(i: Int, t: Int) = (((i * 31 + t * 7) % 5) - 2) * 0.01f
    val a = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(t => (if (t == 0) 1f else 0f) + jitter(i, t))))
    val b = (50 until 100).map(i =>
      (i.toLong, Array.tabulate(8)(t => (if (t == 1) 1f else 0f) + jitter(i, t))))
    (a ++ b).toDF("id", "vec")
  }

  test("IvfBestCos matches the driver-computed max cosine") {
    val cents = Seq((0L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("cid", "cvec")
    val bc = spark.sparkContext.broadcast(
      SimilarityOps.collectCentroids(cents, dim = 8))
    val rows = twoClusterCorpus.select(col("id"), col("vec"),
      graft.expr.IvfCell.ivfBestCos(col("vec"), bc).as("best")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val n = math.sqrt(v.map(x => x * x).sum)
      val expected = math.max(v(0) / n, v(1) / n)
      r.getDouble(2) shouldBe expected +- 1e-12
    }
  }

  test("k-means|| seeding recovers both clusters where lowest-id init cannot") {
    val corpus = twoClusterCorpus
    // lloydIters = 0 isolates INIT quality
    val naive = SimilarityOps.trainCentroids(corpus, "id", "vec", k = 2, iters = 0)
      .collect().map(_.getSeq[Float](1))
    val scalable = SimilarityOps.trainCentroidsScalable(corpus, "id", "vec",
      k = 2, rounds = 3, lloydIters = 0)
      .collect().map(_.getSeq[Float](1))
    def axis(v: Seq[Float]): Int = if (v(0) > v(1)) 0 else 1
    naive.map(axis).toSet shouldBe Set(0) // both seeds in cluster A
    scalable.map(axis).toSet shouldBe Set(0, 1) // one per cluster
  }

  test("trainCentroidsScalable is bit-deterministic and feeds Lloyd") {
    val corpus = twoClusterCorpus
    val c1 = SimilarityOps.trainCentroidsScalable(corpus, "id", "vec",
      k = 2, rounds = 2, lloydIters = 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val c2 = SimilarityOps.trainCentroidsScalable(corpus, "id", "vec",
      k = 2, rounds = 2, lloydIters = 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    c1 shouldBe c2
    c1.length shouldBe 2
    // after one Lloyd round each centroid is its cluster's exact mean
    // direction: cosine to the cluster axis is near 1
    c1.map(_._2).foreach { v =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      math.max(v(0) / n, v(1) / n) should be > 0.99
    }
  }

  test("hardNegatives: positives excluded before ranking, cosine-ordered, WindowGroupLimit prunes map-side") {
    def v(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val corpus = Seq(
      (1L, v(0)),   // the query's positive — must never surface
      (2L, v(10)),  // hardest negative
      (3L, v(20)),
      (4L, v(90)))  // easy negative — cut by k
      .toDF("vec_id", "embedding")
    val queries = Seq((100L, v(0))).toDF("qid", "qvec")
    val positives = Seq((100L, 1L)).toDF("qid", "vec_id")
    val out = SimilarityOps.hardNegatives(corpus, "vec_id", "embedding",
      queries, "qid", "qvec", positives, k = 2)
    val rows = out.orderBy(col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.toSeq shouldBe Seq((100L, 2L, 1L), (100L, 3L, 2L))
    // ranks stay contiguous BECAUSE exclusion precedes ranking
    // map-side pruning: the rank filter plans the Partial+Final pair
    val plan = out.queryExecution.executedPlan.toString
    plan should include regex "WindowGroupLimit.*Partial"
    plan should include regex "WindowGroupLimit.*Final"
    // malformed positives refuse
    an[IllegalArgumentException] should be thrownBy
      SimilarityOps.hardNegatives(corpus, "vec_id", "embedding",
        queries, "qid", "qvec",
        Seq((100L, 1L, 0L)).toDF("qid", "vec_id", "extra"), k = 2)
  }

  test("semanticDecontaminate: closed tau boundary, lowest-eval-id ties, zero-norm refusals") {
    val bench = Seq(
      (10L, Array(1f, 0f, 0f, 0f)),
      (20L, Array(0f, 1f, 0f, 0f))).toDF("eid", "bvec")
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), // cos 1 vs eval 10
      (2L, Array(3f, 4f, 0f, 0f)), // cos 4/5 vs eval 20, 3/5 vs 10
      (3L, Array(-1f, 0f, 0f, 0f)), // cos ≤ 0 everywhere
      (4L, Array(1f, 1f, 0f, 0f)) // cos 1/√2 vs BOTH — a tie
    ).toDF("vec_id", "embedding")
    // the boundary is CLOSED: doc 4's best cosine is exactly 1/√2
    // (d = 1.0, vnorm = sqrt(2.0), cnorm = 1.0 — the same three IEEE
    // ops on both sides) and tau = 1/√2 flags it
    val tau = 1.0 / math.sqrt(2.0)
    val out = SimilarityOps.semanticDecontaminate(corpus, "vec_id",
        "embedding", bench, "eid", "bvec", tau = tau, dim = 4)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.map(_._1).toSeq shouldBe Seq(1L, 2L, 4L)
    out(0)._2 shouldBe 10L
    out(1)._2 shouldBe 20L
    out(1)._3 shouldBe 4.0 / 5.0
    // the exact-tie doc (equal cosine to BOTH evals) reports the
    // LOWEST eval id, at exactly the boundary value
    out(2)._2 shouldBe 10L
    out(2)._3 shouldBe tau
    // nudging tau one ulp past the boundary drops the boundary doc
    // (strict separation of ≥ from >)
    SimilarityOps.semanticDecontaminate(corpus, "vec_id", "embedding",
        bench, "eid", "bvec", tau = math.nextUp(tau), dim = 4)
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L)
    // zero-norm benchmark vectors refuse at BUILD time
    an[IllegalArgumentException] should be thrownBy
      SimilarityOps.semanticDecontaminate(corpus, "vec_id", "embedding",
        Seq((30L, Array(0f, 0f, 0f, 0f))).toDF("eid", "bvec"),
        "eid", "bvec", tau = 0.5, dim = 4)
    // a zero-norm corpus vector throws loudly at evaluation (a NaN
    // cosine must never silently rank)
    an[Exception] should be thrownBy
      SimilarityOps.semanticDecontaminate(
        Seq((5L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", bench, "eid", "bvec",
        tau = 0.5, dim = 4).collect()
  }

  // ------------------------------------------------------------------
  // r18: driver-local trainer fast paths must be BIT-identical to the
  // distributed rounds (the connectedComponents/pageRank discipline:
  // a local fast path only exists with a forced-distributed twin).
  // ------------------------------------------------------------------

  /** Deterministic awkward floats: mixed signs, magnitudes spanning
    * 1e-3..1e2, values whose decimal expansion stresses the HALF_UP
    * scale-10 rounding of the mean discipline.
    */
  private def awkward(i: Int, j: Int): Float =
    (((i * 31 + j * 17) % 97 - 48) / 7.0f) +
      (((i * 13 + j) % 11).toFloat / 3.0f) + 0.05f

  test("trainCentroids local fast path is bit-identical to distributed") {
    val corpus = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(8)(j => awkward(i, j)))).toDF("id", "vec")
    for ((k, iters) <- Seq((4, 3), (3, 0), (100, 2))) {
      val local = SimilarityOps.trainCentroids(corpus, "id", "vec", k, iters)
      val dist = forcedDistributed(
        SimilarityOps.trainCentroids(corpus, "id", "vec", k, iters))
      local.schema.map(f => (f.name, f.dataType.catalogString)) shouldBe
        dist.schema.map(f => (f.name, f.dataType.catalogString))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0),
          r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits).toList))
        .sortBy(_._1).toList
      withClue(s"k=$k iters=$iters: ") { rows(local) shouldBe rows(dist) }
    }
  }

  test("trainPqCodebooks local fast path is bit-identical to distributed") {
    val corpus = (1 to 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => awkward(i * 7, j + 3))))
      .toDF("id", "vec")
    for ((m, ks, iters) <- Seq((4, 3, 2), (2, 50, 1), (8, 2, 0))) {
      val local = SimilarityOps.trainPqCodebooks(
        corpus, "id", "vec", dim = 8, m = m, ks = ks, iters = iters)
      val dist = forcedDistributed(
        SimilarityOps.trainPqCodebooks(
          corpus, "id", "vec", dim = 8, m = m, ks = ks, iters = iters))
      local.schema.map(f => (f.name, f.dataType.catalogString)) shouldBe
        dist.schema.map(f => (f.name, f.dataType.catalogString))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getLong(1),
          r.getSeq[Float](2).map(java.lang.Float.floatToRawIntBits).toList))
        .sortBy(t => (t._1, t._2)).toList
      withClue(s"m=$m ks=$ks iters=$iters: ") { rows(local) shouldBe rows(dist) }
    }
  }

  test("trainer local fast path bails to distributed on irregular input") {
    // a null vector: the local path must refuse and the distributed
    // rounds own the semantics (null cosine ranks last, vector still
    // counted nowhere) — both forms must agree because both ARE the
    // distributed path
    val withNull = Seq(
      (1L, Array(1f, 0.5f)), (2L, Array(0.5f, 1f)),
      (3L, null.asInstanceOf[Array[Float]])).toDF("id", "vec")
    val viaApi = SimilarityOps.trainCentroids(withNull, "id", "vec", 2, 1)
    val dist = forcedDistributed(
      SimilarityOps.trainCentroids(withNull, "id", "vec", 2, 1))
    viaApi.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList))
      .sortBy(_._1).toList shouldBe
      dist.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList))
        .sortBy(_._1).toList
    // a zero-norm vector raises loudly THROUGH the public api (the
    // local path bails, the distributed plan raises)
    val zero = Seq((1L, Array(0f, 0f)), (2L, Array(1f, 0f)))
      .toDF("id", "vec")
    an[Exception] should be thrownBy
      SimilarityOps.trainCentroids(zero, "id", "vec", 2, 1).collect()
    // wrong-size vector raises loudly through trainPqCodebooks
    val ragged = Seq((1L, Array(1f, 2f, 3f, 4f)), (2L, Array(1f, 2f)))
      .toDF("id", "vec")
    an[Exception] should be thrownBy
      SimilarityOps.trainPqCodebooks(ragged, "id", "vec",
        dim = 4, m = 2, ks = 1, iters = 1).collect()
  }
}
