package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (beyond-reference, north-star mandated).
  *
  * Scale design: brute-force top-k is the correctness baseline (one
  * map-side pass + a k-row TakeOrdered — no shuffle of the corpus).
  * The sign-LSH bucketed variant is the 100 TB path: bucket key is
  * computed map-side, the self-join shuffles co-partitioned buckets
  * only, and AQE handles bucket skew. All arithmetic is float→double
  * then a sequential left-fold, matching engine-portable IEEE order.
  */
object SimilarityOps {

  /** Sequential-fold dot product of two float-array columns in double
    * — the native expression (bit-identical to the composable
    * aggregate/zip_with fold, one tight codegen loop).
    */
  def dot(a: Column, b: Column): Column = graft.expr.FloatDot.dotF(a, b)

  /** Composable reference form of [[dot]] (kept for equivalence tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k cosine neighbors of one query vector (given as a
    * 1-row DataFrame with column `query_vec`). The query side is
    * broadcast; ordering ties broken by id for determinism.
    */
  def bruteForceTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: DataFrame, k: Int): DataFrame = {
    corpus.crossJoin(broadcast(query))
      .withColumn("cosine", cosine(col(vecCol), col("query_vec")))
      .orderBy(col("cosine").desc, col(idCol))
      .select(col(idCol), col("cosine"))
      .limit(k)
  }

  /** ANN-driven HARD-NEGATIVE mining (the contrastive-retrieval
    * training-data op: for each query, the most similar corpus items
    * that are NOT its positives are the negatives worth training
    * against — random negatives are too easy): per query, rank the
    * corpus by cosine, anti-join away the (query, positive) pairs
    * FIRST (so negative ranks stay contiguous), keep the top `k`.
    * Output: (qid, neg id, rank, cosine), rank unique per query via
    * the (cosine DESC, id) tiebreak.
    *
    * Shape: queries and positives broadcast (both training-batch
    * sized by construction); the corpus streams through ONE cosine
    * projection per query, and the rank-≤-k filter becomes the
    * Partial+Final WindowGroupLimit pair, so only ~k winner
    * candidates per query shuffle — never the n×q score matrix. This
    * is the exact-rank form (the grading baseline and the
    * training-batch mining loop); at corpus scale swap the scoring
    * side for the persisted IVF index's candidate cells
    * ([[graft.io.VectorIndexIO]] lookups) without touching the
    * ranking tail.
    */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      positives: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    require(queries.columns.contains(qidCol) &&
      queries.columns.contains(qvecCol),
      s"queries needs ($qidCol, $qvecCol), has " +
        s"${queries.columns.mkString(",")}")
    require(positives.columns.toSet == Set(qidCol, idCol),
      s"positives must be exactly ($qidCol, $idCol) pairs, got " +
        s"${positives.columns.mkString(",")}")
    val scored = corpus
      .crossJoin(broadcast(queries.select(col(qidCol), col(qvecCol))))
      .join(broadcast(positives), Seq(qidCol, idCol), "left_anti")
      .withColumn("cosine", cosine(col(vecCol), col(qvecCol)))
    scored
      .withColumn("rank", row_number().over(
          Window.partitionBy(col(qidCol))
            .orderBy(col("cosine").desc, col(idCol)))
        .cast("long"))
      .where(col("rank") <= k)
      .select(col(qidCol), col(idCol).as("neg_id"), col("rank"),
        col("cosine"))
  }

  /** IVF-style ANN: coarse-quantize every vector to its most-similar
    * centroid (broadcast cross join — centroid count is small by
    * construction), then search top-1 within the cell. The cell
    * assignment is the shuffle key, exactly like the LSH bucket path;
    * a trained coarse quantizer (k-means) would plug in as the
    * `centroids` frame without touching the dataflow.
    */
  /** Coarse assignment shared by [[ivfNearestNeighbor]] and
    * [[trainCentroids]]: every vector ranked against the broadcast
    * centroids, kept only at rank 1. The ranking window gets a
    * `WindowGroupLimit Partial` ahead of its exchange (PlanAuditSpec
    * asserts this), so only ~n winner candidates shuffle — never the
    * full n×k crossJoin with vector payloads.
    */
  def ivfAssign(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame /* cid, cvec */): DataFrame =
    ivfAssignProbed(corpus, idCol, vecCol, centroids, nprobe = 1)

  /** [[ivfAssign]] generalized to the top `nprobe` cells per vector
    * (FAISS nprobe — the standard IVF recall lever): `__rn` is the
    * probe rank (1 = the cell the vector is INDEXED under; ranks
    * 2..nprobe are the extra cells a QUERY searches). Same
    * `WindowGroupLimit Partial` shape — only ~n·nprobe winner
    * candidates shuffle.
    */
  def ivfAssignProbed(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame /* cid, cvec */, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // A zero-norm vector or corrupt centroid yields a NaN cosine, and
    // Spark sorts NaN as the LARGEST double — a single corrupt
    // centroid would silently win EVERY vector's assignment and
    // collapse the index into one cell (the PlaneSigns loud-failure
    // policy: corrupt embeddings must not quietly blow up a bucket).
    // Fail loudly instead; the native streaming twin (expr/IvfCell)
    // throws on the same condition.
    val simRaw = cosine(col(vecCol), col("cvec"))
    val assigned = corpus
      .crossJoin(broadcast(centroids))
      .withColumn("__sim",
        when(isnan(simRaw), raise_error(concat(
          lit("ivf assign: non-finite cosine (zero-norm vector or " +
            "corrupt centroid) at cid="), col("cid").cast("string"))))
          .otherwise(simRaw))
    val wAssign = Window.partitionBy(col(idCol))
      .orderBy(col("__sim").desc, col("cid"))
    assigned.withColumn("__rn", row_number().over(wAssign))
      .filter(col("__rn") <= nprobe)
  }

  /** (id, vec, nrm, cid) projection of [[ivfAssignProbed]] — the
    * self-join input shared by [[ivfNearestNeighbor]] and
    * [[DedupOps.semanticDedup]]; callers checkpoint it (both sides of
    * the pair join read it). `nprobe` > 1 emits one row per probed
    * cell (the cross-cell pair-generation lever — a pair sharing ANY
    * probed cell meets in the cid join).
    */
  private[ops] def cellFrame(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame, nprobe: Int = 1): DataFrame =
    ivfAssignProbed(corpus, idCol, vecCol, centroids, nprobe)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"), col("cid"))

  /** Same-cell cosine pairs over a [[cellFrame]] — vectors are
    * projected away WITH the cosine, so whatever shuffles next moves
    * (id, id, double) rows, not 64-float payloads. `canonical` emits
    * each unordered pair once (id1 < id2 — the dedup-graph shape);
    * otherwise both directions (the top-1-per-query shape).
    */
  private[ops] def sameCellPairScores(cells: DataFrame,
      canonical: Boolean): DataFrame = {
    val l = cells.select(col("id").as("id1"), col("vec").as("v1"),
      col("nrm").as("n1"), col("cid"))
    val r = cells.select(col("id").as("id2"), col("vec").as("v2"),
      col("nrm").as("n2"), col("cid").as("cid2"))
    val pred = if (canonical) l("id1") < r("id2") else l("id1") =!= r("id2")
    l.join(r, l("cid") === r("cid2") && pred)
      .select(col("id1"), col("id2"),
        (dot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("cosine"))
  }

  def ivfNearestNeighbor(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame /* cid, cvec */): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = cellFrame(corpus, idCol, vecCol, centroids)
      .localCheckpoint(true) // consumed by both self-join sides
    val pairs = sameCellPairScores(cells, canonical = false)
    val wNn = Window.partitionBy(col("id1")).orderBy(col("cosine").desc, col("id2"))
    pairs.withColumn("__rn", row_number().over(wNn))
      .filter(col("__rn") === 1)
      .select(col("id1"), col("id2").as("nearest_id"), col("cosine"))
  }

  /** √n centroid count — the IVF sizing rule that keeps expected cell
    * size ≈ √n, so the in-cell search is O(n^1.5) total instead of n².
    */
  def sqrtCentroidCount(n: Long): Int = math.max(1, math.sqrt(n.toDouble).toInt)

  /** Lloyd's k-means trainer for the IVF coarse quantizer, spherical
    * (cosine) flavor: assignment is max-cosine against the broadcast
    * centroid frame, the update is the elementwise mean of each cell's
    * vectors (posexplode → per-(cid, dim) avg → re-assembled array —
    * two shuffles per iteration, both on small keys). Initialization
    * is deterministic: the k lowest-id vectors. Cells that lose every
    * member drop out (k shrinks), matching standard Lloyd behavior.
    * Returns the (cid, cvec) frame [[ivfNearestNeighbor]] consumes.
    */
  /** Collect a centroid/codebook-sized frame into a LocalRelation:
    * same rows, exactly (floats round-trip bit-identical — the q126
    * centroid discipline is untouched), but the frame's every later
    * use is driver-local — a broadcast build over a LocalRelation is
    * executeCollect on the driver (NO job), where a localCheckpoint
    * costs a materialization job at construct and a block-fetch job
    * per consumer. Bounded by the same contract that lets consumers
    * broadcast these frames (ivfAssign/pqAssign/collectCentroids all
    * ship them whole); anything too big to collect here was already
    * too big to search with.
    */
  private def localized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Driver-local collection for the trainer fast paths: the (id, vec)
    * rows below the [[LocalGate.VecRows]] cap, or None when the frame
    * is over the cap or carries anything the local arithmetic does not
    * replicate
    * bit-for-bit — non-integral ids, duplicate ids (the distributed
    * lowest-id init is then itself nondeterministic), null/missing
    * vectors, null or non-finite elements, or ragged lengths. Bailing
    * hands the caller back to the distributed rounds untouched, so
    * every edge and error behavior stays the distributed path's own
    * (including its loud raise_errors).
    */
  private def collectTrainRows(sel: DataFrame)
      : Option[Array[(Long, Array[Float])]] = {
    import org.apache.spark.sql.types._
    val vecOk = sel.schema("vec").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (!LocalGate.integral(sel.schema("id").dataType) || !vecOk) return None
    val rows = LocalGate.take(sel, LocalGate.VecRows).getOrElse(return None)
    val seen = new java.util.HashSet[Long]()
    val out = new Array[(Long, Array[Float])](rows.length)
    var len = -1
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      val id = LocalGate.asLong(r.get(0))
      if (!seen.add(id)) return None
      val raw = r.getSeq[Any](1)
      if (len < 0) len = raw.length
      if (raw.length != len) return None
      val a = new Array[Float](raw.length)
      var j = 0
      while (j < raw.length) {
        raw(j) match {
          case f: Float if java.lang.Float.isFinite(f) => a(j) = f
          case _ => return None
        }
        j += 1
      }
      out(i) = (id, a)
      i += 1
    }
    Some(out)
  }

  /** Spark's float → DECIMAL(25,10) cast, exactly: the float widens to
    * double exactly, Decimal(double) is the SHORTEST decimal
    * representation (BigDecimal.valueOf), and changePrecision rounds
    * HALF_UP to scale 10. A value past precision 25 would cast to
    * null distributedly (and silently drop from the sum) — the local
    * caller bails instead.
    */
  private def decimal10(v: Float): java.math.BigDecimal = {
    val bd = java.math.BigDecimal.valueOf(v.toDouble)
      .setScale(10, java.math.RoundingMode.HALF_UP)
    if (bd.precision > 25) null else bd
  }

  /** The trainer means' exact arithmetic, shared by both local loops:
    * decimal-exact per-dimension sums divided once in double, cast to
    * float — value-identical to `sum(cast(x as DECIMAL(25,10)))
    * .cast("double") / count(*)` then `.cast("float")` whatever the
    * partial-aggregate merge order (decimal addition commutes).
    * Returns null on a decimal bail (caller falls back distributed).
    */
  private def localMeans(members: java.util.ArrayList[Array[Float]])
      : Array[Float] = {
    val dim = members.get(0).length
    val sums = new Array[java.math.BigDecimal](dim)
    var i = 0
    while (i < members.size()) {
      val v = members.get(i)
      var d = 0
      while (d < dim) {
        val dec = decimal10(v(d))
        if (dec == null) return null
        sums(d) = if (sums(d) == null) dec else sums(d).add(dec)
        d += 1
      }
      i += 1
    }
    val n = members.size().toDouble
    val out = new Array[Float](dim)
    var d = 0
    while (d < dim) {
      if (sums(d).precision > 35) return null // distributed sum overflow
      out(d) = (sums(d).doubleValue() / n).toFloat
      d += 1
    }
    out
  }

  /** Size-adaptive driver-local twin of [[lloydRounds]] (the
    * connectedComponents/pageRank local-fast-path pattern): below
    * the [[LocalGate.VecRows]] cap of collected rows (128k — a
    * broadcast-sized bound; the trained centroids' own consumers
    * already ship the corpus-side frames whole), the Lloyd rounds run
    * on the driver over the already-collected vectors instead of
    * 2-3 Spark jobs per round of pure scheduling. Bit-identical by
    * construction: assignment is the same sequential double fold
    * ([[graft.expr.FloatDot.compute]]'s order) with the same
    * (sim desc, cid asc) tie-break, and means go through
    * [[localMeans]]' exact decimal discipline. Any NaN cosine (the
    * distributed plan's loud raise) bails back to the distributed
    * rounds so the error surfaces identically. Forced-distributed
    * comparison spec: SimilarityOpsSpec.
    */
  private def localLloyd(spark: org.apache.spark.sql.SparkSession,
      rows: Array[(Long, Array[Float])], k: Int, iters: Int)
      : Option[DataFrame] = {
    import org.apache.spark.sql.types._
    if (rows.isEmpty) return None // distributed path defines the empty shape
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val sorted = rows.sortBy(_._1)
    val norms = sorted.map { case (_, v) => math.sqrt(dot(v, v)) }
    // init: the k lowest-id vectors, cid 1..k in id order
    var cids: Array[Long] = (1L to math.min(k, sorted.length).toLong).toArray
    var cvecs: Array[Array[Float]] = sorted.take(k).map(_._2)
    var round = 0
    while (round < iters) {
      val cnorms = cvecs.map(c => math.sqrt(dot(c, c)))
      val members = Array.fill(cids.length)(
        new java.util.ArrayList[Array[Float]]())
      var r = 0
      while (r < sorted.length) {
        val v = sorted(r)._2
        var best = -1; var bestSim = 0.0
        var c = 0
        while (c < cvecs.length) {
          val sim = dot(v, cvecs(c)) / (norms(r) * cnorms(c))
          if (sim.isNaN) return None // distributed path raises loudly
          // Double.compare = Spark's sort order (-0.0 < 0.0); ties
          // keep the earlier (lower) cid, as (sim desc, cid asc) does
          if (best < 0 || java.lang.Double.compare(sim, bestSim) > 0) {
            best = c; bestSim = sim
          }
          c += 1
        }
        members(best).add(v)
        r += 1
      }
      val keep = cids.indices.filter(members(_).size() > 0)
      val nextC = new Array[Long](keep.length)
      val nextV = new Array[Array[Float]](keep.length)
      var o = 0
      while (o < keep.length) {
        val m = localMeans(members(keep(o)))
        if (m == null) return None
        nextC(o) = cids(keep(o)); nextV(o) = m
        o += 1
      }
      cids = nextC; cvecs = nextV
      round += 1
    }
    val out = cids.indices.map(i =>
      org.apache.spark.sql.Row(cids(i), cvecs(i).toSeq))
    val schema = StructType(Seq(
      StructField("cid", LongType, nullable = false),
      StructField("cvec", ArrayType(FloatType), nullable = false)))
    Some(spark.createDataFrame(java.util.Arrays.asList(out: _*), schema))
  }

  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got ($k, $iters)")
    val sel = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    collectTrainRows(sel)
      .flatMap(localLloyd(corpus.sparkSession, _, k, iters))
      .getOrElse {
        val vecs = sel
          .transform(Checkpoints.cut(_, eager = true)) // consumed every round
        val init = localized(vecs.orderBy(col("id")).limit(k)
          .select(
            row_number().over(Window.orderBy(col("id")))
              .cast("bigint").as("cid"),
            col("vec").as("cvec")))
        lloydRounds(vecs, init, iters)
      }
  }

  /** The shared Lloyd loop: max-cosine assignment, decimal-exact
    * means, a lineage cut per round. `vecs` is (id, vec) already cut;
    * `init` is the (cid, cvec) starting frame.
    */
  private def lloydRounds(vecs: DataFrame, init: DataFrame,
      iters: Int): DataFrame = {
    var centroids = init
    (1 to iters).foreach { _ =>
      val best = ivfAssign(vecs, "id", "vec", centroids)
        .select(col("cid"), col("vec"))
      // order-independent mean: exact decimal sum over the cluster,
      // divided once in double — partial-aggregate merge order (1000
      // executors' worth at scale) can never perturb the centroid
      centroids = best
        .select(col("cid"), posexplode(col("vec")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("col").cast(
            org.apache.spark.sql.types.DecimalType(25, 10))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("__ps"))
        .select(col("cid"),
          transform(col("__ps"), p => p.getField("m").cast("float")).as("cvec"))
        .transform(localized) // cut lineage per Lloyd round, job-free reuse
    }
    centroids
  }

  /** k-means|| initialization (Bahmani et al., VLDB 2012 — Spark
    * MLlib's own default initializer) + the shared Lloyd loop, in the
    * engine's spherical (cosine) flavor. The lowest-id init of
    * [[trainCentroids]] is cheap but blind: if the first k ids happen
    * to sit in one region (clustered real-world embeddings), Lloyd
    * starts degenerate. k-means|| fixes the seeding DISTRIBUTEDLY:
    *
    *   - `rounds` oversampling passes, each sampling every point
    *     independently with probability min(1, ℓ·d(x)/φ) where
    *     d(x) = 1 − bestCos(x, candidates) (the spherical cost) and
    *     φ = Σ d(x) — one map-side pass per round against the
    *     BROADCAST candidate set (native `expr/IvfBestCos`, no join,
    *     no window) plus one decimal-exact sum;
    *   - candidates are weighted by the size of their assignment
    *     basin (one `expr/IvfCell` pass + a count), then reduced to k
    *     centers ON THE DRIVER by deterministic greedy weighted
    *     k-means++ (pick max weight, then repeatedly the candidate
    *     maximizing weight · spherical distance² to the chosen set —
    *     candidates are ≤ 1 + rounds·ℓ ≈ O(√n) rows, driver-sized by
    *     contract like codebooks and centroid tables);
    *   - `lloydIters` standard rounds refine.
    *
    * DETERMINISM: "random" sampling decisions are the 60-bit
    * [[SketchOps.kmvHash]] of `id|round` scaled to [0,1) — no RNG, so
    * training is bit-reproducible across runs and cluster layouts
    * (the repo-wide no-RNG discipline), and φ is a decimal-exact sum.
    * Measured recall impact vs lowest-id init: the `ivf_sqrt_kmpar*`
    * curves in SURVEY §8 r13 item 17.
    */
  def trainCentroidsScalable(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int = 3, ell: Int = 0, lloydIters: Int = 5): DataFrame = {
    require(k >= 1 && rounds >= 1 && lloydIters >= 0,
      s"need k >= 1, rounds >= 1, lloydIters >= 0; got ($k, $rounds, $lloydIters)")
    val spark = corpus.sparkSession
    val oversample = if (ell > 0) ell else 2 * k
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .transform(Checkpoints.cut(_, eager = true))
    // seed: the lowest-id vector (deterministic); its length is dim —
    // one job, and an empty corpus fails HERE with the loud message
    val first = vecs.orderBy(col("id")).limit(1).collect()
    require(first.nonEmpty, "trainCentroidsScalable: empty corpus")
    val dim = first(0).getSeq[Float](1).length

    def centroidTable(cand: IndexedSeq[Array[Float]]): graft.expr.IvfCell.Centroids = {
      val flat = new Array[Float](cand.length * dim)
      cand.zipWithIndex.foreach { case (v, i) =>
        System.arraycopy(v, 0, flat, i * dim, dim)
      }
      new graft.expr.IvfCell.Centroids(
        Array.tabulate(cand.length)(_.toLong), dim, flat)
    }
    def vecOf(r: org.apache.spark.sql.Row): Array[Float] =
      r.getSeq[Float](1).toArray

    val seen = scala.collection.mutable.LinkedHashMap[Long, Array[Float]](
      first(0).getLong(0) -> vecOf(first(0)))

    var r = 1
    var continue = true
    while (r <= rounds && continue) {
      val bc = spark.sparkContext.broadcast(centroidTable(seen.values.toIndexedSeq))
      val withCost = vecs.withColumn("__d",
        lit(1.0) - graft.expr.IvfCell.ivfBestCos(col("vec"), bc))
      // decimal-exact φ: merge order can never perturb the sampling
      // thresholds (the trainCentroids mean discipline)
      val phi = withCost.agg(sum(col("__d").cast(
          org.apache.spark.sql.types.DecimalType(30, 20))).cast("double"))
        .head().getDouble(0)
      if (phi <= 0.0) continue = false // every point IS a candidate already
      else {
        val hash01 = SketchOps.kmvHash(
          concat(col("id").cast("string"), lit("|"), lit(r.toString)))
          .cast("double") / lit(SketchOps.HashSpace)
        val sampled = withCost
          .filter(hash01 < least(lit(1.0), lit(oversample.toDouble) * col("__d") / lit(phi)))
          .select(col("id"), col("vec"))
          .orderBy(col("id"))
          .collect()
        sampled.foreach(row =>
          seen.getOrElseUpdate(row.getLong(0), vecOf(row)))
      }
      r += 1
    }

    // weight candidates by assignment-basin size
    val candSeq = seen.values.toIndexedSeq
    val bcAll = spark.sparkContext.broadcast(centroidTable(candSeq))
    val weights = new Array[Long](candSeq.length)
    vecs.select(graft.expr.IvfCell.ivfCell(col("vec"), bcAll).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("n"))
      .collect().foreach(row => weights(row.getLong(0).toInt) = row.getLong(1))

    // deterministic greedy weighted k-means++ on the driver
    def cosDist(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var t = 0
      while (t < dim) {
        val x = a(t).toDouble; val y = b(t).toDouble
        d += x * y; na += x * x; nb += y * y; t += 1
      }
      1.0 - d / (math.sqrt(na) * math.sqrt(nb))
    }
    val m = candSeq.length
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val minD = Array.fill(m)(Double.PositiveInfinity)
    val firstPick = weights.zipWithIndex.maxBy { case (w, i) => (w, -i) }._2
    chosen += firstPick
    while (chosen.size < math.min(k, m)) {
      val last = candSeq(chosen.last)
      var i = 0
      while (i < m) {
        val d = cosDist(candSeq(i), last)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
      var bestI = -1
      var bestScore = -1.0
      i = 0
      while (i < m) {
        if (!chosen.contains(i)) {
          val s = weights(i).toDouble * minD(i) * minD(i)
          if (s > bestScore) { bestScore = s; bestI = i }
        }
        i += 1
      }
      chosen += bestI
    }

    import spark.implicits._
    // cid 1-based, matching trainCentroids' row_number() convention —
    // the two trainers must be drop-in interchangeable for consumers
    // that surface cid in graded output
    val init = chosen.toIndexedSeq.zipWithIndex
      .map { case (ci, ord) => ((ord + 1).toLong, candSeq(ci).toSeq) }
      .toDF("cid", "cvec")
      .select(col("cid"), col("cvec").cast("array<float>").as("cvec"))
      .transform(Checkpoints.cut(_, eager = true))
    lloydRounds(vecs, init, lloydIters)
  }

  /** Embedding-cosine near-duplicate pairs: canonicalized (id1 < id2)
    * pairs within the same sign-LSH bucket whose cosine exceeds the
    * threshold. The dedup-by-embedding path: bucket key map-side,
    * one co-partitioned self-join, threshold filter before anything
    * else touches the pairs.
    */
  /** BINARY-QUANTIZATION search (the 1-bit compression face modern
    * vector stores first-pass rank on — SQ8's smaller sibling, PQ's
    * simpler one): every vector collapses to ONE long of per-dimension
    * sign bits ([[graft.expr.SignBits64]] — 64× smaller than f32), the
    * candidate pass ranks by Hamming distance (`bit_count(a ^ b)` —
    * integral, branch-free, exactly what the oracle replays), and only
    * the top-`rerank` shortlist is rescored by exact cosine for the
    * top-`k` answer.
    *
    * Shape at 100 TB: the Hamming pass streams a 16-byte (id, bits)
    * projection of the corpus past the broadcast query codes — vectors
    * NEVER ride it — and the rank-≤-rerank filter plans the
    * Partial+Final WindowGroupLimit pair, so ~rerank winners per query
    * shuffle. The shortlist (queries × rerank rows) pins once and
    * broadcasts back against the corpus for the refine pass, so the
    * full vectors move for shortlist members only. Self-matches are
    * excluded (a query finds its neighbors, not itself). Ranks are
    * unique via the (hamming, id) / (cosine DESC, id) tie-breaks.
    */
  def bqSearch(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      rerank: Int, k: Int): DataFrame =
    bqRank(
      corpus.select(col(idCol).as("__cid"),
        graft.expr.SignBits64.signBits(col(vecCol)).as("__bits")),
      corpus.select(col(idCol).as("__cid"), col(vecCol).as("__vec")),
      queries, qidCol, qvecCol, rerank, k)

  /** The ONE BQ rank/rerank tail both [[bqSearch]] (sign codes
    * computed in-flight) and the persisted-index face
    * ([[graft.io.VectorIndexIO.searchPqIndexBq]] — codes read off the
    * `bits` column) ride: Hamming pass over broadcast query codes,
    * WindowGroupLimit shortlist at `rerank`, pinned once, exact
    * cosine rerank to `k`. One definition of the
    * (hamming, id) / (cosine DESC, id) tie-breaks, so the q229 and
    * q233 oracles can never drift apart. `candBits` = (__cid,
    * __bits); `candVecs` = (__cid, __vec). Self-matches excluded;
    * returns (qid, corpus_id, hamming, cosine, rank), ranks 1..k.
    */
  private[graft] def bqRank(candBits: DataFrame, candVecs: DataFrame,
      queries: DataFrame, qidCol: String, qvecCol: String,
      rerank: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && rerank >= k,
      s"need 1 <= k <= rerank, got k=$k rerank=$rerank")
    val qb = queries.select(col(qidCol),
      graft.expr.SignBits64.signBits(col(qvecCol)).as("__qbits"))
    val cand = candBits
      .crossJoin(broadcast(qb))
      .where(col("__cid") =!= col(qidCol))
      .withColumn("hamming",
        bit_count(col("__bits").bitwiseXOR(col("__qbits"))).cast("long"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(qidCol))
          .orderBy(col("hamming"), col("__cid"))))
      .where(col("__r") <= rerank)
      .select(col(qidCol), col("__cid"), col("hamming"))
      .localCheckpoint(true) // pin the shortlist; both its broadcast
    // and the output consume it, and the Hamming pass must run once
    candVecs
      .join(broadcast(cand), Seq("__cid"))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))),
        Seq(qidCol))
      .withColumn("cosine", cosine(col("__vec"), col(qvecCol)))
      .withColumn("rank", row_number().over(
          Window.partitionBy(col(qidCol))
            .orderBy(col("cosine").desc, col("__cid")))
        .cast("long"))
      .where(col("rank") <= k)
      .select(col(qidCol), col("__cid").as("corpus_id"), col("hamming"),
        col("cosine"), col("rank"))
  }

  /** SEMANTIC decontamination — the paraphrase-leakage check the
    * n-gram faces ([[graft.ops.CorpusOps.decontaminate]] /
    * `decontaminateMapSide` / `decontaminateBloom`) cannot catch: an
    * eval item rewritten in different words keeps its embedding. Flag
    * every corpus item whose vector sits at cosine ≥ `tau` of ANY
    * benchmark item, reporting the best-matching eval id and the
    * cosine — the contamination report modern pipelines run before
    * training.
    *
    * Shape, the 100 TB-honest one: an EVAL SET IS BROADCAST-SIZED BY
    * NATURE (thousands to low millions of items against a corpus of
    * billions), so the benchmark collects into one flat float table
    * (the `expr/IvfCell` centroid machinery — KBs to low MBs), ships
    * once per executor, and the corpus streams past it in ONE
    * codegen'd map pass: an argmax/max loop per row, no join, no
    * shuffle beyond the scan itself. The flag is computed where the
    * data lives — this is exactly the map-side decontaminate form,
    * with cosine instead of n-gram membership. For an eval side too
    * big to broadcast, compose the hyperplane bucket join
    * ([[cosineNearDupPairsHyperplane]]'s candidate CTEs) against the
    * eval frame — the LSH path trades exactness for scale; this face
    * is the exact contract the oracle grades.
    *
    * Semantics pinned: the ≥ `tau` boundary is CLOSED (a hit exactly
    * at τ flags); cosine ties report the LOWEST eval id (the table's
    * ascending-id scan with strict-> replacement — the
    * `(cosine DESC, id ASC)` window tiebreak); zero-norm vectors
    * refuse loudly on BOTH sides (benchmark at build time, corpus per
    * row) — a NaN cosine must never silently rank.
    */
  def semanticDecontaminate(corpus: DataFrame, idCol: String,
      vecCol: String, bench: DataFrame, benchIdCol: String,
      benchVecCol: String, tau: Double, dim: Int): DataFrame = {
    require(tau >= -1.0 && tau <= 1.0, s"tau must be a cosine, got $tau")
    val table = collectCentroids(
      bench.select(col(benchIdCol).cast("long").as("cid"),
        col(benchVecCol).as("cvec")), dim)
    require(table.norms.forall(_ > 0.0),
      "semanticDecontaminate: zero-norm benchmark vector(s) — a NaN " +
        "cosine never ranks; filter them out of the eval frame")
    val bc = corpus.sparkSession.sparkContext.broadcast(table)
    corpus
      .withColumn("eval_id", graft.expr.IvfCell.ivfCell(col(vecCol), bc))
      .withColumn("cosine", graft.expr.IvfCell.ivfBestCos(col(vecCol), bc))
      .where(col("cosine") >= lit(tau))
      .select(col(idCol), col("eval_id"), col("cosine"))
  }

  def cosineNearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      bits: Int, threshold: Double): DataFrame =
    // materialize the (small) bucketed frame once: both join sides
    // consume it, and the scan+bucket+norm work would otherwise run twice
    nearDupWithinBuckets(
      corpus.select(
        col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"),
        signBucket(col(vecCol), bits).as("bucket"))
        .localCheckpoint(true),
      threshold)

  /** Sign-LSH bucket: concatenated sign bits of the first `bits`
    * dimensions. Axis-aligned — correlated dimensions collapse
    * buckets, and the bucket count is fixed regardless of corpus
    * size, so this form is kept ONLY as the minimal oracle-portable
    * test configuration. The scale path is
    * [[lshNearestNeighborHyperplane]]: seeded random hyperplanes with
    * bits growing as log2(n / targetBucketSize).
    */
  def signBucket(vec: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(vec, i) > 0f, lit("1")).otherwise(lit("0"))): _*)

  /** Deterministic seeded random hyperplanes: `bits` planes of `dim`
    * weights in [-1, 1], quantized to 1/1000 so the literals are
    * engine-portable (both engines parse the same decimal to the same
    * IEEE double). MMIX LCG — stable across runs and JVMs.
    */
  def hyperplanes(seed: Long, bits: Int, dim: Int): Seq[Seq[Double]] = {
    var state = seed
    def next(): Double = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (((state >>> 33) % 2001L) - 1000L) / 1000.0
    }
    Seq.fill(bits)(Seq.fill(dim)(next()))
  }

  /** Concatenated projection signs of `vec` against every plane: bit j
    * is sign(vec · plane_j), as a left-fold sum of double-cast
    * products — the exact expression shape the DuckDB oracle
    * reproduces term for term. Evaluated by the native
    * [[graft.expr.PlaneSigns]] (one static call per row); the
    * composable twin below builds bits × dim expression NODES and its
    * per-row tree walk dominated every consumer's scan
    * (SimilarityOpsSpec proves native ≡ composed).
    */
  def hyperplaneSigns(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.expr.PlaneSigns.signs(vec, planes)

  /** The composable-expression twin of [[hyperplaneSigns]]; kept as
    * the equivalence reference the native expression is spec-checked
    * against.
    */
  def hyperplaneSignsComposed(vec: Column, planes: Seq[Seq[Double]]): Column =
    concat(planes.map { p =>
      val proj = p.zipWithIndex.map { case (w, i) =>
        element_at(vec, i + 1).cast("double") * lit(w)
      }.reduce(_ + _)
      when(proj > 0d, lit("1")).otherwise(lit("0"))
    }: _*)

  /** SQL fragment for the corpus-adaptive bit count:
    * ceil(log2(n / target)) clamped to [1, maxBits]. Bucket count then
    * tracks corpus size, holding expected bucket size near `target` —
    * the property the fixed-bits form lacks (its in-bucket self-join
    * grows O(n²/2^bits)). Valid Spark SQL and DuckDB SQL.
    */
  def adaptiveBitsSql(nCol: String, maxBits: Int, target: Int): String =
    s"GREATEST(1, LEAST($maxBits, " +
      s"CAST(CEIL(LOG2(CAST($nCol AS DOUBLE) / $target.0)) AS INT)))"

  /** Bucket the corpus by adaptive-width hyperplane signs: one count
    * aggregate (broadcast back as a 1-row frame — stays lazy), signs
    * computed map-side, bucket = first `bits(n)` sign characters.
    * Checkpointed because both self-join sides consume it.
    */
  private def hyperplaneBucketed(
      corpus: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], target: Int): DataFrame = {
    val n = corpus.agg(count(lit(1)).as("__n"))
    corpus.crossJoin(broadcast(n))
      .withColumn("__signs", hyperplaneSigns(col(vecCol), planes))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"),
        expr(s"substring(__signs, 1, ${adaptiveBitsSql("__n", planes.size, target)})")
          .as("bucket"))
      .localCheckpoint(true)
  }

  /** Static corpus vector index for streaming embedding lookup: each
    * corpus vector keyed by its `bits`-char hyperplane sign bucket —
    * the right side of the stream-static join in
    * [[graft.streaming.StreamingOps.embeddingNeighborsArrivals]]. The
    * corpus is static, so the caller derives `bits` from its known
    * size once (the adaptive rule, driver-side) rather than in-plan;
    * write the index bucketed on `bucket` at scale and the
    * per-micro-batch join is exchange-free on the corpus side.
    * Zero-norm vectors are excluded — they carry no direction, and a
    * zero `cnrm` makes the streaming consumer's cosine 0.0/0.0 = NaN
    * (ANSI divide only throws for integral/decimal types; double
    * division yields NaN), which the `cosine >= tau` filter then
    * drops SILENTLY — the row would never match anything and never
    * surface; validate at ingest if a zero embedding should fail
    * loudly instead.
    */
  def corpusVecIndex(corpus: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], bits: Int): DataFrame = {
    require(bits >= 1 && bits <= planes.size,
      s"bits must be in [1, ${planes.size}], got $bits")
    corpus.select(
      hyperplaneSigns(col(vecCol), planes).substr(1, bits).as("bucket"),
      col(idCol).as("corpus_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cnrm"))
      .filter(col("cnrm") > 0d)
  }

  /** ANN with seeded random-hyperplane buckets and corpus-adaptive bit
    * width — the 100 TB path: bucket count scales with n, so the
    * in-bucket self-join stays O(n · target) instead of O(n²/2^bits).
    */
  def lshNearestNeighborHyperplane(
      corpus: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], targetBucketSize: Int = 250): DataFrame =
    top1WithinBuckets(hyperplaneBucketed(corpus, idCol, vecCol, planes, targetBucketSize))

  /** Multi-probe ANN: each vector probes its own bucket plus every
    * bucket at Hamming distance 1 (one sign bit flipped), recovering
    * neighbors a single hyperplane happened to split — the recall
    * repair for bucketed LSH without lowering the bit width. The
    * registered side stays one row per vector; only the probing side
    * fans out ×(bits+1), and each (id1, id2) pair can match through at
    * most one probe, so no dedup pass is needed before ranking.
    */
  def lshNearestNeighborMultiProbe(
      corpus: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], targetBucketSize: Int = 250): DataFrame = {
    val withBucket = hyperplaneBucketed(corpus, idCol, vecCol, planes, targetBucketSize)
    val b = col("bucket")
    val flips = transform(sequence(lit(1), length(b)), i =>
      concat(
        b.substr(lit(1), i - 1),
        when(b.substr(i, lit(1)) === "1", "0").otherwise("1"),
        b.substr(i + 1, length(b))))
    val probing = withBucket.select(col("id"), col("vec"), col("nrm"),
      explode(concat(array(b), flips)).as("probe"))
    val l = probing.select(col("id").as("id1"), col("vec").as("v1"),
      col("nrm").as("n1"), col("probe"))
    val r = withBucket.select(col("id").as("id2"), col("vec").as("v2"),
      col("nrm").as("n2"), col("bucket").as("bucket2"))
    val pairs = l.join(r, l("probe") === r("bucket2") && l("id1") =!= r("id2"))
      .select(col("id1"), col("id2"),
        (dot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("cosine"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id1"))
      .orderBy(col("cosine").desc, col("id2"))
    pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id1"), col("id2").as("nearest_id"), col("cosine"))
  }

  /** Embedding near-dup pairs over the same adaptive hyperplane
    * buckets (scale path of [[cosineNearDupPairs]]).
    */
  def cosineNearDupPairsHyperplane(
      corpus: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Seq[Double]], threshold: Double,
      targetBucketSize: Int = 250): DataFrame =
    nearDupWithinBuckets(
      hyperplaneBucketed(corpus, idCol, vecCol, planes, targetBucketSize), threshold)

  /** Shared tail of the ANN variants: in-bucket pairs (vectors
    * projected away before the ranking window), top-1 per id.
    */
  private def top1WithinBuckets(withBucket: DataFrame): DataFrame = {
    val l = withBucket.select(col("id").as("id1"), col("vec").as("v1"),
      col("nrm").as("n1"), col("bucket"))
    val r = withBucket.select(col("id").as("id2"), col("vec").as("v2"),
      col("nrm").as("n2"), col("bucket").as("bucket2"))
    val pairs = l.join(r, l("bucket") === r("bucket2") && l("id1") =!= r("id2"))
      .select(col("id1"), col("id2"),
        (dot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("cosine"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id1"))
      .orderBy(col("cosine").desc, col("id2"))
    pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id1"), col("id2").as("nearest_id"), col("cosine"))
  }

  /** Shared tail of the near-dup variants: canonicalized in-bucket
    * pairs above the cosine threshold.
    */
  private def nearDupWithinBuckets(withBucket: DataFrame, threshold: Double): DataFrame = {
    val l = withBucket.select(col("id").as("id1"), col("vec").as("v1"),
      col("nrm").as("n1"), col("bucket"))
    val r = withBucket.select(col("id").as("id2"), col("vec").as("v2"),
      col("nrm").as("n2"), col("bucket").as("bucket2"))
    l.join(r, l("bucket") === r("bucket2") && l("id1") < r("id2"))
      .withColumn("cosine", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cosine") > threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Bucketed approximate nearest neighbor: for every vector, the top-1
    * cosine neighbor within its sign-LSH bucket. Equi-join on the
    * bucket key (co-partitioned shuffle), window top-1 with id
    * tie-break.
    */
  def lshNearestNeighbor(
      corpus: DataFrame, idCol: String, vecCol: String, bits: Int): DataFrame =
    // Norms are per-vector: compute BEFORE the pair join (O(n) norm
    // evaluations instead of O(pairs)); checkpointed because both
    // self-join sides consume the frame.
    top1WithinBuckets(
      corpus.select(
        col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"),
        signBucket(col(vecCol), bits).as("bucket"))
        .localCheckpoint(true))

  // ------------------------------------------------------------------
  // Product quantization (IVF-PQ) — the standard step between the IVF
  // above and a real 100 TB vector store (Jégou/Douze/Schmid 2011).
  // The corpus is stored as m uint8-range codes per vector instead of
  // dim floats (÷16 memory at 64-dim/m=8), so the in-cell candidate
  // side of the search join moves code rows, not vector payloads;
  // scoring is asymmetric (raw query vs reconstructed candidate) via
  // the native broadcast-codebook expression `expr/PqAdc`. This is
  // the NON-RESIDUAL variant (codes quantize the raw vectors, not the
  // residual from the coarse centroid — FAISS's by_residual=false):
  // one codebook set serves every cell and the oracle stays exactly
  // replayable; residual encoding is the accuracy refinement to add
  // when recall at fixed m saturates.
  // ------------------------------------------------------------------

  /** Squared L2, native in-dimension-order (see `expr/FloatSqDist`). */
  def sqDist(a: Column, b: Column): Column = graft.expr.FloatSqDist.sqDistF(a, b)

  /** The (id, sub, subvec) long form: vector dimension j·subDim..+subDim
    * becomes subspace j's row. One posexplode over an array of slices —
    * the slices are built in ONE projection (shared-array rule).
    * Wrong-dimension vectors FAIL LOUDLY here: a short slice would
    * make [[sqDist]] return null, and null orders FIRST under the
    * assignment window's ascending `__d` — the malformed vector would
    * silently win the argmin and land in cell 0, skewing trained
    * means instead of surfacing the corruption (ADVICE r12).
    */
  private def subspaceRows(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val subDim = dim / m
    val checked = when(size(col(vecCol)) === dim, col(vecCol)).otherwise(
      raise_error(concat(lit(s"subspaceRows: vector of size "),
        size(col(vecCol)).cast("string"), lit(s" != dim $dim at id "),
        col(idCol).cast("string"))))
    corpus.select(col(idCol).as("id"),
      posexplode(array((0 until m).map(j =>
        slice(checked, j * subDim + 1, subDim)): _*)))
      .select(col("id"), col("pos").as("sub"), col("col").as("sv"))
  }

  /** Train the m per-subspace PQ codebooks: Lloyd's k-means at ks
    * centroids PER SUBSPACE, all m subspaces in the SAME distributed
    * pipeline (one assignment join + one mean aggregation per round,
    * keyed by (sub, cid) — never one job per subspace). Assignment is
    * min squared-L2 (ties to the lowest cid); init is deterministic
    * (each subspace's ks lowest-id subvectors, cid 0-based); means
    * are exact decimal sums divided once (the [[trainCentroids]]
    * float discipline — bit-identical whatever the partial-aggregate
    * merge order, and exactly replayable by the DuckDB oracle).
    * Cells that lose every member drop out, as in [[trainCentroids]].
    * Returns (sub, cid, cvec).
    */
  /** Size-adaptive driver-local twin of the PQ Lloyd rounds (the
    * [[localLloyd]] pattern): assignment is the same sequential
    * (a-b)² double fold as [[graft.expr.FloatSqDist.compute]] with
    * the (dist asc, cid asc) tie-break via Double.compare (= Spark's
    * sort order), means share [[localMeans]]' exact decimal
    * discipline, and empty cells drop. A wrong-size vector bails back
    * to the distributed plan, whose raise_error stays the single loud
    * failure path. Forced-distributed comparison: SimilarityOpsSpec.
    */
  private def localPq(spark: org.apache.spark.sql.SparkSession,
      rows: Array[(Long, Array[Float])], dim: Int, m: Int, ks: Int,
      iters: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    if (rows.isEmpty) return None
    if (rows.exists(_._2.length != dim)) return None // distributed raises
    val subDim = dim / m
    val sorted = rows.sortBy(_._1)
    // subvector slices once, reused every round
    val subs: Array[Array[Array[Float]]] = sorted.map { case (_, v) =>
      Array.tabulate(m)(s =>
        java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
    }
    def sqd(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
      }
      acc
    }
    // per-sub parallel (cid asc) codebooks; init = ks lowest-id slices
    var cbC: Array[Array[Long]] =
      Array.fill(m)((0L until math.min(ks, sorted.length).toLong).toArray)
    var cbV: Array[Array[Array[Float]]] =
      Array.tabulate(m)(s => subs.take(ks).map(_(s)))
    var round = 0
    while (round < iters) {
      val members = Array.tabulate(m)(s => Array.fill(cbC(s).length)(
        new java.util.ArrayList[Array[Float]]()))
      var r = 0
      while (r < subs.length) {
        var s = 0
        while (s < m) {
          val sv = subs(r)(s)
          var best = -1; var bestD = 0.0
          var c = 0
          while (c < cbV(s).length) {
            val d = sqd(sv, cbV(s)(c))
            if (best < 0 || java.lang.Double.compare(d, bestD) < 0) {
              best = c; bestD = d
            }
            c += 1
          }
          members(s)(best).add(sv)
          s += 1
        }
        r += 1
      }
      val nextC = new Array[Array[Long]](m)
      val nextV = new Array[Array[Array[Float]]](m)
      var s = 0
      while (s < m) {
        val keep = cbC(s).indices.filter(members(s)(_).size() > 0)
        nextC(s) = new Array[Long](keep.length)
        nextV(s) = new Array[Array[Float]](keep.length)
        var o = 0
        while (o < keep.length) {
          val mean = localMeans(members(s)(keep(o)))
          if (mean == null) return None
          nextC(s)(o) = cbC(s)(keep(o)); nextV(s)(o) = mean
          o += 1
        }
        s += 1
      }
      cbC = nextC; cbV = nextV
      round += 1
    }
    val out = for { s <- 0 until m; i <- cbC(s).indices }
      yield org.apache.spark.sql.Row(s, cbC(s)(i), cbV(s)(i).toSeq)
    val schema = StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("cid", LongType, nullable = false),
      StructField("cvec", ArrayType(FloatType), nullable = false)))
    Some(spark.createDataFrame(java.util.Arrays.asList(out: _*), schema))
  }

  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ks: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ks >= 1 && iters >= 0, s"need ks >= 1, iters >= 0; got ($ks, $iters)")
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    collectTrainRows(corpus.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .flatMap(localPq(corpus.sparkSession, _, dim, m, ks, iters))
      .getOrElse {
        val subRows = subspaceRows(corpus, idCol, vecCol, dim, m)
          .transform(Checkpoints.cut(_, eager = true)) // consumed every round
        var cb = localized(subRows
          .withColumn("__rn", row_number().over(
            Window.partitionBy(col("sub")).orderBy(col("id"))))
          .filter(col("__rn") <= ks)
          .select(col("sub"), (col("__rn") - 1).cast("bigint").as("cid"),
            col("sv").as("cvec")))
        (1 to iters).foreach { _ =>
          val assigned = pqAssign(subRows, cb)
          cb = assigned.join(subRows, Seq("id", "sub"))
            .select(col("sub"), col("cid"), posexplode(col("sv")))
            .groupBy(col("sub"), col("cid"), col("pos"))
            .agg((sum(col("col").cast(
                org.apache.spark.sql.types.DecimalType(25, 10))).cast("double") /
              count(lit(1))).as("m"))
            .groupBy(col("sub"), col("cid"))
            .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
              .as("__ps"))
            .select(col("sub"), col("cid"),
              transform(col("__ps"), p => p.getField("m").cast("float"))
                .as("cvec"))
            .transform(localized) // cut lineage per round, job-free reuse
        }
        cb
      }
  }

  /** Min-sqL2 subspace assignment: (id, sub, cid). The codebook frame
    * is m·ks rows — always broadcast.
    */
  private def pqAssign(subRows: DataFrame, cb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    subRows.join(broadcast(cb), Seq("sub"))
      .withColumn("__d", sqDist(col("sv"), col("cvec")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("id"), col("sub"))
          .orderBy(col("__d"), col("cid"))))
      .filter(col("__rn") === 1)
      .select(col("id"), col("sub"), col("cid"))
  }

  /** Encode the corpus against trained codebooks: (id, codes), codes
    * an m-int array in subspace order — the ÷16 stored form. One
    * broadcast assignment join + one per-id collect; vectors never
    * shuffle (the assignment windows move (id, sub, cid) rows).
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      cb: DataFrame, dim: Int, m: Int): DataFrame =
    pqAssign(subspaceRows(corpus, idCol, vecCol, dim, m), cb)
      .groupBy(col("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("cid")))),
        s => s.getField("cid").cast("int")).as("codes"))
      .select(col("id").as(idCol), col("codes"))

  /** Collect a trained codebook frame into the flat broadcastable
    * form `expr/PqAdc` probes. Dropped (empty) cells leave NaN slots
    * — no surviving code can name them.
    */
  def collectCodebooks(cb: DataFrame, m: Int, ks: Int,
      subDim: Int): graft.expr.PqAdc.Codebooks = {
    val flat = Array.fill(m * ks * subDim)(Float.NaN)
    cb.select(col("sub"), col("cid"), col("cvec")).collect().foreach { r =>
      val base = (r.getInt(0) * ks + r.getLong(1).toInt) * subDim
      val v = r.getSeq[Float](2)
      var t = 0
      while (t < subDim) { flat(base + t) = v(t); t += 1 }
    }
    new graft.expr.PqAdc.Codebooks(m, ks, subDim, flat)
  }

  /** IVF-PQ top-1 neighbor: coarse cells from `coarseCentroids`
    * (max-cosine, [[ivfAssign]]), then in-cell ranking by ASYMMETRIC
    * distance — the query row keeps its raw vector, every candidate
    * is its m codes, and `expr/PqAdc` scores the pair against the
    * broadcast codebooks in one codegen loop. The candidate side of
    * the in-cell join carries (id, codes) — the ÷16 form — which at
    * a real vector-store scale is the difference between the search
    * join shuffling code rows and shuffling the corpus itself.
    * Returns (id1, nearest_id, adc) with adc the squared-L2
    * approximation (ties to the lowest id2).
    */
  def pqNearestNeighbor(corpus: DataFrame, idCol: String, vecCol: String,
      coarseCentroids: DataFrame, codes: DataFrame,
      codebooks: org.apache.spark.broadcast.Broadcast[graft.expr.PqAdc.Codebooks]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = ivfAssign(corpus, idCol, vecCol, coarseCentroids)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cid"))
      .localCheckpoint(true) // consumed by both in-cell join sides
    val l = cells.select(col("id").as("id1"), col("vec").as("v1"), col("cid"))
    val r = cells.select(col("id").as("id2"), col("cid").as("cid2"))
      .join(codes.select(col(idCol).as("id2"), col("codes")), Seq("id2"))
    val pairs = l.join(r, l("cid") === r("cid2") && l("id1") =!= r("id2"))
      .select(col("id1"), col("id2"),
        graft.expr.PqAdc.pqAdc(col("v1"), col("codes"), codebooks).as("adc"))
    val w = Window.partitionBy(col("id1")).orderBy(col("adc"), col("id2"))
    pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id1"), col("id2").as("nearest_id"), col("adc"))
  }

  /** [[pqNearestNeighbor]] with per-query DISTANCE TABLES (the
    * classic ADC refinement, Jégou 2011 §5.2): each query row builds
    * its m·ks table of subspace-centroid distances ONCE
    * (`expr/PqDistTable`), and every in-cell candidate then costs m
    * array LOOKUPS (`expr/PqAdcTable`) instead of dim flops — the
    * win grows with cell size (≈ √n candidates per query vs a
    * ks-sized build).
    *
    * Placement is the point: the query side is `repartition(cid)`ed
    * FIRST and the table projected above that exchange, so (a) the
    * build runs once per query row, post-shuffle, and (b) the
    * exchange moves dim floats, never the (up to ks/subDim× larger)
    * table — at ks=256 a 16 KB table per row would otherwise
    * dominate the join shuffle. Catalyst cannot push a computed
    * projection below a user repartition, so the shape is stable.
    *
    * Scores are algebraically identical to [[pqNearestNeighbor]] but
    * NOT bit-identical: the table groups the squared-distance fold
    * per subspace (partials summed in subspace order) where PqAdc
    * folds all dims continuously — ~1e-15 relative apart, tie-broken
    * identically by id. Graded (q159) by an oracle that replays the
    * per-subspace grouping exactly; SimilarityOpsSpec pins the
    * tabled score bit-equal to the per-subspace reconstruction sum
    * and the neighbor choice equal to [[pqNearestNeighbor]]'s on the
    * planted fixture.
    */
  /** Collect a (cid, cvec) coarse-centroid frame into the broadcast
    * table `expr/IvfCell` probes map-side (sorted by cid — the scan
    * order that reproduces the batch tie-break). Centroid counts are
    * √n by the sizing rule, so the table is KBs to low MBs.
    */
  def collectCentroids(centroids: DataFrame, dim: Int): graft.expr.IvfCell.Centroids = {
    val rows = centroids.select(col("cid").cast("long"), col("cvec"))
      .collect().sortBy(_.getLong(0))
    require(rows.nonEmpty, "empty centroid frame")
    val flat = new Array[Float](rows.length * dim)
    rows.zipWithIndex.foreach { case (r, i) =>
      val v = r.getSeq[Float](1)
      require(v.length == dim, s"centroid ${r.getLong(0)} dim ${v.length} != $dim")
      var t = 0
      while (t < dim) { flat(i * dim + t) = v(t); t += 1 }
    }
    new graft.expr.IvfCell.Centroids(rows.map(_.getLong(0)), dim, flat)
  }

  /** PQ-compressed static index for streaming embedding lookup: each
    * corpus vector reduced to (cid, corpus_id, codes) — its coarse
    * cell plus its m PQ codes. The static side of
    * [[graft.streaming.StreamingOps.embeddingNeighborsPqArrivals]]'s
    * stream-static join holds code rows instead of raw vectors
    * (÷(4·subDim/4) = ÷subDim memory at int codes, ÷16 at
    * dim=64/m=8 counted in floats), the streaming twin of what
    * [[pqNearestNeighbor]]'s candidate side does for batch search.
    * Write it bucketed on `cid` at scale and the per-micro-batch
    * join is exchange-free on the corpus side.
    */
  def corpusPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      coarseCentroids: DataFrame, codes: DataFrame): DataFrame =
    ivfAssign(corpus, idCol, vecCol, coarseCentroids)
      .select(col("cid"), col(idCol).as("corpus_id"))
      .join(codes.select(col(idCol).as("corpus_id"), col("codes")),
        Seq("corpus_id"))
      .select(col("cid"), col("corpus_id"), col("codes"))

  def pqNearestNeighborTabled(corpus: DataFrame, idCol: String, vecCol: String,
      coarseCentroids: DataFrame, codes: DataFrame,
      codebooks: org.apache.spark.broadcast.Broadcast[graft.expr.PqAdc.Codebooks],
      nprobe: Int = 1): DataFrame =
    pqTopKTabled(corpus, idCol, vecCol, coarseCentroids, codes, codebooks,
      nprobe, k = 1)
      .select(col("id1"), col("nearest_id"), col("adc"))

  /** The full vector-store search contract over the deployment combo
    * (FAISS `search(q, k)` with distance tables + nprobe): the
    * `nn_rank` = 1..k ADC-nearest candidates per query, ranked across
    * all nprobe probed cells. A query with fewer than k reachable
    * candidates returns fewer rows; the rank window's group limit
    * keeps only ~k candidates per query ahead of the final exchange.
    */
  def pqTopKTabled(corpus: DataFrame, idCol: String, vecCol: String,
      coarseCentroids: DataFrame, codes: DataFrame,
      codebooks: org.apache.spark.broadcast.Broadcast[graft.expr.PqAdc.Codebooks],
      nprobe: Int = 1, k: Int = 1): DataFrame = {
    // nprobe > 1 composes the two deployment levers (FAISS's shape:
    // distance tables for in-cell cost, nprobe for recall). The
    // query's table is rebuilt once per PROBED cell (it rides the
    // post-assignment row) — nprobe·ks·dim flops, still ≪ the ~√n
    // per-cell candidates it saves.
    require(k >= 1, s"k must be >= 1, got $k")
    val probed = ivfAssignProbed(corpus, idCol, vecCol, coarseCentroids, nprobe)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cid"), col("__rn"))
      .localCheckpoint(true) // consumed by both in-cell join sides
    val candidates = probed.filter(col("__rn") === 1) // the index cell
      .select(col("id").as("id2"), col("cid").as("cid2"))
      .join(codes.select(col(idCol).as("id2"), col("codes")), Seq("id2"))
    pqTabledSearch(
      probed.select(col("id").as("id1"), col("vec").as("v1"), col("cid")),
      candidates, codebooks, k)
  }

  /** The shared tabled-ADC search tail: probed queries
    * `(id1, v1, cid)` against a candidate frame `(cid2, id2, codes)`.
    * The query side repartitions on its cell FIRST and projects the
    * distance table ABOVE that exchange (build once per probed row;
    * the exchange moves dim floats, never the table); every candidate
    * costs m lookups; `nn_rank` ties break `(adc, id2)`. ONE copy of
    * this dataflow serves both the in-memory faces and the persisted
    * index ([[graft.io.VectorIndexIO.searchPqIndex]]) — the oracles
    * pin its exact rounding and tie-breaks, so it must never fork.
    */
  private[graft] def pqTabledSearch(probedQueries: DataFrame,
      candidates: DataFrame,
      codebooks: org.apache.spark.broadcast.Broadcast[graft.expr.PqAdc.Codebooks],
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val l = probedQueries
      .repartition(col("cid"))
      .select(col("id1"),
        graft.expr.PqAdc.pqDistTable(col("v1"), codebooks).as("__dtab"),
        col("cid"))
    val pairs = l.join(candidates,
        l("cid") === candidates("cid2") && l("id1") =!= candidates("id2"))
      .select(col("id1"), col("id2"),
        graft.expr.PqAdc.pqAdcTable(col("__dtab"), col("codes")).as("adc"))
    val w = Window.partitionBy(col("id1")).orderBy(col("adc"), col("id2"))
    pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("id1"), col("__rn").cast("bigint").as("nn_rank"),
        col("id2").as("nearest_id"), col("adc"))
  }

  /** Exact re-rank of an ADC shortlist (FAISS `IndexRefineFlat`): the
    * quantized search proposes, the raw vectors decide. `shortlist` is
    * a `(id1, nn_rank, nearest_id, adc)` frame (any k' ≥ k rows per
    * query); each pair re-scores with the EXACT cosine between the raw
    * vectors (the [[cosine]] FloatDot fold — the similarity the whole
    * ANN family is graded on) and the top `k` per query survive,
    * ranked `(cosine desc, nearest_id)`. Recall of the refined result
    * equals the recall of the shortlist CONTAINING the true neighbor —
    * the quantizer no longer has to rank it first, only to not miss
    * it — which is why a cheap m=8 PQ plus a 10–100-row refine matches
    * the exact-in-probed-cells ceiling at a fraction of brute-force
    * cost. The candidate-vector join is the refine cost: |shortlist|
    * rows against the raw-vector store (cell-partitioned in the
    * persisted index, so a serving lookup's fetch stays
    * partition-pruned). Returns (id1, nn_rank, nearest_id, cosine).
    */
  private[graft] def refineShortlist(shortlist: DataFrame,
      queryVecs: DataFrame /* id1, v1 */,
      candVecs: DataFrame /* id2, v2 */, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val rescored = shortlist.select(col("id1"), col("nearest_id"))
      .join(queryVecs, Seq("id1"))
      .join(candVecs.withColumnRenamed("id2", "nearest_id"),
        Seq("nearest_id"))
      // project vectors away at the score — the rank window's shuffle
      // moves (id, id, double) rows, never the float payloads
      .select(col("id1"), col("nearest_id"),
        cosine(col("v1"), col("v2")).as("cosine"))
    val w = Window.partitionBy(col("id1"))
      .orderBy(col("cosine").desc, col("nearest_id"))
    rescored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("id1"), col("__rn").cast("bigint").as("nn_rank"),
        col("nearest_id"), col("cosine"))
  }

  /** [[pqTopKTabled]] + [[refineShortlist]]: the deployment recall
    * combo (FAISS `IndexRefineFlat` over `IVFPQ`) — tabled ADC
    * proposes a `shortlist`-sized candidate set per query across
    * `nprobe` probed cells, exact cosine on the raw vectors re-ranks
    * it to `k`. One coarse-assignment pass feeds the query side, the
    * candidate side AND the refine's vector lookups.
    */
  def pqTopKRefined(corpus: DataFrame, idCol: String, vecCol: String,
      coarseCentroids: DataFrame, codes: DataFrame,
      codebooks: org.apache.spark.broadcast.Broadcast[graft.expr.PqAdc.Codebooks],
      nprobe: Int, shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k)")
    val probed = ivfAssignProbed(corpus, idCol, vecCol, coarseCentroids,
        nprobe)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cid"),
        col("__rn"))
      .localCheckpoint(true) // consumed by both join sides + refine
    val owned = probed.filter(col("__rn") === 1) // the index cell
    val candidates = owned
      .select(col("id").as("id2"), col("cid").as("cid2"))
      .join(codes.select(col(idCol).as("id2"), col("codes")), Seq("id2"))
    val short = pqTabledSearch(
      probed.select(col("id").as("id1"), col("vec").as("v1"), col("cid")),
      candidates, codebooks, shortlist)
    refineShortlist(short,
      queryVecs = owned.select(col("id").as("id1"), col("vec").as("v1")),
      candVecs = owned.select(col("id").as("id2"), col("vec").as("v2")),
      k)
  }

  // ------------------------------------------------------------------
  // Residual PQ (FAISS by_residual=true, shared codebooks): codes
  // quantize vec − coarseCentroid(cell(vec)) instead of the raw
  // vector. Residuals concentrate near the origin far more tightly
  // than raw vectors spread across the space, so the same m·ks
  // codebook budget buys finer quantization — the refinement the
  // measured recall curves (SURVEY §8 r13) point to once non-residual
  // recall saturates against its coarse-cell ceiling. Search stays
  // same-cell, where query and candidate share a centroid:
  //   ‖(q−μ) − recon(codes)‖² ≈ ‖(q−μ) − (c−μ)‖² = ‖q−c‖²
  // — the residual ADC approximates the TRUE inter-vector distance
  // with no correction term, and the existing PqAdc machinery applies
  // unchanged to residual inputs.
  // ------------------------------------------------------------------

  /** Elementwise float residual a − b, computed in double and rounded
    * once to float. For two floats the double difference is exact, so
    * the rounded result IS the IEEE float subtraction — spelled this
    * way so the DuckDB oracle can replay it without relying on the
    * engine's float-arithmetic promotion rules.
    */
  def residual(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")).cast("float"))

  /** (idCol, cid, rvec): each vector's coarse cell and its residual
    * from that cell's centroid — the frame residual-PQ training,
    * encoding and search all hang off. Centroids broadcast twice
    * (assignment ranking + residual attachment); vectors never
    * shuffle with payloads beyond the assignment window's contract.
    */
  def residualFrame(corpus: DataFrame, idCol: String, vecCol: String,
      coarseCentroids: DataFrame): DataFrame =
    ivfAssign(corpus, idCol, vecCol, coarseCentroids)
      .select(col(idCol), col(vecCol), col("cid"))
      .join(broadcast(coarseCentroids.select(col("cid"), col("cvec"))),
        Seq("cid"))
      .select(col(idCol), col("cid"),
        residual(col(vecCol), col("cvec")).as("rvec"))

  /** IVF-PQ top-1 with RESIDUAL codes. `residuals` is
    * [[residualFrame]]'s output — ONE coarse-assignment pass feeds
    * training, encoding AND this search (callers cut it eagerly when
    * draining all three); `codes`/`codebooks` must come from
    * [[trainPqCodebooks]]/[[pqEncode]] over its `rvec`. Query and
    * candidate share a cell centroid, so the residual ADC
    * approximates the true inter-vector distance with no correction
    * term. Candidate side still moves (id, codes) rows only.
    */
  def pqNearestNeighborResidual(residuals: DataFrame, idCol: String,
      codes: DataFrame,
      codebooks: org.apache.spark.broadcast.Broadcast[graft.expr.PqAdc.Codebooks]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = residuals.select(col(idCol).as("id1"),
      col("rvec").as("rv1"), col("cid"))
    val r = residuals.select(col(idCol).as("id2"), col("cid").as("cid2"))
      .join(codes.select(col(idCol).as("id2"), col("codes")), Seq("id2"))
    val pairs = l.join(r, l("cid") === r("cid2") && l("id1") =!= r("id2"))
      .select(col("id1"), col("id2"),
        graft.expr.PqAdc.pqAdc(col("rv1"), col("codes"), codebooks).as("adc"))
    val w = Window.partitionBy(col("id1")).orderBy(col("adc"), col("id2"))
    pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id1"), col("id2").as("nearest_id"), col("adc"))
  }

  // ------------------------------------------------------------------
  // nprobe (FAISS): the measured recall curves (SURVEY §8 r13) show
  // every cell-partitioned face CAPPED by its coarse-cell ceiling —
  // the true neighbor simply isn't in the query's cell. nprobe is the
  // standard fix: the QUERY side searches its nprobe most-similar
  // cells while candidates stay indexed under their single top-1
  // cell, so the index layout (and the candidate side of the join)
  // is unchanged and cost grows linearly in nprobe. ONE assignment
  // pass serves both sides: probe rank 1 IS the index cell.
  // ------------------------------------------------------------------

  /** IVF top-1 neighbor with nprobe probed cells per query. */
  def ivfNearestNeighborProbed(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame /* cid, cvec */, nprobe: Int): DataFrame =
    ivfTopKProbed(corpus, idCol, vecCol, centroids, nprobe, k = 1)
      .select(col("id1"), col("nearest_id"), col("cosine"))

  /** The full vector-store search contract over exact-in-cell IVF
    * (FAISS `search(q, k)`): the `nn_rank` = 1..k cosine-nearest
    * candidates per query, ranked across all nprobe probed cells. A
    * query with fewer than k reachable candidates returns fewer rows.
    */
  def ivfTopKProbed(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame /* cid, cvec */, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val probed = ivfAssignProbed(corpus, idCol, vecCol, centroids, nprobe)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"), col("cid"), col("__rn"))
      .localCheckpoint(true) // consumed by both join sides
    val l = probed.select(col("id").as("id1"), col("vec").as("v1"),
      col("nrm").as("n1"), col("cid"))
    val r = probed.filter(col("__rn") === 1) // the index cell
      .select(col("id").as("id2"), col("vec").as("v2"),
        col("nrm").as("n2"), col("cid").as("cid2"))
    // each candidate lives in exactly one index cell, so a pair
    // appears at most once across the query's nprobe cells
    val pairs = l.join(r, l("cid") === r("cid2") && l("id1") =!= r("id2"))
      .select(col("id1"), col("id2"),
        (dot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("cosine"))
    val wNn = Window.partitionBy(col("id1")).orderBy(col("cosine").desc, col("id2"))
    pairs.withColumn("__rn", row_number().over(wNn))
      .filter(col("__rn") <= k)
      .select(col("id1"), col("__rn").cast("bigint").as("nn_rank"),
        col("id2").as("nearest_id"), col("cosine"))
  }

  // ------------------------------------------------------------------
  // SQ8 — 8-bit scalar quantization (FAISS ScalarQuantizer QT_8bit),
  // the lighter compression tier next to PQ: ÷4 memory (dim bytes per
  // vector), per-dimension resolution kept, so recall sits at the
  // exact-search ceiling where PQ pays codebook distortion for its
  // ÷16. Training is per-dimension min/max — merge-order-independent
  // by construction, no decimal detour needed.
  // ------------------------------------------------------------------

  /** Train the per-dimension SQ8 grid: one distributed posexplode +
    * min/max agg, collected to the driver (dim-sized by contract).
    */
  def trainSq8(corpus: DataFrame, vecCol: String, dim: Int): graft.expr.Sq8.Params = {
    val rows = corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("vmin"),
        max(col("x").cast("double")).as("vmax"))
      .collect()
    require(rows.length == dim,
      s"trainSq8: expected $dim dimensions, got ${rows.length}")
    val vmin = new Array[Double](dim)
    val vdiff = new Array[Double](dim)
    rows.foreach { r =>
      val p = r.getInt(0)
      vmin(p) = r.getDouble(1)
      vdiff(p) = r.getDouble(2) - r.getDouble(1)
    }
    new graft.expr.Sq8.Params(vmin, vdiff)
  }

  /** Encode the corpus against a trained grid: (id, sq8) — dim BYTES
    * per vector, the ÷4 storage face. One native map pass, nothing
    * shuffles.
    */
  def sq8Encode(corpus: DataFrame, idCol: String, vecCol: String,
      params: org.apache.spark.broadcast.Broadcast[graft.expr.Sq8.Params]): DataFrame =
    corpus.select(col(idCol),
      graft.expr.Sq8.sq8Encode(col(vecCol), params).as("sq8"))

  /** IVF-SQ8 top-1 with nprobe probed cells per query — the same
    * probed join shape as [[pqNearestNeighborProbed]], candidates as
    * (id, sq8) byte rows under their top-1 index cell, scored by the
    * native broadcast-grid asymmetric distance (`expr/Sq8Adc`).
    */
  def sq8NearestNeighborProbed(corpus: DataFrame, idCol: String, vecCol: String,
      coarseCentroids: DataFrame, codes: DataFrame /* idCol, sq8 */,
      params: org.apache.spark.broadcast.Broadcast[graft.expr.Sq8.Params],
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probed = ivfAssignProbed(corpus, idCol, vecCol, coarseCentroids, nprobe)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cid"), col("__rn"))
      .localCheckpoint(true) // consumed by both join sides
    val l = probed.select(col("id").as("id1"), col("vec").as("v1"), col("cid"))
    val r = probed.filter(col("__rn") === 1)
      .select(col("id").as("id2"), col("cid").as("cid2"))
      .join(codes.select(col(idCol).as("id2"), col("sq8")), Seq("id2"))
    val pairs = l.join(r, l("cid") === r("cid2") && l("id1") =!= r("id2"))
      .select(col("id1"), col("id2"),
        graft.expr.Sq8.sq8Adc(col("v1"), col("sq8"), params).as("adc"))
    val w = Window.partitionBy(col("id1")).orderBy(col("adc"), col("id2"))
    pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id1"), col("id2").as("nearest_id"), col("adc"))
  }

  /** IVF-PQ top-1 with nprobe probed cells per query: the query row
    * keeps its raw vector and visits nprobe cells; candidates are
    * their (id, codes) rows under the top-1 index cell, scored by the
    * broadcast-codebook ADC as in [[pqNearestNeighbor]].
    */
  def pqNearestNeighborProbed(corpus: DataFrame, idCol: String, vecCol: String,
      coarseCentroids: DataFrame, codes: DataFrame,
      codebooks: org.apache.spark.broadcast.Broadcast[graft.expr.PqAdc.Codebooks],
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probed = ivfAssignProbed(corpus, idCol, vecCol, coarseCentroids, nprobe)
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("cid"), col("__rn"))
      .localCheckpoint(true) // consumed by both join sides
    val l = probed.select(col("id").as("id1"), col("vec").as("v1"), col("cid"))
    val r = probed.filter(col("__rn") === 1)
      .select(col("id").as("id2"), col("cid").as("cid2"))
      .join(codes.select(col(idCol).as("id2"), col("codes")), Seq("id2"))
    val pairs = l.join(r, l("cid") === r("cid2") && l("id1") =!= r("id2"))
      .select(col("id1"), col("id2"),
        graft.expr.PqAdc.pqAdc(col("v1"), col("codes"), codebooks).as("adc"))
    val w = Window.partitionBy(col("id1")).orderBy(col("adc"), col("id2"))
    pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id1"), col("id2").as("nearest_id"), col("adc"))
  }
}
