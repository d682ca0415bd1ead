package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication at training-data scale (beyond-reference, north-star
  * mandated): exact, MinHash+LSH, SimHash, n-gram Jaccard. Design
  * notes for 100 TB:
  *  - exact dedup shuffles only (hash, min_id) pairs, not documents;
  *  - every shingle/token is md5-hashed ONCE; the `bands` band hashes
  *    are 8-hex-digit slices of that single digest (4 independent
  *    32-bit hash functions from one 128-bit digest — the standard
  *    one-permutation trick), so hashing cost is O(shingles), not
  *    O(shingles × bands);
  *  - MinHash bands shuffle one short signature row per (doc, band);
  *  - candidate pairs come from ONE equi-join on the exploded
  *    (band, hash) key (shuffle co-partitioned on the bucket key),
  *    never a cross join and never one join per band;
  *  - Jaccard verification restricts the shingle self-join to docs
  *    that appear in some candidate pair first — at a realistic dup
  *    rate that is orders of magnitude less data than all-pairs;
  *  - all hashes derive from md5 so results are engine-portable and
  *    seedable without RNG state.
  */
object DedupOps {

  /** Exact dedup: one representative (min id) per content hash. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Shingle digests: md5 per k-shingle, computed once — via the
    * native codegen expression (one pass, thread-reused digest; the
    * equivalent transform(shingles, md5) pipeline runs interpreted).
    * A non-empty `salt` prefixes each shingle, yielding an independent
    * hash family (digest group) from the same tokenization.
    */
  private def shingleHashes(textCol: String, k: Int, salt: String = ""): Column =
    graft.expr.ShingleHashes.shingleHashes(col(textCol), k, salt)

  /** Salt for digest group `j`: group 0 is unsalted (the original
    * digests — band values for bands <= 4 are unchanged), groups >= 1
    * prefix `"<j>|"`.
    */
  private def groupSalt(j: Int): String = if (j == 0) "" else s"$j|"

  /** Per-(doc, band) MinHash value: min over shingles of band `b`'s
    * 8-hex slice of a shingle digest. One md5 digest yields 4
    * independent 32-bit hash functions (8-hex slices); band counts
    * beyond 4 draw from additional salted digest groups, so hashing
    * cost is O(shingles × ceil(bands/4)) — still hash-once per
    * (shingle, group), never per band. 64 bands = 16 digest groups.
    * Shingles and digests are projected once per group and shared by
    * that group's bands (explicit projection — higher-order functions
    * sit outside whole-stage codegen, so common subexpressions are
    * NOT eliminated automatically).
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, keep: Seq[String] = Nil): DataFrame = {
    require(bands >= 1, "bands must be >= 1")
    val groups = (bands + 3) / 4
    val kept = keep.map(col)
    val digestCols = (0 until groups).map(j =>
      shingleHashes(textCol, k, groupSalt(j)).as(s"__hs$j"))
    val hashed = df.select((col(idCol) +: kept) ++ digestCols: _*)
    val bandCols = (0 until bands).map { b =>
      val (j, o) = (b / 4, b % 4)
      array_min(transform(col(s"__hs$j"), h => h.substr(lit(1 + 8 * o), lit(8))))
        .as(s"minhash_$b")
    }
    hashed.select((col(idCol) +: kept) ++ bandCols: _*)
  }

  /** Static corpus band index for streaming ingest dedup: the corpus's
    * (band, hash, corpus_id) long form — the right side of the
    * stream-static join in
    * [[graft.streaming.StreamingOps.ingestDedupCandidates]]. Write it
    * once (bucketed by (band, hash) at scale) and reuse across
    * micro-batches.
    */
  def corpusBandIndex(corpus: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int): DataFrame =
    minhashBands(corpus, idCol, textCol, k, bands)
      .select(col(idCol).as("corpus_id"),
        posexplode(array((0 until bands).map(b => col(s"minhash_$b")): _*)))
      .select(col("corpus_id"), col("pos").as("band"), col("col").as("hash"))
      .filter(col("hash").isNotNull)

  /** Ingest-dedup candidates, batch form: arriving docs' MinHash band
    * keys equi-join the precomputed [[corpusBandIndex]], emitting one
    * (new_id, corpus_id[, kept...]) row per matching band. This is
    * EXACTLY the join inside
    * [[graft.streaming.StreamingOps.ingestDedupCandidates]] — the
    * streaming operator adds only the watermark + within-watermark
    * dedup on top; batch callers `.distinct()` instead. One shuffle on
    * the (band, hash) key; exchange-free on the static side when the
    * index is bucketed on (band, hash).
    */
  def ingestCandidates(newDocs: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String, k: Int, bands: Int,
      keep: Seq[String] = Nil): DataFrame = {
    val sigs = minhashBands(newDocs, idCol, textCol, k, bands, keep)
    val kept = keep.map(col)
    val long = sigs.select((col(idCol).as("new_id") +: kept) :+
        posexplode(array((0 until bands).map(b => col(s"minhash_$b")): _*)): _*)
      .select((col("new_id") +: kept) ++
        Seq(col("pos").as("__band"), col("col").as("__h")): _*)
      .filter(col("__h").isNotNull)
    long.join(corpusIndex,
        long("__band") === corpusIndex("band") &&
          long("__h") === corpusIndex("hash"))
      .select((col("new_id") +: kept) :+ col("corpus_id"): _*)
  }

  /** LSH candidate pairs: docs sharing any band's minhash value.
    * Signatures unpivot to (band, hash) long form and self-join ONCE
    * on that composite key — one shuffle for all bands; `id1 < id2`
    * canonicalizes pairs; distinct dedups across bands.
    */
  def lshCandidatePairs(signatures: DataFrame, idCol: String, bands: Int,
      preMaterialized: Boolean = false): DataFrame = {
    // Materialize the (tiny) signature long-form once: both self-join
    // sides consume it, and without a checkpoint Spark would recompute
    // the full shingle+md5 pipeline for each side. Callers whose
    // `signatures` already derive from a materialized digest frame
    // pass preMaterialized=true: the per-side recompute is then just
    // band substr slices + explode over checkpointed arrays, cheaper
    // than another eager checkpoint job.
    val longLazy = signatures.select(col(idCol).as("__id"),
      posexplode(array((0 until bands).map(b => col(s"minhash_$b")): _*)))
      .select(col("__id"), col("pos").as("__band"), col("col").as("__h"))
      .filter(col("__h").isNotNull)
    val long = if (preMaterialized) longLazy else longLazy.localCheckpoint(true)
    val l = long.select(col("__id").as("id1"), col("__band"), col("__h"))
    val r = long.select(col("__id").as("id2"),
      col("__band").as("__band2"), col("__h").as("__h2"))
    l.join(r, l("__band") === r("__band2") && l("__h") === r("__h2") &&
        l("id1") < r("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** n-gram Jaccard similarity for candidate pairs: explode distinct
    * shingles (as md5 digests — fixed 32-char keys shuffle smaller
    * and compare faster than raw shingles), restrict to candidate
    * docs, self-join on digest, |∩| via group count,
    * |∪| = |A| + |B| − |∩|. Document text never crosses the shuffle.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String, k: Int,
      candidates: DataFrame): DataFrame = {
    val candDocs = candidates.select(col("id1").as("__cid"))
      .union(candidates.select(col("id2"))).distinct()
    // Checkpointed: consumed three times (sizes + both join sides).
    val docShingles = df
      .join(candDocs, df(idCol) === candDocs("__cid"), "left_semi")
      .select(col(idCol).as("__id"),
        explode(array_distinct(shingleHashes(textCol, k))).as("__sh"))
      .localCheckpoint(true)
    val sizes = docShingles.groupBy(col("__id")).agg(count(lit(1)).as("__n"))

    val a = docShingles.select(col("__id").as("id1"), col("__sh"))
    val b = docShingles.select(col("__id").as("id2"), col("__sh").as("__sh2"))
    val inter = a.join(b, a("__sh") === b("__sh2") && a("id1") < b("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_common"))
      .join(candidates, Seq("id1", "id2"), "left_semi")

    inter
      .join(sizes.withColumnRenamed("__id", "id1").withColumnRenamed("__n", "n1"), "id1")
      .join(sizes.withColumnRenamed("__id", "id2").withColumnRenamed("__n", "n2"), "id2")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")).cast("double"))
      .select("id1", "id2", "n_common", "jaccard")
  }

  /** Fused near-dup pipeline: shingle digests are computed ONCE and
    * checkpointed; MinHash bands, LSH candidates and the Jaccard
    * verification all derive from that single frame. Returns verified
    * candidate pairs with their exact n-gram Jaccard. This is the API
    * a dedup job should call — the staged operators above exist for
    * composability and for grading each stage separately.
    *
    * Verification keeps [[ngramJaccard]]'s exploded digest self-join
    * shape (documents never cross the shuffle — only fixed-width
    * digests do). A per-pair `array_intersect` variant was measured
    * and REJECTED: the banded candidate set on a shared-vocabulary
    * corpus is ~8× the doc count, Catalyst pushes the jaccard filter
    * into the pair join and re-evaluates the (uneliminated) intersect
    * 3× per candidate row, and each join side re-derives the
    * candidate-doc digest sets — 2.3 s vs ~1.0 s for the self-join
    * at sf0.1.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int): DataFrame =
    nearDupPairsFromDigests(
      shingleDigestFrame(df, idCol, textCol, k, bands), idCol, bands)

  /** The materialized (eager-checkpointed) shingle-digest frame a
    * near-dup pipeline hangs off: (idCol, keep..., __hs, __hs1..) with
    * one digest-array column per 4-band group. Callers that need other
    * doc attributes downstream (e.g. a representative-pick length)
    * ride them through `keep` — ONE materialization then serves the
    * dedup chain AND those consumers, instead of a second checkpoint
    * of the doc frame. Document text never materializes here.
    */
  def shingleDigestFrame(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, keep: Seq[String] = Nil): DataFrame = {
    require(bands >= 1, "bands must be >= 1")
    val groups = (bands + 3) / 4
    // group-0 digests double as the shingle identities for the
    // verification stage; extra groups exist only for their bands
    val digestCols = (0 until groups).map(j =>
      shingleHashes(textCol, k, groupSalt(j)).as(s"__hs$j"))
    df.select((col(idCol) +: keep.map(col)) ++ digestCols: _*)
      .withColumnRenamed("__hs0", "__hs")
      .localCheckpoint(true)
  }

  /** LSH candidates + Jaccard verification over an already-materialized
    * [[shingleDigestFrame]]. Split from [[nearDupPairs]] so composed
    * pipelines can share the digest checkpoint with their own
    * consumers — every derivation below is substr/explode over the
    * checkpointed arrays, so no further eager cuts are needed except
    * the two frames consumed by multiple joins (cands, docShingles).
    */
  def nearDupPairsFromDigests(hashed: DataFrame, idCol: String,
      bands: Int): DataFrame = {
    require(bands >= 1, "bands must be >= 1")
    val bandCols = (0 until bands).map { b =>
      val (j, o) = (b / 4, b % 4)
      val src = if (j == 0) "__hs" else s"__hs$j"
      array_min(transform(col(src), h => h.substr(lit(1 + 8 * o), lit(8))))
        .as(s"minhash_$b")
    }
    val sigs = hashed.select((col(idCol) +: bandCols): _*)
    // two consumers (candidate-doc restriction + the pair join) — cut
    // once so the band/LSH join runs once
    val cands = lshCandidatePairs(sigs, idCol, bands, preMaterialized = true)
      .localCheckpoint(true)

    // r19 (guide §3.1 — pick the strategy deliberately): the pair-join
    // strategies were estimate-driven, and the estimates were wrong in
    // BOTH directions here — the planner broadcast the two exploded
    // digest incidences (corpus-growing frames: multi-GB builds at
    // 100× stress) while exchanging the digest frame's KB-sized ARRAY
    // payload through both candidate semi-joins. The one exact size
    // available is the materialized cands checkpoint: below the bound
    // (pair count ≤ 4M ⇒ endpoint/hash relations ≤ ~100 MB) the
    // PAIRS-derived frames broadcast — the op's smallest frames — so
    // the arrays never shuffle and the incidences stream map-side;
    // above it everything falls back to the plain exchanges. The
    // intersection join's build side is pinned away from the exploded
    // incidence either way (`merge` hint): a corpus-growing broadcast
    // is the one strategy that cannot survive scale.
    val nPairs = cands.count()
    val candsBounded = nPairs <= 4000000L
    def sized(df: DataFrame): DataFrame =
      if (candsBounded) broadcast(df) else df
    val candDocs = sized(cands.select(col("id1").as("__cid"))
      .union(cands.select(col("id2"))).distinct())
    // NOT checkpointed here (unlike ngramJaccard's twin): the two
    // consumers recompute a semi-join + explode over the checkpointed
    // digest arrays — cheap and lazy — whereas materializing would
    // store the EXPLODED digest frame, the largest frame in the
    // pipeline at scale.
    val docShingles = hashed
      .join(candDocs, col(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as("__id"), explode(array_distinct(col("__hs"))).as("__sh"))
    // r12: |distinct shingles| is a PROJECTION off the checkpointed
    // array — the r11 explode+groupBy recomputed the docShingles
    // semi-join a third time and paid a count shuffle for a number
    // `size()` reads directly. Deliberately UNRESTRICTED: the final
    // size joins shuffle corpus-sized (id, long) rows — 16 B each,
    // the cheapest payload in the op (exact dedup already shuffles
    // corpus-sized (hash, id)) — where restricting first would put
    // the KB-sized digest arrays through the semi-join exchange
    // again; candidate counts would have to be under ~corpus/100 for
    // that to win. (An array-join verification variant was also
    // measured and REVERTED: materializing both full arrays per pair
    // regressed q49 2.4→3.6 s at 42k candidate pairs over 5k docs —
    // matched-row streams beat array payloads at real pair density.)
    val sizes = hashed.select(col(idCol).as("__id"),
      size(array_distinct(col("__hs"))).cast("long").as("__n"))

    // Pair-oriented intersection: explode the verified pairs against
    // id1's shingles, then equi-join id2's (doc, shingle) rows — the
    // intermediate is Σ_pairs |shingles(id1)|, proportional to the
    // CANDIDATE count, where ngramJaccard's shingle self-join is
    // Σ_sh |cand docs sharing sh|² — co-shingle pairs that are not
    // candidates are generated only to be thrown away. Candidates are
    // already banded here, so the pair frame is the smaller driver.
    // r19 REJECTED alternative (measured): a df≥2 pre-filter on the
    // exploded digests (the winnow `keep` discipline — a hapax digest
    // can never intersect) did NOT reduce the pair join at 10× stress
    // (exec 7.5 s with ≈ without, construct +1 s for the df cut):
    // docShingles is already candidate-restricted, and candidate docs
    // are near-dups whose shingle sets largely overlap — the hapax
    // fraction among them is small by construction, unlike the
    // whole-corpus winnow incidence the discipline comes from.
    val a = docShingles.select(col("__id").as("id1"), col("__sh"))
    val b = docShingles.select(col("__id").as("__id2"), col("__sh").as("__sh2"))
      .hint("merge")
    val inter = a.join(sized(cands), Seq("id1"))
      .join(b, col("id2") === col("__id2") && col("__sh") === col("__sh2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("n_common"))

    inter
      .join(sizes.withColumnRenamed("__id", "id1").withColumnRenamed("__n", "n1"), "id1")
      .join(sizes.withColumnRenamed("__id", "id2").withColumnRenamed("__n", "n2"), "id2")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")).cast("double"))
      .select("id1", "id2", "n_common", "jaccard")
  }

  /** 16-bit SimHash from token md5s, engine-portable: bit i of the
    * signature is the majority vote of hex digit i's high bit
    * (digit >= '8') across the document's tokens. Near-dup docs get
    * Hamming-close signatures; equal signatures bucket together.
    *
    * Each token is md5'd ONCE; the 16 bit-votes are elementwise sums
    * over a per-token 0/1 vector (one aggregate pass, not 16).
    */
  /** 64-bit SimHash (native codegen, [[graft.expr.SimHash64]]) plus
    * its four 16-bit band keys: a near-dup within Hamming distance 3
    * of a signature shares at least one band with it, so banding the
    * signature gives Hamming-ball candidate probing as one equi-join
    * per corpus (explode bands, join on (band_idx, band)) — the same
    * bucket-join shape as MinHash LSH, no all-pairs comparison.
    */
  def simhash64(text: Column): Column = graft.expr.SimHash64.simhash64(text)

  /** The 4×16-bit band keys of a 64-bit signature. */
  def simhash64Bands(sig: Column): Seq[Column] =
    (0 until 4).map(b => sig.substr(lit(1 + 16 * b), lit(16)))

  /** IMAGE perceptual near-dup — the multimodal member of the dedup
    * family (exact/MinHash/SimHash/Jaccard cover text; this covers
    * pixels): [[graft.ops.MultimodalOps.dHash64]] per image (map-side
    * decode, one long out), then the SimHash-style Hamming-ball
    * candidate join — the 64-bit hash splits into `maxHamming + 1`
    * contiguous bit bands, so by pigeonhole any pair within the
    * Hamming ball shares at least one band VERBATIM, and banding
    * turns near-dup search into one equi-join on (band, value) —
    * never an all-pairs comparison. Candidates verify by exact
    * Hamming (`bit_count(xor)`); distinct dedups pairs that share
    * several bands. The hashed frame (id + one long) is
    * checkpoint-cut so the expensive decode runs ONCE and both join
    * sides reuse it. Output: (id1, id2, hamming), id1 < id2.
    *
    * At 100 TB: payload bytes never shuffle (the hash is born where
    * the image lives); what shuffles is 8 bytes per (image, band).
    * False-band collisions cost one bit_count each and are discarded
    * exactly.
    */
  def imageNearDupPairs(images: DataFrame, idCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val bands = maxHamming + 1
    val hashed = graft.ops.MultimodalOps.dHash64(images)
      .where(col("dhash").isNotNull)
      .select(col(idCol).as("__id"), col("dhash"))
      .localCheckpoint(true)
    val bandCols = (0 until bands).map { b =>
      val low = 64 * b / bands
      val width = 64 * (b + 1) / bands - low
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(b).as("band"),
        shiftrightunsigned(col("dhash"), low).bitwiseAND(lit(mask))
          .as("bv"))
    }
    val long = hashed
      .select(col("__id"), col("dhash"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("__id"), col("dhash"),
        col("bk.band").as("__band"), col("bk.bv").as("__bv"))
    val l = long.select(col("__id").as("id1"), col("dhash").as("__h1"),
      col("__band"), col("__bv"))
    val r = long.select(col("__id").as("id2"), col("dhash").as("__h2"),
      col("__band").as("__bandr"), col("__bv").as("__bvr"))
    l.join(r, col("__band") === col("__bandr") &&
        col("__bv") === col("__bvr") && col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("__h1").bitwiseXOR(col("__h2"))).cast("long")
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Near-dup CLUSTER formation: the step after candidate pairs in a
    * dedup pipeline (pairs → components → keep one doc per
    * component). Min-label propagation WITH pointer-doubling
    * shortcuts: each round a node takes the min over its own label,
    * its neighbors' labels, and its LABEL'S label (`lbl(lbl(v))` —
    * the shortcut that turns O(diameter) convergence into
    * O(log diameter), the same doubling as
    * [[graft.ops.GraphOps.resolveChain]]). Each round is two
    * equi-joins + one min-agg shuffled on id, eagerly checkpointed:
    * lineage stays O(1) and the convergence probe is one cheap job
    * over materialized labels. `maxIter` is a safety cap far above
    * log2 of any real component.
    *
    * Returns (id, cluster_id) with cluster_id = min node id of the
    * component. Nodes absent from `pairs` are their own cluster if
    * supplied via `nodes`.
    */
  /** Driver-side min-label union-find over a SMALL symmetric edge
    * frame — the local fast path of [[connectedComponents]]. Returns
    * None (caller runs the distributed rounds) when the graph exceeds
    * the [[LocalGate.Rows]] cap, when the id type has no local
    * ordering here (only integral/string ids are handled — every graft
    * caller uses those), or when a null id appears (the distributed
    * join path has its own null algebra; don't fork it locally).
    */
  private def localComponents(sym: DataFrame,
      nodes: Option[DataFrame]): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val idType = sym.schema("__src").dataType
    if (!LocalGate.keyed(idType)) return None
    val edges = LocalGate.take(sym, LocalGate.Rows).getOrElse(return None)
    val seedRows = nodes match {
      case Some(n) =>
        val nd = n.select(col(n.columns.head))
        if (nd.schema.head.dataType != idType) return None
        LocalGate.take(nd, LocalGate.Rows).getOrElse(return None)
      case None => Array.empty[org.apache.spark.sql.Row]
    }
    if (edges.exists(r => r.isNullAt(0) || r.isNullAt(1)) ||
        seedRows.exists(_.isNullAt(0))) return None
    val ord: Ordering[Any] =
      if (idType == StringType) Ordering.by((v: Any) => v.asInstanceOf[String])
      else Ordering.by(LocalGate.asLong)
    // union-find, path-halving, min-label kept at the root
    val parent = new java.util.HashMap[Any, Any]()
    val minLbl = new java.util.HashMap[Any, Any]()
    def add(v: Any): Unit =
      if (!parent.containsKey(v)) { parent.put(v, v); minLbl.put(v, v) }
    def find(v0: Any): Any = {
      var v = v0
      var p = parent.get(v)
      while (p != v) {
        val gp = parent.get(p)
        parent.put(v, gp); v = gp; p = parent.get(v)
      }
      v
    }
    def union(a: Any, b: Any): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val (root, child) = (ra, rb)
        parent.put(child, root)
        val m = ord.min(minLbl.get(root), minLbl.get(child))
        minLbl.put(root, m)
      }
    }
    edges.foreach { r => add(r.get(0)); add(r.get(1)); union(r.get(0), r.get(1)) }
    seedRows.foreach(r => add(r.get(0)))
    val out = new Array[org.apache.spark.sql.Row](parent.size())
    var i = 0
    val it = parent.keySet().iterator()
    while (it.hasNext) {
      val v = it.next()
      out(i) = org.apache.spark.sql.Row(v, minLbl.get(find(v)))
      i += 1
    }
    val schema = StructType(Seq(
      StructField("id", idType), StructField("cluster_id", idType)))
    Some(sym.sparkSession.createDataFrame(
      java.util.Arrays.asList(out: _*), schema))
  }

  def connectedComponents(pairs: DataFrame, id1: String = "id1",
      id2: String = "id2", nodes: Option[DataFrame] = None,
      maxIter: Int = 20, pairsDistinct: Boolean = false): DataFrame = {
    // both edge directions from ONE pass over the pairs plan: a
    // union of two projections would execute the (possibly expensive,
    // un-checkpointed) upstream pair derivation once per branch.
    // `pairsDistinct = true` (caller guarantees canonicalized unique
    // pairs, e.g. a groupBy(id1, id2) output) skips the defensive
    // dedup shuffle — duplicate edges would only inflate the
    // per-round join, never change the min-label result.
    val symRaw = pairs
      .select(explode(array(
        struct(col(id1).as("__src"), col(id2).as("__dst")),
        struct(col(id2).as("__src"), col(id1).as("__dst")))).as("__e"))
      .select(col("__e.__src").as("__src"), col("__e.__dst").as("__dst"))
    val sym = (if (pairsDistinct) symRaw else symRaw.distinct())
      .transform(Checkpoints.cut(_, eager = true))
    // Size-adaptive strategy (the AQE broadcast-swap idea applied to an
    // iterative op): below the driver-safe cap, solve the components in
    // ONE driver-side union-find over the already-materialized edges
    // instead of log(diameter) rounds of join+agg+checkpoint — each
    // round is 3+ jobs whose fixed scheduling cost dwarfs the work on a
    // small graph (measured: q122's 3-round CC over ~5k edges spent
    // ~3 s in round machinery; the local solve is <10 ms). The output
    // (min-label per component) is IDENTICAL by construction, and a
    // graph over the cap takes the distributed path untouched — the cap
    // bounds exactly what a broadcast join would ask of the driver.
    localComponents(sym, nodes) match {
      case Some(local) => sym.unpersist(); return local
      case None => ()
    }
    val endpoints = sym.select(col("__src").as("id"))
    val seed = nodes
      .map(n => endpoints.union(n.select(n.columns.head).toDF("id")))
      .getOrElse(endpoints)
      .distinct()
    // Round 1 reads the seed labels lazily (twice — own-label union +
    // neighbor join): both recomputes are a projection+distinct over
    // the already-checkpointed `sym`, cheaper than a dedicated eager
    // checkpoint job for a frame that round 1 immediately supersedes.
    var checkpointed: DataFrame = null
    var labels = seed.withColumn("lbl", col("id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Both propagation terms are "look up lbl(key), credit target":
      //   neighbor-min — key = edge src, target = edge dst;
      //   pointer-doubling hop (lbl(lbl(v))) — key = v's label,
      //     target = v (skipped in round 1: labels are the identity
      //     map, the hop would only re-derive (id, id)).
      // Unioning the request frames first runs ONE equi-join per round
      // instead of two — half the join stages at identical shuffle
      // volume.
      val requests =
        if (iter == 0) sym.select(col("__src").as("__key"), col("__dst").as("__tgt"))
        else sym.select(col("__src").as("__key"), col("__dst").as("__tgt"))
          .union(labels.select(col("lbl").as("__key"), col("id").as("__tgt")))
      val looked = requests
        .join(labels, requests("__key") === labels("id"))
        .select(col("__tgt").as("id"), col("lbl"), lit(false).as("__own"))
      // the node's own previous label rides along tagged __own, so the
      // same min-aggregate yields both the new label and the old one —
      // the convergence probe is then a scan of the checkpointed frame
      // instead of a join job per round. (A direct fixed-point probe —
      // edge-consistency + root-labels checked by joins — was measured
      // and REJECTED: it detects convergence one round earlier, but
      // its per-round sym-sized probe joins cost more than the cheap
      // confirmation round they avoid on multi-round graphs: q86 went
      // 1.9 s -> 3.2 s.)
      val next = labels.select(col("id"), col("lbl"), lit(true).as("__own"))
        .union(looked)
        .groupBy("id").agg(min("lbl").as("lbl"),
          min(when(col("__own"), col("lbl"))).as("__old"))
        .transform(Checkpoints.cut(_, eager = true))
      converged = next.filter(col("lbl") =!= col("__old")).limit(1).isEmpty
      // superseded checkpoint — storage stays O(1)
      if (checkpointed != null) checkpointed.unpersist()
      checkpointed = next
      labels = next.select(col("id"), col("lbl"))
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(s"[cc] round $iter converged=$converged")
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter " +
          "rounds; labels would be incomplete — raise maxIter " +
          "(log2(diameter) rounds suffice)")
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication by embedding: coarse-cluster the corpus into IVF
    * cells, call any SAME-CELL pair with cosine > `tau` a semantic
    * duplicate, connect duplicates transitively, keep the lowest-id
    * representative per component. Returns one row per corpus id:
    * (id, rep_id, keep) with keep = (id == rep_id) — the survivor
    * filter a training-data pipeline applies before packing.
    *
    * Scale shape: the cell assignment is [[SimilarityOps.ivfAssign]]
    * (broadcast centroids, WindowGroupLimit before the exchange), the
    * pair join is cell-local (√n-rule cells keep it O(n^1.5) total,
    * never all-pairs), vectors are projected away before anything
    * shuffles twice, and the transitive closure is the pointer-doubling
    * [[connectedComponents]] — the same pieces as the graded ANN/CC
    * faces, composed in the paper's order. The paper's recall bound —
    * a duplicate pair split across two cells is not examined — has a
    * lever the paper lacks: `nprobe` > 1 assigns every vector to its
    * top-n cells for PAIR GENERATION (the multi-probe machinery the
    * ANN faces already own), so boundary pairs meet whenever ANY
    * probed cell is shared. Cost scales as nprobe² on the pair join
    * (each side carries nprobe rows per vector); pairs found in two
    * shared cells dedupe BEFORE the closure, so the component step
    * never sees multiplicity. nprobe=1 is exactly the paper.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame /* cid, cvec */, tau: Double,
      nprobe: Int = 1): DataFrame = {
    val cells = SimilarityOps.cellFrame(emb, idCol, vecCol, centroids,
        nprobe)
      .transform(Checkpoints.cut(_, eager = true)) // both join sides + seed
    // canonical orientation (id1 < id2) halves the pair frame; vectors
    // are projected away with the cosine (sameCellPairScores), so only
    // (id, id) edges flow into the closure
    val scored = SimilarityOps.sameCellPairScores(cells, canonical = true)
      .filter(col("cosine") > tau)
      .select(col("id1"), col("id2"))
    // multi-probe can surface one pair from two shared cells: dedupe
    // the NARROW (id, id) frame, never the vector-bearing one
    val pairs = if (nprobe > 1) scored.distinct() else scored
    val nodes = if (nprobe > 1) cells.select(col("id")).distinct()
      else cells.select(col("id"))
    val cc = connectedComponents(pairs, nodes = Some(nodes),
      pairsDistinct = true)
    val out = cc.select(col("id").as(idCol), col("cluster_id").as("rep_id"),
      (col("id") === col("cluster_id")).as("keep"))
    cells.unpersist()
    out
  }

  /** Exact duplicate-span detection (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * operator at token-window granularity): every `w`-token window of
    * every document is fingerprinted ([[graft.expr.ShingleHashes]] —
    * one codegen pass, md5 so oracles replay it), windows whose
    * fingerprint occurs ≥ `minCount` times in the CORPUS are duplicate
    * spans, and each document reports how much of it is covered by
    * them: (doc_id, total_tokens, dup_windows, covered_tokens,
    * coverage_ppm) — coverage in parts-per-million by integer
    * arithmetic so the grade is exact cross-engine. Documents shorter
    * than `w` tokens report zeros.
    *
    * Scale shape: fingerprints are computed map-side and shuffle as
    * pure LONGS — never the text, and never the 32-char md5 hex
    * either: the dominant exchange of the whole operator is
    * corpus-token-scale (one row per window), so the key is the md5's
    * leading 60 bits packed into an int64 (`conv(substr(hex,1,15))` —
    * the same arithmetic the oracle replays in SQL), cutting the
    * exchange key from 32+ bytes to 8. The fingerprint truncation is
    * the Lee et al. tradeoff made explicit: two DISTINCT windows
    * collide with probability ~n²/2⁶¹ corpus-wide (≈0.5 expected
    * collisions at a billion windows — each adds one spurious
    * duplicate span), while grading stays exact because the oracle
    * computes the identical truncated fingerprint. The corpus-wide
    * occurrence count is one groupBy(fingerprint) with map-side
    * partial aggregation; per-doc coverage is an interval union done
    * with one doc-partitioned window (gaps-and-islands: a window is
    * absorbed unless it starts past the running max end), so the
    * second shuffle is doc-partitioned duplicate windows only — a
    * corpus-fraction, not the corpus.
    */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      w: Int, minCount: Long = 2L): DataFrame = {
    require(w >= 1, s"window must be >= 1 token, got $w")
    require(minCount >= 2, s"minCount < 2 calls every span a duplicate, got $minCount")
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(col(idCol), col(textCol))
    val wins = docs
      .select(col(idCol),
        posexplode(graft.expr.ShingleHashes.shingleHashes(col(textCol), w)))
      .select(col(idCol), col("pos"),
        // 60-bit fingerprint, computed map-side BEFORE the exchange
        conv(substring(col("col"), 1, 15), 16, 10).cast("bigint").as("h"))
    // corpus-wide occurrence count per fingerprint; ≥ minCount ⇒ every
    // occurrence of that window is a duplicate span (incl. repeats
    // inside one document — the paper's any-two-occurrences contract)
    val dupHashes = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount)
      .select(col("h"))
    val dupWins = wins.join(dupHashes, Seq("h"))
      .select(col(idCol), col("pos"),
        (col("pos") + lit(w) - 1).as("__end"))
    // interval union per doc: token positions covered by ≥1 duplicate
    // window, summed island by island (gaps-and-islands over pos order)
    val byPos = Window.partitionBy(col(idCol))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val islands = dupWins
      .withColumn("__prevMax", max(col("__end")).over(byPos))
      .withColumn("__newIsland",
        when(col("__prevMax").isNull || col("pos") > col("__prevMax") + 1, 1L)
          .otherwise(0L))
      .withColumn("__island", sum(col("__newIsland")).over(
        Window.partitionBy(col(idCol)).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val perDoc = islands
      .groupBy(col(idCol), col("__island"))
      .agg(count(lit(1)).as("__nw"),
        (max(col("__end")) - min(col("pos")) + 1).as("__len"))
      .groupBy(col(idCol))
      .agg(sum(col("__nw")).as("dup_windows"),
        sum(col("__len")).as("covered_tokens"))
    // TextOps.tokenCount IS ShingleHashes' space tokenization — the
    // denominator must stay coupled to the window definition
    docs
      .select(col(idCol),
        TextOps.tokenCount(col(textCol)).as("total_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("total_tokens"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        // integer floor-div (Spark DIV ≡ DuckDB //): `/` on longs is
        // double division in both engines — a rounding hazard, not a
        // grade
        expr("coalesce(covered_tokens, 0L) * 1000000L div total_tokens")
          .as("coverage_ppm"))
  }

  /** Winnowing-based near-dup candidates (the MOSS matching step over
    * [[graft.ops.TextOps.winnowFingerprints]]): documents sharing at
    * least `minShared` DISTINCT selected fingerprints become a
    * candidate pair, with the shared count as the evidence strength —
    * by the winnowing guarantee, every shared ≥ w+k−1-token run
    * contributes at least one shared fingerprint, so candidates
    * surface from LOCAL overlap (a copied paragraph) that whole-doc
    * MinHash dilutes away.
    *
    * Scale shape: the LSH-band discipline — one equi-join on the
    * fingerprint (bucket join, never all-pairs), fingerprints first
    * deduped per doc and then DF-FILTERED: a fingerprint selected by
    * more than `maxDf` documents is boilerplate (license headers,
    * templates) and would create an O(df²) hot bucket, so it is
    * dropped from pair generation exactly like stop-shingles
    * (candidates lose only pairs whose EVERY shared fingerprint is
    * boilerplate — the verify-stage cosine/Jaccard re-check is the
    * caller's next step, as in the banded pipeline).
    */
  /** The shared winnow-matching core: the cut fingerprint frame
    * (positioned only when a consumer needs positions — candidates-
    * only callers cache the smaller distinct (id, h) incidence, the
    * pre-r15 cost), the DF-filtered incidence `fk`, and the kept-hash
    * set `keep` — each derived ONCE for every consumer.
    */
  private def winnowIndexed(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxDf: Long, positions: Boolean)
      : (Option[DataFrame], DataFrame, DataFrame) = {
    require(maxDf >= 2, s"maxDf < 2 drops every shareable fingerprint, got $maxDf")
    val raw = TextOps.winnowFingerprints(df, idCol, textCol, k, w)
    val (fpp, fp) =
      if (positions) {
        val p = Checkpoints.cut(
          raw.select(col(idCol).as("__id"), col("pos"),
            col("fingerprint").as("__h")),
          eager = true)
        (Some(p), p.select(col("__id"), col("__h")).distinct())
      } else
        (None, Checkpoints.cut(
          raw.select(col(idCol).as("__id"), col("fingerprint").as("__h"))
            .distinct(),
          eager = true))
    val keep = fp.groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("__h"))
    (fpp, fp.join(keep, Seq("__h")), keep)
  }

  /** Candidate pairs over a DF-filtered incidence: docs sharing
    * ≥ `minShared` kept fingerprints — the ONE candidate rule
    * [[winnowCandidates]] and [[winnowMatchSpans]] both apply (a
    * threshold tweak can never desynchronize them).
    */
  private def candidatesFrom(fk: DataFrame, minShared: Long): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val l = fk.select(col("__id").as("id1"), col("__h"))
    val r = fk.select(col("__id").as("id2"), col("__h"))
    // NOTE: no unpersist of the cut frame — the returned plan still
    // references it and executes later; an eager unpersist would race
    // the localCheckpoint blocks (Bench's inter-window drain reclaims
    // them; semanticDedup can unpersist only because its closure
    // already materialized)
    l.join(r, Seq("__h"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def winnowCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long = 2L, maxDf: Long = 64L): DataFrame = {
    val (_, fk, _) = winnowIndexed(df, idCol, textCol, k, w, maxDf,
      positions = false)
    candidatesFrom(fk, minShared)
  }

  /** The MOSS EVIDENCE output the candidate pairs summarize: for each
    * candidate pair, every shared (DF-filtered) fingerprint with its
    * selected position in BOTH documents — (id1, id2, fingerprint,
    * pos1, pos2) — which is what lets a reviewer (or a span-level
    * dedup policy) see WHERE two documents overlap, not just that
    * they do. Same bucket-join shape as the candidates (one equi-join
    * per side on the fingerprint, boilerplate dropped first); rows ∝
    * matched evidence, never all-pairs.
    */
  def winnowMatchSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long = 2L, maxDf: Long = 64L): DataFrame = {
    val (fppOpt, fk, keep) = winnowIndexed(df, idCol, textCol, k, w, maxDf,
      positions = true)
    val fpp = fppOpt.get
    val cand = candidatesFrom(fk, minShared).select(col("id1"), col("id2"))
    val lp = fpp.join(keep, Seq("__h"))
      .select(col("__id").as("id1"), col("__h"), col("pos").as("pos1"))
    val rp = fpp.join(keep, Seq("__h"))
      .select(col("__id").as("id2"), col("__h"), col("pos").as("pos2"))
    cand
      .join(lp, Seq("id1"))
      .join(rp, Seq("id2", "__h"))
      .select(col("id1"), col("id2"), col("__h").as("fingerprint"),
        col("pos1"), col("pos2"))
  }

  /** Merged contiguous overlap intervals per candidate pair — the
    * MOSS REPORT form a span-level dedup policy consumes, folding
    * [[winnowMatchSpans]]' per-fingerprint evidence with a
    * gaps-and-islands pass on EACH side: a matched fingerprint at
    * shingle position p covers tokens [p, p+k), and positions within
    * the winnow GUARANTEE length t = w+k−1 of each other merge into
    * one island (pos − prev ≤ t; a lag suffices because intervals are
    * fixed-length). Why t and not k: inside a fully shared run the
    * scheme selects one fingerprint per w-window, so consecutive
    * shared selections legitimately sit up to w apart — a k-gap rule
    * would shatter every long match — while two genuinely separate
    * runs closer than t are indistinguishable from one run by
    * construction (no window between them can prove a difference), so
    * merging them is the honest reading of the evidence. Output per
    * pair: per-side island count, covered tokens (island extents —
    * sub-guarantee gaps inside an island count as covered, the MOSS
    * report convention), and the covered fraction of each document —
    * the "34% of doc A matches doc B in 3 spans" line a reviewer
    * reads.
    *
    * Scale shape: evidence is cut ONCE and feeds both sides; windows
    * partition on (id1, id2) — evidence-sized, never corpus-sized —
    * and the per-doc token counts join on the id. Fractions are ONE
    * double division of exact longs (cross-engine bit-stable).
    */
  def winnowOverlapSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long = 2L, maxDf: Long = 64L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Checkpoints.cut(
      winnowMatchSpans(df, idCol, textCol, k, w, minShared, maxDf),
      eager = true)
    def side(posCol: String, tag: String): DataFrame = {
      val byPair = Window.partitionBy(col("id1"), col("id2"))
        .orderBy(col("__pos"))
      val pts = ev.select(col("id1"), col("id2"), col(posCol).as("__pos"))
        .distinct()
      val isl = pts
        .withColumn("__new",
          when(col("__pos") - lag(col("__pos"), 1).over(byPair)
            <= lit((w + k - 1).toLong), 0L)
            .otherwise(1L)) // lag NULL → 1 (first)
        .withColumn("__isl", sum(col("__new")).over(
          byPair.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      isl.groupBy(col("id1"), col("id2"), col("__isl"))
        .agg(min(col("__pos")).as("__s"), max(col("__pos")).as("__e"))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as(s"n_spans$tag"),
          sum(col("__e") - col("__s") + lit(k.toLong)).as(s"cov_tok$tag"))
    }
    val nTok = df.select(col(idCol).as("__id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("__n"))
    side("pos1", "1")
      .join(side("pos2", "2"), Seq("id1", "id2"))
      .join(nTok.select(col("__id").as("id1"), col("__n").as("__n1")),
        Seq("id1"))
      .join(nTok.select(col("__id").as("id2"), col("__n").as("__n2")),
        Seq("id2"))
      .select(col("id1"), col("id2"),
        col("n_spans1"), col("cov_tok1"),
        (col("cov_tok1").cast("double") / col("__n1").cast("double"))
          .as("frac1"),
        col("n_spans2"), col("cov_tok2"),
        (col("cov_tok2").cast("double") / col("__n2").cast("double"))
          .as("frac2"))
  }

  def simhash16(text: Column): Column = {
    val toks = TextOps.tokens(text)
    val perTokenBits = transform(toks, t => {
      val h = md5(t)
      transform(sequence(lit(1), lit(16)), i =>
        when(h.substr(i, lit(1)).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1L)
          .otherwise(0L))
    })
    val ones = aggregate(perTokenBits,
      array_repeat(lit(0L), 16),
      (acc, x) => zip_with(acc, x, (p, q) => p + q))
    val n = size(toks).cast("bigint")
    val bits = (1 to 16).map(i =>
      when(element_at(ones, i) * 2 > n, lit("1")).otherwise(lit("0")))
    concat(bits: _*)
  }
}
