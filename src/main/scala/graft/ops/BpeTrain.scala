package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.expr.BpeApply

/** Distributed BPE vocabulary induction (Sennrich-style merge
  * training) — the TRAINING half of the subword stack whose inference
  * half is [[graft.expr.BpeTokenize]] (q148). Beyond-reference,
  * north-star mandated: inducing a tokenizer vocabulary from the
  * corpus is a standard step of a training-data pipeline, and it is an
  * inherently iterative whole-corpus computation — exactly the shape
  * that needs a distributed engine rather than a driver loop over
  * rows.
  *
  * Scale design (what moves at 100 TB):
  *  - The corpus is read ONCE: `wordFreqs` reduces it to the
  *    word-frequency table (vocabulary-sized — Heaps' law puts a
  *    multi-TB corpus's distinct-word count in the tens of millions,
  *    kilobytes per row), which is checkpointed and is the ONLY input
  *    every training round touches. Corpus bytes never re-enter.
  *  - Each round is one map pass over the vocabulary
  *    ([[graft.expr.BpeApply]] re-derives round-r symbols from the raw
  *    word — the trainer carries NO mutable distributed state, so no
  *    per-round rewrite/checkpoint of the words frame) plus one
  *    aggregation whose shuffle carries (pair, count) rows — bounded
  *    by the symbol-pair alphabet, not the corpus.
  *  - The argmax collects ONE row per round (orderBy + limit(1) on
  *    the deterministic total order: count desc, then lexicographic
  *    (lhs, rhs) — ties cannot flap across engines or partitionings).
  *    DELIBERATE tie-order divergence from subword-nmt: on equal
  *    counts this picks the lexicographically SMALLEST (lhs, rhs),
  *    where subword-nmt's `max(stats, key=...)` picks the LARGEST —
  *    both are deterministic, but merge tables trained here are not
  *    bit-compatible with reference-trained ones whenever counts tie
  *    (the DuckDB oracle and the in-memory spec reference replay THIS
  *    order; flip to desc(lhs), desc(rhs) in trainer + oracle + spec
  *    together if upstream compatibility is ever needed).
  *  - The merge list so far ships back via broadcast: rounds × a
  *    few-KB table.
  *
  * The O(rounds) sequential driver loop is irreducible — merge r+1's
  * counts are defined over the state AFTER merge r (each round's
  * top pair depends on the last); what the engine parallelizes is the
  * corpus-sized work inside each round. Reference trainers (the
  * original subword-nmt) run the same loop single-node over an
  * in-memory vocab; this runs the same math with the vocab sharded.
  */
object BpeTrain {

  /** Corpus → (word, freq). Words are space-separated runs; empties
    * (leading/trailing/double spaces) drop — the same word contract as
    * [[graft.expr.BpeTokenize.compute]] and the q150 term explode.
    */
  def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Adjacent-pair counts over the state after applying `merges`
    * sequentially: one native map pass + one (pair, count) shuffle.
    * Every adjacent position counts (Sennrich's get_stats — "a a a"
    * counts (a,a) twice); merge APPLICATION is left-to-right
    * non-overlapping. Output: (lhs, rhs, pair_count).
    */
  def pairCounts(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    val bc = spark.sparkContext.broadcast(new BpeApply.Merges(merges.toArray))
    words
      .select(explode(BpeApply.bpePairs(col("word"), bc)).as("pair"),
        col("freq"))
      .groupBy("pair").agg(sum("freq").as("pair_count"))
      .select(
        substring_index(col("pair"), BpeApply.Sep, 1).as("lhs"),
        substring_index(col("pair"), BpeApply.Sep, -1).as("rhs"),
        col("pair_count"))
  }

  /** Train `numMerges` merges. Returns (rank, lhs, rhs, pair_count) —
    * rank is the merge order (unique), pair_count the winning pair's
    * count in its round. Stops early if the vocabulary runs out of
    * pairs (every word fully merged) — shorter output, never padding.
    */
  def trainMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = df.sparkSession
    val wf = wordFreqs(df, textCol)
    localWordRows(wf) match {
      case Some(rows) =>
        spark.createDataFrame(java.util.Arrays.asList(
          localTrainRows(rows, numMerges): _*), MergeSchema)
      case None =>
        val words = Checkpoints.cut(wf, eager = true)
        spark.createDataFrame(
          spark.sparkContext.parallelize(trainMergesFrom(words, numMerges), 1),
          MergeSchema)
    }
  }

  val MergeSchema: StructType = StructType(Seq(
    StructField("rank", org.apache.spark.sql.types.IntegerType, nullable = false),
    StructField("lhs", StringType, nullable = false),
    StructField("rhs", StringType, nullable = false),
    StructField("pair_count", LongType, nullable = false)))

  /** Subword vocabulary after applying a trained merge table:
    * (token, freq) where freq sums the frequencies of the words each
    * token appears in, once per occurrence. One map pass + one
    * (token, count) shuffle over the word table.
    */
  def vocabAfter(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    val bc = spark.sparkContext.broadcast(new BpeApply.Merges(merges.toArray))
    words
      .select(explode(BpeApply.bpeSymbols(col("word"), bc)).as("token"),
        col("freq"))
      .groupBy("token").agg(sum("freq").as("freq"))
  }

  /** Train-then-apply in one call: the induced subword vocabulary of
    * the corpus after `numMerges` trained merges.
    */
  def trainVocab(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    val wf = wordFreqs(df, textCol)
    localWordRows(wf) match {
      case Some(rows) =>
        val merges = localTrainRows(rows, numMerges)
          .map(r => (r.getString(1), r.getString(2)))
        // the same application path as the distributed vocabAfter —
        // BpeApply.compute over every word — but folded on the driver
        // (long-sum per token is exact and merge-order-free)
        val freqs = new java.util.LinkedHashMap[String, Long]()
        rows.foreach { case (w, f) =>
          val syms = graft.expr.BpeApply.compute(
            org.apache.spark.unsafe.types.UTF8String.fromString(w),
            new BpeApply.Merges(merges.toArray), emitPairs = false)
          var i = 0
          while (i < syms.numElements()) {
            val t = syms.getUTF8String(i).toString
            freqs.merge(t, f, (a, b) => a + b)
            i += 1
          }
        }
        val out = new java.util.ArrayList[Row](freqs.size())
        freqs.forEach((t, f) => { out.add(Row(t, f)); () })
        spark.createDataFrame(out, StructType(Seq(
          StructField("token", StringType, nullable = false),
          StructField("freq", LongType, nullable = true))))
      case None =>
        val words = Checkpoints.cut(wf, eager = true)
        val merges = trainMergesFrom(words, numMerges)
        vocabAfter(words,
          merges.map(r => (r.getString(1), r.getString(2))).toSeq)
    }
  }

  /** Driver-local collection for the BPE fast path: the (word, freq)
    * vocabulary rows below the [[LocalGate.Rows]] cap (1M — the
    * word table is vocabulary-sized, kilobytes per row; a multi-TB
    * corpus's tens-of-millions-distinct vocabulary stays distributed).
    * None over the cap — and the distributed rounds own every edge
    * case beyond plain (non-null word, non-null freq) rows.
    */
  private def localWordRows(wf: DataFrame): Option[Array[(String, Long)]] = {
    val rows = LocalGate.take(wf, LocalGate.Rows).getOrElse(return None)
    val out = new Array[(String, Long)](rows.length)
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      out(i) = (r.getString(0), r.getLong(1))
      i += 1
    }
    Some(out)
  }

  /** Driver-local twin of [[trainMergesFrom]] (the trainer fast-path
    * discipline: bit-identical rounds, forced-distributed comparison
    * spec in BpeTrainSpec). Round state is the per-word symbol list,
    * advanced by [[graft.expr.BpeApply.mergeOnce]] — the SAME code
    * the distributed BpeApply expression applies, so the two paths
    * cannot diverge; sequential application of merges 1..r is
    * identical to advancing the round-(r-1) state by merge r. The
    * argmax replicates the distributed orderBy exactly: count desc,
    * then (lhs, rhs) ascending in UTF8String binary order (Spark's
    * string ordering — NOT java.lang.String's UTF-16 code-unit order,
    * which disagrees above U+FFFF).
    */
  private def localTrainRows(words: Array[(String, Long)],
      numMerges: Int): Seq[Row] = {
    import org.apache.spark.unsafe.types.UTF8String
    val syms = words.map { case (w, _) => BpeApply.splitSymbols(w) }
    val learned = scala.collection.mutable.ArrayBuffer.empty[Row]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      var wi = 0
      while (wi < syms.length) {
        val s = syms(wi)
        val f = words(wi)._2
        var i = 0
        while (i < s.size - 1) {
          counts.merge((s.get(i), s.get(i + 1)), f, (a, b) => a + b)
          i += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestN = 0L
        counts.forEach { (p, n) =>
          val better = best == null || n > bestN || (n == bestN && {
            val c = UTF8String.fromString(p._1)
              .compareTo(UTF8String.fromString(best._1))
            c < 0 || (c == 0 && UTF8String.fromString(p._2)
              .compareTo(UTF8String.fromString(best._2)) < 0)
          })
          if (better) { best = p; bestN = n }
        }
        learned += Row(rank, best._1, best._2, bestN)
        var k = 0
        while (k < syms.length) {
          syms(k) = BpeApply.mergeOnce(syms(k), best._1, best._2)
          k += 1
        }
        rank += 1
      }
    }
    learned.toSeq
  }

  /** The training loop over a pre-materialized word table — shared by
    * [[trainMerges]] and [[trainVocab]] so train-then-apply reuses ONE
    * checkpoint. A round with no pairs left (every word fully merged)
    * ends training early.
    */
  private def trainMergesFrom(words: DataFrame, numMerges: Int): Seq[Row] = {
    val learned = scala.collection.mutable.ArrayBuffer.empty[Row]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val best = pairCounts(words, learned.map(r => (r.getString(1), r.getString(2))).toSeq)
        .orderBy(desc("pair_count"), asc("lhs"), asc("rhs"))
        .limit(1).collect() // one row per round, by design
      if (best.isEmpty) exhausted = true
      else {
        val b = best(0)
        learned += Row(rank, b.getAs[String]("lhs"), b.getAs[String]("rhs"),
          b.getAs[Long]("pair_count"))
        rank += 1
      }
    }
    learned.toSeq
  }
}
