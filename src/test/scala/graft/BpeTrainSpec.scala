package graft

import org.apache.spark.sql.functions._

import graft.expr.BpeApply
import graft.ops.BpeTrain
import graft.ops.LocalGate.forcedDistributed

/** Distributed BPE vocabulary induction vs an independent in-memory
  * Sennrich reference (plain collections, written from the published
  * algorithm — not from the operator under test).
  */
class BpeTrainSpec extends SparkSpecBase {
  import spark.implicits._

  // ---- independent reference implementation -------------------------

  private type Vocab = Map[List[String], Long]

  private def refInit(corpus: Seq[String]): Vocab =
    corpus.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong)
      .map { case (w, f) =>
        (w.codePoints().toArray.toList.map(cp => new String(Character.toChars(cp))) :+ "</w>") -> f
      }.toMap

  private def refPairs(v: Vocab): Map[(String, String), Long] =
    v.toSeq.flatMap { case (syms, f) =>
      syms.zip(syms.tail).map(p => p -> f)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap

  private def refMergeWord(syms: List[String], a: String, b: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  /** (rank, lhs, rhs, count) for `k` merges; count desc then
    * lexicographic (lhs, rhs) tie-break.
    */
  private def refTrain(corpus: Seq[String], k: Int): Seq[(Int, String, String, Long)] = {
    var v = refInit(corpus)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 0
    var done = false
    while (r < k && !done) {
      val pairs = refPairs(v)
      if (pairs.isEmpty) done = true
      else {
        val ((a, b), c) = pairs.toSeq.minBy { case ((l, rr), cnt) => (-cnt, l, rr) }
        out += ((r, a, b, c))
        v = v.toSeq.map { case (syms, f) => refMergeWord(syms, a, b) -> f }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        r += 1
      }
    }
    out.toSeq
  }

  private val corpus = Seq(
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
    "low lower newest")

  // ---- trainer vs reference -----------------------------------------

  test("trainMerges matches the independent Sennrich reference") {
    val df = corpus.toDF("text")
    val got = BpeTrain.trainMerges(df, "text", 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    got shouldBe refTrain(corpus, 8)
  }

  test("pairCounts on the initial state matches the reference pair stats") {
    val df = corpus.toDF("text")
    val words = BpeTrain.wordFreqs(df, "text")
    val got = BpeTrain.pairCounts(words, Nil).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    got shouldBe refPairs(refInit(corpus))
  }

  test("merge application is left-to-right non-overlapping; counts see every position") {
    // "aaaa": initial pairs (a,a) x3 (every adjacent position), but
    // applying merge (a,a) yields [aa, aa, </w>] — non-overlapping.
    val df = Seq("aaaa").toDF("text")
    val words = BpeTrain.wordFreqs(df, "text")
    val p0 = BpeTrain.pairCounts(words, Nil).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    p0(("a", "a")) shouldBe 3L
    val after = BpeTrain.vocabAfter(words, Seq(("a", "a"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    after shouldBe Map("aa" -> 2L, "</w>" -> 1L)
    // "aaa": odd run — greedy leaves the trailing singleton
    val words3 = BpeTrain.wordFreqs(Seq("aaa").toDF("text"), "text")
    BpeTrain.vocabAfter(words3, Seq(("a", "a"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("aa" -> 1L, "a" -> 1L, "</w>" -> 1L)
  }

  test("argmax tie-break is count desc then lexicographic (lhs, rhs)") {
    // words "ab" x3 and "ba" x3 give (a,b) 3, (b,a) 3, (b,</w>) 3,
    // (a,</w>) 3 — a four-way tie; (a,</w>) wins lexicographically
    // ('<' 0x3C sorts before 'b'). Cross-checked against the
    // reference, which applies the same tie order.
    val df = Seq("ab ab ab ba ba ba").toDF("text")
    val first = BpeTrain.trainMerges(df, "text", 1).collect()(0)
    (first.getString(1), first.getString(2)) shouldBe ("a", "</w>")
    first.getLong(3) shouldBe 3L
    refTrain(Seq("ab ab ab ba ba ba"), 1).head shouldBe (0, "a", "</w>", 3L)
  }

  test("training stops early when no pairs remain") {
    // single 1-char word: one pair (a, </w>) — merge 1 consumes it,
    // then the vocabulary has no adjacent pairs left.
    val df = Seq("a").toDF("text")
    val merges = BpeTrain.trainMerges(df, "text", 5).collect()
    merges.length shouldBe 1
    merges(0).getString(1) shouldBe "a"
    merges(0).getString(2) shouldBe "</w>"
  }

  test("trainVocab equals vocabAfter(trainMerges) and conserves token mass") {
    val df = corpus.toDF("text")
    val vocab = BpeTrain.trainVocab(df, "text", 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val words = BpeTrain.wordFreqs(df, "text")
    val merges = BpeTrain.trainMerges(df, "text", 8).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val expect = BpeTrain.vocabAfter(words, merges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    vocab shouldBe expect
    // mass conservation: every merge of count c removes exactly c
    // symbol occurrences from the corpus
    val initTokens = corpus.flatMap(_.split(" ")).filter(_.nonEmpty)
      .map(w => w.codePointCount(0, w.length) + 1L).sum
    val mergedAway = BpeTrain.trainMerges(df, "text", 8).collect()
      .map(_.getLong(3)).sum
    vocab.values.sum shouldBe (initTokens - mergedAway)
  }

  test("BpeApply keeps astral code points whole and compiles under codegen") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val bc = spark.sparkContext.broadcast(
        new BpeApply.Merges(Array(("a", "b"))))
      val rows = Seq("ab🧬x").toDF("w")
        .select(BpeApply.bpeSymbols(col("w"), bc).as("s"),
          BpeApply.bpePairs(col("w"), bc).as("p"))
        .collect()
      rows(0).getSeq[String](0) shouldBe Seq("ab", "🧬", "x", "</w>")
      rows(0).getSeq[String](1) shouldBe
        Seq("ab 🧬", "🧬 x", "x </w>")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None    => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  // ------------------------------------------------------------------
  // r18: driver-local training fast path must be BIT-identical to the
  // distributed rounds (forced via graft.localMax=0).
  // ------------------------------------------------------------------

  test("local BPE training is bit-identical to distributed, incl. UTF8 tie order") {
    // the tie corpus: after round 1 merges (a,</w>), the round-2
    // candidates (\uFFFD, a</w>) and (\ud83d\ude00, a</w>) TIE on count;
    // UTF8 binary order picks U+FFFD (EF BF BD < F0 9F 98 80) where
    // java.lang.String's UTF-16 code-unit order would pick the
    // surrogate pair — exactly the divergence the local argmax must
    // not introduce
    val corpus = Seq(
      "\ud83d\ude00a \uFFFDa low low lower lowest ab ab abc",
      "newer new news newest ab low").toDF("text")
    for (rounds <- Seq(1, 2, 6, 12)) {
      val local = BpeTrain.trainMerges(corpus, "text", rounds)
        .orderBy(col("rank")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      val dist = forcedDistributed(
        BpeTrain.trainMerges(corpus, "text", rounds)
          .orderBy(col("rank")).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))))
      withClue(s"rounds=$rounds: ") { local.toList shouldBe dist.toList }
      val lv = BpeTrain.trainVocab(corpus, "text", rounds)
        .orderBy(col("token")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val dv = forcedDistributed(
        BpeTrain.trainVocab(corpus, "text", rounds)
          .orderBy(col("token")).collect()
          .map(r => (r.getString(0), r.getLong(1))))
      withClue(s"vocab rounds=$rounds: ") { lv.toList shouldBe dv.toList }
    }
    // a minimal corpus where the round-2 argmax is a pure tie between
    // a surrogate-pair lhs and U+FFFD: UTF8 byte order must pick
    // U+FFFD (java's UTF-16 code-unit order would pick the surrogate)
    val tieCorpus = Seq("\ud83d\ude00a \uFFFDa").toDF("text")
    val m2 = BpeTrain.trainMerges(tieCorpus, "text", 2)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    m2(0) shouldBe ("a", "</w>")
    m2(1) shouldBe ("\uFFFD", "a</w>")
    val d2 = forcedDistributed(BpeTrain.trainMerges(tieCorpus, "text", 2)
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))))
    m2.toList shouldBe d2.toList
  }
}
