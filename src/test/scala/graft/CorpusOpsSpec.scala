package graft

import org.apache.spark.sql.functions._

import graft.ops.CorpusOps
import graft.ops.LocalGate.forcedDistributed

class CorpusOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("decontaminate flags docs whose shingles overlap the benchmark") {
    // k=2 shingles; doc 1 shares both its shingles with the benchmark,
    // doc 2 shares none, doc 3 is too short to shingle at all
    val corpus = Seq(
      (1L, "a b c"),        // shingles: "a b", "b c" — both in benchmark
      (2L, "x y z"),        // shingles: "x y", "y z" — neither
      (3L, "solo")          // no 2-shingles
    ).toDF("doc_id", "text")
    val benchmark = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val out = CorpusOps.decontaminate(corpus, benchmark, "doc_id", "text",
        k = 2, threshold = 0.5)
      .orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
      r.getBoolean(4))).toSeq shouldBe Seq(
      (1L, 2L, 2L, 1.0, true),
      (2L, 2L, 0L, 0.0, false),
      (3L, 0L, 0L, 0.0, false))
  }

  test("decontaminate counts distinct shingles once per doc") {
    // "a b a b a b" has 4 bigram occurrences but only 2 distinct
    val corpus = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val benchmark = Seq((9L, "a b x")).toDF("doc_id", "text")
    val r = CorpusOps.decontaminate(corpus, benchmark, "doc_id", "text", 2, 0.9)
      .collect().head
    r.getLong(1) shouldBe 2L   // distinct: "a b", "b a"
    r.getLong(2) shouldBe 1L   // only "a b" is in the benchmark
  }

  test("decontaminateMapSide ≡ decontaminate, under codegen") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val corpus = Seq((1L, "a b c"), (2L, "x y z"), (3L, "solo"),
        (4L, "a b a b a b"), (5L, "c d e f g"),
        (6L, null.asInstanceOf[String]) // must match the shuffle form's
        // re-anchored (0, 0, 0.0, false), not a null-struct row
      ).toDF("doc_id", "text")
      val benchmark = Seq((10L, "a b c d")).toDF("doc_id", "text")
      val dict = CorpusOps.benchmarkDict(benchmark, "text", 2)
      dict.size shouldBe 3 // "a b", "b c", "c d"
      sortedRows(CorpusOps.decontaminateMapSide(corpus, dict,
        "doc_id", "text", 2, 0.5)) shouldBe
        sortedRows(CorpusOps.decontaminate(corpus, benchmark,
          "doc_id", "text", 2, 0.5))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None    => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("piiScan counts and redacts in pattern order") {
    val df = Seq(
      (1L, "mail bob.smith@corp.example.com and 555-123-4567 ref 1234567"),
      (2L, "clean text no pii"),
      (3L, "two mails a@b.co c@d.org same id 999999 999999")
    ).toDF("doc_id", "text")
    val out = CorpusOps.piiScan(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getString(4))).toSeq shouldBe Seq(
      (1L, 1L, 1L, 1L, "mail <EMAIL> and <PHONE> ref <ID>"),
      (2L, 0L, 0L, 0L, "clean text no pii"),
      (3L, 2L, 0L, 2L, "two mails <EMAIL> <EMAIL> same id <ID> <ID>"))
  }

  test("piiScan does not double-count email digits as ids") {
    val df = Seq((1L, "user123456@x.org")).toDF("doc_id", "text")
    val r = CorpusOps.piiScan(df, "doc_id", "text").collect().head
    r.getLong(1) shouldBe 1L               // one email
    r.getLong(3) shouldBe 0L               // digits inside the local part
    r.getString(4) shouldBe "<EMAIL>"
  }

  test("piiScan: digit-LEADING email local parts overlap counts, not redaction") {
    // "123456@x.org": the id pattern \b\d{6,}\b DOES match the local
    // part on the raw text (word boundary at start-of-string and at
    // '@'), so n_email and n_id both count it — counts are per-pattern
    // evidence over the original text, not a partition of it. The
    // redaction stays unambiguous: email runs first and eats the
    // digits before the id pattern ever sees them.
    val df = Seq((1L, "123456@x.org")).toDF("doc_id", "text")
    val r = CorpusOps.piiScan(df, "doc_id", "text").collect().head
    r.getLong(1) shouldBe 1L               // n_email
    r.getLong(3) shouldBe 1L               // n_id overlaps on the raw text
    r.getString(4) shouldBe "<EMAIL>"      // but redaction is sequential
  }

  test("packByTokenBudget equals the sequential prefix sum at any partitioning") {
    val weights = Seq(5L, 3L, 9L, 1L, 7L, 2L, 8L, 4L, 6L, 10L)
    val df = weights.zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "w")
      .repartition(7) // deliberately scrambled input partitioning
    val out = CorpusOps.packByTokenBudget(df, "doc_id", col("w"), budget = 10L)
      .orderBy("doc_id").collect()
    var cum = 0L
    weights.zipWithIndex.foreach { case (w, i) =>
      val r = out(i)
      r.getLong(0) shouldBe i.toLong
      r.getLong(1) shouldBe w
      r.getLong(2) shouldBe cum
      r.getLong(3) shouldBe cum / 10L
      cum += w
    }
  }

  test("packByTokenBudget handles null weights and empty input") {
    val df = Seq((1L, Some(4L)), (2L, None), (3L, Some(8L)))
      .toDF("doc_id", "w")
    val out = CorpusOps.packByTokenBudget(df, "doc_id", col("w"), 5L)
      .orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq shouldBe Seq((1L, 4L, 0L, 0L), (2L, 0L, 4L, 0L), (3L, 8L, 4L, 0L))
    CorpusOps.packByTokenBudget(
      Seq.empty[(Long, Long)].toDF("doc_id", "w"), "doc_id", col("w"), 5L)
      .count() shouldBe 0L
  }

  test("packByTokenBudget shard ids are monotone and budget-quantized") {
    val df = (0L until 200L).map(i => (i, (i % 13) + 1)).toDF("doc_id", "w")
    val out = CorpusOps.packByTokenBudget(df, "doc_id", col("w"), 37L)
      .orderBy("doc_id").collect()
    val shards = out.map(_.getLong(3))
    shards.zip(shards.tail).foreach { case (a, b) => b should be >= a }
    out.foreach { r =>
      r.getLong(3) shouldBe r.getLong(2) / 37L
    }
  }

  test("repetitionStats computes dup/top/kgram fractions per doc") {
    val df = Seq(
      (1L, "a a a a"),       // 4 tokens, 1 distinct; trigrams: "a a a"×2, 1 distinct
      (2L, "w x y z"),       // all distinct; trigrams "w x y","x y z" distinct
      (3L, "hi")             // 1 token, no trigrams
    ).toDF("doc_id", "text")
    val out = CorpusOps.repetitionStats(df, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4))).toSeq shouldBe Seq(
      (1L, 4L, 3.0 / 4, 1.0, 1.0 / 2),
      (2L, 4L, 0.0, 1.0 / 4, 0.0),
      (3L, 1L, 0.0, 1.0, 0.0))
  }

  test("native repetitionStats ≡ the composable HOF form, under codegen") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq(
        (1L, "a a a a"), (2L, "w x y z"), (3L, "hi"),
        (4L, ""),                       // empty text = one empty token
        (5L, "a  b"),                   // double space = empty mid token
        (6L, "trailing space "),        // trailing empty token kept
        (7L, "x y x y x y x y z")
      ).toDF("doc_id", "text")
      sortedRows(CorpusOps.repetitionStats(df, "doc_id", "text", 3)) shouldBe
        sortedRows(CorpusOps.repetitionStatsComposable(df, "doc_id", "text", 3))
      sortedRows(CorpusOps.repetitionStats(df, "doc_id", "text", 2)) shouldBe
        sortedRows(CorpusOps.repetitionStatsComposable(df, "doc_id", "text", 2))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None    => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("qualityGate joins failed rules in cascade order, passes clean docs") {
    val df = Seq(
      (1L, ("word " * 30).trim),                    // 30 tokens of "word": dup + top
      (2L, (1 to 30).map(i => s"tok$i").mkString(" ")), // clean
      (3L, "short doc"),                            // too few tokens
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = CorpusOps.qualityGate(df, "doc_id", "text")
      .orderBy("doc_id").select("doc_id", "reasons", "passed").collect()
    out.map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe Seq(
      (1L, "dup_tokens;top_token;dup_kgrams"),
      (2L, ""),
      (3L, "too_few_tokens;top_token"),
      (4L, "null_text"))
    out.map(_.getBoolean(2)).toSeq shouldBe Seq(false, true, false, false)
  }

  test("mixtureRebalance caps over-represented strata at the uniform share") {
    // 300 'big' vs 20 'small': uniform share = 160 each, so big gets
    // rate 320/600 ≈ 0.533 and small keeps everything (rate >= 1)
    val df = (0L until 320L)
      .map(i => (i, if (i < 300) "big" else "small")).toDF("doc_id", "src")
    val out = CorpusOps.mixtureRebalance(df, "doc_id", "src")
    val kept = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    kept("small") shouldBe 20L                   // rate >= 1 keeps all
    kept("big") should be < 300L                 // downsampled
    kept("big").toDouble should be(300 * (320.0 / 600) +- 40)
    // deterministic: identical on re-run
    sortedRows(out) shouldBe sortedRows(
      CorpusOps.mixtureRebalance(df, "doc_id", "src"))
    // every surviving row's bucket is under its stratum threshold
    out.collect().foreach(r => assert(
      r.getString(r.fieldIndex("bucket")) < r.getString(r.fieldIndex("thr"))))
  }

  test("mixtureTemperature: alpha=1 natural, alpha=0 uniform, kept sets grow monotonically with alpha") {
    val df = (0L until 320L)
      .map(i => (i, if (i < 300) "big" else "small")).toDF("doc_id", "src")
    def keptIds(alpha: Double): Set[Long] =
      CorpusOps.mixtureTemperature(df, "doc_id", "src", alpha)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // alpha=1: the natural mixture — every rate 1, everything kept
    keptIds(1.0).size shouldBe 320
    // alpha=0: uniform counts — big downsamples toward n_min=20
    val k0 = CorpusOps.mixtureTemperature(df, "doc_id", "src", 0.0)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    k0("small") shouldBe 20L // the smallest stratum is always whole
    k0("big").toDouble should be(20.0 +- 12) // rate 20/300 of 300
    // temperature monotonicity: raising alpha only ADDS rows (rates
    // rise, thresholds rise, the bucket test is a prefix order)
    val a3 = keptIds(0.3); val a7 = keptIds(0.7)
    assert(a3.subsetOf(a7))
    assert(a7.subsetOf(keptIds(1.0)))
    // intermediate alpha lands between the extremes for the head
    val k7 = CorpusOps.mixtureTemperature(df, "doc_id", "src", 0.7)
      .filter(col("src") === "big").count()
    k7 should be > k0("big")
    k7 should be < 300L
    // loud out-of-range alpha
    intercept[IllegalArgumentException] {
      CorpusOps.mixtureTemperature(df, "doc_id", "src", 1.5)
    }
  }

  test("splitByHash: total disjoint coverage at the declared proportions; leak-free variant co-assigns whole clusters") {
    val df = (0L until 2000L).toDF("id")
    val out = CorpusOps.splitByHash(df,
        Seq(("train", 800), ("val", 100), ("test", 100)), col("id"))
      .collect().map(r => r.getLong(0) -> r.getString(2))
    out.length shouldBe 2000 // every row assigned exactly once
    val byS = out.groupBy(_._2).view.mapValues(_.length).toMap
    byS.keySet shouldBe Set("train", "val", "test")
    byS("train").toDouble should be(1600.0 +- 120)
    byS("val").toDouble should be(200.0 +- 70)
    // deterministic: identical on re-run
    CorpusOps.splitByHash(df,
        Seq(("train", 800), ("val", 100), ("test", 100)), col("id"))
      .collect().map(r => r.getLong(0) -> r.getString(2))
      .toMap shouldBe out.toMap
    // loud guards: weights must sum to 1000, labels distinct, and a
    // NULL key raises in-plan (it would silently land in the LAST
    // split and skew the proportions)
    intercept[IllegalArgumentException] {
      CorpusOps.splitByHash(df, Seq(("a", 500), ("b", 400)), col("id"))
    }
    intercept[IllegalArgumentException] {
      CorpusOps.splitByHash(df, Seq(("a", 500), ("a", 500)), col("id"))
    }
    val nullBoom = intercept[Exception] { // SparkRuntimeException locally
      CorpusOps.splitByHash(
        Seq(Some(1L), None).toDF("id"),
        Seq(("a", 500), ("b", 500)), col("id")).collect()
    }
    nullBoom.getMessage should include("null split key")

    // leakage-free: a near-dup pair NEVER straddles a boundary —
    // shared paragraph links 1-2 and 3-4 transitively via 2-3
    val para = (1 to 12).map(i => s"p$i").mkString(" ")
    val corpus = Seq(
      (1L, s"a b $para"), (2L, s"$para c d"),
      (3L, s"$para e f"), (4L, s"g h $para"),
      (5L, "totally unrelated text with different words entirely"))
      .toDF("doc_id", "text")
    val lf = CorpusOps.leakFreeSplitByWinnow(corpus, "doc_id", "text",
        k = 3, w = 4, minShared = 1L, maxDf = 10L,
        splits = Seq(("train", 500), ("test", 500)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSeq
    val cluster = lf.filter(t => Set(1L, 2L, 3L, 4L).contains(t._1))
    cluster.map(_._2).distinct.size shouldBe 1 // one component
    cluster.map(_._3).distinct.size shouldBe 1 // ONE split — no leak
    lf.find(_._1 == 5L).get._2 shouldBe 5L // singleton keeps its id
  }

  test("piiScan treats null text as empty for counts") {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "a@b.co"))
      .toDF("doc_id", "text")
    val out = CorpusOps.piiScan(df, "doc_id", "text").orderBy("doc_id").collect()
    out(0).getLong(1) shouldBe 0L
    out(0).isNullAt(4) shouldBe true
    out(1).getLong(1) shouldBe 1L
  }

  test("mixtureRebalance keeps null strata as their own stratum") {
    val df = (0L until 100L)
      .map(i => (i, if (i < 90) "big" else null)).toDF("doc_id", "src")
    val out = CorpusOps.mixtureRebalance(df, "doc_id", "src")
    // the 10 null-stratum rows are UNDER-represented (rate >= 1): a
    // null-dropping join would lose all of them
    out.filter(col("src").isNull).count() shouldBe 10L
  }

  test("hashStratifiedSample is deterministic and respects thresholds") {
    val df = (0L until 500L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val thr = Map("en" -> "20", "de" -> "c0")
    val s1 = CorpusOps.hashStratifiedSample(df, "doc_id", "lang", thr, "40")
    val s2 = CorpusOps.hashStratifiedSample(df, "doc_id", "lang", thr, "40")
    val r1 = sortedRows(s1)
    r1 shouldBe sortedRows(s2)
    // every kept row's bucket is below its stratum threshold
    s1.collect().foreach { r =>
      val lim = if (r.getString(1) == "en") "20" else "c0"
      assert(r.getString(2) < lim)
    }
    // 'de' at 3/4 rate keeps strictly more than 'en' at 1/8
    val kept = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    kept("de") should be > kept.getOrElse("en", 0L)
  }

  test("hashStratifiedSample falls back to the default threshold") {
    val df = Seq((1L, "xx"), (2L, "xx")).toDF("doc_id", "lang")
    // default ff keeps ~everything; default 00 keeps nothing
    CorpusOps.hashStratifiedSample(df, "doc_id", "lang", Map.empty, "00")
      .count() shouldBe 0L
    CorpusOps.hashStratifiedSample(df, "doc_id", "lang", Map.empty, "ff")
      .count() should be >= 1L
    an[IllegalArgumentException] should be thrownBy
      CorpusOps.hashStratifiedSample(df, "doc_id", "lang", Map("en" -> "ZZ"), "40")
  }

  test("hashStratifiedSample routes null strata to the default threshold") {
    // Contract (differs from mixtureRebalance, where null is its own
    // data-derived stratum): a null strataCol falls through every CASE
    // branch to defaultThreshold, since a Map[String, String] cannot
    // name a null stratum.
    val df = (0L until 200L)
      .map(i => (i, if (i % 2 == 0) "en" else null))
      .toDF("doc_id", "lang")
    val thr = Map("en" -> "00") // named stratum keeps nothing
    val keptAll = CorpusOps
      .hashStratifiedSample(df, "doc_id", "lang", thr, "ff").collect()
    keptAll.foreach(_.isNullAt(1) shouldBe true) // only null-lang rows survive
    keptAll.length should be >= 1
    CorpusOps.hashStratifiedSample(df, "doc_id", "lang", thr, "00")
      .count() shouldBe 0L // default 00 drops the null stratum too
  }

  test("corpusProfile: HLL form tracks the exact twin within the rsd bound") {
    // deterministic synthetic corpus: 600 docs over 2x2 strata with a
    // known duplicate structure (every 3rd doc repeats text)
    val docs = spark.range(600).selectExpr(
      "id AS doc_id",
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang",
      "CASE WHEN id % 4 < 2 THEN 'web' ELSE 'book' END AS source",
      "concat('tok', CAST(id % 200 AS STRING), ' word', " +
        "CAST(id % 37 AS STRING), ' tail', CAST(id % 11 AS STRING)) AS text")
    val exact = CorpusOps.corpusProfile(docs, Seq("lang", "source"), "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val approx = CorpusOps.corpusProfile(docs, Seq("lang", "source"), "text",
      approx = true, rsd = 0.05)
    approx.columns shouldBe Array("lang", "source", "n_docs",
      "n_distinct_fp", "n_distinct_tokens", "total_tokens")
    val rows = approx.collect()
    rows should have length 4
    rows.foreach { r =>
      val e = exact((r.getString(0), r.getString(1)))
      // plain counts and sums are exact in both forms
      r.getLong(2) shouldBe e.getLong(2)
      r.getLong(5) shouldBe e.getLong(5)
      // HLL++ at rsd=0.05: allow 3 standard deviations of relative
      // error on both distinct metrics
      math.abs(r.getLong(3) - e.getLong(3)).toDouble / e.getLong(3) should
        be <= 0.15
      math.abs(r.getLong(4) - e.getLong(4)).toDouble / e.getLong(4) should
        be <= 0.15
    }
  }

  test("profileSketches merge ≡ whole-corpus pass, and tracks the exact twin") {
    // same deterministic corpus as the HLL test above
    val docs = spark.range(600).selectExpr(
      "id AS doc_id",
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang",
      "CASE WHEN id % 4 < 2 THEN 'web' ELSE 'book' END AS source",
      "concat('tok', CAST(id % 200 AS STRING), ' word', " +
        "CAST(id % 37 AS STRING), ' tail', CAST(id % 11 AS STRING)) AS text")
    val whole = CorpusOps.mergeProfileSketches(
        CorpusOps.profileSketches(docs, Seq("lang", "source"), "text"),
        Seq("lang", "source"))
      .orderBy("lang", "source").collect()
    // three arbitrary "daily" increments — register state must not
    // depend on how rows were split across them
    val incs = Seq(
      docs.filter("id % 3 = 0"), docs.filter("id % 3 = 1"),
      docs.filter("id % 3 = 2"))
      .map(d => CorpusOps.profileSketches(d, Seq("lang", "source"), "text"))
      .reduce(_ unionByName _)
    val merged = CorpusOps.mergeProfileSketches(incs, Seq("lang", "source"))
      .orderBy("lang", "source").collect()
    merged.map(_.toSeq) shouldBe whole.map(_.toSeq)

    val exact = CorpusOps.corpusProfile(docs, Seq("lang", "source"), "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    merged.foreach { r =>
      val e = exact((r.getString(0), r.getString(1)))
      r.getLong(2) shouldBe e.getLong(2) // n_docs exact
      r.getLong(5) shouldBe e.getLong(5) // total_tokens exact
      // Datasketches HLL at default lgK=12 on ≤200 distinct values is
      // in exact (list/set) mode — estimates equal the true counts
      r.getLong(3) shouldBe e.getLong(3)
      r.getLong(4) shouldBe e.getLong(4)
    }
  }

  test("lengthQuantiles: exact matches the sorted-array definition; approx twin") {
    import org.apache.spark.sql.functions.col
    val docs = spark.range(101).selectExpr(
      "id AS doc_id",
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang",
      // en metric values: lengths 1..51 once each — quantiles closed-form
      "repeat('x', CAST(1 + id / 2 AS INT)) AS text")
    val out = CorpusOps.lengthQuantiles(docs, Seq("lang"),
        org.apache.spark.sql.functions.length(col("text")), Seq(0.5, 0.9))
      .orderBy("lang").collect()
    out.map(_.getString(0)) shouldBe Array("de", "en")
    val en = out(1)
    en.getLong(1) shouldBe 51L
    // en holds 1..51 once each: R-7 interpolation gives exact ranks
    en.getDouble(2) shouldBe 26.0 // p50 of 1..51
    en.getDouble(3) shouldBe 46.0 // p90: 1 + 0.9*50
    // de holds 1..50 once each: p90 rank = 1 + 0.9*49 = 45.1
    out(0).getDouble(3) shouldBe 45.1 +- 1e-9

    // approx twin: same column shape; exact at fixture scale (the
    // sketch only approximates past its accuracy bound)
    val ap = CorpusOps.lengthQuantiles(docs, Seq("lang"),
        org.apache.spark.sql.functions.length(col("text")), Seq(0.5, 0.9), approx = true)
    ap.columns shouldBe Array("lang", "n_docs", "p50", "p90")
    val apEn = ap.orderBy("lang").collect()(1)
    // percentile_approx returns an OBSERVED value (no interpolation):
    // it must land within one step of the continuous quantile
    math.abs(apEn.getDouble(2) - 26.0) should be <= 1.0
    math.abs(apEn.getDouble(3) - 46.0) should be <= 1.0
  }

  test("prioritySample: exhausted population is exact, sampling is deterministic and weight-respecting") {
    val pop = (1L to 500L).map(i => (i, (i % 37 + 1) * 10))
      .toDF("doc_id", "w")
    // population <= n: the sample IS the population, est = w exactly
    val all = CorpusOps.prioritySample(pop.limit(30), "doc_id", col("w"), 100)
      .orderBy("doc_id").collect()
    all.length shouldBe 30
    all.foreach { r => r.getDouble(3) shouldBe r.getDouble(1) }

    // population > n: exactly n rows, est = max(w, tau) >= w,
    // identical across partitionings (the hash draw is deterministic)
    val s1 = CorpusOps.prioritySample(pop, "doc_id", col("w"), 50)
      .orderBy("doc_id").collect()
    val s2 = CorpusOps.prioritySample(pop.repartition(13), "doc_id",
      col("w"), 50).orderBy("doc_id").collect()
    s1.length shouldBe 50
    s1.map(_.toSeq) shouldBe s2.map(_.toSeq)
    s1.foreach { r => r.getDouble(3) should be >= r.getDouble(1) }
    // tau is shared: every est is either the row's own weight or tau
    val taus = s1.map(_.getDouble(3)).filter(e =>
      !s1.exists(r => r.getDouble(1) == e)).distinct
    taus.length should be <= 1

    // fractional weights sample AND report without truncation (the
    // long-cast would have floored 0.5 to 0 and broken unbiasedness)
    val frac = CorpusOps.prioritySample(
      pop.select(col("doc_id"), (col("w") / 4.0).as("w")),
      "doc_id", col("w"), 50).orderBy("doc_id").collect()
    frac.map(_.getLong(0)).toSeq shouldBe s1.map(_.getLong(0)).toSeq
    frac.foreach(r => (r.getDouble(1) * 4.0) should not be 0.0)

    // zero/negative/null weights fail loudly, never bias silently
    val bad = intercept[Exception] {
      CorpusOps.prioritySample(
        pop.select(col("doc_id"), (col("w") * 0).as("w")),
        "doc_id", col("w"), 5).collect()
    }
    Iterator.iterate[Throwable](bad)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n") should
      include("positive")
  }

  test("prioritySample est is an unbiased subset-sum estimator (aggregate check over many disjoint draws)") {
    // 40 disjoint populations sampled independently (distinct id
    // spaces -> independent hash draws); the MEAN of the 40 total-
    // weight estimates must land near the common true total even
    // though each single draw is noisy. This is the E[sum est] =
    // sum w contract that makes the sample usable for reporting.
    val n = 10
    val perPop = 200
    val trueTotal = (1 to perPop).map(i => (i % 23 + 1).toLong).sum
    val ests = (0 until 40).map { p =>
      val pop = (1 to perPop)
        .map(i => (p * 100000L + i, (i % 23 + 1).toLong))
        .toDF("doc_id", "w")
      CorpusOps.prioritySample(pop, "doc_id", col("w"), n)
        .agg(sum(col("est"))).head().getDouble(0)
    }
    val mean = ests.sum / ests.length
    math.abs(mean - trueTotal) / trueTotal should be < 0.15
  }

  test("prioritySampleByStratum: n per stratum, per-stratum tau, WindowGroupLimit before the exchange") {
    val pop = (1L to 600L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", (i % 41 + 1) * 10)).toDF("doc_id", "g", "w")
    val out = CorpusOps.prioritySampleByStratum(pop, "doc_id", "g",
      col("w"), n = 25)
    val rows = out.orderBy("doc_id").collect()
    rows.count(_.getString(1) == "a") shouldBe 25
    rows.count(_.getString(1) == "b") shouldBe 25
    // deterministic across partitionings
    val rows2 = CorpusOps.prioritySampleByStratum(pop.repartition(11),
      "doc_id", "g", col("w"), n = 25).orderBy("doc_id").collect()
    rows2.map(_.toSeq) shouldBe rows.map(_.toSeq)
    // each stratum shares ONE tau; est >= own weight
    rows.foreach { r => r.getDouble(4) should be >= r.getDouble(2) }
    // exhausted stratum: all of "c"'s 5 rows come back with est = w
    val tiny = pop.union(Seq((10001L, "c", 70L), (10002L, "c", 20L),
      (10003L, "c", 50L), (10004L, "c", 30L), (10005L, "c", 10L))
      .toDF("doc_id", "g", "w"))
    val cRows = CorpusOps.prioritySampleByStratum(tiny, "doc_id", "g",
      col("w"), n = 25).filter(col("g") === "c").orderBy("doc_id").collect()
    cRows.length shouldBe 5
    cRows.foreach { r => r.getDouble(4) shouldBe r.getDouble(2) }
    // the rank filter must reduce map-side: WindowGroupLimit in
    // Partial mode ahead of the exchange (the ivfAssign audit shape)
    val plan = out.queryExecution.executedPlan.toString
    plan should include regex "WindowGroupLimit.*Partial"
    plan should include regex "WindowGroupLimit.*Final"
  }

  test("decontaminateBloom ≡ decontaminate (the bloom is transparent to the result)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown fox went home early today"),
      (4L, "completely unrelated text with no overlap at all"),
      (5L, "xy")) // under k tokens -> zero shingles
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps high"))
      .toDF("doc_id", "text")
    val exact = CorpusOps.decontaminate(docs, bench, "doc_id", "text",
      k = 3, threshold = 0.2).orderBy("doc_id").collect()
    val bloom = CorpusOps.decontaminateBloom(docs, bench, "doc_id", "text",
      k = 3, threshold = 0.2).orderBy("doc_id").collect()
    bloom.map(_.toSeq) shouldBe exact.map(_.toSeq)
    // sanity: the fixture actually contaminates doc 1 and not doc 4
    bloom.find(_.getLong(0) == 1L).get.getBoolean(4) shouldBe true
    bloom.find(_.getLong(0) == 4L).get.getBoolean(4) shouldBe false
  }

  test("klDivergence: a NULL stratum keeps its own counts (null-safe join), matching the hand fold") {
    // en: "a a b", null: "a c" — cq: a:3 b:1 c:1 (V=3, tq=5);
    // ts: en:3, null:2. With a plain-equality join the null stratum's
    // per-term counts would all coalesce to 0 (KL as if empty of every
    // term); the null-safe join keeps cs(null,a)=1, cs(null,c)=1.
    val docs = Seq((1L, Option("en"), "a a b"),
        (2L, Option.empty[String], "a c"))
      .toDF("doc_id", "lang", "text")
    val out = CorpusOps.klDivergence(docs, "lang", "text", alpha = 0.5)
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def ref(cs: Map[String, Long], ts: Long): Double = {
      val cq = Map("a" -> 3L, "b" -> 1L, "c" -> 1L)
      cq.toSeq.sortBy(_._1).map { case (t, q0) =>
        val p = (cs.getOrElse(t, 0L) + 0.5) / (ts + 0.5 * 3)
        val q = (q0 + 0.5) / (5 + 0.5 * 3)
        // the engine's rounding: double→DECIMAL(25,10) via valueOf
        java.math.BigDecimal.valueOf(p * math.log(p / q))
          .setScale(10, java.math.RoundingMode.HALF_UP)
      }.reduce(_.add(_)).doubleValue()
    }
    out(Some("en")) shouldBe ((3L, 3L,
      ref(Map("a" -> 2L, "b" -> 1L), 3L)))
    out(None) shouldBe ((2L, 3L,
      ref(Map("a" -> 1L, "c" -> 1L), 2L)))
  }

  test("ngramDiversity: hand-counted bigrams; short docs contribute nothing") {
    val docs = Seq(
      (1L, "en", "a b a b"),   // bigrams: "a b","b a","a b"
      (2L, "en", "c d"),       // "c d"
      (3L, "en", "solo"),      // < 2 tokens — nothing
      (4L, "fr", "x x x"))     // "x x","x x"
      .toDF("doc_id", "lang", "text")
    val out = CorpusOps.ngramDiversity(docs, "lang", "text", n = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    out("en") shouldBe ((4L, 3L, 3.0 / 4.0, 2.0 / 4.0))
    out("fr") shouldBe ((2L, 1L, 1.0 / 2.0, 2.0 / 2.0))
    out.size shouldBe 2
  }

  test("zipfSlope ≡ the dyadic-snapped reference fold; single-term strata drop; partitioning-invariant") {
    val docs = Seq(
      (1L, "en", "a a a a a a a a b b b b c c d"), // a:8 b:4 c:2 d:1
      (2L, "fr", "q"))                             // one term — no slope
      .toDF("doc_id", "lang", "text")
    def snap(v: Double): Double =
      math.floor(math.log(v) * 16384d + 0.5d) / 16384d
    val pts = Seq((1L, 8L), (2L, 4L), (3L, 2L), (4L, 1L))
      .map { case (r, f) => (snap(r.toDouble), snap(f.toDouble)) }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expect = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    Seq(1, 7).foreach { parts =>
      val out = CorpusOps.zipfSlope(docs.repartition(parts), "lang",
          "text", topN = 64)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2)))).toMap
      out.keySet shouldBe Set("en")
      out("en")._1 shouldBe 4L
      out("en")._2 shouldBe expect // bit-identical — exact dyadic sums
    }
    // a halving geometric spectrum has slope ln(1/2)/mean-ish < 0;
    // sanity: strictly negative and near -1 for this fixture
    val slope = CorpusOps.zipfSlope(docs, "lang", "text")
      .head().getDouble(2)
    slope should be < 0.0
  }

  test("lengthQuantiles rejects out-of-range and colliding percentiles") {
    import org.apache.spark.sql.functions.col
    val docs = spark.range(5).selectExpr("id AS doc_id", "'en' AS lang")
    an[IllegalArgumentException] should be thrownBy
      CorpusOps.lengthQuantiles(docs, Seq("lang"), col("doc_id"), Seq(1.5))
    an[IllegalArgumentException] should be thrownBy
      CorpusOps.lengthQuantiles(docs, Seq("lang"), col("doc_id"),
        Seq(0.251, 0.252))
  }

  test("packSequences: two-phase prefix sum ≡ definitional cumsum, straddles, zero-token docs, null raise") {
    import org.apache.spark.sql.expressions.Window
    val docs = (1L to 500L)
      .map(i => (i, if (i % 40 == 0) 0L else (i * 7919) % 97 + 1))
      .toDF("doc_id", "tok")
    val out = CorpusOps.packSequences(docs, "doc_id", col("tok"),
        seqLen = 100L, nBuckets = 7)
      .orderBy("doc_id").collect()
    // the definitional single-window form
    val ref = docs.withColumn("tok_start",
        coalesce(sum(col("tok")).over(
          Window.orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .orderBy("doc_id").collect()
    out.map(_.getLong(2)).toSeq shouldBe ref.map(_.getLong(2)).toSeq
    // pack arithmetic: first/last from the offset, zero-token docs
    // span nothing, and the fixture genuinely straddles boundaries
    out.foreach { r =>
      val (tok, start, first, last) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      first shouldBe start / 100
      if (tok > 0) last shouldBe (start + tok - 1) / 100
      else last shouldBe first
    }
    out.exists(r => r.getLong(3) != r.getLong(4)) shouldBe true
    // a null token count raises in-plan
    an[Exception] should be thrownBy
      CorpusOps.packSequences(
        Seq((1L, Some(3L)), (2L, None)).toDF("doc_id", "tok"),
        "doc_id", col("tok"), seqLen = 10L).collect()
  }

  test("globalShuffle: a dense 0-based permutation, reproducible, re-seeded per epoch, bucket-count invariant") {
    val docs = (1L to 400L).toDF("doc_id")
    def posOf(seed: String, buckets: Int): Map[Long, Long] =
      CorpusOps.globalShuffle(docs, "doc_id", seed, buckets)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = posOf("ep1", 8)
    // a PERMUTATION: dense 0-based positions, each exactly once
    a.values.toSeq.sorted shouldBe (0L until 400L)
    // deterministic across runs AND across bucket counts (the phase
    // split must be invisible)
    posOf("ep1", 3) shouldBe a
    // a different seed is a different permutation (and visibly
    // shuffled, not the identity)
    val b = posOf("ep2", 8)
    b should not be a
    (1L to 400L).count(i => a(i) == i - 1) should be < 40
  }

  test("packSequencesBestFit: NFD over rank chunks ≡ reference fold, capacity never overflows, bucket-split deterministic, guards raise") {
    val cap = 100L
    val docs = (1L to 300L)
      .map(i => (i, (i * 37 % 97 + 1))) // lengths 1..97, none > cap
      .toDF("doc_id", "tok")
    def run(buckets: Int) =
      CorpusOps.packSequencesBestFit(docs, "doc_id", col("tok"),
          seqLen = cap, nBuckets = buckets)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
    val out = run(8)

    // reference: the same closed-form chunking + sequential NFD fold,
    // entirely in memory
    val lens = (1L to 300L).map(i => i -> (i * 37 % 97 + 1)).toMap
    val order = lens.toSeq.sortBy { case (id, l) => (-l, id) }
    val n = order.size
    var expected = Vector.empty[(Long, Long, Long, Long)]
    var packBase = 0L
    (0 until 8).foreach { c =>
      val chunk = order.zipWithIndex.filter { case (_, rk) =>
        (rk.toLong * 8L) / n == c }.map(_._1)
      var bin = 0L; var fill = 0L
      chunk.foreach { case (id, l) =>
        if (fill + l > cap && fill > 0) { bin += 1; fill = 0 }
        expected :+= ((id, l, packBase + bin, fill))
        fill += l
      }
      if (chunk.nonEmpty) packBase += bin + 1
    }
    out shouldBe expected.sortBy(_._1).toArray

    // invariants: every pack fits the capacity; offsets tile each
    // pack contiguously from 0
    val byPack = out.groupBy(_._3)
    byPack.values.foreach { ds =>
      ds.map(_._2).sum should be <= cap
      ds.sortBy(_._4).foldLeft(0L) { case (acc, (_, l, _, off)) =>
        off shouldBe acc; acc + l
      }
    }
    // pack ids are dense 0-based
    byPack.keySet shouldBe (0L until byPack.size.toLong).toSet
    // the bucket count changes the CHUNKING (a different contract
    // knob), but every bucketing is deterministic run to run
    run(8) shouldBe out
    // the padding story: NFD-packed bins waste less than one doc per
    // bin on average (the number SURVEY §8 records vs contiguous)
    val waste = byPack.size * cap - out.map(_._2).sum
    (waste.toDouble / byPack.size) should be < cap / 2.0

    // guards: oversized doc, null count, duplicate id all raise
    an[Exception] should be thrownBy CorpusOps.packSequencesBestFit(
      Seq((1L, 101L)).toDF("doc_id", "tok"), "doc_id", col("tok"),
      seqLen = cap).collect()
    an[Exception] should be thrownBy CorpusOps.packSequencesBestFit(
      Seq((1L, Some(5L)), (2L, None)).toDF("doc_id", "tok"),
      "doc_id", col("tok"), seqLen = cap).collect()
    an[Exception] should be thrownBy CorpusOps.packSequencesBestFit(
      Seq((1L, 5L), (1L, 7L)).toDF("doc_id", "tok"),
      "doc_id", col("tok"), seqLen = cap).collect()
  }

  test("curationReport: verdicts attribute to the FIRST failing stage; stages judge only prior survivors") {
    val good = (1 to 100).map(i => s"tok$i").mkString(" ")
    val near = (1 to 99).map(i => s"tok$i").mkString(" ") + " tokX"
    val junk = Seq.fill(30)("a").mkString(" ") // distinct ratio 1/30
    val evalTxt = (200 to 280).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, good), (2L, good), // exact pair: min id survives
      (3L, near),             // near-dup of 1 (band-sharing)
      (4L, junk), (5L, junk), // junk exact pair: BOTH fail quality
      (6L, evalTxt)           // verbatim eval leak
    ).toDF("doc_id", "text")
    val eval = Seq((100L, evalTxt)).toDF("doc_id", "text")
    val r = CorpusOps.curationReport(docs, eval, "doc_id", "text",
        minTokens = 5L, maxTokens = 200L, minDistinctRatio = 0.5)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getString(2))))
      .toMap
    r(1L)._2 shouldBe "kept"
    r(2L)._2 shouldBe "exact_dup" // the non-min duplicate
    r(3L)._2 shouldBe "near_dup"  // LSH cluster rep is doc 1
    // SEQUENCING: the junk pair is exact-duplicated too, but quality
    // judged first — neither reaches the dedup stages
    r(4L)._2 shouldBe "quality"
    r(5L)._2 shouldBe "quality"
    r(6L)._2 shouldBe "contaminated"
    r(1L)._1 shouldBe 100L // n_tokens rides the report
  }

  // ------------------------------------------------------------------
  // r18: pack/shuffle-family driver-local fast paths must be
  // BIT-identical to the pinned two-phase distributed machinery
  // (forced via graft.localMax=0).
  // ------------------------------------------------------------------

  test("pack/shuffle local fast paths are bit-identical to distributed") {
    val docs = (1L to 700L)
      .map(i => (i, if (i % 40 == 0) 0L else (i * 7919) % 97 + 1))
      .toDF("doc_id", "tok")
    def dump(df: org.apache.spark.sql.DataFrame): (Seq[String], List[Seq[Any]]) =
      (df.schema.map(f => f.name + ":" + f.dataType.catalogString),
        df.collect().map(_.toSeq).toList.sortBy(_.mkString("|")))

    val seqL = CorpusOps.packSequences(docs, "doc_id", col("tok"), 100L)
    val seqD = forcedDistributed(
      CorpusOps.packSequences(docs, "doc_id", col("tok"), 100L, 7))
    dump(seqL) shouldBe dump(seqD)

    // bestFit's layout DEPENDS on nBuckets (the chunking knob), so
    // local and distributed compare at the same knob — twice
    for (buckets <- Seq(5, 32)) {
      val bfL = CorpusOps.packSequencesBestFit(
        docs, "doc_id", col("tok"), 100L, buckets)
      val bfD = forcedDistributed(CorpusOps.packSequencesBestFit(
        docs, "doc_id", col("tok"), 100L, buckets))
      withClue(s"buckets=$buckets: ") { dump(bfL) shouldBe dump(bfD) }
    }

    val shL = CorpusOps.globalShuffle(docs, "doc_id", "ep1")
    val shD = forcedDistributed(
      CorpusOps.globalShuffle(docs, "doc_id", "ep1", 3))
    dump(shL) shouldBe dump(shD)

    val tbL = CorpusOps.packByTokenBudget(docs, "doc_id", col("tok"), 500L)
    val tbD = forcedDistributed(
      CorpusOps.packByTokenBudget(docs, "doc_id", col("tok"), 500L))
    dump(tbL) shouldBe dump(tbD)

    // an INT id keeps its type through the local pack paths exactly
    // as the distributed plan keeps it
    val intDocs = (1 to 50).map(i => (i, (i * 13 % 29 + 1).toLong))
      .toDF("doc_id", "tok")
    val iL = CorpusOps.packSequences(intDocs, "doc_id", col("tok"), 40L)
    val iD = forcedDistributed(
      CorpusOps.packSequences(intDocs, "doc_id", col("tok"), 40L))
    dump(iL) shouldBe dump(iD)
  }
}
