package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.expr.Uuid5
import graft.ops.{CurationOps, DedupOps, ReshapeOps, TextOps}

/** Algebraic properties (SURVEY §5 test plan item 3). Spark-bound
  * properties run few cases (each case is a Spark job); pure
  * driver-side ones keep ScalaCheck's defaults.
  */
abstract class SparkProperties(name: String) extends Properties(name) {
  lazy val spark = TestSpark.spark
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)
}

object Uuid5Props extends Properties("uuid5") {
  val name_ = Gen.alphaNumStr.suchThat(_.nonEmpty)

  property("deterministic") = forAll(name_) { n =>
    Uuid5.uuid5(Uuid5.ccdiNamespace, n) == Uuid5.uuid5(Uuid5.ccdiNamespace, n)
  }
  property("rfc4122 v5 shape") = forAll(name_) { n =>
    val u = Uuid5.uuid5(Uuid5.ccdiNamespace, n)
    u.length == 36 && u(14) == '5' && "89ab".contains(u(19))
  }
  property("distinct names collide never (sampled)") =
    forAll(name_, name_) { (a, b) =>
      (a == b) == (Uuid5.uuid5(Uuid5.ccdiNamespace, a) ==
        Uuid5.uuid5(Uuid5.ccdiNamespace, b))
    }
}

object CellProps extends SparkProperties("array-cells") {
  import spark.implicits._

  val cell: Gen[String] = Gen.listOfN(5,
    Gen.oneOf("a", "B", "b", "Ab", "zz", "Q")).map(_.mkString(";"))

  private def one(expr: org.apache.spark.sql.Column, v: String): String =
    Seq(v).toDF("v").select(expr).head().getString(0)

  property("sortArrayCell is idempotent") = forAll(cell) { c =>
    val once = one(CurationOps.sortArrayCell(col("v")), c)
    one(CurationOps.sortArrayCell(col("v")), once) == once
  }
  property("dedupArrayCell is idempotent and preserves the element set") =
    forAll(cell) { c =>
      val once = one(CurationOps.dedupArrayCell(col("v")), c)
      val twice = one(CurationOps.dedupArrayCell(col("v")), once)
      twice == once &&
        once.split(";").toSet == c.split(";").toSet
    }
  property("url encode/decode round-trips") =
    forAll(Gen.listOfN(8, Gen.oneOf("x", " ", ",", "#", "/")).map(_.mkString)) { s =>
      one(CurationOps.urlDecodeCell(CurationOps.urlEncodeCell(col("v"))), s) == s
    }
}

object TextProps extends SparkProperties("text") {
  import spark.implicits._

  val doc: Gen[String] = Gen.chooseNum(0, 12).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("cat", "dog", "the", "runs", "fast")))
    .map(_.mkString(" "))

  property("shingle count = max(0, tokens - k + 1) for nonempty docs") =
    forAll(doc.suchThat(_.nonEmpty)) { d =>
      val df = Seq(d).toDF("text")
      val nTok = df.select(size(TextOps.tokens(col("text")))).head().getInt(0)
      val nSh = df.select(size(TextOps.shingles(col("text"), 3))).head().getInt(0)
      nSh == math.max(0, nTok - 2)
    }

  property("fingerprint invariant under leading/trailing space and case") =
    forAll(doc.suchThat(_.nonEmpty)) { d =>
      val df = Seq((d, "  " + d.toUpperCase + " ")).toDF("a", "b")
      df.select(TextOps.fingerprint(col("a")) === TextOps.fingerprint(col("b")))
        .head().getBoolean(0)
    }

  property("exactDedup partitions the corpus: sum(n_copies) = row count") =
    forAll(Gen.listOfN(6, doc)) { docs =>
      docs.nonEmpty ==> Prop {
        val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val out = DedupOps.exactDedup(df, "doc_id", "text")
        out.agg(sum("n_copies")).head().getLong(0) == docs.length
      }
    }
}

object CurationProps extends SparkProperties("curation") {
  import spark.implicits._
  import graft.ops.CurationOps
  import org.apache.spark.sql.functions.col

  val urls: Gen[List[(String, Option[String])]] = Gen.listOfN(8,
    Gen.zip(Gen.oneOf("u1", "u2", "u3", "u4"),
      Gen.option(Gen.const("dg.4DFC/existing"))))

  property("mintGuids: no nulls out, existing ids kept, same key => same id") =
    forAll(urls) { rows =>
      rows.nonEmpty ==> Prop {
        val df = rows.map { case (u, g) => (u, g.orNull) }.toDF("url", "guid")
        val out = CurationOps.mintGuids(df, Seq("url"), "guid").collect()
        val byUrl = out.groupBy(_.getString(0))
        // keys are all non-null here, so every null guid must get minted
        val noNulls = out.forall(_.getString(1) != null)
        // rows that arrived with a guid keep it verbatim
        val existingKept =
          out.count(_.getString(1) == "dg.4DFC/existing") == rows.count(_._2.isDefined)
        // a url with BOTH null and non-null guids keeps mixed values — minted
        // rows of the same url share one id, so ≤2 distinct ids per url
        val mintedShared =
          byUrl.values.forall(rs => rs.map(_.getString(1)).distinct.length <= 2)
        noNulls && existingKept && mintedShared
      }
    }

  property("fuzzyEnumFix output is canonical-or-original, never null for non-null input") =
    forAll(Gen.listOfN(8, Gen.oneOf("tumor", "TUMOR", "Normal", "weird", "other"))) { vs =>
      vs.nonEmpty ==> Prop {
        val df = vs.toDF("v")
        val terms = Seq("Tumor", "Normal").toDF("term")
        val out = CurationOps.fuzzyEnumFix(df, "v", terms)
          .as[String].collect()
        out.forall(v => v == "Tumor" || v == "Normal" || v == "weird" || v == "other")
      }
    }
}

object CollapseProps extends SparkProperties("collapse") {
  import spark.implicits._
  import graft.expr.Collapse
  import org.apache.spark.sql.functions.col

  val values: Gen[List[String]] = Gen.listOfN(12,
    Gen.oneOf("a", "b", "c", "d", "e"))

  property("sorted collapse is partitioning-invariant (merge path)") =
    forAll(values, Gen.chooseNum(1, 6)) { (vs, parts) =>
      vs.nonEmpty ==> Prop {
        val single = vs.map(("g", _)).toDF("k", "v").coalesce(1)
          .groupBy("k").agg(Collapse.sorted(col("v"))).head().getString(1)
        val multi = vs.map(("g", _)).toDF("k", "v").repartition(parts)
          .groupBy("k").agg(Collapse.sorted(col("v"))).head().getString(1)
        single == multi
      }
    }

  property("collapse output contains exactly the distinct input values") =
    forAll(values) { vs =>
      vs.nonEmpty ==> Prop {
        val out = vs.map(("g", _)).toDF("k", "v")
          .groupBy("k").agg(Collapse.sorted(col("v"))).head().getString(1)
        out.split(";").toSet == vs.toSet
      }
    }
}

object JoinProps extends SparkProperties("joins") {
  import spark.implicits._
  import graft.ops.{JoinOps, SkewOps}
  import org.apache.spark.sql.functions.col

  val facts: Gen[List[(String, Int)]] = Gen.listOfN(10,
    Gen.zip(Gen.oneOf("a", "b", "c", "hot"), Gen.chooseNum(0, 99)))
  val dims: Gen[List[(String, String)]] =
    Gen.someOf(List("a" -> "A", "b" -> "B", "c" -> "C", "hot" -> "H"))
      .map(_.toList)

  property("saltedJoin ≡ plain join on random data") =
    forAll(facts, dims, Gen.chooseNum(1, 6)) { (fs, ds, salt) =>
      (fs.nonEmpty && ds.nonEmpty) ==> Prop {
        val f = fs.toDF("k", "v")
        val d = ds.toDF("k", "label")
        val salted = SkewOps.saltedJoin(f, d, "k", salt)
          .select("k", "v", "label").collect().map(_.toSeq).sortBy(_.mkString)
        val plain = f.join(d, Seq("k"), "inner")
          .select("k", "v", "label").collect().map(_.toSeq).sortBy(_.mkString)
        salted.sameElements(plain)
      }
    }

  property("leftJoinCoalesce preserves parent row count for unique child keys") =
    forAll(facts) { fs =>
      fs.nonEmpty ==> Prop {
        val parent = fs.zipWithIndex.map { case ((k, v), i) => (s"p$i", k, v) }
          .toDF("pk", "k", "v")
        val child = fs.map(_._1).distinct.map(k => (k, k.toUpperCase))
          .toDF("pk", "extra") // overlaps "pk" to exercise the coalesce policy
          .withColumnRenamed("pk", "k")
        val out = JoinOps.leftJoinCoalesce(parent, child, Seq("k"))
        out.count() == parent.count()
      }
    }
}

object GraphProps extends SparkProperties("graph") {
  import spark.implicits._
  import graft.ops.GraphOps

  /** Random forest: node i's parent is some j < i, or none (root). */
  val forest: Gen[List[(String, Option[String])]] =
    Gen.chooseNum(1, 12).flatMap { n =>
      Gen.sequence[List[Option[Int]], Option[Int]](
        (0 until n).toList.map { i =>
          if (i == 0) Gen.const(None)
          else Gen.option(Gen.chooseNum(0, i - 1))
        })
        .map(_.zipWithIndex.map { case (p, i) => (s"n$i", p.map(j => s"n$j")) })
    }

  property("resolveChain matches driver-side root/depth on random forests") =
    forAll(forest) { edges =>
      val parent = edges.toMap
      def walk(k: String): (String, Int) = parent(k) match {
        case None => (k, 0)
        case Some(p) => val (r, d) = walk(p); (r, d + 1)
      }
      val expected = edges.map { case (k, _) => (k, walk(k)._1, walk(k)._2) }.toSet
      val df = edges.map { case (k, p) => (k, p.orNull) }.toDF("key", "parent")
      val got = GraphOps.resolveChain(df)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      got == expected
    }
}

object ReshapeProps extends SparkProperties("reshape") {
  import spark.implicits._
  import graft.ops.ReshapeOps
  import org.apache.spark.sql.functions.col

  property("spreadWide emits one row per key; values beyond n are dropped") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.oneOf("k1", "k2", "k3"), Gen.chooseNum(0, 9)))) { rs =>
      rs.nonEmpty ==> Prop {
        val df = rs.zipWithIndex.map { case ((k, v), i) => (k, i, v.toString) }
          .toDF("k", "ord", "v")
        val out = ReshapeOps.spreadWide(df, "k", Seq(col("ord").asc), Seq("v"), 2)
        out.count() == rs.map(_._1).distinct.length &&
          out.columns.toSeq == Seq("k", "v_1", "v_2")
      }
    }

  val rows: Gen[List[(Int, Double, Double)]] =
    Gen.listOfN(5, Gen.zip(Gen.chooseNum(0, 3),
      Gen.chooseNum(0.0, 9.0), Gen.chooseNum(0.0, 9.0))).map(
      _.zipWithIndex.map { case ((_, a, b), i) => (i, a, b) })

  property("unpivot emits metrics x ids rows; pivot recovers values") =
    forAll(rows) { rs =>
      rs.nonEmpty ==> Prop {
        val df = rs.toDF("id", "m1", "m2")
        val long = ReshapeOps.unpivotExplode(df, Seq("id"),
          Seq("m1" -> col("m1"), "m2" -> col("m2")))
        val wide = ReshapeOps.pivotLongWide(
          long.withColumn("value", col("value").cast("string")),
          "id", "metric", "value", Seq("m1", "m2"))
        long.count() == 2L * rs.length &&
          wide.collect().forall { r =>
            val orig = rs(r.getInt(0))
            r.getString(1).toDouble == orig._2 && r.getString(2).toDouble == orig._3
          }
      }
    }
}

object WavProps extends Properties("wav-pcm16") {
  import graft.ops.MultimodalOps

  // zero-frame clips included: a header-only WAV must round-trip too
  val clip: Gen[(Long, Int)] = for {
    id <- Gen.chooseNum(0L, 100000L)
    n <- Gen.chooseNum(0, 2000)
  } yield (id, n)

  property("hand-rolled canonical encode is byte-identical to AudioSystem.write") =
    forAll(clip) { case (id, n) =>
      java.util.Arrays.equals(
        MultimodalOps.synthWavPcm16(id, n),
        MultimodalOps.synthWavPcm16ViaSound(id, n))
    }
}

object KfUrlProps extends SparkProperties("kf-url") {
  import spark.implicits._
  import graft.ops.TransferOps

  // the shapes kids-first-main.py:106-142 can receive: empty, wrong
  // scheme, bucket-only, empty bucket/key, and well-formed s3 urls
  val url: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.alphaNumStr.map("http://" + _),
    Gen.oneOf("s3://", "s3:///", "s3://bkt", "s3://bkt/", "s3:///k"),
    for {
      b <- Gen.oneOf("bkt", "data-b", "x")
      k <- Gen.oneOf("k", "a/b.txt", "deep/er/key")
    } yield s"s3://$b/$k")

  property("classified exactly once; valid rows reassemble to the input") =
    forAll(url) { u =>
      val r = TransferOps.kfParseUrl(Seq(u).toDF("urls"), "urls")
        .select("valid_url", "invalid_url_reason", "chop_bucket", "chop_key")
        .head()
      val valid = r.getBoolean(0)
      (valid == (r.getString(1) == null)) &&
        (valid == (r.getString(2) != null)) &&
        (!valid || s"s3://${r.getString(2)}/${r.getString(3)}" == u)
    }

  property("fixedFolderDest keeps the full key under the dest folder") =
    forAll(Gen.oneOf("bkt", "b2"), Gen.oneOf("k", "a/b", "deep/x.txt"),
      Gen.oneOf("s3://dst/moved", "dst/moved")) { (b, k, dest) =>
      val row = TransferOps.fixedFolderDest(
        Seq(s"s3://$b/$k").toDF("original_uri"), "original_uri", dest)
        .select("dest_uri", "copy_source", "dest_key").head()
      row.getString(0) == s"s3://dst/moved/$k" &&
        row.getString(1) == s"$b/$k" &&
        row.getString(2) == s"moved/$k"
    }
}

object CorpusProps extends SparkProperties("corpus") {
  import spark.implicits._
  import graft.ops.CorpusOps

  private val weights: Gen[List[Long]] =
    Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0L, 50L)))

  property("packByTokenBudget = the sequential prefix sum, any partitioning") =
    forAll(weights, Gen.chooseNum(1L, 100L), Gen.chooseNum(1, 9)) {
      (ws, budget, parts) =>
        val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
          .toDF("id", "w").repartition(parts)
        val got = CorpusOps.packByTokenBudget(df, "id", col("w"), budget)
          .orderBy("id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val want = ws.zipWithIndex.scanLeft((0L, 0L, 0L, 0L)) {
          case ((_, _, s, _), (w, i)) =>
            (i.toLong, w, s + w, 0L)
        }.tail.map { case (i, w, end, _) =>
          (i, w, end - w, (end - w) / budget)
        }
        got.toSeq == want
    }

  private val text: Gen[String] = Gen.chooseNum(0, 10).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("a", "bb", "a a", "", " ", "x y"))).map(_.mkString(" "))

  property("native repetition counters = composable HOF form") =
    forAll(text, Gen.chooseNum(1, 4)) { (t, k) =>
      val df = Seq((1L, t)).toDF("id", "text")
      sortedRowsEq(
        CorpusOps.repetitionStats(df, "id", "text", k),
        CorpusOps.repetitionStatsComposable(df, "id", "text", k))
    }

  private def sortedRowsEq(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean = {
    val ra = a.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val rb = b.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    ra == rb
  }

  property("lengthQuantiles exact = sorted-array R-7 interpolation") =
    forAll(
      Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0L, 500L))),
      Gen.chooseNum(1, 99)) { (ms, pct) =>
      val p = pct / 100.0
      val df = ms.zipWithIndex.map { case (m, i) => (i.toLong, "s", m) }
        .toDF("id", "strata", "m")
      val got = CorpusOps.lengthQuantiles(df, Seq("strata"), col("m"), Seq(p))
        .collect().head
      val sorted = ms.sorted
      val rank = p * (sorted.size - 1)
      val lo = sorted(rank.toInt)
      val hi = sorted(math.ceil(rank).toInt)
      val want = lo + (rank - rank.toInt) * (hi - lo)
      got.getLong(1) == ms.size.toLong &&
        math.abs(got.getDouble(2) - want) <= 1e-9 * math.max(1.0, want)
    }

  property("hashStratifiedSample is monotone in the threshold") =
    forAll(Gen.chooseNum(0, 255), Gen.chooseNum(0, 255)) { (t1, t2) =>
      val lo = f"${math.min(t1, t2)}%02x"
      val hi = f"${math.max(t1, t2)}%02x"
      val df = (0L until 60L).map(i => (i, "s")).toDF("id", "strata")
      val small = CorpusOps.hashStratifiedSample(df, "id", "strata",
        Map("s" -> lo), "00").select("id").as[Long].collect().toSet
      val big = CorpusOps.hashStratifiedSample(df, "id", "strata",
        Map("s" -> hi), "00").select("id").as[Long].collect().toSet
      small.subsetOf(big)
    }
}

object PartitionPathProps extends Properties("partition-paths") {
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  // values spanning the characters hive MUST escape ('/', '=', '%',
  // ':', '#', '*', '\\', '[', '{', space) — the separators ';'/','
  // are excluded because writeDataSegment refuses them loudly
  val value: Gen[String] = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumChar,
      Gen.oneOf(':', '/', '=', '%', ' ', '#', '*', '\\', '[', '{')))
    .map(_.mkString)

  property("hive-escaped values round-trip through segPartValues") =
    forAll(value) { raw =>
      val esc = ExternalCatalogUtils.escapePathName(raw)
      graft.io.SnapshotStore.segPartValues(
        s"seg/s000001_x/__p_k=$esc") == Map("k" -> raw)
    }

  property("multi-column leaf paths parse each component; z-roots drop /data") =
    forAll(value, value) { (a, b) =>
      val ea = ExternalCatalogUtils.escapePathName(a)
      val eb = ExternalCatalogUtils.escapePathName(b)
      graft.io.SnapshotStore.segPartValues(
        s"seg/c000002_x/__p_a=$ea/__p_b=$eb/data") ==
        Map("a" -> a, "b" -> b)
    }
}

object SigV4Props extends Properties("sigv4-transport") {
  import graft.io.{S3Http, SigV4}

  // full unicode incl. surrogate pairs — the encoders work per UTF-8
  // byte, so astral chars are the interesting cases
  private val uni: Gen[String] = Gen.listOfN(12, Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(" ", "/", "+", "=", "&", "%", "~", "é", "日", "😀"),
    1 -> Gen.oneOf("<", ">", "\"", "'", "&amp;"))).map(_.mkString)

  property("uriEncode round-trips through percent-decoding") =
    forAll(uni) { s =>
      java.net.URLDecoder.decode(
        SigV4.uriEncode(s, encodeSlash = true), "UTF-8") == s
    }
  property("uriEncode output stays in the SigV4 alphabet") =
    forAll(uni) { s =>
      SigV4.uriEncode(s, encodeSlash = true)
        .matches("([A-Za-z0-9\\-._~]|%[0-9A-F]{2})*")
    }
  property("canonicalQuery is idempotent") =
    forAll(Gen.listOf(Gen.zip(uni, uni)).map(_.map { case (k, v) =>
      SigV4.uriEncode(k, encodeSlash = true) + "=" +
        SigV4.uriEncode(v, encodeSlash = true)
    }.mkString("&"))) { q =>
      val once = SigV4.canonicalQuery(q)
      SigV4.canonicalQuery(once) == once
    }
  property("xmlEscape/xmlUnescape round-trip") =
    forAll(uni) { s => S3Http.xmlUnescape(S3Http.xmlEscape(s)) == s }
}

object MultipartRangeProps extends Properties("multipart-ranges") {
  import graft.io.MultipartCopy.{numParts, partRange}

  private[graft] val sizes = Gen.oneOf(
    Gen.chooseNum(1L, 50L),                    // tiny objects
    Gen.chooseNum(1L, 1000L).map(_ * 100L),    // exact-multiple region
    Gen.chooseNum(1L, 5L * 1024 * 1024 * 1024) // up to the 5 GiB threshold
  )
  private[graft] val parts = Gen.chooseNum(1L, 512L).map(_ * 17L) // odd part sizes

  property("part ranges tile [0, size-1] with no gaps or overlaps") =
    forAll(sizes, parts) { (size, partSize) =>
      val n = numParts(size, partSize)
      // one lazy pass carrying the previous end (up to ~3e8 parts at
      // 5 GiB / 17 B — never materialized); starting it at -1 makes the
      // first range start at 0
      var prevEnd = -1L
      (1L to n).iterator.map(partRange(_, size, partSize)).forall { case (s, e) =>
        val ok = s == prevEnd + 1 &&
          e >= s // reference's inverted-range bug can't appear
        prevEnd = e
        ok
      } && prevEnd == size - 1
    }

  property("exact multiples get size/part parts, not one more") =
    forAll(Gen.chooseNum(1L, 10000L), Gen.chooseNum(1L, 500L)) { (k, p) =>
      numParts(k * p, p) == k
    }
}

object MultipartSqlProps extends SparkProperties("multipart-sql") {
  import graft.io.MultipartCopy.{numParts, numPartsColumn}
  import MultipartRangeProps.{sizes, parts}

  property("the plan-side part-count column agrees with the Scala part count") = {
    import spark.implicits._
    forAll(sizes, parts) { (size, partSize) =>
      // the PRODUCTION expression, not a re-derivation — drift between
      // the plan column and the Scala range math fails here
      val sqlN = Seq(size).toDF("__size")
        .select(numPartsColumn(partSize).cast("long"))
        .head().getLong(0)
      sqlN == numParts(size, partSize)
    }
  }
}
