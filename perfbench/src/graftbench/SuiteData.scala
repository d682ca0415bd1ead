package graftbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The `suite` workload's tables: the TPC-H-style star schema plus the
  * events, documents and embeddings tables every graft query reads,
  * with the column names, types and value domains of the engine's
  * sf0.001 test inputs. Generated once per build from a fixed seed, so
  * row counts per query are stable and listed in `expected/suite.json`;
  * the workload seed only orders the queries.
  */
object SuiteData {
  val DataSeed = 42L

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val langs = Seq("de", "en", "es", "fr", "zh")
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  def write(spark: SparkSession, dir: String): Unit = {
    val r = new java.util.Random(DataSeed)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.length))
    def money(lo: Double, hi: Double): Double =
      math.rint((lo + r.nextDouble() * (hi - lo)) * 100) / 100
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })

    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99), pick(segments))))

    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99))))

    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until 200).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(partTypes), 1 + r.nextInt(50), 900.0 + i / 10.0)))

    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until 1500).map(i => Row(i.toLong, r.nextInt(150).toLong, pick(Seq("F", "O", "P")),
        money(1000, 500000), day0.plusDays(r.nextInt(2404)), pick(priorities))))

    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until 6000).map { _ =>
        val q = 1 + r.nextInt(50)
        Row(r.nextInt(1500).toLong, r.nextInt(200).toLong, r.nextInt(10).toLong,
          1 + r.nextInt(7), q.toDouble, math.rint(q * (900 + r.nextDouble() * 1200) * 100) / 100,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(Seq("A", "N", "R")),
          pick(Seq("F", "O")), day0.plusDays(1 + r.nextInt(2498)))
      })

    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until 1000).map(i => Row(i.toLong,
        t0.plusNanos((r.nextDouble() * 30 * 86400e9).toLong / 1000 * 1000),
        r.nextInt(15).toLong, pick(eventTypes), money(0.01, 330), s"""{"k": ${r.nextInt(100)}}""")))

    // near-duplicate documents (an earlier text with a few words swapped)
    // give the dedup and similarity queries real candidate pairs
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      val words =
        if (i > 10 && r.nextInt(10) == 0) {
          val base = texts(r.nextInt(texts.length)).trim.split(" ")
          base.indices.map(j => if (r.nextInt(12) == 0) pick(vocab) else base(j))
        } else Seq.fill(10 + r.nextInt(81))(pick(vocab))
      texts += words.mkString("", " ", " ")
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, pick(langs), s"src${r.nextInt(20)}", t.length.toLong)
      }.toSeq)

    // unit vectors around ten label centres
    val centres = Array.fill(10, 64)(r.nextGaussian())
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(d => centres(label)(d) + 1.5 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
