package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Table loaders + numeric-determinism helpers shared by all queries.
  *
  * The driver compares query results value-by-value against a DuckDB
  * oracle, so every floating aggregate must be order-independent:
  * money columns (2-decimal doubles) are cast to DECIMAL(18,2) before
  * SUM (exact, associative), then the final result is cast back to
  * DOUBLE (one deterministic IEEE conversion in both engines).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose per-row expression work (interpreted higher-order
    * functions over token/embedding arrays) dwarfs their scan cost on
    * EVERY query — worth a repartition when the scan is under-split.
    * events is deliberately NOT here: its cheap aggregation queries
    * lose more to the exchange than they gain (measured 0.6 s -> 2.7+ s
    * on q33/q34); the one compute-heavy consumer (JSON extraction)
    * asks for [[loadWidened]] explicitly.
    */
  private val computeHeavy = Set("documents", "embeddings")

  /** Per-(session, dir, table) memo of the ANALYZED frame — catalog
    * behavior, not result caching: a table registered in a metastore
    * resolves to one cached relation (schema + file index) however
    * many queries reference it, and every execution still scans the
    * parquet files. Without it each of the ~600 load calls across a
    * bench run re-lists the directory, re-reads a footer for schema
    * inference, and (compute-heavy tables) builds a physical RDD just
    * to count scan partitions — pure driver latency multiplied by
    * query count. Inputs are immutable per run; GRAFT_NO_MEMO opts
    * out (the StageMemo knob).
    */
  private val loadMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()
  // Bounded the way SnapshotStore's schema memo is: keys hold their
  // SparkSession strongly, so a long-lived driver cycling sessions or
  // table dirs would otherwise keep every analyzed frame forever. A
  // memo may always forget — at the cap the whole map drops and the
  // next loads re-resolve once; a bench or verify run holds tens of
  // keys.
  private val LoadMemoMax = 4096

  private def memo(spark: SparkSession, dir: String, key: String)(
      mk: => DataFrame): DataFrame =
    if (Harness.knob("GRAFT_NO_MEMO").isDefined) mk
    else {
      if (loadMemo.size >= LoadMemoMax) loadMemo.clear()
      loadMemo.computeIfAbsent((spark, dir, key), _ => mk)
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, dir, name) {
      val df =
        if (name == "events") loadEvents(spark, dir)
        else spark.read.parquet(s"$dir/$name.parquet")
      if (computeHeavy(name)) widen(spark, df) else df
    }

  /** Load with an unconditional under-split check — for queries whose
    * per-row expression cost dominates (e.g. JSON path extraction over
    * events, which is single-row-group parquet locally and would
    * otherwise run on one core).
    */
  def loadWidened(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, dir, s"$name#widened")(widen(spark, load(spark, dir, name)))

  /** Benchmark inputs are single small parquet files, which Spark scans
    * as one partition — serializing every expensive per-row expression
    * onto one core. Repartition only compute-heavy tables, and only
    * when the scan has materially fewer partitions than the session's
    * parallelism; a real 100 TB source arrives in thousands of splits
    * and takes the no-shuffle branch. Relational tables keep their
    * natural partitioning — for them the round-robin exchange costs
    * more than it buys (and would sit uselessly under the broadcast
    * exchanges of dimension joins).
    */
  private def widen(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }

  /** Normalize the `events.ts` column to TimestampType regardless of
    * the parquet physical shape the generator used. Three shapes exist
    * in the wild:
    *   - TIMESTAMP(NANOS): Spark 4 has no native type — read nanos as
    *     long (legacy conf, set in [[loadEvents]]) and convert with
    *     integer division (`div`, not `/` — ns epoch values exceed
    *     double's 2^53 exact-integer range);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as
    *     TIMESTAMP_NTZ — cast to TimestampType (value-preserving under
    *     the session's UTC timezone, which Verify/Bench both set);
    *   - TIMESTAMP(MICROS, UTC): already TimestampType — passthrough.
    * Shared by the batch loader and the streaming file-source twin so
    * both paths agree on every shape.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Magnitude-dispatched epoch decode: raw int64 carries no unit,
        // and the generator has already switched units once (r10 shipped
        // micros after rounds of nanos). Epoch seconds for 1973-2128 are
        // ~1e8..5e9, so the unit bands are 5 decades apart and a
        // per-row CASE (codegen'd, no extra read) decodes each value by
        // its own magnitude instead of trusting a remembered shape:
        //   |ts| >= 1e16 -> nanos; >= 1e13 -> micros; >= 1e10 -> millis;
        //   else -> seconds.
        df.withColumn("ts", expr(
          """CASE WHEN abs(ts) >= 10000000000000000 THEN timestamp_micros(ts div 1000)
            |     WHEN abs(ts) >= 10000000000000 THEN timestamp_micros(ts)
            |     WHEN abs(ts) >= 10000000000 THEN timestamp_millis(ts)
            |     ELSE timestamp_seconds(ts) END""".stripMargin))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
  }
}

object Num {
  /** Exact 2-decimal money representation (source data is 2-decimal). */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Order-independent SUM over a money column, emitted as DOUBLE. */
  def sumMoney(c: Column): Column = sum(money(c)).cast(DoubleType)

  /** Exact revenue term: price * (1 - discount), all in decimal. */
  def discounted(price: Column, disc: Column): Column =
    money(price) * (lit(1).cast(DecimalType(18, 2)) - money(disc))

  def sumDiscounted(price: Column, disc: Column): Column =
    sum(discounted(price, disc)).cast(DoubleType)

  def asLong(c: Column): Column = c.cast(LongType)
}
