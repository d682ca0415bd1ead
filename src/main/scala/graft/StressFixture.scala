package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Builds an N× scale-stress fixture from an sf dir (dev tool, not part
  * of the driver contract): documents, embeddings, and (r12) the
  * relational/events tables are replicated `factor`× with shifted ids;
  * nation/region (25/5-row lookup domains every query's arithmetic
  * keys into) are byte-copied.
  *
  * Relational replication shifts EVERY key of a replica by that
  * table's stride — including foreign keys, by the SAME stride as the
  * table they reference — so each replica is a self-consistent copy of
  * the original's referential structure (orders' o_custkey points at
  * its replica's customers, lineitem at its replica's orders/parts/
  * suppliers) and joins scale N× without manufacturing cross-replica
  * edges. Queries that synthesize frames by `k % m` arithmetic keep
  * their FIXED m-sized domains, so at N× those groups get N× deeper
  * rather than wider — which is the realistic growth mode for the
  * reference (a study accretes files per participant), and exactly the
  * skew regime a scale test should exercise. Events replicate with
  * shifted event/user ids and UNCHANGED timestamps: same time range,
  * N× the rows per window.
  *
  * Replication deliberately does NOT produce identical copies — an
  * identical-text copy makes every original doc an N-clique of exact
  * near-dups, so candidate-pair count grows O(N²) BY CONSTRUCTION and
  * the stress measures the fixture, not the operator. Instead each
  * replica preserves the corpus's internal structure while staying
  * unrelated to other replicas, so true dup-rate (pairs per doc) stays
  * constant and scaling is the operator's own:
  *  - text: replica r != 0 prefixes every token with `r<r>_` — shingle
  *    sets within a replica keep their original overlap structure
  *    (near-dup pairs replicate), but share nothing across replicas;
  *  - embeddings: replica r applies a deterministic per-replica ±1
  *    diagonal (sign_i = parity(murmur3(r, i))) — inner products within
  *    a replica are exactly preserved (diagonal ±1 is orthogonal),
  *    cross-replica cosines are sign-scrambled to noise. Replica 0 is
  *    the identity for both, so the original rows appear verbatim.
  * No RNG anywhere — rebuilding the fixture is reproducible.
  *
  * CLUSTERED mode (r14, the RecallBench regime fixture): `clustered`
  * as arg 4 writes ONLY an embeddings table of n·factor vectors drawn
  * from √(n·factor)/4 PLANTED CLUSTERS — vector = center + ε·noise
  * with ε = 0.15 per dimension, both hash-derived (no RNG), center
  * components uniform in [−1, 1], label = cluster id. This is the
  * regime residual PQ / trained seeding / SQ8 exist for (residuals
  * concentrate only when cell centroids approximate real cluster
  * means), which the replicated near-isotropic corpus cannot
  * exercise; RecallBench runs on it unchanged.
  *
  * Usage: runMain graft.StressFixture [srcDir] [outDir] [factor] [clustered]
  */
object StressFixture {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/stress100")
    val factor = args.lift(2).map(_.toInt).getOrElse(100)
    val clustered = args.lift(3).contains("clustered")
    require(factor >= 1, "factor must be >= 1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    new java.io.File(out).mkdirs()

    if (clustered) {
      val srcN = spark.read.parquet(s"$src/embeddings.parquet").count()
      val n = srcN * factor
      val cClusters = math.max(16,
        graft.ops.SimilarityOps.sqrtCentroidCount(n) / 4)
      // hash-uniform in [-1, 1]: murmur3 → pmod into 2e6+1 steps.
      // Component magnitudes make clusters separable at dim 64:
      // inter-center sqdist ≈ 2·64/3 ≈ 43 ≫ 2·64·ε²/3 ≈ 1 noise.
      def u(seedCols: Column*): Column =
        pmod(hash(seedCols: _*), lit(2000001)).cast("double") / 1000000.0 - 1.0
      spark.range(n)
        .select(col("id").as("vec_id"), (col("id") % cClusters).as("__c"))
        .select(col("vec_id"),
          transform(sequence(lit(0), lit(63)), i =>
            (u(col("__c"), i, lit(0xC0FFEE)) +
              lit(0.15) * u(col("vec_id"), i, lit(0xBEEF))).cast("float"))
            .as("embedding"),
          col("__c").as("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"[stress] wrote CLUSTERED $out: $n vectors in " +
        s"$cClusters planted clusters (eps 0.15)")
      spark.stop()
      return
    }

    val reps = broadcast(
      spark.range(factor).select(col("id").cast("int").as("__rep")))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docStride = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.crossJoin(reps)
      .select(
        (col("doc_id") + col("__rep").cast("long") * docStride).as("doc_id"),
        when(col("__rep") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("r"), col("__rep"), lit("_$1")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vecStride = emb.agg(max("vec_id")).head().getLong(0) + 1
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("__rep").cast("long") * vecStride).as("vec_id"),
        when(col("__rep") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, i) =>
            (x * (lit(1) - lit(2) * pmod(hash(col("__rep"), i), lit(2)))
              .cast("float")).cast("float"))).as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // Relational tables: replicate with per-table strides, foreign
    // keys shifted by their REFERENCED table's stride (see class doc).
    def stride(table: String, key: String): Long =
      spark.read.parquet(s"$src/$table.parquet")
        .agg(max(key)).head().getLong(0) + 1
    val (cuS, orS, paS, suS) = (stride("customer", "c_custkey"),
      stride("orders", "o_orderkey"), stride("part", "p_partkey"),
      stride("supplier", "s_suppkey"))
    def replicate(table: String, shifts: Map[String, Long]): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      df.crossJoin(reps)
        .select(df.columns.toSeq.map { c =>
          shifts.get(c) match {
            case Some(st) => (col(c) + col("__rep").cast("long") * st).as(c)
            case None => col(c)
          }
        }: _*)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    replicate("customer", Map("c_custkey" -> cuS))
    replicate("orders", Map("o_orderkey" -> orS, "o_custkey" -> cuS))
    replicate("lineitem", Map("l_orderkey" -> orS, "l_partkey" -> paS,
      "l_suppkey" -> suS))
    replicate("part", Map("p_partkey" -> paS))
    replicate("supplier", Map("s_suppkey" -> suS))
    replicate("events", Map("event_id" -> stride("events", "event_id"),
      "user_id" -> stride("events", "user_id")))

    Tables.names.filterNot(Set("documents", "embeddings", "customer",
      "orders", "lineitem", "part", "supplier", "events")).foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"[stress] wrote $out at ${factor}x " +
      s"(docs ${docs.count() * factor}, vecs ${emb.count() * factor})")
    spark.stop()
  }
}
