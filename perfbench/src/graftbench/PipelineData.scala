package graftbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The `pipeline` workload's CCDI manifest (study, participant, sample,
  * pdx, sequencing_file), after `graft.PipelineStress.manifest`, written
  * as parquet during set-up.
  *
  * Every structural fact and every kind of dirt is a function of an
  * entity index k: lowercase and padded enum values, null sites and
  * urls, zero file sizes, sparse GUIDs, (library, file name) duplicates
  * and cross-library name collisions, and the pdx slice behind the
  * 4-hop CDS walk. The seed picks an id offset and a multiplier, and
  * each node's ids are `offset + (k * multiplier mod n)`: which ids carry
  * dirt, every id string, md5 and sort order change with the seed, while
  * each sink's row count does not (it is in `expected/pipeline.json`).
  */
object PipelineData {
  /** Participants; 4 samples each, 4 files per sample. Sizes have only
    * the prime factors 2, 3 and 5, so any larger prime multiplier
    * relabels each node one-to-one. */
  val Participants = 150

  private val primes = Seq(101, 103, 107, 109, 113, 127, 131, 137, 139, 149, 151, 157,
    163, 167, 173, 179, 181, 191, 193, 197, 199, 211, 223, 227, 229, 233, 239, 241)

  def write(spark: SparkSession, dir: String, seed: Long, cores: Int): Unit = {
    val r = new java.util.Random(seed ^ 0x5deece66dL)
    val offset = 1000000000L + (r.nextLong() >>> 2) % 8000000000L
    val mult = primes(r.nextInt(primes.length)).toLong
    val np = Participants.toLong
    val ns = 4 * np
    val nf = 4 * ns
    def id(prefix: String, k: Column, n: Long): Column =
      concat(lit(prefix), ((k * mult).mod(lit(n)) + offset).cast("string"))
    def s(c: Column) = c.cast("string")
    val k = col("id")
    def save(name: String, n: Long, cols: Column*): Unit =
      spark.range(0, n, 1, cores).select(cols: _*).write.mode("overwrite").parquet(s"$dir/$name")

    save("study", 3, concat(lit("st"), s(k)).as("study_id"),
      concat(lit("Title"), s(k)).as("study_title"), s(k + 2).as("row_idx"))

    save("participant", np,
      id("P", k, np).as("participant_id"),
      when(k % 17 === 0, "female").when(k % 17 === 1, " Male ")
        .when(k % 2 === 0, "Female").otherwise("Male").as("sex_at_birth"),
      concat(lit("CG"), s(k % 5)).as("consent_group.consent_group_id"),
      concat(lit("st"), s(k % 3)).as("study.study_id"),
      s(id("", k, np)).as("row_idx"))

    save("sample", ns,
      id("S", k, ns).as("sample_id"),
      when(k % 3 === 0, "Tumor").when(k % 3 === 1, "Normal").otherwise("tumor")
        .as("sample_tumor_status"),
      when(k % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("C"), s(k % 40), lit(".0 : Site"), s(k % 7))).as("anatomic_site"),
      when(k % 97 === 1, lit(null).cast("string")).otherwise(id("P", k % np, np))
        .as("participant.participant_id"),
      when(k % 97 === 1, id("X", k - 1, ns)).otherwise(lit(null).cast("string"))
        .as("pdx.pdx_id"),
      id("", k, ns).as("row_idx"))

    spark.range(0, ns, 1, cores).filter(k % 97 === 0 && k + 1 < ns).select(
      id("X", k, ns).as("pdx_id"),
      concat(lit("pp"), s(k % 4)).as("passage"),
      id("S", k + 1, ns).as("sample.sample_id"),
      id("", k, ns).as("row_idx"))
      .write.mode("overwrite").parquet(s"$dir/pdx")

    val sampleK = floor(k / 4)
    val uid = id("", k, nf)
    save("sequencing_file", nf,
      concat(lit("sf"), uid).as("sequencing_file_id"),
      id("L", floor(sampleK / 2), ns / 2).as("library_id"),
      concat(lit("f"), s((k * 7919) % (nf / 3)),
        when(k % 2 === 0, ".bam").otherwise(".cram")).as("file_name"),
      when(k % 2 === 0, "bam").otherwise("cram").as("file_type"),
      md5(uid).as("md5sum"),
      when(k % 13 === 0, "0").otherwise(s((k % 50 + 1) * 1000)).as("file_size"),
      when(k % 29 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s3://bkt"), s(k % 4), lit("/p/"), uid)).as("file_url"),
      when(k % 11 === 0, concat(lit("dg.4DFC/"), md5(uid))).otherwise(lit(null).cast("string"))
        .as("dcf_indexd_guid"),
      id("S", sampleK, ns).as("sample.sample_id"),
      uid.as("row_idx"))
  }

  val nodes: Seq[String] = Seq("study", "participant", "sample", "pdx", "sequencing_file")
}
