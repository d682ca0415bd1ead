package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{ModelCatalog, PropDef}
import graft.pipeline.FullPipeline

/** Dev harness for the composed-pipeline scale claim (VERDICT r12 item
  * 6): runs the six-stage `pipeline/FullPipeline` END TO END — CatchERR
  * → ValidationRy → SRA → dbGaP → DCF index → TabBreakeRy → CDS — on a
  * CCDI-shaped manifest synthesized from the relational tables of a
  * given sf/stress dir, and times plan construction plus each output's
  * materialization. The individual stages have 1×/10×/100× curves
  * (SURVEY §8(7)); this measures the COMPOSITION — shared subtrees,
  * checkpoint placement, stage boundaries — where the q135 precedent
  * showed super-linear steps hide.
  *
  * Manifest shape scales with the fixture: participants ride customer,
  * samples ride orders (participant FK = o_custkey, so the stress
  * fixture's per-replica key shifts keep referential structure),
  * sequencing files ride lineitem (~4 files/sample, library = 2
  * orders), pdx is a sparse orders slice traced sample→pdx→sample→
  * participant (the 4-hop CDS path). Study/consent domains stay FIXED
  * (3 studies, 5 consent groups) — groups get N× deeper at N×, the
  * realistic growth mode (a study accretes files per participant).
  * Deliberate dirt exercises every stage: lowercase enum values
  * (fuzzy fix), padded whitespace (trim + findings), zero file sizes
  * and null urls (file metadata findings), duplicate (library,
  * filename) pairs (SRA dedup), filename collisions across libraries
  * (md5-suffix fix), sparse GUIDs (DCF minting).
  *
  * Usage: runMain graft.PipelineStress [dir] [runs]
  */
object PipelineStress {

  private def p(n: String, prop: String, t: String = "string",
      key: Boolean = false, req: Boolean = false) =
    PropDef(n, prop, t, isKey = key, required = req)

  val catalog: ModelCatalog = ModelCatalog(
    props = Seq(
      p("study", "study_id", key = true, req = true),
      p("study", "study_title"),
      p("participant", "participant_id", key = true, req = true),
      p("participant", "sex_at_birth", t = "enum"),
      p("participant", "consent_group.consent_group_id"),
      p("participant", "study.study_id"),
      p("sample", "sample_id", key = true, req = true),
      p("sample", "sample_tumor_status", t = "enum"),
      p("sample", "anatomic_site"),
      p("sample", "participant.participant_id"),
      p("sample", "pdx.pdx_id"),
      p("pdx", "pdx_id", key = true),
      p("pdx", "passage"),
      p("pdx", "sample.sample_id"),
      p("sequencing_file", "sequencing_file_id", key = true, req = true),
      p("sequencing_file", "library_id"),
      p("sequencing_file", "file_name"),
      p("sequencing_file", "file_type"),
      p("sequencing_file", "md5sum"),
      p("sequencing_file", "file_size", t = "integer"),
      p("sequencing_file", "file_url"),
      p("sequencing_file", "dcf_indexd_guid"),
      p("sequencing_file", "sample.sample_id")),
    enums = Map(
      "sex_at_birth" -> Seq("Female", "Male", "Unknown"),
      "sample_tumor_status" -> Seq("Tumor", "Normal", "Not Reported")),
    edges = Seq.empty)

  /** CCDI manifest synthesized from the dir's relational tables; every
    * cell is a string (manifests arrive from Excel/TSV as text).
    */
  def manifest(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    def t(n: String) = Tables.load(spark, dir, n)

    val nat = t("nation")
    val study = nat.select(
      concat(lit("st"), (col("n_nationkey") % 3).cast("string")).as("study_id"),
      concat(lit("Title"), (col("n_nationkey") % 3).cast("string")).as("study_title"),
      ((col("n_nationkey") % 3) + 2).cast("string").as("row_idx"))
      .distinct()

    val c = col("c_custkey")
    val participant = t("customer").select(
      concat(lit("P"), c.cast("string")).as("participant_id"),
      when(c % 17 === 0, "female") // fuzzy-fix work
        .when(c % 17 === 1, " Male ") // trim work
        .when(c % 2 === 0, "Female").otherwise("Male").as("sex_at_birth"),
      concat(lit("CG"), (c % 5).cast("string"))
        .as("consent_group.consent_group_id"),
      concat(lit("st"), (c % 3).cast("string")).as("study.study_id"),
      (c + 2).cast("string").as("row_idx"))

    val o = col("o_orderkey")
    val sample = t("orders").select(
      concat(lit("S"), o.cast("string")).as("sample_id"),
      when(o % 3 === 0, "Tumor").when(o % 3 === 1, "Normal")
        .otherwise("tumor").as("sample_tumor_status"), // fuzzy-fix work
      when(o % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("C"), (o % 40).cast("string"),
          lit(".0 : Site"), (o % 7).cast("string"))).as("anatomic_site"),
      when(o % 97 === 1, lit(null).cast("string"))
        .otherwise(concat(lit("P"), col("o_custkey").cast("string")))
        .as("participant.participant_id"),
      when(o % 97 === 1, concat(lit("X"), (o - 1).cast("string")))
        .otherwise(lit(null).cast("string")).as("pdx.pdx_id"),
      (o + 2).cast("string").as("row_idx"))

    // sparse pdx slice; its sample FK points at the NEXT order's sample
    // (keys are dense at every SF/stress factor), closing the 4-hop
    // sample -> pdx -> sample -> participant CDS walk-back
    val pdx = t("orders").filter(o % 97 === 0).select(
      concat(lit("X"), o.cast("string")).as("pdx_id"),
      concat(lit("pp"), (o % 4).cast("string")).as("passage"),
      concat(lit("S"), (o + 1).cast("string")).as("sample.sample_id"),
      (o + 2).cast("string").as("row_idx"))

    val li = t("lineitem")
    val uid = concat_ws("_", col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"))
    val sequencingFile = li.select(
      concat(lit("sf"), uid).as("sequencing_file_id"),
      concat(lit("L"), floor(col("l_orderkey") / 2).cast("string"))
        .as("library_id"),
      concat(lit("f"), (col("l_partkey") % 100000).cast("string"),
        when(col("l_linenumber") % 2 === 0, ".bam").otherwise(".cram"))
        .as("file_name"),
      when(col("l_linenumber") % 2 === 0, "bam").otherwise("cram")
        .as("file_type"),
      md5(uid).as("md5sum"),
      when(col("l_orderkey") % 13 === 0, "0")
        .otherwise((col("l_quantity").cast("long") * 1000L).cast("string"))
        .as("file_size"),
      when(col("l_orderkey") % 29 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s3://bkt"), (col("l_suppkey") % 4).cast("string"),
          lit("/p/"), uid)).as("file_url"),
      when(col("l_orderkey") % 11 === 0, concat(lit("dg.4DFC/"), md5(uid)))
        .otherwise(lit(null).cast("string")).as("dcf_indexd_guid"),
      concat(lit("S"), col("l_orderkey").cast("string")).as("sample.sample_id"),
      uid.as("row_idx"))

    Map("study" -> study, "participant" -> participant, "sample" -> sample,
      "pdx" -> pdx, "sequencing_file" -> sequencingFile)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(1).map(_.toInt).getOrElse(2)
    // "cut" materializes the curated manifest ONCE before the 13-sink
    // fan-out (the deployment shape: a run writes its curated nodes,
    // then every export reads them); "lazy" re-executes the curation
    // prefix inside every sink — the two modes bound the composition's
    // real cost between shared-scan and pure-lazy.
    val cut = args.lift(2).contains("cut")
    // Partition count must scale with the data: at stress100 the
    // file node is 60M wide string rows, and 32 shuffle partitions
    // put a ~550 MB sort/join working set in every one of 32
    // concurrent tasks — the execution pool exhausts (observed:
    // UNABLE_TO_ACQUIRE_MEMORY in the cds sink). On a cluster the
    // same rule applies as "tasks ∝ data"; here GRAFT_SHUFFLE_PARTS
    // overrides the one-per-core default because local[n]'s pool is
    // fixed. AQE coalesces the excess at 1×.
    val spark = Harness.session(32)
    sys.env.get("GRAFT_SHUFFLE_PARTS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))

    (1 to runs).foreach { run =>
      Harness.drain(spark)
      val total0 = System.nanoTime()
      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[pipe] run$run $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val m = manifest(spark, dir)
      val out = timed("construct")(FullPipeline.run(
        m, catalog, study = "st1", phsAccession = "phs000123",
        consentMap = (0 to 4).map(i => s"CG$i" -> s"${i + 1}").toMap,
        cutCleaned = cut))
      // GRAFT_PIPE_ONLY=cds,findings materializes only the named
      // sinks (prefix match) — for isolating one stage's failure or
      // cost without paying the other twelve
      val only: Option[Set[String]] =
        sys.env.get("GRAFT_PIPE_ONLY").map(_.split(",").map(_.trim).toSet)
      def mat(label: String, df: DataFrame): Unit =
        if (only.forall(_.exists(label.startsWith)))
          timed(label)(df.write.format("noop").mode("overwrite").save())
      mat("findings", out.findings)
      out.sra.foreach { case (wide, constancy) =>
        mat("sra_wide", wide); mat("sra_constancy", constancy)
      }
      out.ssm.foreach(mat("ssm", _))
      out.subjectConsent.foreach(mat("subject_consent", _))
      out.sampleAttributes.foreach(mat("sample_attributes", _))
      out.dcfIndex.foreach(mat("dcf_index", _))
      out.tabBroken.foreach { case (node, df) => mat(s"tab_$node", df) }
      out.cds.foreach(mat("cds", _))
      println(f"[pipe] run$run TOTAL: ${(System.nanoTime() - total0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
