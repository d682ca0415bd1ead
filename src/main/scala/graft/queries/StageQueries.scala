package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.catalog.{ModelCatalog, PropDef}
import graft.ops.{ReshapeOps, ValidationOps}
import graft.pipeline.{ExportStages, SraCols, SraStage}

/** Round-2 composed export stages, graded end-to-end: the reference's
  * whole CCDI_to_SRA dataflow over a sequencing frame synthesized
  * deterministically from `orders` (the q60 synthesis pattern — both
  * engines derive identical inputs from the same parquet).
  */
object StageQueries {

  private def t(s: SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  /** Column roles used by the graded SRA queries. */
  private val C = SraCols(
    library = "library_id", sample = "sample_id", filename = "filename",
    filetype = "filetype", md5 = "md5sum", url = "url",
    strategy = "strategy", source = "lib_source", selection = "selection",
    concatFields = Seq("design", "align_soft"),
    metaFields = Seq("url", "bases", "reads", "coverage", "avg_read_len"))

  /** Synthesized sequencing frame: one "file row" per order. Moduli
    * are chosen so every stage has work to do — (library, filename)
    * pairs repeat (dedup), filenames collide across libraries
    * (md5-suffix fix), sample groups span several libraries (library
    * concatenation), and meta fields carry nulls (completeness
    * ranking + constancy findings). All values derive from integer
    * arithmetic so both engines format them identically.
    */
  private def sraSource(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val key = col("o_orderkey")
    o.select(
      concat(lit("L"), (key % 400).cast("string")).as("library_id"),
      concat(lit("S"), (col("o_custkey") % 120).cast("string")).as("sample_id"),
      when(key % 7 === 0, "WGS").otherwise("WXS").as("strategy"),
      lit("GENOMIC").as("lib_source"),
      when(key % 5 === 0, "PCR").otherwise("RANDOM").as("selection"),
      concat(lit("f"), (key % 300).cast("string"),
        when(key % 2 === 0, ".bam").otherwise(".cram")).as("filename"),
      md5(key.cast("string")).as("md5sum"),
      when(key % 2 === 0, "bam").otherwise("cram").as("filetype"),
      when(key % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("s3://bkt"), (key % 4).cast("string"),
          lit("/p/"), key.cast("string"))).as("url"),
      when(key % 4 === 0, lit(null).cast("string"))
        .otherwise((key % 997).cast("string")).as("bases"),
      (key % 100).cast("string").as("reads"),
      when(key % 6 === 0, lit(null).cast("string"))
        .otherwise(lit("30x")).as("coverage"),
      lit("150").as("avg_read_len"),
      when(key % 11 === 0, "designA").otherwise("designB").as("design"),
      lit("GRCh38").as("ref_genome"),
      when(key % 13 === 0, "bwa").otherwise("star").as("align_soft"),
      when(key % 17 === 0, 0L).otherwise(1L).as("prio"))
  }

  /** dedup → concat library ids → fix duplicate filenames: the shared
    * pipeline prefix of q70/q71.
    */
  private def sraFixed(s: SparkSession, dir: String): DataFrame = {
    val dd = SraStage.dedupKeepPriority(sraSource(s, dir), C,
      Seq(col("prio").desc, col("md5sum").desc)).drop("prio")
    SraStage.fixDuplicateFilenames(SraStage.concatLibraryIds(dd, C), C)
  }

  /** Oracle CTE prefix mirroring [[sraSource]] + [[sraFixed]]. */
  private val SraOraclePrefix: String =
    """WITH src AS (
      |  SELECT 'L' || CAST(o_orderkey % 400 AS VARCHAR) AS library_id,
      |         'S' || CAST(o_custkey % 120 AS VARCHAR) AS sample_id,
      |         CASE WHEN o_orderkey % 7 = 0 THEN 'WGS' ELSE 'WXS' END AS strategy,
      |         'GENOMIC' AS lib_source,
      |         CASE WHEN o_orderkey % 5 = 0 THEN 'PCR' ELSE 'RANDOM' END AS selection,
      |         'f' || CAST(o_orderkey % 300 AS VARCHAR) ||
      |           CASE WHEN o_orderkey % 2 = 0 THEN '.bam' ELSE '.cram' END AS filename,
      |         md5(CAST(o_orderkey AS VARCHAR)) AS md5sum,
      |         CASE WHEN o_orderkey % 2 = 0 THEN 'bam' ELSE 'cram' END AS filetype,
      |         CASE WHEN o_orderkey % 3 = 0 THEN NULL
      |              ELSE 's3://bkt' || CAST(o_orderkey % 4 AS VARCHAR)
      |                   || '/p/' || CAST(o_orderkey AS VARCHAR) END AS url,
      |         CASE WHEN o_orderkey % 4 = 0 THEN NULL
      |              ELSE CAST(o_orderkey % 997 AS VARCHAR) END AS bases,
      |         CAST(o_orderkey % 100 AS VARCHAR) AS reads,
      |         CASE WHEN o_orderkey % 6 = 0 THEN NULL ELSE '30x' END AS coverage,
      |         '150' AS avg_read_len,
      |         CASE WHEN o_orderkey % 11 = 0 THEN 'designA' ELSE 'designB' END AS design,
      |         'GRCh38' AS ref_genome,
      |         CASE WHEN o_orderkey % 13 = 0 THEN 'bwa' ELSE 'star' END AS align_soft,
      |         CASE WHEN o_orderkey % 17 = 0 THEN 0 ELSE 1 END AS prio
      |  FROM orders),
      |dd AS (
      |  SELECT * EXCLUDE (prio, rn) FROM (
      |    SELECT *, row_number() OVER (PARTITION BY library_id, filename
      |                                 ORDER BY prio DESC, md5sum DESC) AS rn
      |    FROM src) WHERE rn = 1),
      |grp AS (
      |  SELECT sample_id, strategy, lib_source, selection,
      |         count(DISTINCT library_id) AS n_lib,
      |         string_agg(DISTINCT library_id, ';' ORDER BY library_id) AS libs,
      |         count(DISTINCT url) AS n_url,
      |         count(DISTINCT design) AS n_design,
      |         string_agg(DISTINCT design, ';' ORDER BY design) AS designs,
      |         count(DISTINCT align_soft) AS n_align,
      |         string_agg(DISTINCT align_soft, ';' ORDER BY align_soft) AS aligns
      |  FROM dd GROUP BY 1, 2, 3, 4),
      |cc AS (
      |  SELECT dd.* EXCLUDE (library_id, url, design, align_soft),
      |         CASE WHEN g.n_lib > 1 THEN g.libs ELSE dd.library_id END AS library_id,
      |         CASE WHEN g.n_url > 1
      |              THEN regexp_extract(dd.url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*')
      |              ELSE dd.url END AS url,
      |         CASE WHEN g.n_design > 1 THEN g.designs ELSE dd.design END AS design,
      |         CASE WHEN g.n_align > 1 THEN g.aligns ELSE dd.align_soft END AS align_soft
      |  FROM dd JOIN grp g USING (sample_id, strategy, lib_source, selection)),
      |ff AS (
      |  SELECT cc.* EXCLUDE (filename),
      |         CASE WHEN count(*) OVER (PARTITION BY filename) > 1
      |              THEN right(md5sum, 4) || '_' || filename
      |              ELSE filename END AS filename
      |  FROM cc)""".stripMargin

  val all: Seq[Q] = Seq(

    // The composed SRA submission frame: dedup (P8) -> library concat
    // -> duplicate-filename md5 suffix -> completeness-ranked spread
    // (W2+W4), one row per final library id.
    Q("q70_sra_stage",
      SraOraclePrefix +
        """,
          |rk AS (
          |  SELECT *, row_number() OVER (PARTITION BY library_id ORDER BY
          |      ((CASE WHEN url IS NOT NULL AND url <> '' THEN 1 ELSE 0 END) +
          |       (CASE WHEN bases IS NOT NULL AND bases <> '' THEN 1 ELSE 0 END) +
          |       (CASE WHEN reads IS NOT NULL AND reads <> '' THEN 1 ELSE 0 END) +
          |       (CASE WHEN coverage IS NOT NULL AND coverage <> '' THEN 1 ELSE 0 END) +
          |       (CASE WHEN avg_read_len IS NOT NULL AND avg_read_len <> '' THEN 1 ELSE 0 END)) DESC,
          |      filetype DESC, filename ASC, md5sum ASC) AS rn
          |  FROM ff)
          |SELECT library_id,
          |  max(CASE WHEN rn = 1 THEN sample_id END) AS sample_id,
          |  max(CASE WHEN rn = 1 THEN strategy END) AS strategy,
          |  max(CASE WHEN rn = 1 THEN lib_source END) AS lib_source,
          |  max(CASE WHEN rn = 1 THEN selection END) AS selection,
          |  max(CASE WHEN rn = 1 THEN filename END) AS filename,
          |  max(CASE WHEN rn = 1 THEN md5sum END) AS md5sum,
          |  max(CASE WHEN rn = 1 THEN filetype END) AS filetype,
          |  max(CASE WHEN rn = 1 THEN url END) AS url,
          |  max(CASE WHEN rn = 1 THEN bases END) AS bases,
          |  max(CASE WHEN rn = 1 THEN reads END) AS reads,
          |  max(CASE WHEN rn = 1 THEN coverage END) AS coverage,
          |  max(CASE WHEN rn = 1 THEN avg_read_len END) AS avg_read_len,
          |  max(CASE WHEN rn = 1 THEN design END) AS design,
          |  max(CASE WHEN rn = 1 THEN ref_genome END) AS ref_genome,
          |  max(CASE WHEN rn = 1 THEN align_soft END) AS align_soft,
          |  max(CASE WHEN rn = 2 THEN filename END) AS filename_1,
          |  max(CASE WHEN rn = 2 THEN filetype END) AS filetype_1,
          |  max(CASE WHEN rn = 2 THEN md5sum END) AS md5sum_1,
          |  max(CASE WHEN rn = 3 THEN filename END) AS filename_2,
          |  max(CASE WHEN rn = 3 THEN filetype END) AS filetype_2,
          |  max(CASE WHEN rn = 3 THEN md5sum END) AS md5sum_2
          |FROM rk WHERE rn <= 3 GROUP BY library_id
          |ORDER BY library_id""".stripMargin) { (s, dir) =>
      SraStage.spread(sraFixed(s, dir), C, maxFiles = 3,
        tieBreak = Seq(col("filename").asc, col("md5sum").asc))
        .orderBy(col("library_id"))
    },

    // The stage's constancy findings (A13 over the composed pipeline):
    // per final library id, fields with >1 distinct value, null
    // counted as a value like the reference's un-dropna'd unique().
    Q("q71_sra_constancy",
      SraOraclePrefix +
        """,
          |g AS (
          |  SELECT library_id,
          |    count(DISTINCT strategy) + max(CASE WHEN strategy IS NULL THEN 1 ELSE 0 END) AS strategy,
          |    count(DISTINCT lib_source) + max(CASE WHEN lib_source IS NULL THEN 1 ELSE 0 END) AS lib_source,
          |    count(DISTINCT selection) + max(CASE WHEN selection IS NULL THEN 1 ELSE 0 END) AS selection,
          |    count(DISTINCT design) + max(CASE WHEN design IS NULL THEN 1 ELSE 0 END) AS design,
          |    count(DISTINCT align_soft) + max(CASE WHEN align_soft IS NULL THEN 1 ELSE 0 END) AS align_soft,
          |    count(DISTINCT url) + max(CASE WHEN url IS NULL THEN 1 ELSE 0 END) AS url,
          |    count(DISTINCT bases) + max(CASE WHEN bases IS NULL THEN 1 ELSE 0 END) AS bases,
          |    count(DISTINCT reads) + max(CASE WHEN reads IS NULL THEN 1 ELSE 0 END) AS reads,
          |    count(DISTINCT coverage) + max(CASE WHEN coverage IS NULL THEN 1 ELSE 0 END) AS coverage,
          |    count(DISTINCT avg_read_len) + max(CASE WHEN avg_read_len IS NULL THEN 1 ELSE 0 END) AS avg_read_len
          |  FROM ff GROUP BY 1)
          |SELECT library_id, property, n_values
          |FROM (UNPIVOT g ON strategy, lib_source, selection, design, align_soft,
          |        url, bases, reads, coverage, avg_read_len
          |      INTO NAME property VALUE n_values)
          |WHERE n_values > 1
          |ORDER BY library_id, property""".stripMargin) { (s, dir) =>
      SraStage.constancyFindings(sraFixed(s, dir), C)
        .orderBy(col("library_id"), col("property"))
    },

    // The five round-2 ValidationRy check families: proband
    // consistency, cross-study key uniqueness, guid uniqueness, object
    // file metadata, and acl/authz format — one findings union over
    // node frames synthesized from customer/part/supplier/orders.
    Q("q72_validation_families",
      """WITH fam AS (
        |  SELECT c_custkey, 'F' || CAST(c_custkey % 50 AS VARCHAR) AS family_id,
        |         CASE WHEN c_custkey % 7 = 0 THEN 'Proband'
        |              WHEN c_custkey % 7 = 1 THEN 'proband'
        |              ELSE 'Mother' END AS relationship
        |  FROM customer),
        |prob AS (
        |  SELECT family_id,
        |         count(CASE WHEN lower(relationship) = 'proband' THEN 1 END) AS np
        |  FROM fam GROUP BY 1),
        |ids AS (
        |  SELECT 'part' AS tbl, 'part_id' AS property,
        |         'ID' || CAST(p_partkey % 3000 AS VARCHAR) AS id FROM part
        |  UNION ALL
        |  SELECT 'supplier', 'supp_id',
        |         'ID' || CAST((s_suppkey * 3) % 3000 AS VARCHAR) FROM supplier),
        |idc AS (SELECT id, count(*) AS n FROM ids GROUP BY 1 HAVING count(*) > 1),
        |guids AS (
        |  SELECT 'dg/' || CAST(o_orderkey % 5000 AS VARCHAR) AS guid,
        |         's3://b/' || CAST(o_orderkey AS VARCHAR) AS url FROM orders),
        |files AS (
        |  SELECT p_partkey,
        |         'f' || CAST(p_partkey % 97 AS VARCHAR) || '.bam' AS file_name,
        |         's3://b/d/f' || CAST(p_partkey % 89 AS VARCHAR) || '.bam' AS file_url,
        |         CASE WHEN p_partkey % 13 = 0 THEN '0'
        |              ELSE CAST(p_partkey AS VARCHAR) END AS file_size,
        |         CASE WHEN p_partkey % 11 = 0 THEN 'notamd5'
        |              ELSE md5(CAST(p_partkey AS VARCHAR)) END AS md5sum
        |  FROM part),
        |aclt AS (
        |  SELECT s_suppkey,
        |         CASE WHEN s_suppkey % 4 = 0 THEN 'Controlled'
        |              WHEN s_suppkey % 4 = 1 THEN 'Open'
        |              WHEN s_suppkey % 4 = 2 THEN ' controlled '
        |              ELSE 'Registered' END AS file_access,
        |         CASE WHEN s_suppkey % 3 = 0 THEN '[''phs123456.c1'']'
        |              WHEN s_suppkey % 3 = 1 THEN '[''*'']'
        |              ELSE '[phs12.c1]' END AS acl,
        |         CASE WHEN s_suppkey % 3 = 0 THEN '[''/programs/phs123456.c1'']'
        |              WHEN s_suppkey % 3 = 1 THEN '[''/open'']'
        |              ELSE 'bad' END AS authz
        |  FROM supplier)
        |SELECT * FROM (
        |  SELECT 'family' AS tbl, 'relationship' AS property,
        |         CASE WHEN np = 0 THEN 'no_proband' ELSE 'multi_proband' END AS "check",
        |         family_id AS row_key, CAST(np AS VARCHAR) AS bad_value
        |  FROM prob WHERE np <> 1
        |  UNION ALL
        |  SELECT DISTINCT i.tbl, i.property, 'cross_study_key', i.id, CAST(c.n AS VARCHAR)
        |  FROM ids i JOIN idc c USING (id)
        |  UNION ALL
        |  SELECT 'orders', 'guid', 'guid_dup', guid, url
        |  FROM guids
        |  WHERE guid IN (SELECT guid FROM guids GROUP BY guid HAVING count(*) > 1)
        |  UNION ALL
        |  SELECT 'files', 'file_size', 'file_size_zero', CAST(p_partkey AS VARCHAR), file_size
        |  FROM files WHERE file_size = '0'
        |  UNION ALL
        |  SELECT 'files', 'md5sum', 'md5_format', CAST(p_partkey AS VARCHAR), md5sum
        |  FROM files WHERE NOT regexp_matches(md5sum, '^(?:[a-f0-9]{32})$')
        |  UNION ALL
        |  SELECT 'files', 'file_name', 'basename_mismatch', CAST(p_partkey AS VARCHAR),
        |         file_name || ' != ' || regexp_extract(file_url, '([^/]*)$', 1)
        |  FROM files WHERE file_name <> regexp_extract(file_url, '([^/]*)$', 1)
        |  UNION ALL
        |  SELECT 'supplier', 'acl', 'acl_format', CAST(s_suppkey AS VARCHAR), acl
        |  FROM aclt WHERE
        |    (lower(trim(file_access)) = 'controlled' AND NOT regexp_matches(acl,
        |      '^(?:\[''phs\d{6,}\.c\d+''(?:\s*,\s*''phs\d{6,}\.c\d+'')*\])$'))
        |    OR (lower(trim(file_access)) = 'open' AND acl <> '[''*'']')
        |  UNION ALL
        |  SELECT 'supplier', 'authz', 'authz_format', CAST(s_suppkey AS VARCHAR), authz
        |  FROM aclt WHERE
        |    (lower(trim(file_access)) = 'controlled' AND NOT regexp_matches(authz,
        |      '^(?:\[''/programs/phs\d{6,}\.c\d+''(?:\s*,\s*''/programs/phs\d{6,}\.c\d+'')*\])$'))
        |    OR (lower(trim(file_access)) = 'open' AND authz <> '[''/open'']'))
        |ORDER BY tbl, property, "check", row_key, bad_value""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val fam = cust.select(
        col("c_custkey"),
        concat(lit("F"), (col("c_custkey") % 50).cast("string")).as("family_id"),
        when(col("c_custkey") % 7 === 0, "Proband")
          .when(col("c_custkey") % 7 === 1, "proband")
          .otherwise("Mother").as("relationship"))
      val partT = t(s, dir, "part")
      val sup = t(s, dir, "supplier")
      val nodeA = partT.select(
        concat(lit("ID"), (col("p_partkey") % 3000).cast("string")).as("part_id"))
      val nodeB = sup.select(
        concat(lit("ID"), ((col("s_suppkey") * 3) % 3000).cast("string")).as("supp_id"))
      val ord = t(s, dir, "orders").select(
        concat(lit("dg/"), (col("o_orderkey") % 5000).cast("string")).as("guid"),
        concat(lit("s3://b/"), col("o_orderkey").cast("string")).as("url"))
      val files = partT.select(
        col("p_partkey"),
        concat(lit("f"), (col("p_partkey") % 97).cast("string"), lit(".bam")).as("file_name"),
        concat(lit("s3://b/d/f"), (col("p_partkey") % 89).cast("string"), lit(".bam")).as("file_url"),
        when(col("p_partkey") % 13 === 0, "0")
          .otherwise(col("p_partkey").cast("string")).as("file_size"),
        when(col("p_partkey") % 11 === 0, "notamd5")
          .otherwise(md5(col("p_partkey").cast("string"))).as("md5sum"))
      val aclDf = sup.select(
        col("s_suppkey"),
        when(col("s_suppkey") % 4 === 0, "Controlled")
          .when(col("s_suppkey") % 4 === 1, "Open")
          .when(col("s_suppkey") % 4 === 2, " controlled ")
          .otherwise("Registered").as("file_access"),
        when(col("s_suppkey") % 3 === 0, "['phs123456.c1']")
          .when(col("s_suppkey") % 3 === 1, "['*']")
          .otherwise("[phs12.c1]").as("acl"),
        when(col("s_suppkey") % 3 === 0, "['/programs/phs123456.c1']")
          .when(col("s_suppkey") % 3 === 1, "['/open']")
          .otherwise("bad").as("authz"))
      ValidationOps.unionFindings(Seq(
        ValidationOps.probandCheck(fam, "family", "family_id", "relationship", "c_custkey"),
        ValidationOps.crossStudyKeyCheck(Seq(
          ("part", nodeA, "part_id"), ("supplier", nodeB, "supp_id"))),
        ValidationOps.guidUniquenessCheck(ord, "orders", "guid", "url"),
        ValidationOps.fileMetadataCheck(files, "files",
          "file_name", "file_size", "md5sum", "file_url", "p_partkey"),
        ValidationOps.aclAuthzCheck(aclDf, "supplier",
          "file_access", "acl", "authz", "s_suppkey")))
        .orderBy(col("tbl"), col("property"), col("check"), col("row_key"), col("bad_value"))
    },

    // The CDS walk-back flatten (ExportStages.cdsFlatten): 14 terminal
    // file→…→{participant,study} paths over a synthesized CCDI-shaped
    // node manifest, including 4-hop file→sample→pdx→sample→participant
    // chains and the reversed anatomic_site (childWins) coalesce.
    Q("q73_cds_flatten", CdsOracle.sql) { (s, dir) =>
      val nat = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val prt = t(s, dir, "part")
      val sup = t(s, dir, "supplier")

      val study0 = nat.select(
        concat(lit("ST"), (col("n_nationkey") % 3).cast("string")).as("study_id"),
        concat(lit("Title"), (col("n_nationkey") % 3).cast("string")).as("study_title"))
        .distinct()
      val studyAdmin0 = nat.select(
        concat(lit("ST"), (col("n_nationkey") % 3).cast("string")).as("study_id"),
        concat(lit("Adm"), (col("n_nationkey") % 3).cast("string")).as("admin_name"))
        .distinct()
      val studyPersonnel0 = nat.select(
        concat(lit("ST"), (col("n_nationkey") % 3).cast("string")).as("study_id"),
        concat(lit("PI"), (col("n_nationkey") % 3).cast("string")).as("personnel_name"))
        .distinct()
      val pKey = col("c_custkey") % 200
      val participant0 = cust.select(
        concat(lit("P"), pKey.cast("string")).as("participant_id"),
        concat(lit("ST"), (pKey % 3).cast("string")).as("study_id"))
        .distinct()
      val diagnosis0 = cust.select(
        concat(lit("P"), pKey.cast("string")).as("participant_id"),
        when(pKey % 4 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("dx"), (pKey % 7).cast("string"))).as("anatomic_site"))
        .distinct()
      val sKey = col("o_orderkey") % 500
      val sample0 = ord.select(
        concat(lit("S"), sKey.cast("string")).as("sample_id"),
        when(sKey % 5 <= 2, concat(lit("P"), (sKey % 200).cast("string")))
          .otherwise(lit(null).cast("string")).as("participant_id"),
        when(sKey % 5 === 3, concat(lit("X"), (sKey % 50).cast("string")))
          .otherwise(lit(null).cast("string")).as("pdx_id"),
        when(sKey % 5 === 4, concat(lit("C"), (sKey % 40).cast("string")))
          .otherwise(lit(null).cast("string")).as("cell_line_id"),
        when(sKey % 7 === 0, concat(lit("ST"), (sKey % 3).cast("string")))
          .otherwise(lit(null).cast("string")).as("study_id"),
        when(sKey % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("site"), (sKey % 6).cast("string"))).as("anatomic_site"))
        .distinct()
      val xKey = col("p_partkey") % 50
      val pdx0 = prt.select(
        concat(lit("X"), xKey.cast("string")).as("pdx_id"),
        concat(lit("S"), ((xKey * 7) % 500).cast("string")).as("sample_id"),
        concat(lit("pp"), (xKey % 4).cast("string")).as("passage"))
        .distinct()
      val clKey = col("s_suppkey") % 40
      val cellLine0 = sup.select(
        concat(lit("C"), clKey.cast("string")).as("cell_line_id"),
        concat(lit("S"), ((clKey * 11) % 500).cast("string")).as("sample_id"),
        concat(lit("src"), (clKey % 3).cast("string")).as("source"))
        .distinct()
      val o = col("o_orderkey")
      def fileLinks = Seq(
        when(o % 6 <= 1, concat(lit("S"), (o % 500).cast("string")))
          .otherwise(lit(null).cast("string")).as("sample_id"),
        when(o % 6 === 2, concat(lit("X"), (o % 50).cast("string")))
          .otherwise(lit(null).cast("string")).as("pdx_id"),
        when(o % 6 === 3, concat(lit("C"), (o % 40).cast("string")))
          .otherwise(lit(null).cast("string")).as("cell_line_id"),
        when(o % 6 === 4, concat(lit("P"), (o % 200).cast("string")))
          .otherwise(lit(null).cast("string")).as("participant_id"),
        when(o % 6 === 5, concat(lit("ST"), (o % 3).cast("string")))
          .otherwise(lit(null).cast("string")).as("study_id"))
      val seqFile = ord.filter(o % 2 === 0).select(
        (Seq(
          concat(lit("s3://f/"), o.cast("string")).as("file_url"),
          concat(lit("f"), o.cast("string")).as("file_name"),
          concat(lit("plat"), (o % 2).cast("string")).as("platform")) ++ fileLinks): _*)
      val imgFile = ord.filter(o % 2 === 1).select(
        (Seq(
          concat(lit("s3://f/"), o.cast("string")).as("file_url"),
          concat(lit("f"), o.cast("string")).as("file_name"),
          concat(lit("mod"), (o % 3).cast("string")).as("modality")) ++ fileLinks): _*)

      // the eight node frames are mutually independent — checkpoint them
      // concurrently (each lazy cut pays planning + its distinct's
      // exchange stages under AQE; serially that was ~1 s of sub-100 ms
      // jobs at sf0.1). Same localCheckpoint(false) per frame as before.
      val Seq(study, studyAdmin, studyPersonnel, participant, diagnosis,
        sample, pdx, cellLine) = graft.ops.Checkpoints.concurrently(
        Seq(study0, studyAdmin0, studyPersonnel0, participant0, diagnosis0,
          sample0, pdx0, cellLine0).map(df => () => df.localCheckpoint(false)))

      val manifest = Map(
        "study" -> study, "study_admin" -> studyAdmin,
        "study_personnel" -> studyPersonnel, "participant" -> participant,
        "diagnosis" -> diagnosis, "sample" -> sample, "pdx" -> pdx,
        "cell_line" -> cellLine, "seq_file" -> seqFile, "img_file" -> imgFile)
      def p(n: String, prop: String, key: Boolean = false) =
        PropDef(n, prop, "string", isKey = key, required = false)
      val catalog = ModelCatalog(
        props = Seq(
          p("study", "study_id", key = true), p("study", "study_title"),
          p("participant", "participant_id", key = true), p("participant", "study_id"),
          p("sample", "sample_id", key = true),
          p("pdx", "pdx_id", key = true),
          p("cell_line", "cell_line_id", key = true),
          p("seq_file", "file_url"), p("img_file", "file_url")),
        enums = Map.empty, edges = Seq.empty)
      ExportStages.cdsFlatten(manifest, catalog)
        .orderBy(col("file_url"), col("cds_path"))
    },

    // The dbGaP stage (DbGapStage): SSM with pdx/cell_line trace-back,
    // SC with sex/consent normalization, SA, and the cross-extract
    // mapping checks — one tagged union so the whole stage grades as a
    // single frame.
    Q("q74_dbgap_stage",
      """WITH participant AS (
        |  SELECT DISTINCT 'P' || CAST(c_custkey % 300 AS VARCHAR) AS participant_id,
        |    CASE (c_custkey % 300) % 5 WHEN 0 THEN 'Female' WHEN 1 THEN 'Male'
        |         WHEN 2 THEN 'Intersex' WHEN 3 THEN NULL ELSE 'female' END AS sex_at_birth,
        |    'CG' || CAST((c_custkey % 300) % 4 AS VARCHAR) AS consent_fk
        |  FROM customer),
        |sample AS (
        |  SELECT DISTINCT 'S' || CAST(o_orderkey % 600 AS VARCHAR) AS sample_id,
        |    CASE WHEN (o_orderkey % 600) % 4 <= 1
        |         THEN 'P' || CAST((o_orderkey % 600) % 300 AS VARCHAR) END AS participant_fk,
        |    CASE WHEN (o_orderkey % 600) % 4 = 2
        |         THEN 'X' || CAST((o_orderkey % 600) % 60 AS VARCHAR) END AS pdx_fk,
        |    CASE WHEN (o_orderkey % 600) % 4 = 3 OR (o_orderkey % 600) % 20 = 2
        |         THEN 'C' || CAST((o_orderkey % 600) % 50 AS VARCHAR) END AS cell_line_fk,
        |    'st' || CAST((o_orderkey % 600) % 3 AS VARCHAR) AS sample_tumor_status
        |  FROM orders),
        |pdx AS (
        |  SELECT DISTINCT 'X' || CAST(p_partkey % 60 AS VARCHAR) AS pdx_id,
        |    CASE WHEN (p_partkey % 60) % 5 = 0 THEN NULL
        |         ELSE 'S' || CAST(((p_partkey % 60) * 4) % 600 AS VARCHAR) END AS sample_fk
        |  FROM part),
        |cell_line AS (
        |  SELECT DISTINCT 'C' || CAST(s_suppkey % 50 AS VARCHAR) AS cell_line_id,
        |    CASE WHEN (s_suppkey % 50) % 6 = 0 THEN NULL
        |         ELSE 'S' || CAST(((s_suppkey % 50) * 8) % 600 AS VARCHAR) END AS sample_fk
        |  FROM supplier),
        |direct AS (
        |  SELECT participant_fk AS subject_id, sample_id
        |  FROM sample WHERE participant_fk IS NOT NULL),
        |via_pdx AS (
        |  SELECT d.subject_id, s.sample_id
        |  FROM sample s
        |  JOIN pdx x ON s.pdx_fk = x.pdx_id AND x.sample_fk IS NOT NULL
        |  JOIN direct d ON x.sample_fk = d.sample_id
        |  WHERE s.participant_fk IS NULL AND s.pdx_fk IS NOT NULL),
        |via_cl AS (
        |  SELECT d.subject_id, s.sample_id
        |  FROM sample s
        |  JOIN cell_line c ON s.cell_line_fk = c.cell_line_id AND c.sample_fk IS NOT NULL
        |  JOIN direct d ON c.sample_fk = d.sample_id
        |  WHERE s.participant_fk IS NULL AND s.cell_line_fk IS NOT NULL),
        |ssm AS (
        |  SELECT DISTINCT subject_id, sample_id FROM (
        |    SELECT * FROM direct UNION ALL
        |    SELECT * FROM via_pdx UNION ALL
        |    SELECT * FROM via_cl)
        |  WHERE subject_id IS NOT NULL AND sample_id IS NOT NULL),
        |sc AS (
        |  SELECT DISTINCT participant_id AS subject_id,
        |    CASE consent_fk WHEN 'CG0' THEN '1' WHEN 'CG1' THEN '2'
        |         WHEN 'CG2' THEN '3' END AS consent,
        |    CASE WHEN sex_at_birth IS NULL THEN NULL
        |         WHEN contains(sex_at_birth, 'Female') THEN '2'
        |         WHEN contains(sex_at_birth, 'Male') THEN '1'
        |         ELSE 'UNK' END AS sex
        |  FROM participant WHERE participant_id IS NOT NULL),
        |sa AS (
        |  SELECT DISTINCT sample_id, sample_tumor_status
        |  FROM sample WHERE sample_id IS NOT NULL
        |    AND sample_id IN (SELECT sample_id FROM ssm)),
        |multi AS (SELECT sample_id FROM ssm GROUP BY 1 HAVING count(*) > 1)
        |SELECT * FROM (
        |  SELECT 'ssm' AS part, subject_id AS c1, sample_id AS c2, NULL AS c3 FROM ssm
        |  UNION ALL
        |  SELECT 'sc', subject_id, consent, sex FROM sc
        |  UNION ALL
        |  SELECT 'sa', sample_id, sample_tumor_status, NULL FROM sa
        |  UNION ALL
        |  SELECT 'chk:ssm_missing_subject', subject_id, NULL, NULL
        |  FROM sc WHERE subject_id NOT IN (SELECT subject_id FROM ssm)
        |  UNION ALL
        |  SELECT 'chk:ssm_missing_sample', sample_id, NULL, NULL
        |  FROM sa WHERE sample_id NOT IN (SELECT sample_id FROM ssm)
        |  UNION ALL
        |  SELECT 'chk:sample_multi_subject', sample_id, subject_id, NULL
        |  FROM ssm WHERE sample_id IN (SELECT sample_id FROM multi))
        |ORDER BY part, c1, c2, c3""".stripMargin) { (s, dir) =>
      val rP = col("c_custkey") % 300
      val participant = t(s, dir, "customer").select(
        concat(lit("P"), rP.cast("string")).as("participant_id"),
        when(rP % 5 === 0, "Female").when(rP % 5 === 1, "Male")
          .when(rP % 5 === 2, "Intersex")
          .when(rP % 5 === 3, lit(null).cast("string"))
          .otherwise("female").as("sex_at_birth"),
        concat(lit("CG"), (rP % 4).cast("string"))
          .as("consent_group.consent_group_id"))
        .distinct()
      val rS = col("o_orderkey") % 600
      val sample = t(s, dir, "orders").select(
        concat(lit("S"), rS.cast("string")).as("sample_id"),
        when(rS % 4 <= 1, concat(lit("P"), (rS % 300).cast("string")))
          .otherwise(lit(null).cast("string")).as("participant.participant_id"),
        when(rS % 4 === 2, concat(lit("X"), (rS % 60).cast("string")))
          .otherwise(lit(null).cast("string")).as("pdx.pdx_id"),
        when(rS % 4 === 3 || rS % 20 === 2,
          concat(lit("C"), (rS % 50).cast("string")))
          .otherwise(lit(null).cast("string")).as("cell_line.cell_line_id"),
        concat(lit("st"), (rS % 3).cast("string")).as("sample_tumor_status"))
        .distinct()
      val rX = col("p_partkey") % 60
      val pdx = t(s, dir, "part").select(
        concat(lit("X"), rX.cast("string")).as("pdx_id"),
        when(rX % 5 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("S"), ((rX * 4) % 600).cast("string")))
          .as("sample.sample_id"))
        .distinct()
      val rC = col("s_suppkey") % 50
      val cellLine = t(s, dir, "supplier").select(
        concat(lit("C"), rC.cast("string")).as("cell_line_id"),
        when(rC % 6 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("S"), ((rC * 8) % 600).cast("string")))
          .as("sample.sample_id"))
        .distinct()

      val ssmDf = graft.pipeline.DbGapStage.ssm(sample, Some(pdx), Some(cellLine))
      val sc = graft.pipeline.DbGapStage.subjectConsent(participant, ssmDf,
        Map("CG0" -> "1", "CG1" -> "2", "CG2" -> "3"), filterToSsm = false)
      val sa = graft.pipeline.DbGapStage.sampleAttributes(sample, ssmDf)
      val findings = graft.pipeline.DbGapStage.mappingFindings(sc, ssmDf, sa)

      val tagged = ssmDf.select(lit("ssm").as("part"),
          col("SUBJECT_ID").as("c1"), col("SAMPLE_ID").as("c2"),
          lit(null).cast("string").as("c3"))
        .unionByName(sc.select(lit("sc").as("part"), col("SUBJECT_ID").as("c1"),
          col("CONSENT").as("c2"), col("SEX").as("c3")))
        .unionByName(sa.select(lit("sa").as("part"), col("SAMPLE_ID").as("c1"),
          col("SAMPLE_TUMOR_STATUS").as("c2"), lit(null).cast("string").as("c3")))
        .unionByName(findings.select(
          concat(lit("chk:"), col("check")).as("part"), col("row_key").as("c1"),
          col("bad_value").as("c2"), lit(null).cast("string").as("c3")))
      tagged.orderBy(col("part"), col("c1"), col("c2"), col("c3"))
    },

    // S6/S7/S8 executors against the local-filesystem ObjectStore:
    // hash-bucket chunk assignment (no global sort), distributed
    // probe, streamed md5, and copy execution with md5 verification,
    // all joined back to the plan. The fixture files are written
    // driver-side from a bounded (<=60 rows) customer slice — the io
    // boundary the executors exercise; content is derived from c_name
    // so the oracle recomputes sizes and digests without touching
    // files.
    Q("q75_transfer_exec",
      """WITH base AS (
        |  SELECT c_custkey, 'content:' || c_name AS content,
        |         's3://srcbkt/f' || CAST(c_custkey AS VARCHAR) AS src_uri,
        |         c_custkey % 4 <> 0 AS present
        |  FROM customer WHERE c_custkey <= 60)
        |SELECT c_custkey,
        |  CAST('0x' || substr(md5(src_uri), 1, 8) AS BIGINT) % 4 AS chunk_id,
        |  present AS "exists",
        |  CASE WHEN present THEN CAST(length(content) AS BIGINT) END AS size,
        |  CASE WHEN present THEN md5(content) END AS md5_computed,
        |  CASE WHEN present THEN 'Success' ELSE 'Fail' END AS transfer_status,
        |  CASE WHEN present THEN 'Pass' ELSE 'Fail' END AS md5sum_check
        |FROM base ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      import graft.io.{LocalFsStore, TransferExec}
      import graft.ops.TransferOps
      val base = t(s, dir, "customer").filter(col("c_custkey") <= 60)
        .select(col("c_custkey"),
          concat(lit("s3://srcbkt/f"), col("c_custkey")).as("src_uri"),
          concat(lit("s3://dstbkt/f"), col("c_custkey")).as("dst_uri"),
          concat(lit("content:"), col("c_name")).as("content"))
      // fixture setup (driver-side, bounded): files exist for keys
      // not divisible by 4; the rest exercise the absent paths.
      // The root is per-process + per-sf-dir so concurrent runs
      // (Verify vs Bench, parallel grading) never share files, and
      // dstbkt is wiped so copy results can't leak across runs.
      val root = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_transfer_fixture_p${ProcessHandle.current().pid()}_" +
          java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff))
      val dstDir = root.resolve("dstbkt")
      if (java.nio.file.Files.exists(dstDir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dstDir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      val srcDir = root.resolve("srcbkt")
      java.nio.file.Files.createDirectories(srcDir)
      base.select("c_custkey", "content").collect().foreach { r =>
        val key = r.getLong(0)
        val p = srcDir.resolve(s"f$key")
        if (key % 4 != 0)
          java.nio.file.Files.write(p, r.getString(1).getBytes("UTF-8"))
        else java.nio.file.Files.deleteIfExists(p)
      }
      val store = new LocalFsStore(root.toString)
      val plan = TransferOps.hashChunks(base, "src_uri", 4,
        hashCol = Some(expr("cast(conv(substring(md5(src_uri), 1, 8), 16, 10) as bigint)")))
      val probed = TransferExec.probe(plan, "src_uri", store)
      val withMd5 = TransferExec.md5sum(probed, "src_uri", store)
      val copied = TransferExec.executeCopies(withMd5, "src_uri", "dst_uri", store)
      copied.select(col("c_custkey"), col("chunk_id"), col("exists"),
          col("size"), col("md5_computed"), col("transfer_status"),
          col("md5sum_check"))
        .orderBy(col("c_custkey"))
    },

    // Liftover N:1 node concat: two source nodes lift into one target
    // node (union by name, all-null rows dropped, type column added)
    // and two source properties ;-join into one target property.
    Q("q76_liftover_concat",
      """WITH op AS (
        |  SELECT 'p' || CAST(p_partkey AS VARCHAR) AS item_id,
        |         CASE WHEN p_partkey % 3 = 0 THEN p_brand
        |              ELSE p_brand || ';' || p_type END AS label
        |  FROM part),
        |os AS (
        |  SELECT CASE WHEN s_suppkey % 10 = 0 THEN NULL
        |              ELSE 's' || CAST(s_suppkey AS VARCHAR) END AS item_id,
        |         CASE WHEN s_suppkey % 10 = 0 THEN NULL ELSE s_name END AS label
        |  FROM supplier)
        |SELECT item_id, label, 'item' AS type FROM op
        |UNION ALL
        |SELECT item_id, label, 'item' FROM os
        |WHERE item_id IS NOT NULL OR label IS NOT NULL
        |ORDER BY item_id""".stripMargin) { (s, dir) =>
      val manifest = Map(
        "old_part" -> t(s, dir, "part").select(
          concat(lit("p"), col("p_partkey").cast("string")).as("part_id"),
          col("p_brand").as("brand"),
          when(col("p_partkey") % 3 === 0, lit(null).cast("string"))
            .otherwise(col("p_type")).as("container")),
        "old_supp" -> t(s, dir, "supplier").select(
          when(col("s_suppkey") % 10 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("s"), col("s_suppkey").cast("string"))).as("supp_id"),
          when(col("s_suppkey") % 10 === 0, lit(null).cast("string"))
            .otherwise(col("s_name")).as("sname")))
      val mapping = s.createDataFrame(Seq(
        ("old_part", "part_id", "item", "item_id"),
        ("old_part", "brand", "item", "label"),
        ("old_part", "container", "item", "label"),
        ("old_supp", "supp_id", "item", "item_id"),
        ("old_supp", "sname", "item", "label")))
        .toDF("lift_from_node", "lift_from_property", "lift_to_node", "lift_to_property")
      ReshapeOps.liftoverManifest(manifest, mapping)("item")
        .orderBy(col("item_id"))
    },

    // The GDC converter's composed fixes: experiment-name
    // reconciliation (longest per submitter, then dedup) and the
    // sample preservation pipeline (specimen_type from anatomic site,
    // non-null conversion join, Not-Reported fill, FFPE-over-Frozen).
    Q("q79_gdc_stage",
      """WITH exp_src AS (
        |  SELECT 'S' || CAST(o_orderkey % 800 AS VARCHAR) AS submitter_id,
        |         substr('experimentalpha', 1, 4 + CAST(o_orderkey % 6 AS INT)) AS experiment_name
        |  FROM orders),
        |exp_out AS (
        |  SELECT DISTINCT submitter_id, experiment_name FROM (
        |    SELECT submitter_id,
        |      first_value(experiment_name) OVER (PARTITION BY submitter_id
        |        ORDER BY length(experiment_name) DESC, experiment_name DESC) AS experiment_name
        |    FROM exp_src)),
        |samp AS (
        |  SELECT DISTINCT 'S' || CAST(c_custkey % 400 AS VARCHAR) AS submitter_id,
        |    CASE WHEN (c_custkey % 400) % 4 = 0 THEN 'C42.0 : Blood'
        |         ELSE 'C12.3 : Tongue' END AS anatomic_site
        |  FROM customer),
        |pres AS (
        |  SELECT DISTINCT sample_id, method FROM (
        |    SELECT 'S' || CAST(p_partkey % 400 AS VARCHAR) AS sample_id,
        |      CASE (p_partkey % 400) % 5 WHEN 1 THEN 'Frozen' WHEN 2 THEN 'FFPE'
        |           WHEN 3 THEN 'OCT' END AS method
        |    FROM part
        |    UNION ALL
        |    SELECT 'S' || CAST(p_partkey % 400 AS VARCHAR), 'Frozen'
        |    FROM part WHERE (p_partkey % 400) % 9 = 0)
        |  WHERE method IS NOT NULL),
        |joined AS (
        |  SELECT DISTINCT s.submitter_id,
        |    CASE WHEN contains(s.anatomic_site, 'C42.0 : Blood')
        |         THEN 'Peripheral Whole Blood' ELSE 'Solid Tissue' END AS specimen_type,
        |    COALESCE(p.method, 'Not Reported') AS preservation_method
        |  FROM samp s LEFT JOIN pres p ON s.submitter_id = p.sample_id),
        |samp_out AS (
        |  SELECT submitter_id, specimen_type, preservation_method FROM (
        |    SELECT *, count(*) OVER (PARTITION BY submitter_id) AS n FROM joined)
        |  WHERE n = 1 OR preservation_method <> 'Frozen')
        |SELECT * FROM (
        |  SELECT 'exp' AS part, submitter_id AS c1, experiment_name AS c2,
        |         NULL AS c3 FROM exp_out
        |  UNION ALL
        |  SELECT 'sample', submitter_id, specimen_type, preservation_method
        |  FROM samp_out)
        |ORDER BY part, c1, c2, c3""".stripMargin) { (s, dir) =>
      import graft.pipeline.GdcStage
      val expSrc = t(s, dir, "orders").select(
        concat(lit("S"), (col("o_orderkey") % 800).cast("string")).as("submitter_id"),
        lit("experimentalpha")
          .substr(lit(1), (lit(4) + col("o_orderkey") % 6).cast("int"))
          .as("experiment_name"))
      val expOut = GdcStage.reconcileExperimentNames(expSrc, "submitter_id", "experiment_name")
      val rSamp = col("c_custkey") % 400
      val samp = t(s, dir, "customer").select(
        concat(lit("S"), rSamp.cast("string")).as("submitter_id"),
        when(rSamp % 4 === 0, "C42.0 : Blood")
          .otherwise("C12.3 : Tongue").as("anatomic_site"))
        .distinct()
      val rPres = col("p_partkey") % 400
      val presA = t(s, dir, "part").select(
        concat(lit("S"), rPres.cast("string")).as("sample_id"),
        when(rPres % 5 === 1, "Frozen").when(rPres % 5 === 2, "FFPE")
          .when(rPres % 5 === 3, "OCT")
          .otherwise(lit(null).cast("string")).as("preservation_method"))
      val presB = t(s, dir, "part").filter(rPres % 9 === 0).select(
        concat(lit("S"), rPres.cast("string")).as("sample_id"),
        lit("Frozen").as("preservation_method"))
      val sampOut = GdcStage.samplePreservationFix(
        samp, "submitter_id", "anatomic_site", presA.unionByName(presB))
        .select("submitter_id", "specimen_type", "preservation_method")
      expOut.select(lit("exp").as("part"), col("submitter_id").as("c1"),
          col("experiment_name").as("c2"), lit(null).cast("string").as("c3"))
        .unionByName(sampOut.select(lit("sample").as("part"),
          col("submitter_id").as("c1"), col("specimen_type").as("c2"),
          col("preservation_method").as("c3")))
        .orderBy(col("part"), col("c1"), col("c2"), col("c3"))
    }
  )
}

/** DuckDB oracle for q73: the same synthesized node frames and the
  * same 14 walk-back paths, each spelled out with its parent-wins (or
  * reversed anatomic_site) COALESCE policy.
  */
private object CdsOracle {
  val sql: String =
    """WITH study AS (
      |  SELECT DISTINCT 'ST' || CAST(n_nationkey % 3 AS VARCHAR) AS study_id,
      |         'Title' || CAST(n_nationkey % 3 AS VARCHAR) AS study_title FROM nation),
      |study_admin AS (
      |  SELECT DISTINCT 'ST' || CAST(n_nationkey % 3 AS VARCHAR) AS study_id,
      |         'Adm' || CAST(n_nationkey % 3 AS VARCHAR) AS admin_name FROM nation),
      |study_personnel AS (
      |  SELECT DISTINCT 'ST' || CAST(n_nationkey % 3 AS VARCHAR) AS study_id,
      |         'PI' || CAST(n_nationkey % 3 AS VARCHAR) AS personnel_name FROM nation),
      |participant AS (
      |  SELECT DISTINCT 'P' || CAST(c_custkey % 200 AS VARCHAR) AS participant_id,
      |         'ST' || CAST((c_custkey % 200) % 3 AS VARCHAR) AS study_id FROM customer),
      |diagnosis AS (
      |  SELECT DISTINCT 'P' || CAST(c_custkey % 200 AS VARCHAR) AS participant_id,
      |         CASE WHEN (c_custkey % 200) % 4 = 0 THEN NULL
      |              ELSE 'dx' || CAST((c_custkey % 200) % 7 AS VARCHAR) END AS anatomic_site
      |  FROM customer),
      |sample AS (
      |  SELECT DISTINCT 'S' || CAST(o_orderkey % 500 AS VARCHAR) AS sample_id,
      |    CASE WHEN (o_orderkey % 500) % 5 <= 2
      |         THEN 'P' || CAST((o_orderkey % 500) % 200 AS VARCHAR) END AS participant_id,
      |    CASE WHEN (o_orderkey % 500) % 5 = 3
      |         THEN 'X' || CAST((o_orderkey % 500) % 50 AS VARCHAR) END AS pdx_id,
      |    CASE WHEN (o_orderkey % 500) % 5 = 4
      |         THEN 'C' || CAST((o_orderkey % 500) % 40 AS VARCHAR) END AS cell_line_id,
      |    CASE WHEN (o_orderkey % 500) % 7 = 0
      |         THEN 'ST' || CAST((o_orderkey % 500) % 3 AS VARCHAR) END AS study_id,
      |    CASE WHEN (o_orderkey % 500) % 3 = 0 THEN NULL
      |         ELSE 'site' || CAST((o_orderkey % 500) % 6 AS VARCHAR) END AS anatomic_site
      |  FROM orders),
      |pdx AS (
      |  SELECT DISTINCT 'X' || CAST(p_partkey % 50 AS VARCHAR) AS pdx_id,
      |         'S' || CAST(((p_partkey % 50) * 7) % 500 AS VARCHAR) AS sample_id,
      |         'pp' || CAST((p_partkey % 50) % 4 AS VARCHAR) AS passage FROM part),
      |cell_line AS (
      |  SELECT DISTINCT 'C' || CAST(s_suppkey % 40 AS VARCHAR) AS cell_line_id,
      |         'S' || CAST(((s_suppkey % 40) * 11) % 500 AS VARCHAR) AS sample_id,
      |         'src' || CAST((s_suppkey % 40) % 3 AS VARCHAR) AS source FROM supplier),
      |files AS (
      |  SELECT 's3://f/' || CAST(o_orderkey AS VARCHAR) AS file_url,
      |         'f' || CAST(o_orderkey AS VARCHAR) AS file_name,
      |         CASE WHEN o_orderkey % 2 = 0
      |              THEN 'plat' || CAST(o_orderkey % 2 AS VARCHAR) END AS platform,
      |         CASE WHEN o_orderkey % 2 = 1
      |              THEN 'mod' || CAST(o_orderkey % 3 AS VARCHAR) END AS modality,
      |         CASE WHEN o_orderkey % 6 <= 1
      |              THEN 'S' || CAST(o_orderkey % 500 AS VARCHAR) END AS sample_id,
      |         CASE WHEN o_orderkey % 6 = 2
      |              THEN 'X' || CAST(o_orderkey % 50 AS VARCHAR) END AS pdx_id,
      |         CASE WHEN o_orderkey % 6 = 3
      |              THEN 'C' || CAST(o_orderkey % 40 AS VARCHAR) END AS cell_line_id,
      |         CASE WHEN o_orderkey % 6 = 4
      |              THEN 'P' || CAST(o_orderkey % 200 AS VARCHAR) END AS participant_id,
      |         CASE WHEN o_orderkey % 6 = 5
      |              THEN 'ST' || CAST(o_orderkey % 3 AS VARCHAR) END AS study_id
      |  FROM orders),
      |sl AS (
      |  SELECT st.study_id, st.study_title, a.admin_name, pe.personnel_name
      |  FROM study st
      |  LEFT JOIN study_admin a USING (study_id)
      |  LEFT JOIN study_personnel pe USING (study_id)),
      |pl AS (
      |  SELECT q.study_id, q.study_title, q.admin_name, q.personnel_name,
      |         q.participant_id, d.anatomic_site
      |  FROM (SELECT t.*, pt.participant_id
      |        FROM sl t LEFT JOIN participant pt USING (study_id)) q
      |  LEFT JOIN diagnosis d USING (participant_id)),
      |sf AS (
      |  SELECT s.sample_id,
      |         COALESCE(s.participant_id, f.participant_id) AS participant_id,
      |         COALESCE(s.pdx_id, f.pdx_id) AS pdx_id,
      |         COALESCE(s.cell_line_id, f.cell_line_id) AS cell_line_id,
      |         COALESCE(s.study_id, f.study_id) AS study_id,
      |         s.anatomic_site, f.file_url, f.file_name, f.platform, f.modality
      |  FROM sample s
      |  LEFT JOIN (SELECT * FROM files WHERE sample_id IS NOT NULL) f USING (sample_id)
      |  WHERE f.file_url IS NOT NULL),
      |pf AS (
      |  SELECT x.pdx_id, COALESCE(x.sample_id, f.sample_id) AS sample_id, x.passage,
      |         f.cell_line_id, f.participant_id, f.study_id,
      |         f.file_url, f.file_name, f.platform, f.modality
      |  FROM pdx x
      |  LEFT JOIN (SELECT * FROM files WHERE pdx_id IS NOT NULL) f USING (pdx_id)
      |  WHERE f.file_url IS NOT NULL),
      |cf AS (
      |  SELECT c.cell_line_id, COALESCE(c.sample_id, f.sample_id) AS sample_id, c.source,
      |         f.pdx_id, f.participant_id, f.study_id,
      |         f.file_url, f.file_name, f.platform, f.modality
      |  FROM cell_line c
      |  LEFT JOIN (SELECT * FROM files WHERE cell_line_id IS NOT NULL) f USING (cell_line_id)
      |  WHERE f.file_url IS NOT NULL),
      |plf AS (
      |  SELECT p.participant_id, COALESCE(p.study_id, f.study_id) AS study_id,
      |         p.study_title, p.admin_name, p.personnel_name, p.anatomic_site,
      |         f.sample_id, f.pdx_id, f.cell_line_id,
      |         f.file_url, f.file_name, f.platform, f.modality
      |  FROM pl p
      |  LEFT JOIN (SELECT * FROM files WHERE participant_id IS NOT NULL) f USING (participant_id)
      |  WHERE f.file_url IS NOT NULL),
      |slf AS (
      |  SELECT t.study_id, t.study_title, t.admin_name, t.personnel_name,
      |         f.sample_id, f.pdx_id, f.cell_line_id, f.participant_id,
      |         f.file_url, f.file_name, f.platform, f.modality
      |  FROM sl t
      |  LEFT JOIN (SELECT * FROM files WHERE study_id IS NOT NULL) f USING (study_id)
      |  WHERE f.file_url IS NOT NULL),
      |spf AS (
      |  SELECT s.sample_id,
      |         COALESCE(s.participant_id, h.participant_id) AS participant_id,
      |         COALESCE(s.pdx_id, h.pdx_id) AS pdx_id,
      |         COALESCE(s.cell_line_id, h.cell_line_id) AS cell_line_id,
      |         COALESCE(s.study_id, h.study_id) AS study_id,
      |         s.anatomic_site, h.passage, h.file_url, h.file_name, h.platform, h.modality
      |  FROM sample s
      |  LEFT JOIN (SELECT * FROM pf WHERE sample_id IS NOT NULL) h USING (sample_id)
      |  WHERE h.file_url IS NOT NULL),
      |scf AS (
      |  SELECT s.sample_id,
      |         COALESCE(s.participant_id, h.participant_id) AS participant_id,
      |         COALESCE(s.pdx_id, h.pdx_id) AS pdx_id,
      |         COALESCE(s.cell_line_id, h.cell_line_id) AS cell_line_id,
      |         COALESCE(s.study_id, h.study_id) AS study_id,
      |         s.anatomic_site, h.source, h.file_url, h.file_name, h.platform, h.modality
      |  FROM sample s
      |  LEFT JOIN (SELECT * FROM cf WHERE sample_id IS NOT NULL) h USING (sample_id)
      |  WHERE h.file_url IS NOT NULL),
      |psf AS (
      |  SELECT x.pdx_id, COALESCE(x.sample_id, h.sample_id) AS sample_id, x.passage,
      |         h.participant_id, h.cell_line_id, h.study_id, h.anatomic_site,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM pdx x
      |  LEFT JOIN (SELECT * FROM sf WHERE pdx_id IS NOT NULL) h USING (pdx_id)
      |  WHERE h.file_url IS NOT NULL),
      |csf AS (
      |  SELECT c.cell_line_id, COALESCE(c.sample_id, h.sample_id) AS sample_id, c.source,
      |         h.participant_id, h.pdx_id, h.study_id, h.anatomic_site,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM cell_line c
      |  LEFT JOIN (SELECT * FROM sf WHERE cell_line_id IS NOT NULL) h USING (cell_line_id)
      |  WHERE h.file_url IS NOT NULL),
      |spsf AS (
      |  SELECT s.sample_id,
      |         COALESCE(s.participant_id, h.participant_id) AS participant_id,
      |         COALESCE(s.pdx_id, h.pdx_id) AS pdx_id,
      |         COALESCE(s.cell_line_id, h.cell_line_id) AS cell_line_id,
      |         COALESCE(s.study_id, h.study_id) AS study_id,
      |         COALESCE(s.anatomic_site, h.anatomic_site) AS anatomic_site,
      |         h.passage, h.file_url, h.file_name, h.platform, h.modality
      |  FROM sample s
      |  LEFT JOIN (SELECT * FROM psf WHERE sample_id IS NOT NULL) h USING (sample_id)
      |  WHERE h.file_url IS NOT NULL),
      |scsf AS (
      |  SELECT s.sample_id,
      |         COALESCE(s.participant_id, h.participant_id) AS participant_id,
      |         COALESCE(s.pdx_id, h.pdx_id) AS pdx_id,
      |         COALESCE(s.cell_line_id, h.cell_line_id) AS cell_line_id,
      |         COALESCE(s.study_id, h.study_id) AS study_id,
      |         COALESCE(s.anatomic_site, h.anatomic_site) AS anatomic_site,
      |         h.source, h.file_url, h.file_name, h.platform, h.modality
      |  FROM sample s
      |  LEFT JOIN (SELECT * FROM csf WHERE sample_id IS NOT NULL) h USING (sample_id)
      |  WHERE h.file_url IS NOT NULL),
      |plsf AS (
      |  SELECT p.participant_id, COALESCE(p.study_id, h.study_id) AS study_id,
      |         p.study_title, p.admin_name, p.personnel_name,
      |         COALESCE(h.anatomic_site, p.anatomic_site) AS anatomic_site,
      |         h.sample_id, h.pdx_id, h.cell_line_id,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM pl p
      |  LEFT JOIN (SELECT * FROM sf WHERE participant_id IS NOT NULL) h USING (participant_id)
      |  WHERE h.file_url IS NOT NULL),
      |plspf AS (
      |  SELECT p.participant_id, COALESCE(p.study_id, h.study_id) AS study_id,
      |         p.study_title, p.admin_name, p.personnel_name,
      |         COALESCE(h.anatomic_site, p.anatomic_site) AS anatomic_site,
      |         h.sample_id, h.pdx_id, h.cell_line_id, h.passage,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM pl p
      |  LEFT JOIN (SELECT * FROM spf WHERE participant_id IS NOT NULL) h USING (participant_id)
      |  WHERE h.file_url IS NOT NULL),
      |plscf AS (
      |  SELECT p.participant_id, COALESCE(p.study_id, h.study_id) AS study_id,
      |         p.study_title, p.admin_name, p.personnel_name,
      |         COALESCE(h.anatomic_site, p.anatomic_site) AS anatomic_site,
      |         h.sample_id, h.pdx_id, h.cell_line_id, h.source,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM pl p
      |  LEFT JOIN (SELECT * FROM scf WHERE participant_id IS NOT NULL) h USING (participant_id)
      |  WHERE h.file_url IS NOT NULL),
      |plspsf AS (
      |  SELECT p.participant_id, COALESCE(p.study_id, h.study_id) AS study_id,
      |         p.study_title, p.admin_name, p.personnel_name,
      |         COALESCE(h.anatomic_site, p.anatomic_site) AS anatomic_site,
      |         h.sample_id, h.pdx_id, h.cell_line_id, h.passage,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM pl p
      |  LEFT JOIN (SELECT * FROM spsf WHERE participant_id IS NOT NULL) h USING (participant_id)
      |  WHERE h.file_url IS NOT NULL),
      |plscsf AS (
      |  SELECT p.participant_id, COALESCE(p.study_id, h.study_id) AS study_id,
      |         p.study_title, p.admin_name, p.personnel_name,
      |         COALESCE(h.anatomic_site, p.anatomic_site) AS anatomic_site,
      |         h.sample_id, h.pdx_id, h.cell_line_id, h.source,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM pl p
      |  LEFT JOIN (SELECT * FROM scsf WHERE participant_id IS NOT NULL) h USING (participant_id)
      |  WHERE h.file_url IS NOT NULL),
      |pclf AS (
      |  SELECT p.participant_id, COALESCE(p.study_id, h.study_id) AS study_id,
      |         p.study_title, p.admin_name, p.personnel_name, p.anatomic_site,
      |         h.cell_line_id, h.sample_id, h.source, h.pdx_id,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM pl p
      |  LEFT JOIN (SELECT * FROM cf WHERE participant_id IS NOT NULL) h USING (participant_id)
      |  WHERE h.file_url IS NOT NULL),
      |pclsf AS (
      |  SELECT p.participant_id, COALESCE(p.study_id, h.study_id) AS study_id,
      |         p.study_title, p.admin_name, p.personnel_name,
      |         COALESCE(p.anatomic_site, h.anatomic_site) AS anatomic_site,
      |         h.cell_line_id, h.sample_id, h.source, h.pdx_id,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM pl p
      |  LEFT JOIN (SELECT * FROM csf WHERE participant_id IS NOT NULL) h USING (participant_id)
      |  WHERE h.file_url IS NOT NULL),
      |slpf AS (
      |  SELECT t.study_id, t.study_title, t.admin_name, t.personnel_name,
      |         h.pdx_id, h.sample_id, h.passage, h.cell_line_id, h.participant_id,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM sl t
      |  LEFT JOIN (SELECT * FROM pf WHERE study_id IS NOT NULL) h USING (study_id)
      |  WHERE h.file_url IS NOT NULL),
      |slcf AS (
      |  SELECT t.study_id, t.study_title, t.admin_name, t.personnel_name,
      |         h.cell_line_id, h.sample_id, h.source, h.pdx_id, h.participant_id,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM sl t
      |  LEFT JOIN (SELECT * FROM cf WHERE study_id IS NOT NULL) h USING (study_id)
      |  WHERE h.file_url IS NOT NULL),
      |slpsf AS (
      |  SELECT t.study_id, t.study_title, t.admin_name, t.personnel_name,
      |         h.pdx_id, h.sample_id, h.passage, h.cell_line_id, h.participant_id,
      |         h.anatomic_site, h.file_url, h.file_name, h.platform, h.modality
      |  FROM sl t
      |  LEFT JOIN (SELECT * FROM psf WHERE study_id IS NOT NULL) h USING (study_id)
      |  WHERE h.file_url IS NOT NULL),
      |slcsf AS (
      |  SELECT t.study_id, t.study_title, t.admin_name, t.personnel_name,
      |         h.cell_line_id, h.sample_id, h.source, h.pdx_id, h.participant_id,
      |         h.anatomic_site, h.file_url, h.file_name, h.platform, h.modality
      |  FROM sl t
      |  LEFT JOIN (SELECT * FROM csf WHERE study_id IS NOT NULL) h USING (study_id)
      |  WHERE h.file_url IS NOT NULL),
      |slspsf AS (
      |  SELECT t.study_id, t.study_title, t.admin_name, t.personnel_name,
      |         h.sample_id, h.pdx_id, h.cell_line_id, h.participant_id,
      |         h.anatomic_site, h.passage,
      |         h.file_url, h.file_name, h.platform, h.modality
      |  FROM sl t
      |  LEFT JOIN (SELECT * FROM spsf WHERE study_id IS NOT NULL) h USING (study_id)
      |  WHERE h.file_url IS NOT NULL)
      |SELECT study_id, study_title, admin_name, personnel_name, participant_id,
      |       anatomic_site, sample_id, pdx_id, cell_line_id, passage, source,
      |       file_url, file_name, platform, modality, cds_path
      |FROM (
      |  SELECT DISTINCT *, NULL AS passage, NULL AS source,
      |         'participant_file' AS cds_path FROM plf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS passage,
      |         'participant_cell_line_file' AS cds_path FROM pclf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS passage,
      |         'participant_cell_line_sample_file' AS cds_path FROM pclsf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS passage, NULL AS source,
      |         'participant_sample_file' AS cds_path FROM plsf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS source,
      |         'participant_sample_pdx_file' AS cds_path FROM plspf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS passage,
      |         'participant_sample_cell_line_file' AS cds_path FROM plscf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS source,
      |         'participant_sample_pdx_sample_file' AS cds_path FROM plspsf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS passage,
      |         'participant_sample_cell_line_sample_file' AS cds_path FROM plscsf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS anatomic_site, NULL AS passage, NULL AS source,
      |         'study_file' AS cds_path FROM slf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS anatomic_site, NULL AS source,
      |         'study_pdx_file' AS cds_path FROM slpf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS anatomic_site, NULL AS passage,
      |         'study_cell_line_file' AS cds_path FROM slcf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS source,
      |         'study_pdx_sample_file' AS cds_path FROM slpsf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS passage,
      |         'study_cell_line_sample_file' AS cds_path FROM slcsf
      |  UNION ALL BY NAME
      |  SELECT DISTINCT *, NULL AS source,
      |         'study_sample_pdx_sample_file' AS cds_path FROM slspsf
      |) u
      |ORDER BY file_url, cds_path""".stripMargin
}
