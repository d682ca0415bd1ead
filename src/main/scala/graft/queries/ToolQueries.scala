package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.io.{LocalFsStore, TransferExec}
import graft.ops.{JoinOps, TemplateUpdate, TransferOps}
import graft.pipeline.SubmissionCruncher

/** Round-3 reference tools, graded end-to-end: the manifest diff
  * (`workflows/compare_dataframes.py`), the submission cruncher
  * (`src/submission_cruncher.py`), the template-update relocation
  * report (`src/update_ccdi_template.py`) and the staged file remover
  * (`src/file_remover.py`) — each over frames synthesized
  * deterministically from the driver parquet (the q60 pattern).
  */
object ToolQueries {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  /** Stress hook (the MoverQueries.Scale twin): scales q84's mutating
    * fixture cap in BOTH the Spark plan and the oracle literal, so the
    * oracle compare holds at any scale; unset (=1) in driver runs.
    */
  private val Scale = graft.Harness.knob("GRAFT_STRESS_SCALE")
    .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
  private val RemoverCap = 60 * Scale

  val all: Seq[Q] = Seq(

    // pandas outer merge + indicator (compare_dataframes.py:26-50):
    // overlapping non-key columns suffixed _x/_y, presence in
    // {both, left_only, right_only}.
    Q("q81_manifest_diff",
      """WITH l AS (
        |  SELECT 'K' || CAST(c_custkey AS VARCHAR) AS id1,
        |         c_name AS name_x, c_mktsegment AS mkt
        |  FROM customer WHERE c_custkey % 4 <> 0),
        |r AS (
        |  SELECT 'K' || CAST(c_custkey AS VARCHAR) AS id2,
        |         upper(c_name) AS name_y, CAST(c_nationkey AS VARCHAR) AS nat
        |  FROM customer WHERE c_custkey % 3 <> 0)
        |SELECT id1, name_x, mkt, id2, name_y, nat,
        |  CASE WHEN id1 IS NOT NULL AND id2 IS NOT NULL THEN 'both'
        |       WHEN id1 IS NOT NULL THEN 'left_only'
        |       ELSE 'right_only' END AS presence
        |FROM l FULL OUTER JOIN r ON l.id1 = r.id2
        |ORDER BY coalesce(id1, id2)""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val left = cust.filter(col("c_custkey") % 4 =!= 0).select(
        concat(lit("K"), col("c_custkey").cast("string")).as("id1"),
        col("c_name").as("name"), col("c_mktsegment").as("mkt"))
      val right = cust.filter(col("c_custkey") % 3 =!= 0).select(
        concat(lit("K"), col("c_custkey").cast("string")).as("id2"),
        upper(col("c_name")).as("name"), col("c_nationkey").cast("string").as("nat"))
      JoinOps.diffByKey(left, right, "id1", "id2")
        .orderBy(coalesce(col("id1"), col("id2")))
    },

    // append_one_submission ∘ concatenate_submissions
    // (submission_cruncher.py:20-76): per node drop `type`, drop
    // all-null rows, union submissions, dedup, re-tag. Two nodes
    // graded as one tagged union.
    Q("q82_submission_concat",
      """WITH s1a AS (
        |  SELECT CASE WHEN p_partkey % 10 = 0 THEN NULL
        |              ELSE 'A' || CAST(p_partkey % 120 AS VARCHAR) END AS id,
        |         CASE WHEN p_partkey % 10 = 0 THEN NULL ELSE p_brand END AS v1,
        |         CASE WHEN p_partkey % 10 = 0 OR p_partkey % 7 = 0 THEN NULL
        |              ELSE p_type END AS v2
        |  FROM part WHERE p_partkey <= 400),
        |s2a AS (
        |  SELECT CASE WHEN p_partkey % 10 = 0 THEN NULL
        |              ELSE 'A' || CAST(p_partkey % 120 AS VARCHAR) END AS id,
        |         CASE WHEN p_partkey % 10 = 0 THEN NULL ELSE p_brand END AS v1,
        |         CASE WHEN p_partkey % 10 = 0 OR p_partkey % 7 = 0 THEN NULL
        |              ELSE p_type END AS v2
        |  FROM part WHERE p_partkey > 200 AND p_partkey <= 500),
        |alpha AS (
        |  SELECT DISTINCT 'alpha' AS type, id, v1, v2
        |  FROM (SELECT * FROM s1a UNION ALL SELECT * FROM s2a)
        |  WHERE id IS NOT NULL OR v1 IS NOT NULL OR v2 IS NOT NULL),
        |s2b AS (
        |  SELECT CASE WHEN s_suppkey % 5 = 0 THEN NULL
        |              ELSE 'B' || CAST(s_suppkey % 40 AS VARCHAR) END AS id,
        |         CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_name END AS w
        |  FROM supplier),
        |beta AS (
        |  SELECT DISTINCT 'beta' AS type, id, w
        |  FROM s2b WHERE id IS NOT NULL OR w IS NOT NULL)
        |SELECT type, id, v1, v2, w FROM (
        |  SELECT type, id, v1, v2, NULL AS w FROM alpha
        |  UNION ALL
        |  SELECT type, id, NULL AS v1, NULL AS v2, w FROM beta)
        |ORDER BY type, id NULLS FIRST, v1 NULLS FIRST, v2 NULLS FIRST,
        |  w NULLS FIRST""".stripMargin) { (s, dir) =>
      val part = t(s, dir, "part")
      val sup = t(s, dir, "supplier")
      def alphaFrom(df: org.apache.spark.sql.DataFrame) = df.select(
        lit("alpha").as("type"),
        when(col("p_partkey") % 10 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("A"), (col("p_partkey") % 120).cast("string")))
          .as("id"),
        when(col("p_partkey") % 10 === 0, lit(null).cast("string"))
          .otherwise(col("p_brand")).as("v1"),
        when(col("p_partkey") % 10 === 0 || col("p_partkey") % 7 === 0,
          lit(null).cast("string")).otherwise(col("p_type")).as("v2"))
      val sub1 = Map("alpha" -> alphaFrom(part.filter(col("p_partkey") <= 400)))
      val sub2 = Map(
        "alpha" -> alphaFrom(part.filter(
          col("p_partkey") > 200 && col("p_partkey") <= 500)),
        "beta" -> sup.select(
          lit("beta").as("type"),
          when(col("s_suppkey") % 5 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("B"), (col("s_suppkey") % 40).cast("string")))
            .as("id"),
          when(col("s_suppkey") % 5 === 0, lit(null).cast("string"))
            .otherwise(col("s_name")).as("w")))
      val merged = SubmissionCruncher.concatSubmissions(Seq(sub1, sub2))
      merged("alpha")
        .unionByName(merged("beta"), allowMissingColumns = true)
        .select("type", "id", "v1", "v2", "w")
        .orderBy(col("type"), col("id"), col("v1"), col("v2"), col("w"))
    },

    // populate_template_workbook's relocation report
    // (update_ccdi_template.py:103-221): carried columns silent;
    // single-candidate relocation Yes; multi-candidate list in
    // template order, No; no candidate (or only file/diagnosis)
    // "Not transfered"; all-null columns skipped.
    Q("q83_template_update",
      """WITH sample_t AS (
        |  SELECT 'sample' AS type, 'S' || CAST(c_custkey AS VARCHAR) AS sample_id,
        |         c_mktsegment AS anatomic_site, c_mktsegment AS old_prop,
        |         CAST(NULL AS VARCHAR) AS empty_prop, c_name AS moved_prop
        |  FROM customer),
        |participant_t AS (
        |  SELECT 'participant' AS type, 'P' || CAST(s_suppkey AS VARCHAR) AS participant_id,
        |         CAST(s_nationkey AS VARCHAR) AS race, s_name AS multi_prop,
        |         's' || CAST(s_nationkey AS VARCHAR) AS excl_prop
        |  FROM supplier),
        |mprops AS (
        |  SELECT 'sample' AS node, 'type' AS property, count(type) > 0 AS has_value FROM sample_t
        |  UNION ALL SELECT 'sample', 'sample_id', count(sample_id) > 0 FROM sample_t
        |  UNION ALL SELECT 'sample', 'anatomic_site', count(anatomic_site) > 0 FROM sample_t
        |  UNION ALL SELECT 'sample', 'old_prop', count(old_prop) > 0 FROM sample_t
        |  UNION ALL SELECT 'sample', 'empty_prop', count(empty_prop) > 0 FROM sample_t
        |  UNION ALL SELECT 'sample', 'moved_prop', count(moved_prop) > 0 FROM sample_t
        |  UNION ALL SELECT 'participant', 'type', count(type) > 0 FROM participant_t
        |  UNION ALL SELECT 'participant', 'participant_id', count(participant_id) > 0 FROM participant_t
        |  UNION ALL SELECT 'participant', 'race', count(race) > 0 FROM participant_t
        |  UNION ALL SELECT 'participant', 'multi_prop', count(multi_prop) > 0 FROM participant_t
        |  UNION ALL SELECT 'participant', 'excl_prop', count(excl_prop) > 0 FROM participant_t),
        |tprops AS (
        |  SELECT * FROM (VALUES
        |    ('sample', 'type', 0), ('sample', 'sample_id', 1),
        |    ('sample', 'anatomic_site', 2),
        |    ('participant', 'type', 10), ('participant', 'participant_id', 11),
        |    ('participant', 'race', 12),
        |    ('assay', 'type', 20), ('assay', 'moved_prop', 21),
        |    ('assay', 'multi_prop', 22),
        |    ('study', 'type', 30), ('study', 'multi_prop', 31),
        |    ('file', 'type', 40), ('file', 'excl_prop', 41)
        |  ) v(node, property, pos)),
        |moved AS (
        |  SELECT m.node, m.property FROM mprops m
        |  WHERE m.has_value AND NOT EXISTS (
        |    SELECT 1 FROM tprops tp
        |    WHERE tp.node = m.node AND tp.property = m.property)),
        |agg AS (
        |  SELECT mv.node, mv.property,
        |         count(c.node) AS n,
        |         coalesce(string_agg(c.node, ',' ORDER BY c.pos), '') AS joined
        |  FROM moved mv LEFT JOIN
        |    (SELECT * FROM tprops WHERE node NOT IN ('file', 'diagnosis')) c
        |    ON mv.property = c.property
        |  GROUP BY mv.node, mv.property)
        |SELECT node, property,
        |  CASE WHEN n >= 1 THEN 'Relocated' ELSE 'Not transfered' END AS change,
        |  CASE WHEN n >= 1 THEN joined ELSE '' END AS new_node,
        |  CASE WHEN n = 1 THEN 'Yes' ELSE 'No' END AS populated_in_new_node
        |FROM agg ORDER BY node, property""".stripMargin) { (s, dir) =>
      import s.implicits._
      val cust = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val sample = cust.select(
        lit("sample").as("type"),
        concat(lit("S"), col("c_custkey").cast("string")).as("sample_id"),
        col("c_mktsegment").as("anatomic_site"),
        col("c_mktsegment").as("old_prop"),
        lit(null).cast("string").as("empty_prop"),
        col("c_name").as("moved_prop"))
      val participant = sup.select(
        lit("participant").as("type"),
        concat(lit("P"), col("s_suppkey").cast("string")).as("participant_id"),
        col("s_nationkey").cast("string").as("race"),
        col("s_name").as("multi_prop"),
        concat(lit("s"), col("s_nationkey").cast("string")).as("excl_prop"))
      val template = Seq(
        ("sample", "type", 0), ("sample", "sample_id", 1),
        ("sample", "anatomic_site", 2),
        ("participant", "type", 10), ("participant", "participant_id", 11),
        ("participant", "race", 12),
        ("assay", "type", 20), ("assay", "moved_prop", 21),
        ("assay", "multi_prop", 22),
        ("study", "type", 30), ("study", "multi_prop", 31),
        ("file", "type", 40), ("file", "excl_prop", 41))
        .toDF("node", "property", "pos")
      val props = TemplateUpdate.manifestProps(
        Map("sample" -> sample, "participant" -> participant))
      TemplateUpdate.relocationReport(props, template)
        .orderBy(col("node"), col("property"))
    },

    // The staged file remover (file_remover.py): removal manifest
    // (staging probe + both md5s + md5sum_check + missing-object
    // candidate search over the staging inventory) then deletion of
    // the verified rows, statuses joined back. LocalFsStore fixture,
    // rebuilt hermetically per plan construction; the manifest is
    // eagerly checkpointed BEFORE the deletes so probe reads can't
    // race the deletions inside one job.
    Q("q84_file_remover",
      s"""WITH base AS (
        |  SELECT c_custkey AS k, 'data:' || c_name AS content,
        |         'alt:' || c_name AS altcontent
        |  FROM customer WHERE c_custkey <= $RemoverCap)
        |SELECT k AS c_custkey,
        |  (k % 3 <> 2) AS staging_if_exist,
        |  md5(content) AS md5sum,
        |  CASE WHEN k % 3 = 0 THEN md5(content)
        |       WHEN k % 3 = 1 THEN md5(altcontent) ELSE '' END AS staging_md5sum,
        |  CASE WHEN k % 3 = 0 THEN 'Pass' ELSE '' END AS md5sum_check,
        |  CASE WHEN k % 3 = 2 AND k % 2 = 0
        |       THEN 's3://stagebkt/elsewhere/f' || CAST(k AS VARCHAR) || ','
        |       ELSE '' END AS missing_object_candidate_keys,
        |  CASE WHEN k % 3 = 0 THEN 'Success' END AS delete_status
        |FROM base ORDER BY k""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "customer").filter(col("c_custkey") <= RemoverCap)
        .select(col("c_custkey"),
          concat(lit("data:"), col("c_name")).as("content"),
          concat(lit("alt:"), col("c_name")).as("altcontent"))
      // hermetic fixture root (per process + per sf dir), wiped fully
      // so prior deletions can't leak into this construction
      val root = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_remover_fixture_p${ProcessHandle.current().pid()}_" +
          java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff))
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      val prodDir = root.resolve("prodbkt").resolve("rel")
      val stageDir = root.resolve("stagebkt").resolve("stage")
      val elseDir = root.resolve("stagebkt").resolve("elsewhere")
      Seq(prodDir, stageDir, elseDir)
        .foreach(java.nio.file.Files.createDirectories(_))
      base.select("c_custkey", "content", "altcontent").collect().foreach { r =>
        val k = r.getLong(0)
        val data = r.getString(1).getBytes("UTF-8")
        java.nio.file.Files.write(prodDir.resolve(s"f$k"), data)
        if (k % 3 == 0)
          java.nio.file.Files.write(stageDir.resolve(s"f$k"), data)
        else if (k % 3 == 1)
          java.nio.file.Files.write(stageDir.resolve(s"f$k"),
            r.getString(2).getBytes("UTF-8"))
        else if (k % 2 == 0)
          java.nio.file.Files.write(elseDir.resolve(s"f$k"), data)
      }
      val store = new LocalFsStore(root.toString)
      val plan = base.select(
        col("c_custkey"),
        concat(lit("s3://prodbkt/rel/f"), col("c_custkey")).as("uri"),
        length(col("content")).cast("long").as("obj_size"))
        .withColumn("staging_uri",
          TransferOps.stagingUri(col("uri"), "prodbkt/rel", "stagebkt/stage"))
      val inventory = base.filter(col("c_custkey") % 3 < 2).select(
          concat(lit("s3://stagebkt/stage/f"), col("c_custkey")).as("uri"),
          when(col("c_custkey") % 3 === 0, length(col("content")))
            .otherwise(length(col("altcontent"))).cast("long").as("size"))
        .union(base
          .filter(col("c_custkey") % 3 === 2 && col("c_custkey") % 2 === 0)
          .select(
            concat(lit("s3://stagebkt/elsewhere/f"), col("c_custkey")).as("uri"),
            length(col("content")).cast("long").as("size")))
      val rm = TransferExec.removalManifest(plan, "uri", "staging_uri",
          "obj_size", store, Some(inventory))
        .localCheckpoint(true)
      val pass = rm.filter(col("md5sum_check") === "Pass")
      val deleted = TransferExec.executeDeletes(pass, "uri", store)
        .select(col("uri"), col("delete_status"))
      rm.join(deleted, Seq("uri"), "left")
        .select(col("c_custkey"), col("staging_if_exist"), col("md5sum"),
          col("staging_md5sum"), col("md5sum_check"),
          col("missing_object_candidate_keys"), col("delete_status"))
        .orderBy(col("c_custkey"))
    },

    // The COG rule engine (cog_rules_functions.py): a rules table
    // compiled to Catalyst Columns — liftover / concatenation /
    // age_event / race_eth / tumor_grade / efs_status + prefix and
    // priority modifiers, core gating, required defaults, and the
    // per-node mode-group union. The oracle derives every expected
    // value from key arithmetic (the fixture's value domains are
    // closed, so the pandas title/mapping logic is enumerable).
    Q("q85_cog_transform",
      """WITH base AS (
        |  SELECT c_custkey AS k FROM customer),
        |participant AS (
        |  SELECT 'participant' AS node,
        |    'U' || CAST(k AS VARCHAR) AS participant_id,
        |    CASE
        |      WHEN k % 5 = 4 THEN NULL
        |      WHEN k % 5 = 2 AND k % 3 = 0 THEN 'Hispanic or Latino'
        |      WHEN k % 5 = 2 THEN 'Unknown'
        |      ELSE (CASE k % 5 WHEN 0 THEN 'White'
        |                       WHEN 1 THEN 'Black or African American'
        |                       ELSE 'Asian' END)
        |           || (CASE WHEN k % 3 = 0 THEN ';Hispanic or Latino' ELSE '' END)
        |    END AS race_ethnicity,
        |    CASE WHEN k % 11 = 0 THEN '-999'
        |         ELSE CAST((k % 900 + 10) + (k % 480) AS VARCHAR)
        |    END AS age_at_diagnosis,
        |    'rec_' || (CASE WHEN k % 13 = 0 THEN ''
        |               ELSE 'm' || CAST(k % 10 AS VARCHAR) || '_' END)
        |           || 'x' || CAST(k % 8 AS VARCHAR) AS record_id,
        |    CAST(NULL AS VARCHAR) AS dx_date,
        |    CAST(NULL AS VARCHAR) AS diagnosis_id,
        |    CAST(NULL AS VARCHAR) AS tumor_grade_std,
        |    CAST(NULL AS VARCHAR) AS top_grade,
        |    CAST(NULL AS VARCHAR) AS efs
        |  FROM base),
        |diagnosis AS (
        |  SELECT 'diagnosis' AS node,
        |    CAST(NULL AS VARCHAR) AS participant_id,
        |    CAST(NULL AS VARCHAR) AS race_ethnicity,
        |    CAST(NULL AS VARCHAR) AS age_at_diagnosis,
        |    CAST(NULL AS VARCHAR) AS record_id,
        |    CAST(k % 480 AS VARCHAR) AS dx_date,
        |    'U' || CAST(k AS VARCHAR) || '_' || CAST(k % 480 AS VARCHAR)
        |      AS diagnosis_id,
        |    CASE k % 6
        |      WHEN 0 THEN CASE WHEN k % 7 = 0
        |        THEN 'G1 Low Grade;G2 Intermediate Grade' ELSE 'G1 Low Grade' END
        |      WHEN 1 THEN 'G2 Intermediate Grade'
        |      WHEN 2 THEN CASE WHEN k % 7 = 0
        |        THEN 'G2 Intermediate Grade;G3 High Grade' ELSE 'G3 High Grade' END
        |      WHEN 3 THEN CASE WHEN k % 7 = 0
        |        THEN 'G2 Intermediate Grade;G4 Anaplastic' ELSE 'G4 Anaplastic' END
        |      WHEN 4 THEN CASE WHEN k % 7 = 0
        |        THEN 'G2 Intermediate Grade;Unknown' ELSE 'Unknown' END
        |      ELSE CASE WHEN k % 7 = 0 THEN 'G2 Intermediate Grade' END
        |    END AS tumor_grade_std,
        |    CASE k % 6
        |      WHEN 0 THEN 'G1 Low Grade'
        |      WHEN 1 THEN 'G2 Intermediate Grade'
        |      WHEN 2 THEN CASE WHEN k % 7 = 0
        |        THEN 'G2 Intermediate Grade' ELSE 'G3 High Grade' END
        |      WHEN 3 THEN CASE WHEN k % 7 = 0
        |        THEN 'G2 Intermediate Grade' ELSE 'G4 Anaplastic' END
        |      WHEN 4 THEN CASE WHEN k % 7 = 0
        |        THEN 'G2 Intermediate Grade' ELSE 'Unknown' END
        |      ELSE CASE WHEN k % 7 = 0 THEN 'G2 Intermediate Grade' END
        |    END AS top_grade,
        |    CASE WHEN k % 4 = 0 OR k % 5 = 0 THEN 'Not Censored'
        |         ELSE 'Censored' END AS efs
        |  FROM base WHERE k % 11 <> 0)
        |SELECT * FROM (
        |  SELECT * FROM participant UNION ALL SELECT * FROM diagnosis)
        |ORDER BY node, coalesce(participant_id, diagnosis_id)""".stripMargin) {
      (s, dir) =>
      import graft.ops.RuleEngine
      import graft.ops.RuleEngine.CogRule
      val k = col("c_custkey")
      val input = t(s, dir, "customer").select(
        concat(lit("U"), k.cast("string")).as("USI"),
        concat(lit("-"), (k % 900 + 10).cast("string")).as("DOB"),
        when(k % 11 === 0, lit(null).cast("string"))
          .otherwise((k % 480).cast("string")).as("DX_DT"),
        when(k % 5 === 0, "white")
          .when(k % 5 === 1, "black or african american")
          .when(k % 5 === 2, "unknown")
          .when(k % 5 === 3, "asian")
          .otherwise(lit(null).cast("string")).as("RACE"),
        when(k % 3 === 0, "hispanic or latino")
          .when(k % 3 === 1, "not hispanic or latino")
          .otherwise("unknown").as("ETH"),
        when(k % 6 === 0, "I").when(k % 6 === 1, "II")
          .when(k % 6 === 2, "III").when(k % 6 === 3, "IV")
          .when(k % 6 === 4, "Unknown")
          .otherwise(lit(null).cast("string")).as("GRADE1"),
        when(k % 7 === 0, "Grade II")
          .otherwise(lit(null).cast("string")).as("GRADE2"),
        when(k % 4 === 0, "Relapse").when(k % 4 === 1, "Other")
          .otherwise(lit(null).cast("string")).as("EFS1"),
        when(k % 5 === 0, "Death")
          .otherwise(lit(null).cast("string")).as("EFS2"),
        when(k % 13 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("m"), (k % 10).cast("string"))).as("MRN1"),
        concat(lit("x"), (k % 8).cast("string")).as("MRN2"))
      val rules = Seq(
        CogRule("participant", "m1", "participant_id", "liftover",
          Seq("USI"), core = true),
        CogRule("participant", "m1", "race_ethnicity", "race_eth",
          Seq("RACE", "ETH")),
        CogRule("participant", "m1", "age_at_diagnosis", "age_event",
          Seq("DOB", "DX_DT")),
        CogRule("participant", "m1", "record_id", "concatenation",
          Seq("MRN1", "MRN2"), modifiers = Seq(("prefix", "rec"))),
        CogRule("diagnosis", "m1", "dx_date", "liftover",
          Seq("DX_DT"), core = true),
        CogRule("diagnosis", "m1", "diagnosis_id", "concatenation",
          Seq("USI", "DX_DT")),
        CogRule("diagnosis", "m1", "tumor_grade_std", "tumor_grade",
          Seq("GRADE1", "GRADE2")),
        CogRule("diagnosis", "m1", "top_grade", "tumor_grade",
          Seq("GRADE1", "GRADE2"), modifiers = Seq(("priority", "1"))),
        CogRule("diagnosis", "m1", "efs", "efs_status",
          Seq("EFS1", "EFS2"), requiredDefault = Some("Censored")))
      val out = RuleEngine.transform(input, rules)
      out.toSeq.sortBy(_._1)
        .map { case (node, df) => df.select(lit(node).as("node") +:
          df.columns.map(c => col("`" + c + "`")).toSeq: _*) }
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .select("node", "participant_id", "race_ethnicity",
          "age_at_diagnosis", "record_id", "dx_date", "diagnosis_id",
          "tumor_grade_std", "top_grade", "efs")
        .orderBy(col("node"), coalesce(col("participant_id"), col("diagnosis_id")))
    },

    // Near-dup cluster formation (DedupOps.connectedComponents):
    // min-label propagation over a candidate-pair graph — chains of
    // 10 (diameter stress), plus cross-links merging chain pairs,
    // plus isolated nodes that stay their own singleton cluster. The
    // oracle computes components with a recursive reachability CTE.
    Q("q86_dup_clusters",
      """WITH RECURSIVE nodes AS (
        |  SELECT DISTINCT o_orderkey % 200 AS id FROM orders),
        |pairs AS (
        |  SELECT id AS id1, id + 1 AS id2 FROM nodes
        |  WHERE id % 10 < 9 AND id % 40 <> 17
        |  UNION ALL
        |  SELECT id, id + 10 FROM nodes WHERE id % 80 = 3),
        |edges AS (
        |  SELECT id1 AS src, id2 AS dst FROM pairs
        |  UNION SELECT id2, id1 FROM pairs),
        |walk AS (
        |  SELECT id, id AS lbl FROM nodes
        |  UNION
        |  SELECT e.dst AS id, w.lbl FROM walk w JOIN edges e ON e.src = w.id)
        |SELECT id, min(lbl) AS cluster_id
        |FROM walk GROUP BY id ORDER BY id""".stripMargin) { (s, dir) =>
      import graft.ops.DedupOps
      val nodes = t(s, dir, "orders")
        .select((col("o_orderkey") % 200).as("id")).distinct()
      val chain = nodes
        .filter(col("id") % 10 < 9 && col("id") % 40 =!= 17)
        .select(col("id").as("id1"), (col("id") + 1).as("id2"))
      val cross = nodes.filter(col("id") % 80 === 3)
        .select(col("id").as("id1"), (col("id") + 10).as("id2"))
      DedupOps.connectedComponents(chain.union(cross), nodes = Some(nodes))
        .orderBy(col("id"))
    },

    // The db-stats study matrix (db_stats.py:224-305): long
    // (study_id, column_name, value) pulls → dedup → pivot →
    // byte→TB conversion → front/exist/rest column ordering.
    Q("q87_study_stats",
      """WITH g AS (SELECT DISTINCT o_orderkey % 4 AS g FROM orders)
        |SELECT 'ST' || CAST(g AS VARCHAR) AS study_id,
        |  'Study ' || CAST(g AS VARCHAR) AS study_name,
        |  CAST(g * 100 + 7 AS VARCHAR) AS participant_node_count,
        |  CAST(CAST(round((g + 1) * 4000000000 / 1e12, 3) AS DECIMAL(24,3))
        |       AS VARCHAR) AS "study_level_file_size(Tb)",
        |  CASE WHEN g % 2 = 0 THEN 'Yes' ELSE 'No' END AS data_exist_radiology,
        |  CAST(g * 3 AS VARCHAR) AS zmetric
        |FROM g ORDER BY study_id""".stripMargin) { (s, dir) =>
      import graft.ops.StatsOps
      val g = (col("o_orderkey") % 4).cast("string")
      val ord = t(s, dir, "orders")
      def longRow(name: String, value: org.apache.spark.sql.Column) =
        ord.select(concat(lit("ST"), g).as("study_id"),
          lit(name).as("column_name"), value.cast("string").as("value"))
      val long = Seq(
        longRow("study_name", concat(lit("Study "), g)),
        longRow("participant_node_count", col("o_orderkey") % 4 * 100 + 7),
        longRow("study_level_file_size(Tb)",
          (col("o_orderkey") % 4 + 1) * 4000000000L),
        longRow("data_exist_radiology",
          when(col("o_orderkey") % 4 % 2 === 0, "Yes").otherwise("No")),
        longRow("zmetric", col("o_orderkey") % 4 * 3)
      ).reduce(_.union(_))
      StatsOps.studyStatsWide(long, columnNames = Seq("study_name",
        "participant_node_count", "study_level_file_size(Tb)",
        "data_exist_radiology", "zmetric")).orderBy(col("study_id"))
    },

    // The data-catalog stats (data_catalog_stats.py:65-187): the
    // left-closed age histogram with empty bins + Not Reported
    // sentinel row, and per-file-type counts with a Total row —
    // one tagged report frame.
    Q("q88_catalog_stats",
      """WITH diag AS (
        |  SELECT CASE WHEN o_orderkey % 17 = 0 THEN 'bad'
        |              WHEN o_orderkey % 13 = 0 THEN NULL
        |              ELSE CAST(o_orderkey % 33000 AS VARCHAR) END AS age
        |  FROM orders),
        |coerced AS (
        |  SELECT COALESCE(CAST(TRY_CAST(age AS DOUBLE) AS INT), -999) AS a
        |  FROM diag),
        |bins AS (
        |  SELECT 5 * i AS lo, 5 * i + 5 AS hi,
        |         CAST(5 * i AS VARCHAR) || ' to ' ||
        |         CAST(5 * i + 4 AS VARCHAR) || ' years' AS label
        |  FROM generate_series(0, 15) t(i)),
        |binned AS (
        |  SELECT b.label AS v, count(c.a) AS n
        |  FROM bins b LEFT JOIN coerced c
        |    ON c.a <> -999 AND c.a / 365.0 >= b.lo AND c.a / 365.0 < b.hi
        |  GROUP BY b.label),
        |agerows AS (
        |  SELECT 'Case Age at Diagnosis' AS "Data Element",
        |         v AS "Data Element Value", 'Count' AS "Statistic Type",
        |         n AS "Statistic Value"
        |  FROM binned
        |  UNION ALL
        |  SELECT 'Case Age at Diagnosis', 'Not Reported', 'Count',
        |         (SELECT count(*) FROM coerced WHERE a = -999)),
        |ft AS (
        |  SELECT tp, count(*) AS n FROM (
        |    SELECT 'T' || CAST(p_partkey % 5 AS VARCHAR) AS tp FROM part
        |    UNION ALL
        |    SELECT 'T' || CAST(s_suppkey % 7 AS VARCHAR) FROM supplier) u
        |  GROUP BY tp),
        |filerows AS (
        |  SELECT 'Available File Types' AS "Data Element",
        |         tp AS "Data Element Value", 'Count' AS "Statistic Type",
        |         n AS "Statistic Value"
        |  FROM ft
        |  UNION ALL
        |  SELECT 'Total File Count', NULL, 'Count',
        |         CAST((SELECT sum(n) FROM ft) AS BIGINT))
        |SELECT * FROM (
        |  SELECT * FROM agerows UNION ALL SELECT * FROM filerows)
        |ORDER BY "Data Element", "Data Element Value" NULLS FIRST""".stripMargin) {
      (s, dir) =>
      import graft.ops.StatsOps
      val o = col("o_orderkey")
      val diag = t(s, dir, "orders").select(
        when(o % 17 === 0, "bad")
          .when(o % 13 === 0, lit(null).cast("string"))
          .otherwise((o % 33000).cast("string")).as("age_at_diagnosis"))
      val files1 = t(s, dir, "part").select(
        concat(lit("T"), (col("p_partkey") % 5).cast("string")).as("file_type"))
      val files2 = t(s, dir, "supplier").select(
        concat(lit("T"), (col("s_suppkey") % 7).cast("string")).as("file_type"))
      StatsOps.binnedAgeCounts(diag, "age_at_diagnosis")
        .unionByName(StatsOps.fileTypeCounts(Seq(files1, files2), "file_type"))
        .orderBy(col("`Data Element`"), col("`Data Element Value`"))
    },

    // Liftover coverage check (liftover_generic.py:49-110): populated
    // manifest columns with no usable mapping row — mapping rows
    // missing any key field are dropped first, so their source
    // properties surface as unlifted.
    Q("q89_unlifted_props",
      """WITH flags AS (
        |  SELECT 'src_a' AS node, 'keep2' AS property,
        |         EXISTS(SELECT 1 FROM part WHERE p_partkey % 3 <> 0) AS has_value
        |  UNION ALL SELECT 'src_a', 'empty1', false
        |  UNION ALL SELECT 'src_b', 'keepb', EXISTS(SELECT 1 FROM supplier)
        |  UNION ALL SELECT 'src_b', 'emptyb', false)
        |SELECT node, property AS unlifted_property
        |FROM flags WHERE has_value
        |ORDER BY node, unlifted_property""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.ops.{ReshapeOps, TemplateUpdate}
      val srcA = t(s, dir, "part").select(
        lit("src_a").as("type"),
        concat(lit("P"), col("p_partkey").cast("string")).as("a_id"),
        col("p_brand").as("keep1"),
        lit(null).cast("string").as("empty1"),
        when(col("p_partkey") % 3 === 0, lit(null).cast("string"))
          .otherwise(col("p_type")).as("keep2"))
      val srcB = t(s, dir, "supplier").select(
        lit("src_b").as("type"),
        concat(lit("S"), col("s_suppkey").cast("string")).as("b_id"),
        col("s_name").as("keepb"),
        lit(null).cast("string").as("emptyb"))
      val mapping = Seq(
        ("src_a", "a_id", "tgt", "t_id"),
        ("src_a", "keep1", "tgt", "t_brand"),
        ("src_b", "b_id", "tgt2", "t2_id"),
        ("src_a", "keep2", null, "t_dropped"), // null key -> row dropped
        ("src_b", "absent_col", "tgt2", "t2_x"))
        .toDF("lift_from_node", "lift_from_property",
          "lift_to_node", "lift_to_property")
      val props = TemplateUpdate.manifestProps(
        Map("src_a" -> srcA, "src_b" -> srcB))
      ReshapeOps.unliftedProps(props, mapping)
        .orderBy(col("node"), col("unlifted_property"))
    },

    // Indexd GUID validation (sandbox_indexd_guid_validation.py:
    // 81-143): sandbox guid-meta left-joined to the indexd record
    // frame, per-field Pass/Fail checks; missing records No/""/Fail.
    Q("q90_indexd_check",
      """WITH base AS (SELECT c_custkey AS k FROM customer)
        |SELECT k AS c_custkey, 'dg' || CAST(k AS VARCHAR) AS guid,
        |  CASE WHEN k % 7 <> 0 THEN 'Yes' ELSE 'No' END AS indexd_guid_exist,
        |  CASE WHEN k % 7 = 0 THEN ''
        |       WHEN k % 5 = 0 THEN 'aX'
        |       ELSE 'a' || CAST(k % 4 AS VARCHAR) END AS indexd_acl,
        |  CASE WHEN k % 7 <> 0 AND NOT (k % 5 = 0)
        |       THEN 'Pass' ELSE 'Fail' END AS acl_check,
        |  CASE WHEN k % 7 <> 0 THEN 'Pass' ELSE 'Fail' END AS authz_check,
        |  CASE WHEN k % 7 <> 0 AND NOT (k % 3 = 0)
        |       THEN 'Pass' ELSE 'Fail' END AS md5sum_check,
        |  CASE WHEN k % 7 <> 0 THEN 'Pass' ELSE 'Fail' END AS url_check,
        |  CASE WHEN k % 7 <> 0 AND NOT (k % 11 = 0)
        |       THEN 'Pass' ELSE 'Fail' END AS size_check
        |FROM base ORDER BY k""".stripMargin) { (s, dir) =>
      import graft.ops.ValidationOps
      val k = col("c_custkey")
      val sandbox = t(s, dir, "customer").select(
        k,
        concat(lit("dg"), k.cast("string")).as("guid"),
        concat(lit("a"), (k % 4).cast("string")).as("acl"),
        concat(lit("z"), (k % 4).cast("string")).as("authz"),
        md5(concat(lit("m"), k.cast("string"))).as("md5sum"),
        concat(lit("s3://b/f"), k.cast("string")).as("url"),
        (k * 10).cast("string").as("file_size"))
      val indexd = t(s, dir, "customer").filter(k % 7 =!= 0).select(
        concat(lit("dg"), k.cast("string")).as("guid"),
        when(k % 5 === 0, "aX")
          .otherwise(concat(lit("a"), (k % 4).cast("string"))).as("acl"),
        concat(lit("z"), (k % 4).cast("string")).as("authz"),
        when(k % 3 === 0, md5(concat(lit("x"), k.cast("string"))))
          .otherwise(md5(concat(lit("m"), k.cast("string")))).as("md5"),
        concat(lit("s3://b/f"), k.cast("string")).as("url"),
        when(k % 11 === 0, k * 10 + 1).otherwise(k * 10).as("size"))
      ValidationOps.indexdGuidCheck(sandbox, indexd)
        .select(col("c_custkey"), col("guid"), col("indexd_guid_exist"),
          col("indexd_acl"), col("acl_check"), col("authz_check"),
          col("md5sum_check"), col("url_check"), col("size_check"))
        .orderBy(col("c_custkey"))
    },

    // Bucket content stats (read_buckets.py:14-106): totals plus
    // per-extension / per-modified-date counts over an inventory
    // frame, with the reference's .gz/.zip double-extension rule
    // and "missing ext" bucket.
    Q("q91_bucket_stats",
      """WITH inv AS (
        |  SELECT 'data/f' || CAST(p_partkey AS VARCHAR) ||
        |    CASE p_partkey % 5 WHEN 0 THEN '.bam' WHEN 1 THEN '.fastq.gz'
        |         WHEN 2 THEN '.txt' WHEN 3 THEN '' ELSE '.zip' END AS key,
        |    CAST(p_partkey % 1000 AS BIGINT) AS size,
        |    '2024-' || lpad(CAST(1 + p_partkey % 12 AS VARCHAR), 2, '0') ||
        |    '-' || lpad(CAST(1 + p_partkey % 28 AS VARCHAR), 2, '0') AS modified
        |  FROM part),
        |exts AS (
        |  SELECT CASE p_partkey % 5 WHEN 0 THEN '.bam' WHEN 1 THEN '.fastq.gz'
        |         WHEN 2 THEN '.txt' WHEN 3 THEN 'missing ext'
        |         ELSE '.zip' END AS e
        |  FROM part)
        |SELECT stat, key, value FROM (
        |  SELECT 'bucket_size' AS stat, CAST(NULL AS VARCHAR) AS key,
        |         CAST(sum(size) AS BIGINT) AS value FROM inv
        |  UNION ALL
        |  SELECT 'file_count', NULL, CAST(count(*) AS BIGINT) FROM inv
        |  UNION ALL
        |  SELECT 'ext', e, CAST(count(*) AS BIGINT) FROM exts GROUP BY e
        |  UNION ALL
        |  SELECT 'modified_date', modified, CAST(count(*) AS BIGINT)
        |  FROM inv GROUP BY modified)
        |ORDER BY stat, key NULLS FIRST""".stripMargin) { (s, dir) =>
      import graft.ops.StatsOps
      val p = col("p_partkey")
      val inv = t(s, dir, "part").select(
        concat(lit("data/f"), p.cast("string"),
          when(p % 5 === 0, ".bam").when(p % 5 === 1, ".fastq.gz")
            .when(p % 5 === 2, ".txt").when(p % 5 === 3, "")
            .otherwise(".zip")).as("key"),
        (p % 1000).cast("bigint").as("size"),
        concat(lit("2024-"), lpad((p % 12 + 1).cast("string"), 2, "0"),
          lit("-"), lpad((p % 28 + 1).cast("string"), 2, "0")).as("modified"))
      StatsOps.bucketStats(inv)
        .orderBy(col("stat"), col("key"))
    },

    // The DCC tab-breaker uuid cell (dcc_tabbreaker.py:12-40):
    // md5("ccdi-dcc")-namespace uuid5 over study::node::value, with
    // ;-multi-value cells minting one uuid per trimmed part. Oracle =
    // plan-build-time pinned values (DuckDB has no sha1), the q32
    // pattern; the pinning helper itself is golden-checked vs CPython
    // in Uuid5Props.
    Q("q92_dcc_tabbreak", {
      import graft.expr.Uuid5
      val ns = Uuid5.namespaceFromMd5("ccdi-dcc")
      def mint(v: String) =
        v.split(";").map(p =>
          Uuid5.uuid5(ns, s"phs0001::participant::${p.trim}")).mkString(";")
      val expected = (0 until 256).map { k =>
        val rel =
          if (k % 7 == 0) "NULL"
          else if (k % 3 == 0) s"'${mint(s"PCT_${k + 1};PCT_${k + 2}")}'"
          else s"'${mint(s"PCT_${k + 1}")}'"
        s"($k, '${mint(s"PCT_$k")}', $rel)"
      }.mkString(", ")
      s"""WITH expected(k, id, related_ids) AS (VALUES $expected)
         |SELECT c.c_custkey, e.id, e.related_ids
         |FROM customer c JOIN expected e ON c.c_custkey = e.k
         |ORDER BY c.c_custkey""".stripMargin
    }) { (s, dir) =>
      import graft.pipeline.ExportStages
      val k = col("c_custkey")
      t(s, dir, "customer").filter(k < 256)
        .select(k,
          concat(lit("PCT_"), k.cast("string")).as("participant_id"),
          when(k % 7 === 0, lit(null).cast("string"))
            .when(k % 3 === 0, concat(lit("PCT_"), (k + 1).cast("string"),
              lit(";PCT_"), (k + 2).cast("string")))
            .otherwise(concat(lit("PCT_"), (k + 1).cast("string")))
            .as("related"))
        .select(k,
          ExportStages.dccUuidCell(col("participant_id"),
            "phs0001", "participant").as("id"),
          ExportStages.dccUuidCell(col("related"),
            "phs0001", "participant").as("related_ids"))
        .orderBy(k)
    },

    // The IGM clinical-report sample mapper (cog_igm_utils.py:38-168):
    // missing sample ids fill from a (participant, assay) lookup built
    // from the pdf sequencing/methylation rows; file-name fan-outs
    // null-and-collapse unless the sample appears in the name; non-COG
    // leftovers recover the 0[0-9A-Z]{5} token from the file name.
    // The oracle derives each branch arithmetically. pdf availability
    // correlates with sid residues (2 and 3 divide 300): sequencing
    // pdfs exist only for EVEN sids, methylation pdfs only for sids
    // divisible by 3. Among a participant's samples {p, p+100, p+200}
    // that leaves at most one archer (sid≡0 mod 6, only for even p),
    // at most one tumor_normal (sid≡4 mod 6, even p), and exactly one
    // methylation (sid≡0 mod 3) — so no file-name fan-out here (that
    // path is unit-tested) and odd-p archer/tumor rows stay null.
    Q("q93_igm_sample_map",
      """WITH base AS (
        |  SELECT c_custkey AS c FROM customer WHERE c_custkey <= 240),
        |out AS (
        |  SELECT
        |    CASE c % 4
        |      WHEN 0 THEN 'rep_archer_fusion_' || CAST(c AS VARCHAR) || '.pdf'
        |      WHEN 1 THEN 'rep_methylation_' || CAST(c AS VARCHAR) || '.pdf'
        |      WHEN 2 THEN 'rep_tumor_normal_' || CAST(c AS VARCHAR) || '.pdf'
        |      ELSE 'rep_plain_0A' || lpad(CAST(c AS VARCHAR), 4, '0') || '.pdf'
        |    END AS file_name,
        |    'P' || CAST(c % 100 AS VARCHAR) AS "participant.participant_id",
        |    CASE WHEN c % 8 <= 1 THEN 'COG Registry'
        |         ELSE 'IGM Pathology' END AS data_category,
        |    CASE
        |      WHEN c % 6 = 0 THEN 'SPRE' || CAST(c AS VARCHAR)
        |      WHEN c % 4 = 0 THEN
        |        CASE (c % 100) % 6
        |          WHEN 0 THEN 'S' || CAST(c % 100 AS VARCHAR)
        |          WHEN 2 THEN 'S' || CAST(c % 100 + 100 AS VARCHAR)
        |          WHEN 4 THEN 'S' || CAST(c % 100 + 200 AS VARCHAR)
        |        END
        |      WHEN c % 4 = 1 THEN 'S' || CAST(
        |        CASE (c % 100) % 3 WHEN 0 THEN c % 100
        |             WHEN 2 THEN c % 100 + 100 ELSE c % 100 + 200 END AS VARCHAR)
        |      WHEN c % 4 = 2 THEN
        |        CASE (c % 100) % 6
        |          WHEN 4 THEN 'S' || CAST(c % 100 AS VARCHAR)
        |          WHEN 0 THEN 'S' || CAST(c % 100 + 100 AS VARCHAR)
        |          WHEN 2 THEN 'S' || CAST(c % 100 + 200 AS VARCHAR)
        |        END
        |      WHEN c % 4 = 3 AND c % 8 > 1
        |        THEN '0A' || lpad(CAST(c AS VARCHAR), 4, '0')
        |    END AS "sample.sample_id"
        |  FROM base)
        |SELECT file_name, "participant.participant_id", data_category,
        |       "sample.sample_id"
        |FROM out ORDER BY file_name""".stripMargin) { (s, dir) =>
      import graft.pipeline.IgmStage
      val k = col("o_orderkey")
      val sid = k % 300
      val ord = t(s, dir, "orders")
      val sample = ord.select(
        concat(lit("S"), sid.cast("string")).as("sample_id"),
        concat(lit("P"), (sid % 100).cast("string"))
          .as("participant.participant_id")).distinct()
      val seq = ord.select(
        concat(lit("S"), sid.cast("string")).as("sample.sample_id"),
        when(k % 2 === 0, "pdf").otherwise("bam").as("file_type"),
        when(sid % 3 === 0, "Archer Fusion")
          .when(sid % 3 === 1, "WXS")
          .otherwise("RNA-Seq").as("library_strategy")).distinct()
      val meth = ord.select(
        concat(lit("S"), sid.cast("string")).as("sample.sample_id"),
        when(k % 3 === 0, "pdf").otherwise("idat").as("file_type"),
        lit("Methylation Analysis").as("data_category")).distinct()
      val c = col("c_custkey")
      val clin = t(s, dir, "customer").filter(c <= 240).select(
        when(c % 4 === 0,
          concat(lit("rep_archer_fusion_"), c.cast("string"), lit(".pdf")))
          .when(c % 4 === 1,
            concat(lit("rep_methylation_"), c.cast("string"), lit(".pdf")))
          .when(c % 4 === 2,
            concat(lit("rep_tumor_normal_"), c.cast("string"), lit(".pdf")))
          .otherwise(concat(lit("rep_plain_0A"),
            lpad(c.cast("string"), 4, "0"), lit(".pdf"))).as("file_name"),
        concat(lit("P"), (c % 100).cast("string"))
          .as("participant.participant_id"),
        when(c % 8 <= 1, "COG Registry").otherwise("IGM Pathology")
          .as("data_category"),
        when(c % 6 === 0, concat(lit("SPRE"), c.cast("string")))
          .otherwise(lit(null).cast("string")).as("sample.sample_id"))
      IgmStage.fillSampleIds(clin, seq, meth, sample)
        .select(col("file_name"), col("`participant.participant_id`"),
          col("data_category"), col("`sample.sample_id`"))
        .orderBy(col("file_name"))
    },

    // DB-vs-ingestion reconciliation (neo4j_data_tools.py:1100-1189):
    // per (study, node) count check + ids missing from the DB pull.
    // The db side drops study-phs0 rows divisible by 11, so phs0
    // groups go Unequal/Fail with a ;-joined missing list while the
    // other studies stay Equal/Pass with a null list.
    Q("q94_db_reconcile",
      """WITH input AS (
        |  SELECT 'phs' || CAST(o_orderkey % 3 AS VARCHAR) AS study_id,
        |    CASE o_orderkey % 4 WHEN 1 THEN 'sample'
        |         WHEN 2 THEN 'diagnosis' ELSE 'participant' END AS node,
        |    'ID' || CAST(o_orderkey % 997 AS VARCHAR) AS id
        |  FROM orders WHERE o_orderkey <= 3000),
        |db AS (
        |  SELECT * FROM input
        |  WHERE NOT (CAST(substr(id, 3) AS BIGINT) % 11 = 0
        |             AND study_id = 'phs0')),
        |counts AS (
        |  SELECT study_id, node, count(*) AS tsv_count
        |  FROM input GROUP BY study_id, node),
        |dbc AS (
        |  SELECT study_id, node, count(*) AS c FROM db GROUP BY study_id, node),
        |miss AS (
        |  SELECT i.study_id, i.node,
        |         string_agg(i.id, ';' ORDER BY i.id) AS m
        |  FROM input i
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM db d WHERE d.study_id = i.study_id
        |      AND d.node = i.node AND d.id = i.id)
        |  GROUP BY i.study_id, i.node)
        |SELECT c.study_id, c.node, c.tsv_count,
        |  CASE WHEN c.tsv_count = COALESCE(d.c, 0)
        |       THEN 'Equal' ELSE 'Unequal' END AS count_check,
        |  CASE WHEN m.m IS NULL THEN 'Pass' ELSE 'Fail' END AS id_check,
        |  m.m AS db_missing_id
        |FROM counts c
        |LEFT JOIN dbc d ON c.study_id = d.study_id AND c.node = d.node
        |LEFT JOIN miss m ON c.study_id = m.study_id AND c.node = m.node
        |ORDER BY c.study_id, c.node""".stripMargin) { (s, dir) =>
      import graft.ops.ValidationOps
      val k = col("o_orderkey")
      val input = t(s, dir, "orders").filter(k <= 3000).select(
        concat(lit("phs"), (k % 3).cast("string")).as("study_id"),
        when(k % 4 === 1, "sample").when(k % 4 === 2, "diagnosis")
          .otherwise("participant").as("node"),
        concat(lit("ID"), (k % 997).cast("string")).as("id"))
      val db = input.filter(
        !(substring(col("id"), 3, 10).cast("bigint") % 11 === 0 &&
          col("study_id") === "phs0"))
      ValidationOps.dbReconcileCheck(input, db)
        .orderBy(col("study_id"), col("node"))
    },

    // JoinRy (join_tsv_to_manifest.py:63-186): DB-exported uuid
    // pointers rewrite to parent KEY values through the global id→key
    // mapping; uuid columns blank afterward. The sample node grades:
    // participant.id 'u<k%200>' resolves to 'P<k%200>', missing
    // pointers (k%13=0 -> 'u9999', unmapped) go null, empty ones
    // (k%17=0) pass through.
    Q("q95_joinry",
      """WITH base AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey <= 2000)
        |SELECT 'SM' || CAST(k AS VARCHAR) AS sample_id,
        |  '' AS id, '' AS "participant.id",
        |  CASE WHEN k % 17 = 0 THEN ''
        |       WHEN k % 13 = 0 AND k % 17 <> 0 THEN NULL
        |       ELSE 'P' || CAST(k % 200 AS VARCHAR)
        |  END AS "participant.participant_id"
        |FROM base ORDER BY k""".stripMargin) { (s, dir) =>
      import graft.pipeline.ExportStages
      import graft.catalog.{ModelCatalog, PropDef}
      val k = col("o_orderkey")
      val ord = t(s, dir, "orders")
      val participant = ord.select(
        concat(lit("u"), (k % 200).cast("string")).as("id"),
        concat(lit("P"), (k % 200).cast("string")).as("participant_id"))
        .distinct()
      val sample = ord.filter(k <= 2000).select(
        concat(lit("mu"), k.cast("string")).as("id"),
        concat(lit("SM"), k.cast("string")).as("sample_id"),
        when(k % 17 === 0, "")
          .when(k % 13 === 0, "u9999")
          .otherwise(concat(lit("u"), (k % 200).cast("string")))
          .as("participant.id"))
      val catalog = ModelCatalog(props = Seq(
        PropDef("participant", "participant_id", "string", isKey = true,
          required = false),
        PropDef("sample", "sample_id", "string", isKey = true,
          required = false)),
        enums = Map.empty, edges = Seq.empty)
      val out = ExportStages.joinRy(
        Map("participant" -> participant, "sample" -> sample), catalog)
      out("sample")
        .select(col("sample_id"), col("id"), col("`participant.id`"),
          col("`participant.participant_id`"))
        .orderBy(expr("cast(substring(sample_id, 3) as bigint)"))
    },

    // COG tranche comparer sparsity matrix (cog_comparer.py:20-88):
    // per-(prop, diagnosis-group) missing fraction ('' and 'NA'
    // count as missing) in both tranches, change direction, and
    // quartile buckets. Old tranche blanks name on k%3, NAs phone on
    // k%4; the new tranche (odd keys only) nulls name on k%5, blanks
    // phone on k%6.
    Q("q96_sparsity_compare",
      """WITH oldt AS (
        |  SELECT c_mktsegment AS dx, CAST(c_custkey AS VARCHAR) AS upi,
        |    CASE WHEN c_custkey % 3 = 0 THEN '' ELSE c_name END AS name,
        |    CASE WHEN c_custkey % 4 = 0 THEN 'NA'
        |      ELSE CAST(c_nationkey AS VARCHAR) END AS phone
        |  FROM customer),
        |newt AS (
        |  SELECT c_mktsegment AS dx, CAST(c_custkey AS VARCHAR) AS upi,
        |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END AS name,
        |    CASE WHEN c_custkey % 6 = 0 THEN ''
        |      ELSE CAST(c_nationkey AS VARCHAR) END AS phone
        |  FROM customer WHERE c_custkey % 2 <> 0),
        |props(prop) AS (VALUES ('dx'), ('upi'), ('name'), ('phone')),
        |om AS (
        |  SELECT prop, dx AS grp,
        |    CAST(SUM(CASE WHEN v IS NULL OR v = '' OR v = 'NA' THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS s
        |  FROM (SELECT dx, prop,
        |          CASE prop WHEN 'dx' THEN dx WHEN 'upi' THEN upi
        |            WHEN 'name' THEN name WHEN 'phone' THEN phone END AS v
        |        FROM oldt CROSS JOIN props
        |        WHERE NOT (dx IS NULL OR dx = '' OR dx = 'NA'))
        |  GROUP BY prop, dx),
        |nm AS (
        |  SELECT prop, dx AS grp,
        |    CAST(SUM(CASE WHEN v IS NULL OR v = '' OR v = 'NA' THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS s
        |  FROM (SELECT dx, prop,
        |          CASE prop WHEN 'dx' THEN dx WHEN 'upi' THEN upi
        |            WHEN 'name' THEN name WHEN 'phone' THEN phone END AS v
        |        FROM newt CROSS JOIN props
        |        WHERE NOT (dx IS NULL OR dx = '' OR dx = 'NA'))
        |  GROUP BY prop, dx)
        |SELECT om.prop, om.grp AS MCI_substudy,
        |  om.s AS sparsity_old_tranche, nm.s AS sparsity_new_tranche,
        |  CASE WHEN nm.s > om.s THEN 'increased'
        |       WHEN nm.s < om.s THEN 'decreased'
        |       ELSE 'same' END AS sparsity_change,
        |  CASE WHEN om.s <= 0.25 THEN '0-25%' WHEN om.s <= 0.5 THEN '25-50%'
        |       WHEN om.s <= 0.75 THEN '50-75%' ELSE '75-100%' END
        |    AS sparsity_group_old_tranche,
        |  CASE WHEN nm.s <= 0.25 THEN '0-25%' WHEN nm.s <= 0.5 THEN '25-50%'
        |       WHEN nm.s <= 0.75 THEN '50-75%' ELSE '75-100%' END
        |    AS sparsity_group_new_tranche
        |FROM om JOIN nm ON om.prop = nm.prop AND om.grp = nm.grp
        |ORDER BY om.prop, om.grp""".stripMargin) { (s, dir) =>
      import graft.ops.CompareOps
      val c = t(s, dir, "customer")
      val k = col("c_custkey")
      val oldT = c.select(
        col("c_mktsegment").as("dx"), k.cast("string").as("upi"),
        when(k % 3 === 0, "").otherwise(col("c_name")).as("name"),
        when(k % 4 === 0, "NA")
          .otherwise(col("c_nationkey").cast("string")).as("phone"))
      val newT = c.filter(k % 2 =!= 0).select(
        col("c_mktsegment").as("dx"), k.cast("string").as("upi"),
        when(k % 5 === 0, lit(null).cast("string"))
          .otherwise(col("c_name")).as("name"),
        when(k % 6 === 0, "")
          .otherwise(col("c_nationkey").cast("string")).as("phone"))
      CompareOps.sparsityCompare(oldT, newT, "dx")
        .orderBy(col("prop"), col("MCI_substudy"))
    },

    // COG tranche set diffs (cog_comparer.py:31-48): ids come from
    // data-side EXCEPTs, prop/form additions and removals from the
    // schemas (forms = prefix before the first '.').
    Q("q97_tranche_diff",
      """WITH o AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v
        |           FROM customer WHERE c_custkey % 3 <> 0),
        |n AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v
        |      FROM customer WHERE c_custkey % 2 <> 0)
        |SELECT category, value FROM (
        |  SELECT 'new_upi' AS category, v AS value
        |  FROM (SELECT v FROM n EXCEPT SELECT v FROM o)
        |  UNION ALL
        |  SELECT 'removed_upi', v
        |  FROM (SELECT v FROM o EXCEPT SELECT v FROM n)
        |  UNION ALL
        |  SELECT * FROM (VALUES ('new_prop', 'FORM_A.f2'),
        |    ('new_prop', 'FORM_B.g1'), ('removed_prop', 'FORM_A.f1'),
        |    ('new_form', 'FORM_B')) t(category, value))
        |ORDER BY category, value""".stripMargin) { (s, dir) =>
      import graft.ops.CompareOps
      val c = t(s, dir, "customer")
      val k = col("c_custkey")
      val oldT = c.filter(k % 3 =!= 0).select(
        k.cast("string").as("upi"), col("c_name").as("name"),
        col("c_mktsegment").as("dx"), lit("x").as("FORM_A.f1"))
      val newT = c.filter(k % 2 =!= 0).select(
        k.cast("string").as("upi"), col("c_name").as("name"),
        col("c_mktsegment").as("dx"), lit("y").as("FORM_A.f2"),
        lit("z").as("FORM_B.g1"))
      CompareOps.tranchesDiff(oldT, newT)
        .orderBy(col("category"), col("value"))
    },

    // DB instance count diff (neo4j_db_diff.py:96-105): full-outer
    // merge of two (study_id, node) count frames, absent side filled
    // 0, count_diff = db1 - db2. db1 misses (phs0, 'P') rows; db2
    // misses study phs2 entirely.
    Q("q98_db_count_diff",
      """WITH db1 AS (
        |  SELECT 'phs' || CAST(o_custkey % 3 AS VARCHAR) AS study_id,
        |         o_orderstatus AS node, COUNT(*) AS database_1_count
        |  FROM orders
        |  WHERE o_orderkey % 5 <> 0
        |    AND NOT (o_orderstatus = 'P' AND o_custkey % 3 = 0)
        |  GROUP BY 1, 2),
        |db2 AS (
        |  SELECT 'phs' || CAST(o_custkey % 3 AS VARCHAR) AS study_id,
        |         o_orderstatus AS node, COUNT(*) AS database_2_count
        |  FROM orders
        |  WHERE o_orderkey % 7 <> 0 AND o_custkey % 3 <> 2
        |  GROUP BY 1, 2)
        |SELECT COALESCE(db1.study_id, db2.study_id) AS study_id,
        |  COALESCE(db1.node, db2.node) AS node,
        |  COALESCE(database_1_count, 0) AS database_1_count,
        |  COALESCE(database_2_count, 0) AS database_2_count,
        |  COALESCE(database_1_count, 0) - COALESCE(database_2_count, 0)
        |    AS count_diff
        |FROM db1 FULL OUTER JOIN db2
        |  ON db1.study_id = db2.study_id AND db1.node = db2.node
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.ops.CompareOps
      val o = t(s, dir, "orders")
      val study = concat(lit("phs"), (col("o_custkey") % 3).cast("string"))
      val db1 = o.filter(col("o_orderkey") % 5 =!= 0 &&
          !(col("o_orderstatus") === "P" && col("o_custkey") % 3 === 0))
        .groupBy(study.as("study_id"), col("o_orderstatus").as("node"))
        .agg(count(lit(1)).as("database_1_count"))
      val db2 = o.filter(col("o_orderkey") % 7 =!= 0 &&
          col("o_custkey") % 3 =!= 2)
        .groupBy(study.as("study_id"), col("o_orderstatus").as("node"))
        .agg(count(lit(1)).as("database_2_count"))
      CompareOps.countDiff(db1, db2, Seq("study_id", "node"))
        .orderBy(col("study_id"), col("node"))
    },

    // Bucket content search (search_bucket_content.py:8-38): every
    // key is matched against every search text; 'STANDARD' keys hit
    // both 'AND' and 'ARD' so one key can report twice.
    Q("q99_bucket_search",
      """WITH inv AS (
        |  SELECT 'data/' || p_type || '/f' || CAST(p_partkey AS VARCHAR)
        |    || '.bam' AS key FROM part),
        |tx(search_text) AS (VALUES ('PROMO'), ('AND'), ('ARD'))
        |SELECT search_text, 's3://inv-bucket/' || key AS uri
        |FROM inv JOIN tx ON position(search_text IN key) > 0
        |ORDER BY search_text, uri""".stripMargin) { (s, dir) =>
      import graft.ops.StatsOps
      val inv = t(s, dir, "part").select(
        lit("inv-bucket").as("bucket"),
        concat(lit("data/"), col("p_type"), lit("/f"),
          col("p_partkey").cast("string"), lit(".bam")).as("key"))
      StatsOps.searchBucketContent(inv, Seq("PROMO", "AND", "ARD"))
        .orderBy(col("search_text"), col("uri"))
    },

    // KF data-sync manifest parse (kf_data_sync_manifest_generator
    // .py:10-58): s3 url pairs split into bucket + path; every 11th
    // dest is bucket-only (empty path).
    Q("q100_sync_manifest",
      """WITH m AS (
        |  SELECT 's3://src-' || CAST(o_custkey % 3 AS VARCHAR) || '/data/d'
        |      || CAST(o_orderkey % 10 AS VARCHAR) || '/f'
        |      || CAST(o_orderkey AS VARCHAR) || '.cram' AS source,
        |    CASE WHEN o_orderkey % 11 = 0
        |      THEN 's3://dst-' || CAST(o_custkey % 2 AS VARCHAR)
        |      ELSE 's3://dst-' || CAST(o_custkey % 2 AS VARCHAR) || '/f'
        |        || CAST(o_orderkey AS VARCHAR) || '.cram' END AS dest
        |  FROM orders WHERE o_orderkey <= 5000)
        |SELECT regexp_extract(source, '^s3://([^/]+)', 1) AS source_bucket,
        |  regexp_extract(source, '^s3://[^/]+/(.*)$', 1) AS source_path,
        |  regexp_extract(dest, '^s3://([^/]+)', 1) AS dest_bucket,
        |  regexp_extract(dest, '^s3://[^/]+/(.*)$', 1) AS dest_path
        |FROM m ORDER BY source_path""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").filter(col("o_orderkey") <= 5000)
      val ok = col("o_orderkey")
      val dstBucket = concat(lit("s3://dst-"),
        (col("o_custkey") % 2).cast("string"))
      val pairs = o.select(
        concat(lit("s3://src-"), (col("o_custkey") % 3).cast("string"),
          lit("/data/d"), (ok % 10).cast("string"), lit("/f"),
          ok.cast("string"), lit(".cram")).as("source"),
        when(ok % 11 === 0, dstBucket)
          .otherwise(concat(dstBucket, lit("/f"), ok.cast("string"),
            lit(".cram"))).as("dest"))
      TransferOps.syncManifest(pairs).orderBy(col("source_path"))
    },

    // MCI staging diff (mci_monthly_release.py:33-80): dotfiles and
    // P_____ placeholders are dropped from the listing, then
    // filenames already in the previous pull anti-join away.
    Q("q101_staging_diff",
      """SELECT 'staging/sub/f' || CAST(p_partkey AS VARCHAR) || '.txt'
        |    AS object_key,
        |  'f' || CAST(p_partkey AS VARCHAR) || '.txt' AS filename
        |FROM part
        |WHERE p_partkey % 7 <> 0 AND p_partkey % 11 <> 0
        |  AND p_partkey % 3 <> 0
        |ORDER BY object_key""".stripMargin) { (s, dir) =>
      val p = t(s, dir, "part")
      val pk = col("p_partkey")
      val inv = p.select(
        when(pk % 7 === 0, concat(lit("staging/.h"), pk.cast("string")))
          .when(pk % 11 === 0,
            concat(lit("staging/P_____"), pk.cast("string"), lit(".txt")))
          .otherwise(concat(lit("staging/sub/f"), pk.cast("string"),
            lit(".txt"))).as("key"))
      val prev = p.filter(pk % 3 === 0).select(
        concat(lit("f"), pk.cast("string"), lit(".txt")).as("filename"))
      TransferOps.stagingDiff(inv, prev).orderBy(col("object_key"))
    },

    // Manifest entry remover (entry_remover.py:95-140): every 50th
    // participant seeds the removal; their samples surface through
    // the dotted participant link and the samples' files through the
    // sample link. One row per manifest entry, tagged kept/deleted.
    Q("q111_entry_remover",
      """WITH parts AS (SELECT c_custkey AS c FROM customer),
        |ords AS (SELECT o_orderkey AS k, o_custkey AS c FROM orders
        |         WHERE o_orderkey <= 5000)
        |SELECT node, entry_id, status FROM (
        |  SELECT 'participant' AS node, 'P' || CAST(c AS VARCHAR)
        |      AS entry_id,
        |    CASE WHEN c % 50 = 0 THEN 'deleted' ELSE 'kept' END AS status
        |  FROM parts
        |  UNION ALL
        |  SELECT 'sample', 'S' || CAST(k AS VARCHAR),
        |    CASE WHEN c % 50 = 0 THEN 'deleted' ELSE 'kept' END FROM ords
        |  UNION ALL
        |  SELECT 'file', 'F' || CAST(k AS VARCHAR),
        |    CASE WHEN c % 50 = 0 THEN 'deleted' ELSE 'kept' END FROM ords)
        |ORDER BY node, entry_id""".stripMargin) { (s, dir) =>
      import graft.ops.GraphOps
      val c = col("c_custkey")
      val participant = t(s, dir, "customer").select(
        concat(lit("P"), c.cast("string")).as("participant_id"))
      val ords = t(s, dir, "orders").filter(col("o_orderkey") <= 5000)
      val ok = col("o_orderkey")
      val sample = ords.select(
        concat(lit("S"), ok.cast("string")).as("sample_id"),
        concat(lit("P"), col("o_custkey").cast("string"))
          .as("participant.participant_id"))
      val file = ords.select(
        concat(lit("F"), ok.cast("string")).as("file_id"),
        concat(lit("S"), ok.cast("string")).as("sample.sample_id"))
      val seeds = t(s, dir, "customer").filter(c % 50 === 0)
        .select(concat(lit("P"), c.cast("string")).as("entry_id"))
      val nodes = Map("participant" -> participant, "sample" -> sample,
        "file" -> file)
      val (kept, deleted, _) = GraphOps.entryRemover(nodes, seeds)
      val tagged = nodes.keys.toSeq.sorted.map { n =>
        val id = col("`" + n + "_id`")
        kept(n).select(lit(n).as("node"), id.as("entry_id"),
            lit("kept").as("status"))
          .unionByName(deleted(n).select(lit(n).as("node"),
            id.as("entry_id"), lit("deleted").as("status")))
      }
      tagged.reduce(_ unionByName _)
        .orderBy(col("node"), col("entry_id"))
    },

    // Model mapping maker (model_mapping_maker.py:68-209): old/new
    // model inventories outer-merge into a mapping, a curated file
    // overrides its covered from-pairs (every 13th key renames its
    // property; every 26th also fans out over two nodes), and the
    // comparison reports ADDITION (new-only keys, every 11th),
    // DELETION (old-only, every 7th) and CHANGED rows, dropping SAME.
    Q("q112_model_mapping",
      """WITH ks AS (SELECT p_partkey AS k FROM part WHERE p_partkey <= 300)
        |SELECT state, lift_from_node, lift_from_property,
        |  lift_from_version, lift_to_node, lift_to_property,
        |  lift_to_version FROM (
        |  SELECT 'ADDITION' AS state, '' AS lift_from_node,
        |    '' AS lift_from_property, 'v1' AS lift_from_version,
        |    'n' || CAST(k % 5 AS VARCHAR) AS lift_to_node,
        |    'p' || CAST(k AS VARCHAR) AS lift_to_property,
        |    'v2' AS lift_to_version
        |  FROM ks WHERE k % 11 = 0 AND k % 7 <> 0
        |  UNION ALL
        |  SELECT 'DELETION', 'n' || CAST(k % 5 AS VARCHAR),
        |    'p' || CAST(k AS VARCHAR), 'v1', '', '', 'v2'
        |  FROM ks WHERE k % 7 = 0 AND k % 11 <> 0 AND k % 13 <> 0
        |  UNION ALL
        |  SELECT 'CHANGED', 'n' || CAST(k % 5 AS VARCHAR),
        |    'p' || CAST(k AS VARCHAR), 'v1',
        |    'n' || CAST(k % 5 AS VARCHAR),
        |    'p' || CAST(k AS VARCHAR) || 'x', 'v2'
        |  FROM ks WHERE k % 13 = 0 AND k % 11 <> 0 AND k % 26 <> 0
        |  UNION ALL
        |  SELECT 'CHANGED', 'n' || CAST(k % 5 AS VARCHAR),
        |    'p' || CAST(k AS VARCHAR), 'v1', t.n,
        |    'p' || CAST(k AS VARCHAR) || 'x', 'v2'
        |  FROM ks, (VALUES ('n0'), ('n1')) t(n)
        |  WHERE k % 26 = 0 AND k % 11 <> 0)
        |ORDER BY state, lift_from_property, lift_to_node,
        |  lift_to_property""".stripMargin) { (s, dir) =>
      import graft.ops.ModelMappingOps
      val base = t(s, dir, "part").filter(col("p_partkey") <= 300)
      val k = col("p_partkey")
      val node = concat(lit("n"), (k % 5).cast("string"))
      val prop = concat(lit("p"), k.cast("string"))
      val oldInv = base.filter(k % 11 =!= 0).select(
        node.as("lift_from_node"), prop.as("lift_from_property"),
        lit("v1").as("lift_from_version"))
      val newInv = base.filter(k % 7 =!= 0).select(
        node.as("lift_to_node"), prop.as("lift_to_property"),
        lit("v2").as("lift_to_version"))
      val provided = base.filter(k % 13 === 0 && k % 11 =!= 0).select(
        node.as("lift_from_node"), prop.as("lift_from_property"),
        lit("v1").as("lift_from_version"),
        when(k % 26 === 0, "n0;n1").otherwise(node).as("lift_to_node"),
        concat(prop, lit("x")).as("lift_to_property"),
        lit("v2").as("lift_to_version"))
      val built = ModelMappingOps.buildMapping(oldInv, newInv)
      val reconciled = ModelMappingOps.reconcileMapping(provided, built)
      val expanded = ModelMappingOps.expandSemicolonNodes(reconciled)
      val cleaned = ModelMappingOps.cleanUpPartialDups(expanded,
        "lift_to_node", "lift_to_property",
        "lift_from_node", "lift_from_property")
      ModelMappingOps.buildComparison(cleaned, "v1", "v2")
        .orderBy(col("state"), col("lift_from_property"),
          col("lift_to_node"), col("lift_to_property"))
    },

    // Submission liftover (submission_liftover.py:31-100 +
    // liftover_generic.py:206-340): the specimen sheet's surrogate
    // `id` columns prune, the mapping renames node+properties, and
    // target columns left null (every 9th volume) fill with the
    // mapping's default_value.
    Q("q113_submission_liftover",
      """WITH ords AS (
        |  SELECT o_orderkey AS k, o_custkey AS c FROM orders
        |  WHERE o_orderkey <= 4000)
        |SELECT 'S' || CAST(k AS VARCHAR) AS sample_id,
        |  'P' || CAST(c AS VARCHAR) AS "participant.participant_id",
        |  CASE WHEN k % 9 = 0 THEN '0'
        |       ELSE CAST(k % 50 AS VARCHAR) END AS sample_volume,
        |  'sample' AS type
        |FROM ords
        |ORDER BY CAST(SUBSTRING(sample_id, 2) AS BIGINT)""".stripMargin) {
      (s, dir) =>
      import graft.ops.ReshapeOps
      val ok = col("o_orderkey")
      val specimen = t(s, dir, "orders").filter(ok <= 4000).select(
        concat(lit("u"), ok.cast("string")).as("id"),
        concat(lit("S"), ok.cast("string")).as("specimen_id"),
        concat(lit("v"), ok.cast("string")).as("subject.id"),
        concat(lit("P"), col("o_custkey").cast("string"))
          .as("subject.subject_id"),
        when(ok % 9 === 0, lit(null).cast("string"))
          .otherwise((ok % 50).cast("string")).as("volume"))
      val pruned = ReshapeOps.pruneSubmissionColumns(specimen)
      val mapping = {
        import s.implicits._
        Seq(
          ("specimen", "specimen_id", "sample", "sample_id", null),
          ("specimen", "subject.subject_id", "sample",
            "participant.participant_id", null),
          ("specimen", "volume", "sample", "sample_volume", "0"))
          .toDF("lift_from_node", "lift_from_property", "lift_to_node",
            "lift_to_property", "default_value")
      }
      val lifted = ReshapeOps.liftoverManifest(
        Map("specimen" -> pruned), mapping)("sample")
      ReshapeOps.liftoverDefaults(lifted, mapping, "sample")
        .orderBy(expr("cast(substring(sample_id, 2) as bigint)"))
    },

    // GC liftover diagnosis ids (gc_liftover_helper.py:63-160): the
    // study id prefixes the participant pointer and the diagnosis id
    // derives through it; rows missing the pointer (every 5th) fall
    // back to the sample id (every 3rd) or stay null.
    Q("q114_gc_diagnosis_ids",
      """WITH ords AS (
        |  SELECT o_orderkey AS k, o_custkey AS c FROM orders
        |  WHERE o_orderkey <= 4000)
        |SELECT 'D' || CAST(k AS VARCHAR) AS diagnosis_id,
        |  CASE WHEN k % 5 <> 0
        |    THEN 'phs000123_GC_P' || CAST(c AS VARCHAR) END
        |    AS "participant.study_participant_id",
        |  CASE WHEN k % 3 = 0 THEN 'S' || CAST(k AS VARCHAR) END
        |    AS "sample.sample_id",
        |  CASE WHEN k % 5 <> 0
        |    THEN 'phs000123_GC_P' || CAST(c AS VARCHAR)
        |      || '_D' || CAST(k AS VARCHAR)
        |    WHEN k % 3 = 0 THEN 'S' || CAST(k AS VARCHAR)
        |      || '_D' || CAST(k AS VARCHAR)
        |    END AS study_diagnosis_id
        |FROM ords
        |ORDER BY CAST(SUBSTRING(diagnosis_id, 2) AS BIGINT)""".stripMargin) {
      (s, dir) =>
      import graft.ops.GcLiftoverOps
      val ok = col("o_orderkey")
      val diagnosis = t(s, dir, "orders").filter(ok <= 4000).select(
        concat(lit("D"), ok.cast("string")).as("diagnosis_id"),
        when(ok % 5 =!= 0,
            concat(lit("P"), col("o_custkey").cast("string")))
          .as("participant.study_participant_id"),
        when(ok % 3 === 0, concat(lit("S"), ok.cast("string")))
          .as("sample.sample_id"))
      GcLiftoverOps.generateIds(Map("diagnosis" -> diagnosis),
        "phs000123_GC")("diagnosis")
        .orderBy(expr("cast(substring(diagnosis_id, 2) as bigint)"))
    },

    // GC investigator parse (gc_liftover_helper.py:92-122): the
    // study-prefixed email id plus the name parser's five parts —
    // titles, suffixes, multi-word last names, and null names all
    // enumerated by key residue.
    Q("q115_gc_investigator",
      """SELECT 'e' || CAST(c_custkey AS VARCHAR) || '@x.org' AS email,
        |  'phs000123_GC' AS "study.study_id",
        |  'phs000123_GC_e' || CAST(c_custkey AS VARCHAR) || '@x.org'
        |    AS investigator_id,
        |  CASE c_custkey % 6 WHEN 0 THEN 'Dr' WHEN 3 THEN 'Mr' END AS title,
        |  CASE c_custkey % 6 WHEN 0 THEN 'John' WHEN 1 THEN 'Jane'
        |    WHEN 3 THEN 'Bob' WHEN 4 THEN 'Anna' END AS first_name,
        |  CASE c_custkey % 6 WHEN 0 THEN 'A' WHEN 4 THEN 'Maria' END
        |    AS middle_name,
        |  CASE c_custkey % 6 WHEN 0 THEN 'Smith' WHEN 1 THEN 'Doe'
        |    WHEN 2 THEN 'Prince' WHEN 3 THEN 'Lee'
        |    WHEN 4 THEN 'Del Rio' END AS last_name,
        |  CASE c_custkey % 6 WHEN 0 THEN 'Jr' WHEN 4 THEN 'PhD' END
        |    AS suffix
        |FROM customer
        |ORDER BY email""".stripMargin) { (s, dir) =>
      import graft.ops.GcLiftoverOps
      val c = col("c_custkey")
      val investigator = t(s, dir, "customer").select(
        concat(lit("e"), c.cast("string"), lit("@x.org")).as("email"),
        when(c % 6 === 0, "Dr. John A. Smith Jr")
          .when(c % 6 === 1, "Jane Doe")
          .when(c % 6 === 2, "Prince")
          .when(c % 6 === 3, "Mr Bob Lee")
          .when(c % 6 === 4, "Anna Maria Del Rio PhD")
          .otherwise(lit(null).cast("string"))
          .as("primary_investigator_name"))
      GcLiftoverOps.generateIds(Map("investigator" -> investigator),
        "phs000123_GC")("investigator")
        .select(col("email"), col("`study.study_id`"),
          col("investigator_id"), col("title"), col("first_name"),
          col("middle_name"), col("last_name"), col("suffix"))
        .orderBy(col("email"))
    },

    // CPI associated-domain report (ccdi_cpi_query.py:126-262):
    // manifest participants (every 97th id missing, filtered) fan
    // out over their cross-domain associations; the 3-row domain
    // catalog broadcasts in descriptions and data locations.
    Q("q116_cpi_domains",
      """WITH parts AS (
        |  SELECT c_custkey AS c FROM customer WHERE c_custkey % 97 <> 0),
        |assoc AS (
        |  SELECT o_orderkey AS k, o_custkey AS c FROM orders
        |  WHERE o_orderkey <= 6000)
        |SELECT 'phs000123' AS study_id,
        |  'P' || CAST(a.c AS VARCHAR) AS participant_id,
        |  'X' || CAST(a.k AS VARCHAR) AS associated_id,
        |  'dom' || CAST(a.k % 3 AS VARCHAR) AS domain_name,
        |  CASE a.k % 3 WHEN 0 THEN 'Genomic commons' WHEN 1 THEN 'Imaging'
        |    ELSE 'Registry' END AS domain_description,
        |  'cat' || CAST(a.k % 2 AS VARCHAR) AS domain_category,
        |  CASE a.k % 3 WHEN 0 THEN 's3://gen' WHEN 1 THEN 's3://img'
        |    ELSE 's3://reg' END AS data_location
        |FROM assoc a JOIN parts p ON a.c = p.c
        |ORDER BY CAST(SUBSTRING(associated_id, 2) AS BIGINT)""".stripMargin) {
      (s, dir) =>
      import graft.ops.CpiOps
      val c = col("c_custkey")
      val participants = t(s, dir, "customer").select(
        lit("phs000123").as("study_id"),
        when(c % 97 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("P"), c.cast("string")))
          .as("participant_id"))
      val ok = col("o_orderkey")
      val associations = t(s, dir, "orders").filter(ok <= 6000).select(
        concat(lit("P"), col("o_custkey").cast("string"))
          .as("participant_id"),
        concat(lit("X"), ok.cast("string")).as("associated_id"),
        concat(lit("dom"), (ok % 3).cast("string")).as("domain_name"),
        concat(lit("cat"), (ok % 2).cast("string")).as("domain_category"))
      val domains = {
        import s.implicits._
        Seq(("dom0", "Genomic commons", "s3://gen"),
          ("dom1", "Imaging", "s3://img"),
          ("dom2", "Registry", "s3://reg"))
          .toDF("domain_name", "domain_description", "data_location")
      }
      CpiOps.associatedDomains(participants, associations, domains)
        .orderBy(expr("cast(substring(associated_id, 2) as bigint)"))
    },

    // SRA metadata stats parse (sra_metadata.py:26-49): per-file
    // samtools-stats text parses into reads/bases/average read
    // length off the SN lines; the binary pysam step stays at the
    // adapter boundary, the text parse is the graded dataflow.
    Q("q117_sra_stats",
      """SELECT p_partkey AS pk,
        |  'f' || CAST(p_partkey AS VARCHAR) || '.bam' AS file_name,
        |  CAST(p_partkey % 1000 AS VARCHAR) AS reads,
        |  CAST(p_partkey * 100 AS VARCHAR) AS bases,
        |  CAST(p_partkey % 300 AS VARCHAR) || '.5' AS avg_read_length
        |FROM part ORDER BY pk""".stripMargin) { (s, dir) =>
      import graft.ops.MultimodalOps
      val p = col("p_partkey")
      val stats = t(s, dir, "part").select(
        p.as("pk"),
        concat(lit("f"), p.cast("string"), lit(".bam")).as("file_name"),
        concat(
          lit("CHK\t0\nSN\traw total sequences:\t"),
          (p % 1000).cast("string"),
          lit("\nSN\ttotal length:\t"), (p * 100).cast("string"),
          lit("\nSN\taverage length:\t"), (p % 300).cast("string"),
          lit(".5\nFFQ\t1")).as("stats_text"))
      stats.select(col("pk"), col("file_name"),
          MultimodalOps.parseSamStats(col("stats_text")).as("parsed"))
        .select(col("pk"), col("file_name"),
          col("parsed.reads").as("reads"),
          col("parsed.bases").as("bases"),
          col("parsed.avg_read_length").as("avg_read_length"))
        .orderBy(col("pk"))
    },

    // S3 Inventory export reconciliation (S5's 100 TB listing path;
    // the live sweep s3_validationry_refactored.py:1408-1425 is the
    // `live_only` special case): a REAL parquet inventory export —
    // manifest.json + two data shards, with superseded-version and
    // delete-marker rows mixed in — is built on disk at every plan
    // construction (hermetic per-process root, q131/q84 pattern),
    // read back through S3InventorySource, and diffed against a
    // synthesized live listing. The oracle replays the fixture
    // arithmetic straight from orders, so a wrong manifest read, a
    // missed is_latest/delete-marker filter (those rows would surface
    // as duplicate or phantom keys), or a wrong drift status all
    // break the hash.
    Q("q157_inventory_reconcile",
      """WITH base AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey <= 5000),
        |inv AS (SELECT 'ccdi-staging' AS bucket,
        |  'data/f' || CAST(k AS VARCHAR) ||
        |    CASE k % 3 WHEN 0 THEN '.bam' WHEN 1 THEN '.txt'
        |    ELSE '.fastq.gz' END AS key,
        |  CAST(k % 1000 + 10 AS BIGINT) AS size FROM base),
        |live AS (
        |  SELECT 'ccdi-staging' AS bucket,
        |    'data/f' || CAST(k AS VARCHAR) ||
        |      CASE k % 3 WHEN 0 THEN '.bam' WHEN 1 THEN '.txt'
        |      ELSE '.fastq.gz' END AS key,
        |    CAST(k % 1000 + 10 +
        |      CASE WHEN k % 89 = 0 THEN 1 ELSE 0 END AS BIGINT) AS size
        |  FROM base WHERE k % 97 <> 0
        |  UNION ALL
        |  SELECT 'ccdi-staging', 'extra/g' || CAST(k AS VARCHAR),
        |    CAST(k AS BIGINT) FROM base WHERE k % 101 = 0)
        |SELECT COALESCE(i.bucket, l.bucket) AS bucket,
        |  COALESCE(i.key, l.key) AS key,
        |  i.size AS inv_size, l.size AS live_size,
        |  CASE WHEN i.size IS NULL THEN 'live_only'
        |       WHEN l.size IS NULL THEN 'inventory_only'
        |       WHEN i.size <> l.size THEN 'size_drift'
        |       ELSE 'match' END AS status
        |FROM inv i FULL OUTER JOIN live l
        |  ON i.bucket = l.bucket AND i.key = l.key
        |ORDER BY bucket, key""".stripMargin) { (s, dir) =>
      import graft.io.S3InventorySource
      val root = new java.io.File(
        s"/tmp/graft_q157_${ProcessHandle.current().pid()}_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      graft.ops.StageMemo.wipe(root)
      new java.io.File(root, "data").mkdirs()

      val k = col("o_orderkey")
      val base = t(s, dir, "orders").filter(k <= 5000).select(k.as("k"))
      val ext = when(col("k") % 3 === 0, ".bam")
        .when(col("k") % 3 === 1, ".txt").otherwise(".fastq.gz")
      def invRow(keyCol: org.apache.spark.sql.Column,
          sizeCol: org.apache.spark.sql.Column, isLatest: Boolean,
          isDelete: Boolean) = Seq(
        lit("ccdi-staging").as("bucket"), keyCol.as("key"),
        sizeCol.cast("long").as("size"),
        timestamp_seconds(lit(1700000000L) + col("k")).as("last_modified_date"),
        md5(col("k").cast("string")).as("e_tag"),
        lit("STANDARD").as("storage_class"),
        lit(isLatest).as("is_latest"), lit(isDelete).as("is_delete_marker"))
      val fileKey = concat(lit("data/f"), col("k").cast("string"), ext)
      val rows = base.select(invRow(fileKey, col("k") % 1000 + 10,
          isLatest = true, isDelete = false): _*)
        // a superseded version of every 7th key: MUST be filtered out
        .unionByName(base.filter(col("k") % 7 === 0)
          .select(invRow(fileKey, col("k") % 1000 + 15,
            isLatest = false, isDelete = false): _*))
        // a latest delete marker on its own key: MUST be filtered out
        .unionByName(base.filter(col("k") % 13 === 0)
          .select(invRow(concat(lit("data/del"), col("k").cast("string")),
            lit(0), isLatest = true, isDelete = true): _*))

      // two data shards, the manifest naming each with its REAL size
      val files = (0 until 2).map { shard =>
        val tmp = new java.io.File(root, s"__w$shard")
        rows.filter(crc32(col("key")) % 2 === shard)
          .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().find(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        val dest = new java.io.File(root, s"data/shard$shard.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        graft.ops.StageMemo.wipe(tmp)
        s"data/shard$shard.parquet" -> dest.length()
      }
      val manifest = new java.io.File(root, "manifest.json")
      val filesJson = files.map { case (key, size) =>
        s"""{"key":"$key","size":$size}"""
      }.mkString("[", ",", "]")
      val w = new java.io.PrintWriter(manifest, "UTF-8")
      try w.print(
        s"""{"sourceBucket":"ccdi-staging",
           |"destinationBucket":"arn:aws:s3:::inv-dest",
           |"version":"2016-11-30","creationTimestamp":"1700000000000",
           |"fileFormat":"Parquet","fileSchema":"inventory",
           |"files":$filesJson}""".stripMargin) finally w.close()

      val m = S3InventorySource.readManifest(s, manifest.getAbsolutePath)
      val inv = S3InventorySource.inventoryObjects(s, m, root.getAbsolutePath)
      val live = base.filter(col("k") % 97 =!= 0).select(
          lit("ccdi-staging").as("bucket"), fileKey.as("key"),
          (col("k") % 1000 + 10 +
            when(col("k") % 89 === 0, 1).otherwise(0)).cast("long").as("size"))
        .unionByName(base.filter(col("k") % 101 === 0).select(
          lit("ccdi-staging").as("bucket"),
          concat(lit("extra/g"), col("k").cast("string")).as("key"),
          col("k").cast("long").as("size")))
      S3InventorySource.reconcileWithLive(inv, live)
        .orderBy(col("bucket"), col("key"))
    })
}
