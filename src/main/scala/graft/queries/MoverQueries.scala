package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.io.{LocalFsStore, TransferExec}
import graft.ops.TransferOps

/** The two round-6 reference dataflows, graded end-to-end: the Kids
  * First object tagger (`workflows/kids-first-main.py`) and the
  * fixed-folder file mover+delete (`workflows/file_mover_delete.py`).
  * Both follow the q84 hermetic-LocalFsStore pattern: the fixture is
  * rebuilt at every plan construction, mutating executors run against
  * eagerly-checkpointed reads, and every derived column has a
  * closed-form oracle.
  */
object MoverQueries {

  private def t(s: org.apache.spark.sql.SparkSession, dir: String, n: String) =
    Tables.load(s, dir, n)

  /** Stress hook: scales the fixture URI counts. The factor lands in
    * BOTH the Spark plan and the oracle SQL literal, so the oracle
    * compare holds at any scale; driver runs leave it unset (=1).
    * Malformed or non-positive values fall back to 1 — this is a
    * static initializer, and throwing here would take down every
    * query in the run, not just the two mover fixtures.
    */
  private val Scale = graft.Harness.knob("GRAFT_STRESS_SCALE")
    .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
  private val KfCap = 120 * Scale
  private val MoverCap = 80 * Scale

  /** Hermetic per-process fixture root, fully wiped before reuse. */
  private def fixtureRoot(tag: String, dir: String): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_p${ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff))
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    root
  }

  val all: Seq[Q] = Seq(

    // The Kids First object tagger (kids-first-main.py): URL parse
    // with per-row validity reasons, bucket-suffix match, status-map
    // join to the kf_registered/kf_released flags, then the tagging
    // executor over the eligible rows — absent objects fail the tag
    // like the reference's ClientError path. The whole enriched
    // manifest (its tagging report) is the graded frame.
    Q("q134_kf_tag_report",
      s"""WITH base AS (SELECT c_custkey AS k FROM customer WHERE c_custkey <= $KfCap)
        |SELECT k AS c_custkey,
        |  CASE k % 7 WHEN 0 THEN ''
        |    WHEN 1 THEN 'https://example.org/f' || k
        |    WHEN 2 THEN 's3://nci-data-bkt/'
        |    WHEN 3 THEN 's3:///rel/f' || k
        |    ELSE 's3://' || (CASE WHEN k % 5 = 0 THEN 'wrong-bkt'
        |                     ELSE 'nci-data-bkt' END) || '/rel/f' || k
        |  END AS urls,
        |  CASE WHEN k % 7 >= 4 THEN
        |    CASE WHEN k % 5 = 0 THEN 'wrong-bkt' ELSE 'nci-data-bkt' END
        |  END AS chop_bucket,
        |  CASE WHEN k % 7 >= 4 THEN 'rel/f' || k END AS chop_key,
        |  (k % 7 >= 4) AS valid_url,
        |  CASE k % 7 WHEN 0 THEN 'No file URL detected'
        |    WHEN 1 THEN 'File URL does not start with s3://'
        |    WHEN 2 THEN 'Malformed URL' WHEN 3 THEN 'Malformed URL'
        |  END AS invalid_url_reason,
        |  (k % 7 >= 4 AND k % 5 <> 0) AS manifest_bucket_matches_expected,
        |  CASE k % 4 WHEN 0 THEN 'registered and released'
        |    WHEN 1 THEN 'not registered and released'
        |    WHEN 2 THEN '' ELSE 'mystery state' END AS registration_status,
        |  CASE WHEN k % 4 = 0 THEN TRUE WHEN k % 4 = 1 THEN FALSE
        |  END AS kf_registered,
        |  CASE WHEN k % 4 <= 1 THEN TRUE END AS kf_released,
        |  (k % 4 <= 1) AS kf_status_valid,
        |  CASE WHEN k % 4 = 2 THEN 'No status column detected'
        |    WHEN k % 4 = 3 THEN 'Status value does not match config status map'
        |  END AS invalid_status_reason,
        |  (k % 7 >= 4 AND k % 5 <> 0 AND k % 4 <= 1 AND k % 11 <> 0) AS tagged
        |FROM base ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val k = col("c_custkey")
      val base = t(s, dir, "customer").filter(k <= KfCap).select(k,
        when(k % 7 === 0, lit(""))
          .when(k % 7 === 1,
            concat(lit("https://example.org/f"), k.cast("string")))
          .when(k % 7 === 2, lit("s3://nci-data-bkt/"))
          .when(k % 7 === 3, concat(lit("s3:///rel/f"), k.cast("string")))
          .otherwise(concat(lit("s3://"),
            when(k % 5 === 0, lit("wrong-bkt")).otherwise(lit("nci-data-bkt")),
            lit("/rel/f"), k.cast("string"))).as("urls"),
        when(k % 4 === 0, lit("registered and released"))
          .when(k % 4 === 1, lit("not registered and released"))
          .when(k % 4 === 2, lit(""))
          .otherwise(lit("mystery state")).as("registration_status"))
      // objects that exist in the NCI bucket: the valid-URL shapes
      // minus every 11th key, which stays absent so the executor's
      // failed-tag path is graded too
      val root = fixtureRoot("kf_fixture", dir)
      val rel = root.resolve("nci-data-bkt-prod").resolve("rel")
      java.nio.file.Files.createDirectories(rel)
      base.select(k).collect().foreach { r =>
        val id = r.getLong(0)
        if (id % 7 >= 4 && id % 11 != 0)
          java.nio.file.Files.write(rel.resolve(s"f$id"), Array[Byte]('x'))
      }
      val store = new LocalFsStore(root.toString)
      val parsed = TransferOps.kfBucketMatch(
        TransferOps.kfParseUrl(base, "urls"), "nci-data-bkt-prod", Some("prod"))
      val statusMap = TransferOps.KfStatusMap
        .toDF("status", "kf_registered", "kf_released")
      val st = TransferOps.kfParseStatus(parsed, "registration_status", statusMap)
      val eligible = st.filter(col("valid_url") &&
          col("manifest_bucket_matches_expected") && col("kf_status_valid"))
        .select(k, concat(lit("s3://nci-data-bkt-prod/"), col("chop_key"))
          .as("__uri"), col("kf_registered"), col("kf_released"))
      val tagged = TransferExec
        .executeKfTags(eligible, "__uri", "kf_registered", "kf_released", store)
        .select(k.as("__tk"), col("tagged").as("__tagged"))
      st.join(tagged, k === col("__tk"), "left")
        .select(k, col("urls"), col("chop_bucket"), col("chop_key"),
          col("valid_url"), col("invalid_url_reason"),
          col("manifest_bucket_matches_expected"), col("registration_status"),
          col("kf_registered"), col("kf_released"), col("kf_status_valid"),
          col("invalid_status_reason"),
          coalesce(col("__tagged"), lit(false)).as("tagged"))
        .orderBy(k)
    },

    // The fixed-folder mover+delete (file_mover_delete.py): directory
    // URIs expand to their listed objects, invalid URIs drop, every
    // object moves under ONE dest folder keeping its full key path
    // (copy-parameter columns graded), copies verify by md5, and the
    // all-Pass gate releases the deletion of the originals. The copy
    // results are eagerly checkpointed BEFORE the deletes mutate the
    // store (the q84 race rule).
    Q("q135_file_mover_delete",
      s"""WITH base AS (SELECT c_custkey AS k FROM customer WHERE c_custkey <= $MoverCap),
        |objs AS (
        |  SELECT 'rel/f' || k AS key, 'obj:' || k AS content
        |  FROM base WHERE k % 6 <= 3
        |  UNION ALL
        |  SELECT 'dir' || k || 'x/a' || k, 'dira:' || k FROM base WHERE k % 6 = 5
        |  UNION ALL
        |  SELECT 'dir' || k || 'x/b' || k, 'dirb:' || k FROM base WHERE k % 6 = 5)
        |SELECT 's3://srcbkt/' || key AS original_uri,
        |  's3://dstbkt/moved/' || key AS dest_uri,
        |  'dstbkt' AS dest_bucket,
        |  'srcbkt/' || key AS copy_source,
        |  'moved/' || key AS dest_key,
        |  'Success' AS copy_status,
        |  md5(content) AS original_md5sum,
        |  md5(content) AS dest_md5sum,
        |  'Pass' AS md5sum_check,
        |  'Success' AS delete_status
        |FROM objs ORDER BY original_uri""".stripMargin) { (s, dir) =>
      val k = col("c_custkey")
      val base = t(s, dir, "customer").filter(k <= MoverCap).select(k)
      val root = fixtureRoot("mover_fixture", dir)
      val relDir = root.resolve("srcbkt").resolve("rel")
      java.nio.file.Files.createDirectories(relDir)
      base.collect().foreach { r =>
        val id = r.getLong(0)
        if (id % 6 <= 3)
          java.nio.file.Files.write(relDir.resolve(s"f$id"),
            s"obj:$id".getBytes("UTF-8"))
        else if (id % 6 == 5) {
          // 'x' terminates the number so no dir key is a string
          // prefix of another (S3 prefix listing would merge them)
          val d = root.resolve("srcbkt").resolve(s"dir${id}x")
          java.nio.file.Files.createDirectories(d)
          java.nio.file.Files.write(d.resolve(s"a$id"),
            s"dira:$id".getBytes("UTF-8"))
          java.nio.file.Files.write(d.resolve(s"b$id"),
            s"dirb:$id".getBytes("UTF-8"))
        }
        // id % 6 == 4: nothing written — the invalid-URI probe path
      }
      val store = new LocalFsStore(root.toString)
      val input = base.select(
        when(k % 6 <= 3, concat(lit("s3://srcbkt/rel/f"), k.cast("string")))
          .when(k % 6 === 4,
            concat(lit("s3://srcbkt/missing/f"), k.cast("string")))
          .otherwise(concat(lit("s3://srcbkt/dir"), k.cast("string"), lit("x")))
          .as("original_uri"))
      val objects = TransferExec.expandDirectories(input, "original_uri", store)
      val meta = TransferOps.fixedFolderDest(
        objects, "original_uri", "s3://dstbkt/moved")
      val copied = TransferExec
        .executeCopies(meta, "original_uri", "dest_uri", store)
        .withColumnRenamed("transfer_status", "copy_status")
        .withColumnRenamed("md5sum_before_cp", "original_md5sum")
        .withColumnRenamed("md5sum_after_cp", "dest_md5sum")
        .localCheckpoint(true)
      // the reference deletes only when EVERY row passed md5 check
      // (unique()==["Pass"]) — null-safe so a missing check also blocks
      val anyFail = copied.filter(!(col("md5sum_check") <=> "Pass"))
        .limit(1).count() > 0
      val withDelete =
        if (anyFail) copied.withColumn("delete_status",
          lit(null).cast("string"))
        else TransferExec.executeDeletes(copied, "original_uri", store)
      withDelete.select(col("original_uri"), col("dest_uri"),
          col("dest_bucket"), col("copy_source"), col("dest_key"),
          col("copy_status"), col("original_md5sum"), col("dest_md5sum"),
          col("md5sum_check"), col("delete_status"))
        .orderBy(col("original_uri"))
    }
  )
}
