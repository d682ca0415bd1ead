package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // lenient arg handling: tolerate extra driver args / env fallbacks
    val sfDir = args.lift(0)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_verify_out")
    // Optional 3rd arg (local iteration only; driver passes two args):
    // query-name prefixes (the Harness.select convention) — run and
    // dump only those.
    val selected = Harness.select(args.lift(2).toSeq).map(_.name).toSet
    val spark = Harness.session(4)
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          // A query that throws must still surface in the graded set:
          // dump a one-row frame with an `error` column so the driver's
          // compare records an explicit mismatch instead of silently
          // shrinking the query count.
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          import spark.implicits._
          Seq(errors(name)).toDF("error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        }
      }
    }
    if (errors.nonEmpty) {
      val errJson = errors
        .map { case (k, v) => s"${Jsons.quote(k)}: ${Jsons.quote(v)}" }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${Jsons.quote(k)}: ${Jsons.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
