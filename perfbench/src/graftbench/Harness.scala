package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Minimal reader for the flat `{"name": integer}` files under
    * `expected/`. */
  def readCounts(f: java.io.File): Map[String, Long] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try {
      val Pair = "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r
      Pair.findAllMatchIn(src.mkString).map(m => m.group(1) -> m.group(2).toLong).toMap
    } finally src.close()
  }

  def writeCounts(f: java.io.File, m: Seq[(String, Long)]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(m.map { case (k, v) => s"""  "${esc(k)}": $v""" }.mkString("{\n", ",\n", "\n}"))
    finally w.close()
  }
}

/** Process shape and the calls every workload shares. */
object Harness {

  /** One local session whose every knob is pinned: `local[N]` with as
    * many shuffle partitions as cores, the codegen cache sized to hold
    * a whole suite pass (as `graft.Bench` sizes it), and every scratch
    * path under the run's own work directory. */
  def session(cores: Int, work: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop cached blocks and checkpoints, blocking, as `graft.Bench`
    * does between queries, so the async cleaner's work never lands in
    * a later timed window. */
  def drain(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Run `df` to completion and return its row count. Planning and
    * execution are separate calls so a traced run can time them apart;
    * every row is produced (the `noop`-sink equivalent), and the count
    * is the per-partition row tally, so the output check costs no extra
    * job. */
  def materialize(df: DataFrame, tr: Tracer, unit: String): Long = {
    val qe = df.queryExecution
    val plan = tr.span("spark.plan", unit)(qe.executedPlan)
    tr.span("spark.exec", unit) {
      SQLExecution.withNewExecutionId(qe, Some("graftbench")) {
        plan.execute().mapPartitions { it =>
          var n = 0L
          while (it.hasNext) { it.next(); n += 1 }
          Iterator.single(n)
        }.collect().sum
      }
    }
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Live heap after a full collection: the old-generation pool's
    * post-GC occupancy (the whole heap's, if no pool reports one). The
    * first collection lets Spark's cleaner drop blocks of collected
    * broadcasts and shuffles; the second measures what is left. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage))
    val bytes =
      if (pools.nonEmpty) pools.map(_.getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    bytes / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def wipe(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(wipe))
    f.delete()
    ()
  }

  /** (bytes, files) of every regular file under `f`. */
  def du(f: java.io.File): (Long, Long) =
    if (f.isFile) (f.length, 1L)
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}
