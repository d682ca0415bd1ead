package graft

import org.apache.spark.sql.SparkSession

import graft.queries.Q

/** The dev-main harness: the one session builder, the between-window
  * drain and the query-prefix filter that Bench, Verify, Scratch,
  * PipelineStress and StressFixture share, plus the one env-then-
  * property knob lookup the engine's scale knobs go through.
  */
object Harness {

  /** `local[SPARK_GRAFT_CPUS or defaultCores]`, one shuffle partition
    * per core, AQE on, UTC, no UI, log level WARN.
    */
  def session(defaultCores: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's generated-class cache (static conf, default 100
      // entries) can't hold one suite pass (238 queries × ~10 codegen
      // units), so every timed window re-Janino-compiled its
      // whole-stage code and a warm pass warmed nothing. Sized to hold
      // the suite; irrelevant at cluster scale.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Between timed windows: localCheckpoint blocks (fixture/iterative
    * queries) and shuffle files otherwise accumulate across a run and
    * get reclaimed by the ASYNC context cleaner — whose work then lands
    * inside a later query's timed window (the r5/r6 roving cold-window
    * artifact: q87-q98 read 2-4x their steady state with zero code
    * changes). Draining deterministically OUTSIDE the timed region
    * keeps each window to its own query's work. (A forced System.gc()
    * here was measured WORSE: +0.06 s median per query — the full GC's
    * concurrent cleanup overlaps the next window.)
    */
  def drain(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** The queries whose name starts with one of `args`' comma- or
    * space-separated prefixes (a trailing `_` pins the exact number:
    * `q17_` does not match `q170_…`). No prefixes selects every query;
    * prefixes that match nothing throw rather than run an empty set.
    */
  def select(args: Seq[String]): Seq[Q] = {
    val prefixes = args.flatMap(_.split("[, ]+")).filter(_.nonEmpty)
    val qs = SparkEntry.allQueries.filter(q =>
      prefixes.isEmpty || prefixes.exists(q.name.startsWith))
    require(qs.nonEmpty, s"no query matches ${prefixes.mkString(",")}")
    qs
  }

  /** A scale knob: the env var `name`, else the system property. */
  def knob(name: String): Option[String] =
    sys.env.get(name).orElse(sys.props.get(name))
}
