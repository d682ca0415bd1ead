package graftbench

import scala.collection.mutable

/** One benchmark run in one JVM: set-up (session, inputs, warm-up),
  * timed iterations for `--seconds`, output checks, one JSON result
  * line. Launched by `perfbench/run.py`, which pins the JVM shape.
  *
  * Flags: --workload suite|store --seed N --seconds S
  * --trace 0|1 --cores N --work DIR --expected DIR --suite-data DIR
  * --t0-ns EPOCH_NS [--trace-out FILE] [--record-expected FILE];
  * or --generate-suite-data DIR --cores N --work DIR to write the
  * `suite` tables once per build.
  */
/** One measured iteration with what was read around it. */
final case class Measured(run: IterRun, traced: Boolean, gcMs: Double, heapMb: Double,
    counts: Map[String, Counters#Acc])

object Main {
  /** Warm-up runs whole iterations on the timed inputs for at least
    * this long and at least [[MinWarmup]] times: the JIT keeps speeding
    * iterations up for tens of seconds, so a fixed span keeps the
    * measured window at the same point of that curve in every run. */
  private val WarmupSeconds = 20.0
  private val MinWarmup = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("generate-suite-data").foreach { dir =>
      val spark = Harness.session(opt("cores").toInt, new java.io.File(opt("work")))
      try SuiteData.write(spark, dir) finally spark.stop()
      return
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new java.io.File(opt("work")).getAbsoluteFile
    val t0Ns = opt("t0-ns").toLong
    def nowNs: Long = {
      val i = java.time.Instant.now()
      i.getEpochSecond * 1000000000L + i.getNano
    }
    work.mkdirs()

    // --- set-up: session, inputs, warm-up on the timed inputs -------------
    val (spark, sessionS) = Workload.timed(Harness.session(cores, work))
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tr = new Tracer(spark.sparkContext)
    val wl = Workload(workload, spark, seed, cores, new java.io.File(opt("expected")),
      opt.getOrElse("suite-data", ""))
    val (_, tablesS) = Workload.timed(wl.prepare(new java.io.File(work, "inputs").getAbsolutePath))

    val warm = mutable.ArrayBuffer.empty[Double]
    val (_, warmupS) = Workload.timed {
      while (warm.length < MinWarmup || warm.sum < WarmupSeconds) {
        warm += wl.iteration(tr, -1).wall
        System.err.println(s"[graftbench] warm-up iteration ${warm.length}: ${warm.last} s")
        Harness.drain(spark)
      }
    }
    Harness.liveHeapMb()
    val setupS = (nowNs - t0Ns) / 1e9

    // --- timed iterations ----------------------------------------------
    // A traced run alternates untraced and traced iterations (at least
    // three, starting untraced): per-layer figures come from the traced
    // ones, the overhead from comparing each with its neighbours.
    val iters = mutable.ArrayBuffer.empty[Measured]
    val windowStart = System.nanoTime()
    org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)
    counters.take()
    while (iters.isEmpty || (traced && iters.length < 3) ||
        (System.nanoTime() - windowStart) / 1e9 < seconds) {
      val i = iters.length
      tr.enabled = traced && i % 2 == 1
      tr.iter = i
      val gc0 = Harness.gcMillis()
      val run = wl.iteration(tr, i)
      val gcMs = (Harness.gcMillis() - gc0).toDouble
      tr.enabled = false
      Harness.drain(spark)
      val heap = Harness.liveHeapMb()
      org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)
      iters += Measured(run, tr.spans.exists(_.iter == i), gcMs, heap, counters.take())
      System.err.println(s"[graftbench] iteration $i: ${run.wall} s " +
        run.units.map(u => f"${u.name}=${u.seconds}%.3f").mkString(" "))
    }

    val units = iters.flatMap(_.run.units)
    val failedUnits = units.count(!_.ok) + wl.setupFailures.length
    val attempted = units.length + wl.setupFailures.length
    opt.get("record-expected").foreach { f =>
      Json.writeCounts(new java.io.File(f),
        iters.head.run.units.filter(_.rows >= 0).map(u => u.name -> u.rows).sortBy(_._1))
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(iters.map(_.run).toSeq, setupS, iters.map(_.heapMb).max)
      else perLayer(iters.toSeq, tr, cores, sessionS, tablesS, warmupS)

    opt.get("trace-out").filter(_ => traced).foreach(f => tr.writeJson(new java.io.File(f)))
    spark.stop()
    val tmpBytes = cleanTmp(work)
    val allMetrics = if (traced) metrics :+ (("io.tmp_bytes", tmpBytes.toDouble, "bytes")) else metrics

    val body = allMetrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val correct = failedUnits == 0 && allMetrics.forall(m => !m._2.isNaN)
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failedUnits, "metrics": $body}""")
    System.out.flush()
  }

  /** Median over iterations; unit percentiles over per-unit medians. */
  private def endToEnd(runs: Seq[IterRun], setupS: Double, heapPeak: Double) = {
    val perUnit = runs.flatMap(_.units).filter(_.ok).groupBy(_.name).values
      .map(us => Harness.median(us.map(_.seconds))).toSeq
    Seq(
      ("setup_s", setupS, "s"),
      ("iteration_s", Harness.median(runs.map(_.wall)), "s"),
      ("unit_p50_s", Harness.median(perUnit), "s"),
      ("live_heap_peak_mb", heapPeak, "MB"))
  }

  /** Every per-layer metric, each the median over traced iterations of
    * its per-iteration value; layers a workload does not call read 0. */
  private def perLayer(iters: Seq[Measured], tr: Tracer, cores: Int,
      sessionS: Double, tablesS: Double, warmupS: Double) = {
    def med(f: (Measured, Int) => Double) =
      Harness.median(iters.zipWithIndex.collect { case (m, i) if m.traced => f(m, i) })
    def spanTotal(name: String) = med((_, i) => tr.totalSeconds(tr.spansOfIter(i)).getOrElse(name, 0.0))
    /** Seconds in spans named `name` under an outermost span matching `root`. */
    def under(name: String, root: String => Boolean)(i: Int) = tr.spansOfIter(i).collect {
      case (s, j) if s.name == name && root(tr.rootName(j)) => (s.endNs - s.startNs) / 1e9
    }.sum
    def rootTotal(root: String => Boolean)(i: Int) = tr.spansOfIter(i).collect {
      case (s, _) if s.parent < 0 && root(s.name) => (s.endNs - s.startNs) / 1e9
    }.sum
    val isQuery = (_: String) == "queries.unit"
    val isPipe = (_: String).startsWith("pipeline.")
    /** Share of a layer's wall spent constructing and planning. */
    def share(root: String => Boolean, construct: String) = med { (_, i) =>
      val wall = rootTotal(root)(i)
      if (wall == 0) 0.0 else (under(construct, root)(i) + under("spark.plan", root)(i)) / wall
    }
    def selfOf(pred: String => Boolean) = med { (_, i) =>
      tr.selfSeconds(tr.spansOfIter(i)).collect { case (n, s) if pred(n) => s }.sum
    }
    def count(pred: String => Boolean, f: Counters#Acc => Long) =
      med((m, _) => m.counts.collect { case (ph, a) if pred(ph) => f(a).toDouble }.sum)
    val all = (_: String) => true
    val commits = Set("io.commit_append", "io.commit_merge", "io.commit_delete")
    val nCommits = med((_, i) => tr.spansOfIter(i).count(s => commits(s._1.name)).toDouble)
    val io = Seq("commit_append", "commit_merge", "commit_delete", "read_latest", "read_pruned",
      "read_changes", "history", "compact", "vacuum")
    Seq(
      ("setup.session_s", sessionS, "s"),
      ("setup.tables_s", tablesS, "s"),
      ("setup.warmup_s", warmupS, "s"),
      ("queries.construct_s", spanTotal("queries.construct"), "s"),
      ("queries.construct_jobs", count(_ == "queries.construct", _.jobs), "count"),
      ("queries.plan_s", med((_, i) => under("spark.plan", isQuery)(i)), "s"),
      ("queries.exec_s", med((_, i) => under("spark.exec", isQuery)(i)), "s"),
      ("queries.construct_plan_share", share(isQuery, "queries.construct"), "ratio"),
      ("spark.plan_s", spanTotal("spark.plan"), "s"),
      ("spark.exec_s", spanTotal("spark.exec"), "s"),
      ("spark.jobs", count(all, _.jobs), "count"),
      ("spark.tasks", count(all, _.tasks), "count"),
      ("spark.shuffle_write_bytes", count(all, _.shuffleWrite), "bytes"),
      ("spark.spill_bytes", count(all, _.spill), "bytes"),
      ("core_util", med((m, _) => m.counts.values.map(_.runMs).sum / (m.run.wall * 1000 * cores)), "ratio"),
      ("pipeline.manifest_read_s", spanTotal("pipeline.manifest_read"), "s"),
      ("pipeline.construct_s", spanTotal("pipeline.construct"), "s"),
      ("pipeline.construct_jobs", count(_ == "pipeline.construct", _.jobs), "count"),
      ("pipeline.plan_s", med((_, i) => under("spark.plan", isPipe)(i)), "s"),
      ("pipeline.exec_s", med((_, i) => under("spark.exec", isPipe)(i)), "s"),
      ("pipeline.construct_plan_share", share(isPipe, "pipeline.construct"), "ratio")) ++
      PipelineSinks.map(s => (s"pipeline.sink.${s}_s", spanTotal(s"pipeline.sink.$s"), "s")) ++
      io.map(n => (s"io.${n}_s", spanTotal(s"io.$n"), "s")) ++
      Seq(
        ("io.jobs_per_commit",
          if (nCommits == 0) 0.0 else count(commits, _.jobs) / nCommits, "count"),
        ("io.bytes_per_user_byte", med((m, _) => m.run.extra.getOrElse("io.bytes_per_user_byte", 0.0)), "ratio"),
        ("io.files_written", med((m, _) => m.run.extra.getOrElse("io.files_written", 0.0)), "count"),
        ("jvm.gc_ms", med((m, _) => m.gcMs), "ms"),
        ("self.queries.construct_s", selfOf(_ == "queries.construct"), "s"),
        ("self.spark_s", selfOf(_.startsWith("spark.")), "s"),
        ("self.pipeline_s", selfOf(_.startsWith("pipeline.")), "s"),
        ("self.io_s", selfOf(_.startsWith("io.")), "s"),
        ("trace.iteration_s", med((m, _) => m.run.wall), "s"),
        // each traced iteration against the mean of its untraced
        // neighbours, so the JIT's downward drift cancels
        ("trace.overhead_ratio", Harness.median(iters.indices.collect {
          case i if iters(i).traced && i + 1 < iters.length =>
            iters(i).run.wall * 2 / (iters(i - 1).run.wall + iters(i + 1).run.wall) - 1
        }), "ratio"))
  }

  /** The pipeline's sinks, in the order `FullPipeline.Outputs` lists them. */
  val PipelineSinks: Seq[String] = Seq("findings", "sra_wide", "sra_constancy", "ssm",
    "subject_consent", "sample_attributes", "dcf_index", "tab_participant", "tab_pdx",
    "tab_sample", "tab_sequencing_file", "tab_study", "cds")

  /** Empty the run's own temp dir (the JVM's `java.io.tmpdir`, under
    * the work dir), where graft's fixture-building code puts its files.
    * Returns the bytes removed. */
  private def cleanTmp(work: java.io.File): Long = {
    val own = new java.io.File(System.getProperty("java.io.tmpdir")).getAbsoluteFile
    if (!own.toPath.startsWith(work.toPath)) 0L
    else {
      val kids = Option(own.listFiles()).map(_.toSeq).getOrElse(Nil)
      val bytes = kids.map(Harness.du(_)._1).sum
      kids.foreach(Harness.wipe)
      bytes
    }
  }
}
