package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Ad-hoc plan/latency inspection main (dev tool, not part of the
  * driver contract). For each selected query: the construct/plan/exec
  * split of 3 drained runs, every Spark job's wall time and call site
  * (the construct phase of checkpoint-heavy queries is a sequence of
  * eager jobs, and this shows which ones carry the cost), and the AQE
  * FINAL plan — the pre-execution explain shows isFinalPlan=false with
  * estimate-based join strategies that AQE may replace. Exec runs the
  * query's own physical plan (a noop write would re-plan a copy of it
  * inside the timed window and leave this plan unfinalized).
  *
  * Usage: runMain graft.Scratch [sfDir] [prefixes] (the
  * [[Harness.select]] convention). Plain min-of-two timing is
  * `graft.Bench <sfDir> <prefixes>`.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qs = Harness.select(args.toSeq.drop(1))
    val spark = Harness.session(32)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (System.nanoTime(), js.stageInfos.headOption.fold("?")(_.name)))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, site) = starts.getOrDefault(je.jobId, (0L, "?"))
        println(f"[job] ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.2f s  $site")
      }
    })
    qs.foreach { q =>
      val last = (1 to 3).map { i =>
        Harness.drain(spark)
        val t0 = System.nanoTime()
        val d = q.run(spark, sfDir)
        val t1 = System.nanoTime()
        d.queryExecution.executedPlan // force analysis+optimize+planning
        val t2 = System.nanoTime()
        d.queryExecution.toRdd.foreach(_ => ()) // runs THIS plan, so AQE finalizes it
        val t3 = System.nanoTime()
        println(f"[scratch] ${q.name} run$i: construct ${(t1 - t0) / 1e9}%.2f" +
          f" plan ${(t2 - t1) / 1e9}%.2f exec ${(t3 - t2) / 1e9}%.2f s")
        d
      }.last
      println(last.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
