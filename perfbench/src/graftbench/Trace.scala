package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed region: a call into a layer of graft, made from the
  * benchmark. `parent` is the index of the enclosing span (-1 at the
  * root); `unit` names the query, sink or store operation it served.
  */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: Int, unit: String, iter: Int)

/** In-memory span recorder. Disabled, it only runs the body: untraced
  * runs pay one branch per call. Spans are written out once, at exit.
  */
final class Tracer(sc: org.apache.spark.SparkContext) {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  var iter = 0

  def span[A](name: String, unit: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), 0L, open.headOption.getOrElse(-1), unit, iter)
      open = idx :: open
      // jobs carry the innermost layer name, so listener counters split
      // by layer even though events arrive on another thread
      val prevPhase = sc.getLocalProperty(Tracer.PhaseKey)
      sc.setLocalProperty(Tracer.PhaseKey, name)
      try body
      finally {
        sc.setLocalProperty(Tracer.PhaseKey, prevPhase)
        open = open.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }

  /** Self time per span name over the given spans: a span's duration
    * minus the part covered by its direct children. */
  def selfSeconds(of: Seq[(Span, Int)]): Map[String, Double] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    of.foreach { case (s, _) =>
      if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs
    }
    of.groupMapReduce(_._1.name) { case (s, i) =>
      (s.endNs - s.startNs - child(i)) / 1e9
    }(_ + _)
  }

  /** Name of the outermost span enclosing span `i`. */
  def rootName(i: Int): String = {
    var j = i
    while (spans(j).parent >= 0) j = spans(j).parent
    spans(j).name
  }

  def totalSeconds(of: Seq[(Span, Int)]): Map[String, Double] =
    of.groupMapReduce(_._1.name)(s => (s._1.endNs - s._1.startNs) / 1e9)(_ + _)

  def spansOfIter(i: Int): Seq[(Span, Int)] =
    spans.zipWithIndex.filter(_._1.iter == i).toSeq

  def writeJson(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("[")
      spans.zipWithIndex.foreach { case (s, i) =>
        w.print(s"""{"id":$i,"name":"${Json.esc(s.name)}","start_ns":${s.startNs},""" +
          s""""end_ns":${s.endNs},"parent":${s.parent},"unit":"${Json.esc(s.unit)}","iter":${s.iter}}""")
        w.println(if (i == spans.length - 1) "" else ",")
      }
      w.println("]")
    } finally w.close()
  }
}

object Tracer {
  val PhaseKey = "graftbench.phase"
}

/** Spark-side counters, keyed by the layer (span name) that submitted
  * the job. Read them only after [[org.apache.spark.graftbench.BusSync]].
  */
final class Counters extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
  }
  private val byPhase = mutable.Map.empty[String, Acc]
  private val stagePhase = mutable.Map.empty[Int, String]

  private def phaseOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.PhaseKey))).getOrElse("untraced")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val ph = phaseOf(e.properties)
    byPhase.getOrElseUpdate(ph, new Acc).jobs += 1
    e.stageIds.foreach(stagePhase(_) = ph)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = byPhase.getOrElseUpdate(stagePhase.getOrElse(e.stageId, "untraced"), new Acc)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Copy of the counters, then reset. */
  def take(): Map[String, Acc] = synchronized {
    val out = byPhase.toMap
    byPhase.clear()
    stagePhase.clear()
    out
  }
}
