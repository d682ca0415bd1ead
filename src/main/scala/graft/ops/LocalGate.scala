package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The size gate of the driver-local fast paths (connectedComponents,
  * pageRank, resolveChain, entryRemover, k-means, PQ, BPE training and
  * the pack/shuffle family — the AQE broadcast-swap idea applied to
  * iterative ops). Below the cap an op collects its input and runs its
  * rounds on the driver, bit-identical to the distributed twin; over
  * it the distributed rounds run untouched. The cap bounds exactly
  * what a broadcast join would ask of the driver.
  *
  * One test seam: the system property `graft.localMax` overrides every
  * cap, so `graft.localMax=0` forces every op onto its distributed
  * path ([[forcedDistributed]]). Each op keeps its own bail rules
  * (nulls, duplicate ids, empty input) on the rows the probe returns.
  */
object LocalGate {

  /** Cap on collected rows for scalar-row ops (edges, ids, words,
    * (id, count) proxies — kilobytes per row at most).
    */
  val Rows: Int = 1 << 20

  /** Cap on collected (id, vector) rows for the k-means and PQ
    * trainers.
    */
  val VecRows: Int = 1 << 17

  private val Prop = "graft.localMax"

  /** The rows of `df` when it has at most `cap` of them (one
    * `take(cap + 1)` job), else None; None without a job when the cap
    * is 0 or below.
    */
  def take(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val max = sys.props.get(Prop).fold(cap)(_.toInt)
    if (max <= 0) None
    else Some(df.take(max + 1)).filter(_.length <= max)
  }

  /** Runs `f` with every gate forced onto the distributed path — the
    * other half of each twin's local-vs-distributed comparison spec.
    */
  def forcedDistributed[T](f: => T): T = {
    System.setProperty(Prop, "0")
    try f finally System.clearProperty(Prop)
  }

  /** Integral id types: every value widens exactly to a Long. */
  def integral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** All `types` are ONE integral or string type: a local key domain
    * with JVM equality (a boxed Int never equals a boxed Long, so
    * columns whose values meet in one map must share the type).
    */
  def keyed(types: DataType*): Boolean =
    types.forall(_ == types.head) &&
      (integral(types.head) || types.head == StringType)

  /** A boxed integral id widened to Long. */
  def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
  }
}
