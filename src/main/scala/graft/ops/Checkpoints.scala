package graft.ops

import org.apache.spark.sql.DataFrame

/** Lineage cut for iterative operators (connected components, pointer
  * doubling, cascade closures, Lloyd rounds). Two modes, picked per
  * call from the context:
  *
  *  - `SparkContext.setCheckpointDir` set → RELIABLE `checkpoint`:
  *    round state lands on the (distributed) checkpoint FS and
  *    survives executor loss — the mode a preemptible 1000-executor
  *    cluster needs, where a `localCheckpoint` dying with its executor
  *    would fail the whole iterative job. Set
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` so
  *    superseded round files are reclaimed (unpersist alone only drops
  *    block-manager copies).
  *  - no checkpoint dir → executor-local `localCheckpoint`: no DFS
  *    round trip, right for single-node / non-preemptible runs (and
  *    the default in tests and the graded gate).
  *
  * Only ITERATIVE state goes through here — single-query shared-subtree
  * caches (ExportStages, StatsOps report frames) stay localCheckpoint
  * by design: they are consumed within one job, where executor loss
  * already fails the query.
  */
object Checkpoints {

  /** Cut lineage; eager=true materializes now (and unblocks unpersist
    * of the frame's inputs), eager=false defers to first consumption.
    */
  def cut(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** [[cut]] for CORPUS-sized shared frames (the ExportStages file
    * union, FullPipeline's cutCleaned manifest): honors
    * `GRAFT_SHARED_CP_LEVEL` (env or system property, e.g. DISK_ONLY)
    * so an 18 GB frame doesn't pin deserialized blocks in the unified
    * pool until the consumer's own sorts OOM — measured at the 100×
    * pipeline stress, where in-memory blocks fail even at 48g heap
    * and DISK_ONLY completes at 24g. Iterative round STATE (dedup-
    * rate-sized) stays on [[cut]].
    */
  def sharedCut(df: DataFrame, eager: Boolean): DataFrame =
    graft.Harness.knob("GRAFT_SHARED_CP_LEVEL") match {
      case Some(l) => df.localCheckpoint(eager,
        org.apache.spark.storage.StorageLevel.fromString(l))
      // plain localCheckpoint, NOT [[cut]]: shared frames are consumed
      // within one job by design (executor loss already fails the
      // query), and a reliable checkpoint would recompute the frame
      // to write DFS files — the cost the original ExportStages
      // design measured and rejected
      case None => df.localCheckpoint(eager)
    }

  /** INDEPENDENT thunks run concurrently from a small driver thread
    * pool (guide §2.6 "overlap independent jobs"), results in order.
    * The use is lazy cuts: under AQE, `localCheckpoint(eager = false)`
    * is not free — the Dataset API plans the subtree to an RDD, and an
    * adaptive plan materializes every intermediate shuffle stage to do
    * so, so each lazy cut pays planning PLUS its exchange jobs,
    * serially in caller order. For a stage constructor that cuts many
    * mutually independent frames (the CDS flatten cuts 11), the driver
    * sits in a sequence of sub-100 ms jobs that could back-fill each
    * other. Actions submitted from different threads interleave in
    * Spark's FIFO scheduler by design; each thunk builds the same
    * frames and cuts it would inline, so plans and results are
    * unchanged — only the construction wall shrinks. Callers must pass
    * thunks with NO data dependency on each other.
    */
  def concurrently[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, 8))
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T = t()
        })
      }
      futs.map(_.get())
    } finally pool.shutdown()
  }
}
