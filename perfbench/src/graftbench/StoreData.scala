package graftbench

import org.apache.spark.sql.SparkSession

/** The `store` workload's inputs: `Batches` append batches of
  * `BatchRows` rows, each batch a contiguous id block after a seeded
  * offset, rows in seeded order; one merge source (half updates of
  * seeded existing ids, half inserts of new ids); a seeded delete range
  * and a seeded pruned-read range, each half a batch. [[expect]] replays
  * the same keys on a plain set, which is where the expected row counts
  * come from.
  */
final case class StorePlan(offset: Long, appendIds: Seq[Seq[Long]], mergeIds: Seq[Long],
    deleteLo: Long, deleteHi: Long, readLo: Long, readHi: Long) {
  def expect: (Set[Long], Set[Long]) = {
    val all = appendIds.flatten.toSet ++ mergeIds
    val kept = all.filterNot(i => i >= deleteLo && i <= deleteHi)
    (kept, kept.filter(i => i >= readLo && i <= readHi))
  }
}

object StoreData {
  val Batches = 3
  val BatchRows = 2000

  def plan(seed: Long): StorePlan = {
    val r = new scala.util.Random(seed ^ 0x2545f4914f6cdd1dL)
    val offset = 1000000L * (1 + r.nextInt(1000))
    val n = Batches * BatchRows
    val appendIds = (0 until Batches).map(b =>
      r.shuffle((0 until BatchRows).map(i => offset + b.toLong * BatchRows + i)))
    val updates = r.shuffle((0 until n).toVector).take(BatchRows / 4).map(offset + _)
    val inserts = (0 until BatchRows / 4).map(i => offset + n + i)
    // the delete and the pruned read each cover half of one batch, in
    // different batches, so every seed does the same amount of work
    val db = r.nextInt(Batches)
    val rb = (db + 1 + r.nextInt(Batches - 1)) % Batches
    def half(b: Int) = offset + b.toLong * BatchRows + r.nextInt(BatchRows / 2)
    val dlo = half(db)
    val rlo = half(rb)
    StorePlan(offset, appendIds, r.shuffle(updates ++ inserts), dlo, dlo + BatchRows / 2 - 1,
      rlo, rlo + BatchRows / 2 - 1)
  }

  /** Rows carry the id, a group, a value and a day; a merge row's value
    * differs from any appended one. */
  def write(spark: SparkSession, dir: String, p: StorePlan, seed: Long): Unit = {
    import spark.implicits._
    def rows(ids: Seq[Long], salt: Long) = ids.map { i =>
      val h = java.lang.Long.hashCode(i * 0x9e3779b97f4a7c15L ^ seed ^ salt)
      (i, s"g${math.abs(h % 16)}", (h & 0xffff) / 100.0 + salt, (i - p.offset).toInt / 500)
    }.toDF("id", "grp", "val", "day").coalesce(1)
    p.appendIds.zipWithIndex.foreach { case (ids, b) =>
      rows(ids, 0).write.mode("overwrite").parquet(s"$dir/append-$b")
    }
    rows(p.mergeIds, 1000).write.mode("overwrite").parquet(s"$dir/merge")
  }
}
