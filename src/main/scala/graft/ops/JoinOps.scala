package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join combinators reproducing the reference's pandas-merge policies. */
object JoinOps {

  /** The reference's core `join_node` + `join_file_node_cleaner` pattern
    * (`/root/reference/src/s3_ccdi_to_cds.py:269-297`): left equi join
    * where overlapping non-key columns are resolved by COALESCE —
    * parent wins by default (`combine_first`), child wins for columns
    * listed in `childWins` (the reference's reversed anatomic_site case
    * at `s3_ccdi_to_cds.py:563-581`). Right side rows with a null key
    * are dropped first (`dropna(subset=[key])`).
    */
  def leftJoinCoalesce(
      parent: DataFrame,
      child: DataFrame,
      keys: Seq[String],
      childWins: Set[String] = Set.empty,
      joinType: String = "left"): DataFrame = {
    val childClean = child.na.drop("any", keys)
    val overlap = parent.columns.toSet
      .intersect(childClean.columns.toSet) -- keys
    def q(c: String): Column = col("`" + c.replace("`", "") + "`")
    // Rename child's overlapping columns to temporary names pre-join,
    // then resolve every overlap in ONE post-join select: per-column
    // withColumn/withColumnRenamed/drop folds each force a full
    // re-analysis of the accumulated tree, which turns deep join DAGs
    // (the 40-join CDS flatten) quadratic in driver time.
    val childRenamed = childClean.select(childClean.columns.toSeq.map(c =>
      if (overlap.contains(c)) q(c).as(s"__child_$c") else q(c)): _*)
    val joined = parent.join(childRenamed, keys, joinType)
    val out = joined.columns.flatMap {
      case c if c.startsWith("__child_") => None
      case c if overlap.contains(c) =>
        val merged =
          if (childWins.contains(c)) coalesce(q(s"__child_$c"), q(c))
          else coalesce(q(c), q(s"__child_$c"))
        Some(merged.as(c))
      case c => Some(q(c))
    }
    joined.select(out.toSeq: _*)
  }

  /** Top-1-per-group join input (the reference's sort + dedup-keep-first
    * idiom, `/root/reference/workflows/mci_gdc_transform.py:44-60`):
    * deterministic via explicit tie-breaker columns.
    */
  def top1PerGroup(
      df: DataFrame,
      partitionCols: Seq[String],
      orderCols: Seq[Column]): DataFrame = {
    // backtick-quote so dotted CCDI names resolve as flat attributes
    val w = Window
      .partitionBy(partitionCols.map(c => col("`" + c.replace("`", "") + "`")): _*)
      .orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Anti-membership (P6): rows of `df` whose `fk` has no match in
    * `parent.pk` — a broadcast-able left-anti join.
    */
  def antiMembers(df: DataFrame, fk: String, parent: DataFrame, pk: String): DataFrame =
    df.join(parent, df(fk) === parent(pk), "left_anti")

  /** Semi-membership (P7). */
  def semiMembers(df: DataFrame, fk: String, parent: DataFrame, pk: String): DataFrame =
    df.join(parent, df(fk) === parent(pk), "left_semi")

  /** The manifest-diff tool (`/root/reference/workflows/
    * compare_dataframes.py:26-50`): pandas outer merge with
    * `indicator=True` — one frame per presence class (both /
    * left_only / right_only). Returned as ONE tagged frame (the
    * reference's three frames are filters of it): overlapping
    * non-key columns get the pandas `_x`/`_y` suffixes, `presence`
    * is the `_merge` indicator. Null keys never match (pandas NaN
    * semantics = SQL null semantics here); literal marker columns —
    * not key null-ness — drive the indicator so null-keyed rows on
    * either side classify correctly.
    */
  def diffByKey(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String): DataFrame = {
    def q(c: String): Column = col("`" + c.replace("`", "") + "`")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    def suffixed(df: DataFrame, sfx: String, mark: String) =
      df.select(df.columns.toSeq.map(c =>
        if (overlap.contains(c)) q(c).as(c + sfx) else q(c)) :+
        lit(1).as(mark): _*)
    val lk = if (overlap.contains(leftKey)) leftKey + "_x" else leftKey
    val rk = if (overlap.contains(rightKey)) rightKey + "_y" else rightKey
    val l = suffixed(left, "_x", "__l")
    val r = suffixed(right, "_y", "__r")
    val joined = l.join(r, l(lk) === r(rk), "full_outer")
    joined
      .withColumn("presence",
        when(col("__l").isNotNull && col("__r").isNotNull, "both")
          .when(col("__l").isNotNull, "left_only")
          .otherwise("right_only"))
      .drop("__l", "__r")
  }
}
