package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Reshaping operators (SURVEY §2.5 W4, §2.7 U4/U5, liftover). */
object ReshapeOps {

  /** U4: Neo4j long→wide pivot
    * (`/root/reference/src/neo4j_data_tools.py:1666-1731`). Explicit
    * `names` avoids the extra distinct-values job Spark otherwise runs
    * — at scale the property-name domain is known from the catalog.
    */
  def pivotLongWide(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      valueCol: String,
      names: Seq[String],
      collapse: Boolean = false): DataFrame = {
    val agg =
      if (collapse) graft.expr.Collapse.sortedNative(col(valueCol))
      else first(col(valueCol), ignoreNulls = true)
    df.groupBy(col(idCol)).pivot(nameCol, names).agg(agg)
  }

  /** W4: per-group horizontal spread
    * (`/root/reference/src/s3_ccdi_to_sra.py:1071-1125`): rows 1..n of
    * a group become suffixed column sets `<v>_1 ... <v>_n`, ordered by
    * `orderCols`. One shuffle (the window) + one pivot with known
    * labels.
    */
  def spreadWide(
      df: DataFrame,
      key: String,
      orderCols: Seq[Column],
      valueCols: Seq[String],
      n: Int): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(orderCols: _*)
    val ranked = df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n)
    val aggs = valueCols.map(v => first(col(v), ignoreNulls = true).as(v))
    ranked.groupBy(col(key))
      .pivot("__rn", (1 to n).map(_.toString))
      .agg(aggs.head, aggs.tail: _*)
      .withColumnsRenamed(
        (for { i <- 1 to n; v <- valueCols } yield
          (if (valueCols.size == 1) s"$i" else s"${i}_$v") -> s"${v}_$i").toMap)
  }

  /** U5: unpivot fixed columns to (metric, value) long form via an
    * exploded struct array (generator — stays in whole-stage codegen).
    */
  def unpivotExplode(df: DataFrame, idCols: Seq[String], metrics: Seq[(String, Column)]): DataFrame = {
    val arr = array(metrics.map { case (n, c) =>
      struct(lit(n).as("metric"), c.cast("double").as("value"))
    }: _*)
    df.select(idCols.map(col) :+ explode(arr).as("__m"): _*)
      .select(idCols.map(col) :+ col("__m.metric") :+ col("__m.value"): _*)
  }

  /** Liftover: rename columns per a (fromName -> toName) mapping,
    * dropping unmapped ones (ref `/root/reference/src/manifest_liftover.py`).
    */
  def liftover(df: DataFrame, mapping: Map[String, String]): DataFrame = {
    val keep = df.columns.toSeq.filter(mapping.contains)
    df.select(keep.map(c => col(c).as(mapping(c))): _*)
  }

  /** Manifest-level liftover driven by a mapping frame with columns
    * (lift_from_node, lift_from_property, lift_to_node,
    * lift_to_property) — the reference's liftover TSV shape
    * (`manifest_liftover.py:32,143-162,406-444`). Full semantics:
    *
    *  - several SOURCE NODES may lift into one target node — each
    *    source is projected separately and the frames union by name
    *    (pandas concat, `:417-444`);
    *  - several source PROPERTIES may lift into one target property —
    *    values `;`-join in mapping order, null-skipping (the
    *    reference's `a + ";" + b` then `strip(";")`, `:429-436`);
    *  - rows that end up all-null are dropped (`:441`), and a `type`
    *    column carries the target node name (`:443`).
    *
    * The mapping is catalog-sized, so the driver-side collect is plan
    * construction, not dataflow.
    */
  def liftoverManifest(
      manifest: Map[String, DataFrame],
      mapping: DataFrame): Map[String, DataFrame] = {
    val rows = mapping.select("lift_from_node", "lift_from_property",
      "lift_to_node", "lift_to_property").collect()
    rows.groupBy(_.getString(2)).map { case (toNode, rs) =>
      val fromNodes = rs.map(_.getString(0)).distinct
      val lifted = fromNodes.toSeq.flatMap { fromNode =>
        val src = manifest.getOrElse(fromNode,
          throw new IllegalArgumentException(s"missing source node $fromNode"))
        val pairs = rs.filter(_.getString(0) == fromNode)
          .map(r => r.getString(1) -> r.getString(3))
          .filter { case (from, _) => src.columns.contains(from) }
        if (pairs.isEmpty) None
        else {
          val targets = pairs.map(_._2).distinct
          val cols = targets.map { to =>
            val froms = pairs.filter(_._2 == to).map(_._1)
            if (froms.length == 1) CurationOps.rawCol(froms.head).as(to)
            else {
              val joined = concat_ws(";", froms.map(CurationOps.rawCol).toSeq: _*)
              when(joined === "", lit(null)).otherwise(joined).as(to)
            }
          }
          val projected = src.select(cols.toSeq: _*)
          val anyValue = projected.columns.map(CurationOps.rawCol(_).isNotNull)
            .reduce(_ || _)
          Some(projected.filter(anyValue).withColumn("type", lit(toNode)))
        }
      }
      require(lifted.nonEmpty, s"no source node found for target $toNode")
      toNode -> lifted.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** The generic-liftover default fill (`/root/reference/src/
    * liftover_generic.py:320-340`): target columns that still carry
    * nulls after the lift fill with the mapping's `default_value`
    * for that (lift_to_node, lift_to_property) — first mapping row
    * wins, like the reference's `.values[0]`. One select; the
    * mapping is catalog-sized so the collect is plan construction.
    */
  def liftoverDefaults(lifted: DataFrame, mapping: DataFrame,
      toNode: String): DataFrame = {
    val hasDefault = mapping.columns.contains("default_value")
    if (!hasDefault) lifted
    else {
      val defaults = mapping
        .filter(col("lift_to_node") === toNode &&
          col("default_value").isNotNull)
        .select("lift_to_property", "default_value").collect()
        .foldLeft(Map.empty[String, String]) { (m, r) =>
          if (m.contains(r.getString(0))) m
          else m + (r.getString(0) -> r.getString(1))
        }
      lifted.select(lifted.columns.toSeq.map { c =>
        defaults.get(c) match {
          case Some(d) =>
            coalesce(CurationOps.rawCol(c), lit(d)).as(c)
          case None => CurationOps.rawCol(c)
        }
      }: _*)
    }
  }

  /** The submission-parse column pruning (`/root/reference/
    * workflows/submission_liftover.py:31-100`): the CCDI parse drops
    * `id` and `*.id` columns, the CCDI-DCC parse drops `guid` and
    * `*.guid` — database-minted surrogate keys never lift.
    */
  def pruneSubmissionColumns(df: DataFrame,
      idSuffix: String = "id"): DataFrame = {
    val keep = df.columns.filterNot(c =>
      c == idSuffix || c.endsWith("." + idSuffix))
    df.select(keep.map(CurationOps.rawCol(_)).toSeq: _*)
  }

  /** Liftover coverage check (`/root/reference/src/liftover_generic
    * .py:49-110` `find_unlifted_props`): populated manifest columns
    * (the `type` column excluded, like the reference's pre-scan drop)
    * with NO (lift_from_node, lift_from_property) row in the mapping
    * — mapping rows missing any of the four key fields are dropped
    * first. Output: (node, unlifted_property).
    *
    * `manifestProps` is [[TemplateUpdate.manifestProps]]' shape:
    * (node, property, has_value) — one aggregate pass per node table.
    */
  def unliftedProps(manifestProps: DataFrame, mapping: DataFrame): DataFrame = {
    val mapped = mapping
      .na.drop("any", Seq("lift_from_node", "lift_from_property",
        "lift_to_node", "lift_to_property"))
      .select(col("lift_from_node").as("node"),
        col("lift_from_property").as("property"))
    manifestProps
      .filter(col("has_value") && col("property") =!= "type")
      .join(broadcast(mapped), Seq("node", "property"), "left_anti")
      .select(col("node"), col("property").as("unlifted_property"))
  }
}
