package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph-shaped relational operators (SURVEY §2.3 J3/J8/J9/J10).
  * Iterative chases persist+localCheckpoint per iteration to cut
  * lineage growth — the reference caps its loops at 10 hops
  * (`/root/reference/src/s3_catcherry.py:843-905 deep_search`), we cap
  * configurably and converge by empty-frontier detection.
  */
object GraphOps {

  /** Backtick-quote a column name so the reference's dotted FK names
    * (`customer.c_custkey`) resolve as flat attributes.
    */
  private def q(name: String): String =
    if (name.contains(".")) "`" + name.replace("`", "") + "`" else name

  /** J3: walk-back flatten — chain of left joins along a path of
    * (childTable, fkCol, parentTable, pkCol) hops, parent columns
    * prefixed to avoid collisions. Dimension-sized parents should be
    * pre-broadcast by the caller.
    */
  def walkBack(
      start: DataFrame,
      hops: Seq[(DataFrame, String, String, String)]): DataFrame = {
    // hops: (parentDf, fkColOnCurrent, pkColOnParent, prefixForParentCols)
    hops.foldLeft(start) { case (cur, (parent, fk, pk, prefix)) =>
      val renamed = parent.columns.foldLeft(parent)(
        (d, c) => d.withColumnRenamed(c, s"$prefix$c"))
      cur.join(renamed, cur(q(fk)) === renamed(q(s"$prefix$pk")), "left")
    }
  }

  /** J8: resolve a parent chain to its root via pointer doubling.
    * `edges` is (childKey, parentKey) pairs; rows whose parentKey is
    * null are roots; a parent that is not itself a key counts as an
    * external root (the reference's deep_search treats a dead-end
    * lookup the same way). Returns (key, root, depth).
    *
    * Each iteration self-joins the ancestor map with itself, doubling
    * every unresolved pointer's reach — a 2^maxIter-deep chain
    * resolves in maxIter shuffles (vs one shuffle per hop for naive
    * stepping; at 100 TB the shuffle count IS the cost model).
    * Per-iteration localCheckpoint cuts lineage growth. Keys trapped
    * in a cycle never resolve and are dropped at the cap, matching
    * the reference's bounded loop (`s3_catcherry.py:844`).
    */
  /** Driver-local twin of [[resolveChain]]'s pointer doubling (the
    * local-fast-path discipline: bit-identical, forced-distributed
    * spec in GraphOpsSpec). The distributed rounds leave a node in the
    * output iff its root is reached within `maxIter` doublings — done
    * after round i ⇔ depth ≤ 2^i (induction over the done-propagation
    * rule), and a cycle is never done — so the local walk emits
    * exactly the keys with depth ≤ 2^maxIter, with the same
    * (key, root, depth) values: root = the first ancestor that is a
    * null-parent key or absent from the key map ("external root"),
    * depth = hop count, Int-typed as the distributed `d` column is.
    * Bails on duplicate keys (the join would multiply rows — caller
    * contract violated either way) and null keys.
    */
  private def localResolveChain(sel: DataFrame,
      maxIter: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    if (!LocalGate.keyed(sel.schema("key").dataType,
        sel.schema("parent").dataType)) return None
    val rows = LocalGate.take(sel, LocalGate.Rows).getOrElse(return None)
    val parentOf = new java.util.HashMap[Any, Any]()
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.isNullAt(0)) return None
      val k = r.get(0)
      if (parentOf.containsKey(k)) return None // dup key: join-multiplied
      parentOf.put(k, if (r.isNullAt(1)) null else r.get(1))
      i += 1
    }
    // done after round i ⇔ depth ≤ f(i), f(i) = f(i-1) + 2^(i-1),
    // f(0) = 0 (initial done = the depth-0 roots) ⇒ f(i) = 2^i - 1
    val maxDepth =
      if (maxIter >= 62) Long.MaxValue else (1L << maxIter) - 1L
    // memoized walk: rootOf/depthOf filled bottom-up along each path;
    // a node ON a cycle never resolves (marked by a null root with
    // resolved=true via the cycle set)
    val rootOf = new java.util.HashMap[Any, Any]()
    val depthOf = new java.util.HashMap[Any, Long]()
    val onCycle = new java.util.HashSet[Any]()
    val it = parentOf.keySet().iterator()
    while (it.hasNext) {
      val start = it.next()
      if (!rootOf.containsKey(start) && !onCycle.contains(start)) {
        val path = new java.util.ArrayList[Any]()
        val inPath = new java.util.HashSet[Any]()
        var cur: Any = start
        var root: Any = null
        var baseDepth = 0L
        var state = 0 // 0 walking, 1 resolved, 2 cycle
        while (state == 0) {
          if (rootOf.containsKey(cur)) {
            root = rootOf.get(cur); baseDepth = depthOf.get(cur); state = 1
          } else if (onCycle.contains(cur) || inPath.contains(cur)) {
            state = 2
          } else {
            val p = parentOf.get(cur)
            if (p == null && !parentOf.containsKey(cur)) {
              // external root: not a key at all
              root = cur; baseDepth = 0L; state = 1
            } else if (p == null) {
              root = cur; baseDepth = 0L; state = 1 // null-parent root
            } else {
              path.add(cur); inPath.add(cur); cur = p
            }
          }
        }
        var j = path.size - 1
        if (state == 1) {
          // unwind: each path node sits one hop above its successor
          var dAcc = baseDepth
          rootOf.put(cur, root)
          depthOf.put(cur, baseDepth)
          while (j >= 0) {
            val v = path.get(j)
            dAcc += 1L
            rootOf.put(v, root)
            depthOf.put(v, dAcc)
            j -= 1
          }
        } else {
          while (j >= 0) { onCycle.add(path.get(j)); j -= 1 }
          onCycle.add(cur)
        }
      }
    }
    val keyType = sel.schema("key").dataType
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    val it2 = parentOf.keySet().iterator()
    while (it2.hasNext) {
      val k = it2.next()
      if (rootOf.containsKey(k) && depthOf.get(k) <= maxDepth)
        out.add(org.apache.spark.sql.Row(
          k, rootOf.get(k), depthOf.get(k).toInt))
    }
    val schema = StructType(Seq(
      StructField("key", keyType),
      StructField("root", keyType),
      StructField("depth", IntegerType)))
    Some(sel.sparkSession.createDataFrame(out, schema))
  }

  def resolveChain(
      edges: DataFrame, // columns: key, parent (parent null => root)
      maxIter: Int = 20): DataFrame = {
    localResolveChain(edges.select(col("key"), col("parent")), maxIter)
      .foreach(local => return local)
    // state: anc is a known ancestor `d` hops up; done => anc is the
    // root. One job per iteration: the checkpoint is LAZY and the
    // remaining-count action is what materializes it — a separate
    // eager checkpoint job would double the job count for nothing.
    def checkpointAndCountRemaining(df: DataFrame): (DataFrame, Long) = {
      val cp = Checkpoints.cut(df, eager = false)
      (cp, cp.filter(!col("done")).count())
    }
    var (state, remaining) = checkpointAndCountRemaining(edges.select(
      col("key"),
      coalesce(col("parent"), col("key")).as("anc"),
      when(col("parent").isNull, 0).otherwise(1).as("d"),
      col("parent").isNull.as("done")))

    var i = 0
    while (remaining > 0 && i < maxIter) {
      val ptr = state.select(col("key").as("__k"), col("anc").as("__a"),
        col("d").as("__d"), col("done").as("__done"))
      val next = state.join(ptr, state("anc") === ptr("__k"), "left")
        .select(
          col("key"),
          when(col("done"), col("anc"))
            .otherwise(coalesce(col("__a"), col("anc"))).as("anc"),
          when(col("done"), col("d"))
            .otherwise(col("d") + coalesce(col("__d"), lit(0))).as("d"),
          // missing anc in the map => anc is an external root
          (col("done") || coalesce(col("__done"), lit(true))).as("done"))
      val (cp, rem) = checkpointAndCountRemaining(next)
      state = cp
      remaining = rem
      i += 1
    }
    state.filter(col("done"))
      .select(col("key"), col("anc").as("root"), col("d").as("depth"))
  }

  /** J9: cascading delete — given seed keys to remove from `rootTable`,
    * walk the FK edges removing dependents transitively. `edges` maps
    * (childTable, fkCol) -> parentTable. Returns the surviving tables.
    * Implemented as one semi-join frontier per hop + a final anti join
    * per table, never materializing id lists on the driver.
    */
  def cascadeDelete(
      tables: Map[String, DataFrame],
      keyOf: Map[String, String],
      edges: Seq[(String, String, String)], // (childTable, fkCol, parentTable)
      seedTable: String,
      seedKeys: DataFrame // single column "key"
  ): Map[String, DataFrame] = {
    // Breadth-first over the table DAG: doomed keys per table.
    var doomed: Map[String, DataFrame] = Map(seedTable -> seedKeys)
    var frontier: Seq[String] = Seq(seedTable)
    while (frontier.nonEmpty) {
      val next = for {
        (child, fk, parent) <- edges if frontier.contains(parent)
        parentDoomed = doomed(parent)
      } yield {
        val childKeys = tables(child)
          .join(parentDoomed, tables(child)(q(fk)) === parentDoomed("key"), "left_semi")
          .select(col(q(keyOf(child))).as("key"))
        (child, childKeys)
      }
      frontier = next.map(_._1).distinct
      // a table reached twice (diamond DAG) accumulates a union — cut
      // its lineage there (lazy: most DAGs are chains and never pay);
      // reliable when a checkpoint dir is set, like the other walks
      doomed = next.foldLeft(doomed) { case (m, (t, keys)) =>
        m.updated(t, m.get(t)
          .map(d => Checkpoints.cut(d.unionByName(keys).distinct(), eager = false))
          .getOrElse(keys))
      }
    }
    tables.map { case (name, df) =>
      name -> doomed.get(name).map { keys =>
        df.join(keys, df(q(keyOf(name))) === keys("key"), "left_anti")
      }.getOrElse(df)
    }
  }

  /** The manifest entry remover (`/root/reference/workflows/
    * entry_remover.py:95-140`): seed ids delete matching rows from
    * EVERY node's `<node>_id` column; rows whose dotted `*_id` link
    * columns reference a deleted id surface their own id as a newly
    * doomed entry, transitively. The reference runs a driver-side
    * BFS queue over pandas frames; here the link structure compiles
    * to ONE edge frame (parent id → row id) and the closure is an
    * iterative distributed frontier semi-join — hops = manifest link
    * depth, each persisted+checkpointed so lineage stays flat.
    *
    * Returns (kept, deleted, relations): the surviving and removed
    * rows per node, plus the traversed (parent_id, child_id) edge
    * set — the reference's relation_pairs log, deterministically the
    * distinct edges whose parent is in the closure.
    */
  /** Driver-local twin of [[entryRemover]]'s frontier BFS: the doomed
    * closure is a pure set computation, so below the cap it folds on
    * the driver over the collected (parent, child) edge rows and the
    * kept/deleted faces keep their EXACT join construction against a
    * LocalRelation of the closure (exact stats — the planner
    * broadcasts without a job). The maxHops guard throws the SAME
    * exception: BFS level count is identical to the distributed
    * frontier's hop count. Relations = the distinct collected edges
    * whose parent is in the closure — the same set the distributed
    * semi-join + distinct emits.
    */
  private def localEntryRemover(
      nodes: Map[String, DataFrame], seeds: DataFrame,
      edgesRaw: DataFrame, maxHops: Int)
      : Option[(Map[String, DataFrame], Map[String, DataFrame], DataFrame)] = {
    import org.apache.spark.sql.types._
    val pT = edgesRaw.schema("parent_id").dataType
    val cT = edgesRaw.schema("child_id").dataType
    val sT = seeds.schema("entry_id").dataType
    if (!LocalGate.keyed(pT, cT, sT)) return None
    val seedRows = LocalGate.take(seeds.select(col("entry_id")),
      LocalGate.Rows).getOrElse(return None)
    if (seedRows.exists(_.isNullAt(0))) return None
    val edgeRows = LocalGate.take(edgesRaw, LocalGate.Rows)
      .getOrElse(return None)
    if (edgeRows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    // children per parent
    val kids = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    edgeRows.foreach { r =>
      kids.computeIfAbsent(r.get(0), _ => new java.util.ArrayList[Any]())
        .add(r.get(1))
    }
    val closure = new java.util.LinkedHashSet[Any]()
    seedRows.foreach(r => closure.add(r.get(0)))
    var frontier: java.util.List[Any] =
      new java.util.ArrayList[Any](closure)
    var hops = 0
    var done = false
    while (!done && hops < maxHops) {
      val next = new java.util.LinkedHashSet[Any]()
      frontier.forEach { p =>
        val ch = kids.get(p)
        if (ch != null) ch.forEach(c => if (!closure.contains(c)) {
          next.add(c); ()
        })
      }
      if (next.isEmpty) done = true
      else {
        closure.addAll(next)
        frontier = new java.util.ArrayList[Any](next)
        hops += 1
      }
    }
    if (!done)
      throw new IllegalStateException(
        s"entryRemover frontier did not drain within maxHops=$maxHops — " +
          "the closure (and thus kept/deleted) would be incomplete; " +
          "raise maxHops past the manifest's link depth")
    val spark = seeds.sparkSession
    val doomedRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    closure.forEach(v => { doomedRows.add(org.apache.spark.sql.Row(v)); () })
    val doomedIds = spark.createDataFrame(doomedRows,
      StructType(Seq(StructField("entry_id", sT))))
    val kept = nodes.map { case (node, df) =>
      val idCol = s"${node}_id"
      node -> (if (!df.columns.contains(idCol)) df
        else df.join(doomedIds, df(q(idCol)) === doomedIds("entry_id"),
          "left_anti"))
    }
    val deleted = nodes.map { case (node, df) =>
      val idCol = s"${node}_id"
      node -> (if (!df.columns.contains(idCol)) df.limit(0)
        else df.join(doomedIds, df(q(idCol)) === doomedIds("entry_id"),
          "left_semi"))
    }
    val relSet = new java.util.LinkedHashSet[(Any, Any)]()
    edgeRows.foreach { r =>
      if (closure.contains(r.get(0))) { relSet.add((r.get(0), r.get(1))); () }
    }
    val relRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    relSet.forEach(t => { relRows.add(org.apache.spark.sql.Row(t._1, t._2)); () })
    val relations = spark.createDataFrame(relRows,
      StructType(Seq(StructField("parent_id", pT),
        StructField("child_id", cT))))
    Some((kept, deleted, relations))
  }

  def entryRemover(
      nodes: Map[String, DataFrame],
      seeds: DataFrame, // single column "entry_id"
      maxHops: Int = 20
  ): (Map[String, DataFrame], Map[String, DataFrame], DataFrame) = {
    val edgesRaw = nodes.toSeq.sortBy(_._1).flatMap { case (node, df) =>
      val idCol = s"${node}_id"
      if (!df.columns.contains(idCol)) Seq.empty
      else df.columns.toSeq
        .filter(c => c.contains(".") && c.endsWith("_id"))
        .map { lc =>
          df.filter(col(q(lc)).isNotNull && col(q(idCol)).isNotNull)
            .select(col(q(lc)).as("parent_id"), col(q(idCol)).as("child_id"))
        }
    }.reduceOption(_ unionByName _)
      .getOrElse(seeds.sparkSession.emptyDataFrame
        .select(lit("").as("parent_id"), lit("").as("child_id")))
    localEntryRemover(nodes, seeds, edgesRaw, maxHops)
      .foreach(local => return local)
    val edges = edgesRaw.persist()
    var closure = seeds.select(col("entry_id")).distinct().persist()
    var frontier = closure
    var hops = 0
    var done = false
    while (!done && hops < maxHops) {
      val next = edges
        .join(frontier, edges("parent_id") === frontier("entry_id"),
          "left_semi")
        .select(col("child_id").as("entry_id")).distinct()
        .join(closure, Seq("entry_id"), "left_anti")
        .persist()
      if (next.isEmpty) { done = true; next.unpersist() }
      else {
        val grown = Checkpoints.cut(closure.unionByName(next), eager = true)
        if (frontier ne closure) frontier.unpersist()
        closure.unpersist() // superseded by `grown` — storage stays O(1)
        closure = grown
        frontier = next
        hops += 1
      }
    }
    if (!done) {
      edges.unpersist()
      throw new IllegalStateException(
        s"entryRemover frontier did not drain within maxHops=$maxHops — " +
          "the closure (and thus kept/deleted) would be incomplete; " +
          "raise maxHops past the manifest's link depth")
    }
    if (frontier ne closure) frontier.unpersist()
    val doomedIds = closure
    val kept = nodes.map { case (node, df) =>
      val idCol = s"${node}_id"
      node -> (if (!df.columns.contains(idCol)) df
        else df.join(doomedIds, df(q(idCol)) === doomedIds("entry_id"),
          "left_anti"))
    }
    val deleted = nodes.map { case (node, df) =>
      val idCol = s"${node}_id"
      node -> (if (!df.columns.contains(idCol)) df.limit(0)
        else df.join(doomedIds, df(q(idCol)) === doomedIds("entry_id"),
          "left_semi"))
    }
    // materialize the (small) relation log so `edges` can be released
    // before returning; kept/deleted only depend on the checkpointed
    // closure and the caller's own node frames
    val relations = edges
      .join(doomedIds, edges("parent_id") === doomedIds("entry_id"),
        "left_semi")
      .select(col("parent_id"), col("child_id")).distinct()
      .transform(Checkpoints.cut(_, eager = true))
    edges.unpersist()
    (kept, deleted, relations)
  }

  /** PageRank (Page/Brin 1998) over a directed edge frame, the
    * iterate-until-budget graph op next to connectedComponents: each
    * round every node's rank is
    *   r'(v) = (1 − d)/N + d · Σ_{u→v} r(u)/outdeg(u)
    * computed as ONE join of the edge list to the current rank frame
    * plus one aggregation keyed by destination — the standard
    * edge-partitioned distributed shape (ranks are node-sized rows;
    * text/payloads never move). Iteration state cuts lineage via
    * [[Checkpoints.cut]] like every iterative op here.
    *
    * Variant: rank sinks LEAK (no dangling-mass redistribution) —
    * simplest well-defined semantics, documented so the q171 oracle
    * replays it term for term. Determinism is the repo's float
    * discipline: per-edge contributions r(u)/outdeg(u) round once to
    * DECIMAL(25,18), SUM exactly (merge-order-independent at 1000
    * executors), cast back to double, then one damped update — every
    * intermediate double is bit-reproducible, so three iterations
    * hash-grade across engines.
    *
    * Edges dedup first (a multi-edge must not double-contribute);
    * nodes = src ∪ dst, so pure sinks hold rank too. Returns
    * (id, r).
    */
  /** Driver-side twin of [[pageRank]]'s round arithmetic for a SMALL
    * edge set (the [[graft.ops.DedupOps]] local-CC idea applied to
    * rank iteration): below the [[LocalGate.Rows]] cap of collected
    * edge rows the rounds run on the driver, replicating the
    * distributed numeric path STEP FOR STEP so results are
    * bit-identical — contribution = BigDecimal.valueOf(r/od)
    * .setScale(18, HALF_UP) (exactly Spark's double→DECIMAL(25,18)
    * cast), exact decimal sum per dst (order-free), .doubleValue
    * (exactly Decimal→double), update (1−d)/n + d·inr in the same
    * IEEE order. The per-round join+agg+checkpoint jobs — pure
    * scheduling on a graph this size — disappear. Non-integral/string
    * ids or null endpoints fall back to the distributed rounds.
    */
  private def localPageRank(e: DataFrame, iters: Int,
      d: Double): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    import java.math.{BigDecimal => JBD, RoundingMode}
    // src/dst must share ONE local-comparable type: the node set mixes
    // both columns' values
    if (!LocalGate.keyed(e.schema("src").dataType, e.schema("dst").dataType))
      return None
    val rows = LocalGate.take(e, LocalGate.Rows).getOrElse(return None)
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    // the caller hands the RAW pair projection; the distributed path's
    // edge frame is .distinct() of exactly this, so dedup here
    val edgesL = rows.map(r => (r.get(0), r.get(1))).distinct
    val nodes = (edgesL.map(_._1) ++ edgesL.map(_._2)).distinct
    val n = nodes.length.toLong
    require(n > 0, "pageRank: empty graph")
    val od = new java.util.HashMap[Any, Long]()
    edgesL.foreach(t => od.merge(t._1, 1L, (a, b) => a + b))
    var r = new java.util.HashMap[Any, Double]()
    nodes.foreach(v => r.put(v, 1.0 / n))
    (1 to iters).foreach { _ =>
      val inr = new java.util.HashMap[Any, JBD]()
      edgesL.foreach { case (s, t) =>
        val c = JBD.valueOf(r.get(s) / od.get(s))
          .setScale(18, RoundingMode.HALF_UP)
        inr.merge(t, c, (a, b) => a.add(b))
      }
      val next = new java.util.HashMap[Any, Double]()
      val base = (1 - d) / n
      nodes.foreach { v =>
        val in = inr.get(v)
        next.put(v, base + d * (if (in == null) 0.0 else in.doubleValue()))
      }
      r = next
    }
    val idType = e.schema("src").dataType
    val out = nodes.map(v => org.apache.spark.sql.Row(v, r.get(v)))
    Some(e.sparkSession.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("id", idType),
        StructField("r", DoubleType)))))
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, d: Double = 0.85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // local first, on the RAW projection: the driver dedups the
    // collected pairs itself, so the small-graph path pays ONE scan
    // collect — no distinct exchange, no checkpoint write. (The cap
    // then bounds RAW edge rows; a graph over it falls back and pays
    // the partial take, negligible next to its distributed rounds.)
    localPageRank(
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
        iters, d)
      .foreach(local => return local)
    val e = Checkpoints.cut(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct(),
      eager = true) // consumed every round, twice
    val nodes = Checkpoints.cut(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct(),
      eager = true)
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    // node-sized and consumed every round — materialize once
    val outdeg = Checkpoints.cut(
      e.groupBy(col("src")).agg(count(lit(1)).as("od")), eager = true)
    var ranks = nodes.select(col("id"), lit(1.0 / n).as("r"))
    (1 to iters).foreach { _ =>
      val contrib = e
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst"), (col("r") / col("od"))
          .cast(org.apache.spark.sql.types.DecimalType(25, 18)).as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).cast("double").as("inr"))
      ranks = Checkpoints.cut(
        nodes.join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .select(col("id"),
            (lit((1 - d) / n) +
              lit(d) * coalesce(col("inr"), lit(0.0))).as("r")),
        eager = true)
    }
    ranks
  }

  /** [[pageRank]] completed to the textbook deployment contract
    * (Page/Brin 1998 §2.1.2; the form every production PageRank ships):
    *
    *  - DANGLING-MASS REDISTRIBUTION: a node with no out-edges donates
    *    its rank uniformly to every node, so total rank is CONSERVED
    *    at 1 every round (the fixed-round variant lets sinks leak, by
    *    documented choice — q171's oracle replays that). The dangling
    *    mass is one driver-read aggregate per round over the
    *    node-sized rank frame.
    *  - EPSILON CONVERGENCE: iterate until the L1 drift
    *    Σ_v |r'(v) − r(v)| falls below `eps` (or `maxIters` rounds),
    *    returning how many rounds ran — the stop-when-stable contract
    *    a 100-iteration budget on a converged graph would waste.
    *
    * Distributed shape is [[pageRank]]'s unchanged: one edge join +
    * one dst-keyed aggregation per round, rank state cut via
    * [[Checkpoints.cut]]; the dangling sum and the drift are decimal-
    * exact (merge-order-independent) before their single driver read.
    * With no dangling nodes and `eps = 0` the rounds compute
    * bit-identically to [[pageRank]] (spec-asserted). Returns
    * (ranks(id, r), roundsRun).
    */
  def pageRankConverged(edges: DataFrame, srcCol: String, dstCol: String,
      eps: Double, maxIters: Int, d: Double = 0.85): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(eps >= 0, s"eps must be >= 0, got $eps")
    val dec = org.apache.spark.sql.types.DecimalType(25, 18)
    val e = Checkpoints.cut(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct(),
      eager = true)
    val nodes = Checkpoints.cut(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct(),
      eager = true)
    val n = nodes.count()
    require(n > 0, "pageRankConverged: empty graph")
    val outdeg = Checkpoints.cut(
      e.groupBy(col("src")).agg(count(lit(1)).as("od")), eager = true)
    var ranks = nodes.select(col("id"), lit(1.0 / n).as("r"))
    var rounds = 0
    var drift = Double.MaxValue
    while (rounds < maxIters && drift >= eps) {
      // rank held by dangling nodes (no out-edges) this round —
      // node-sized anti-join, decimal-summed, one driver read
      val dm = ranks
        .join(outdeg.withColumnRenamed("src", "id"), Seq("id"),
          "left_anti")
        .agg(coalesce(sum(col("r").cast(dec)).cast("double"), lit(0.0)))
        .head().getDouble(0)
      val contrib = e
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst"), (col("r") / col("od")).cast(dec).as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).cast("double").as("inr"))
      val next = Checkpoints.cut(
        nodes.join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .select(col("id"),
            (lit((1 - d) / n) +
              lit(d) * (coalesce(col("inr"), lit(0.0)) + lit(dm / n)))
              .as("r")),
        eager = true)
      drift = next
        .join(ranks.select(col("id"), col("r").as("__r0")), Seq("id"))
        .agg(sum(abs(col("r") - col("__r0")).cast(dec)).cast("double"))
        .head().getDouble(0)
      ranks = next
      rounds += 1
    }
    (ranks, rounds)
  }

  /** Per-node TRIANGLE counts of an undirected graph — the
    * local-clustering primitive (a dedup-candidate graph's triangles
    * say which near-dup groups are dense cliques vs fragile chains;
    * same shape as social-graph clustering coefficients). Input is
    * any edge-pair frame; direction, duplicates and self-loops are
    * normalized away. Returns (id, n_triangles) for every node in
    * ≥ 1 triangle.
    *
    * Scale shape — the compact-forward / Schank-Wagner orientation:
    * edges orient from the (degree, id)-SMALLER endpoint, so every
    * wedge join fans out from the low-degree side and the wedge count
    * is Σ out-deg² with out-degrees bounded by ~√|E| — the textbook
    * bound that keeps a skewed graph (one hub touching everything)
    * from going quadratic where naive id-ordering would. Each
    * triangle is enumerated exactly once (its (deg,id)-minimum corner
    * is the only node with out-edges to both others), the closing
    * check is a semi-join back on the oriented edge set, and the
    * triangle SET is orientation-independent — so a SQL oracle can
    * replay the counts with the simple id-ordered enumeration.
    */
  def triangleCounts(pairs: DataFrame, col1: String = "id1",
      col2: String = "id2"): DataFrame = {
    val und = pairs
      .select(least(col(col1), col(col2)).as("a"),
        greatest(col(col1), col(col2)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orient (deg, id)-ascending; the oriented edge set feeds all
    // three join sides, so cut it once
    val dirE = Checkpoints.cut(
      und.join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
        .select(
          when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("src"),
          when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("dst")),
      eager = true)
    val wedges = dirE.select(col("src").as("x"), col("dst").as("y"))
      .join(dirE.select(col("src").as("y"), col("dst").as("z")), Seq("y"))
    val tris = wedges.join(
      dirE.select(col("src").as("x"), col("dst").as("z")),
      Seq("x", "z"), "left_semi")
    tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_triangles"))
  }
}
