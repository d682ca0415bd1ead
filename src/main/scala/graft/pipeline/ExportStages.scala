package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.ModelCatalog
import graft.expr.Uuid5Expression
import graft.ops.{CurationOps, JoinOps}

/** The reference's export stages as pure transforms
  * (TabBreakeRy `/root/reference/src/s3_ccdi_to_tabbreakery.py:88-134`;
  * DCF index `/root/reference/src/utils.py:1501-1566`).
  */
object ExportStages {

  import CurationPipeline.Manifest

  /** TabBreakeRy: per node, mint the deterministic uuid5 row id from
    * `study::node::key` and rewrite each `<parent>.<parent>_id` link
    * column to the parent row's uuid5 (`<parent>.id`) — a pure
    * column-expression rewrite, no joins: the parent id derives from
    * the same (study, parentNode, keyValue) triple the parent mints
    * its own id from. Key columns stay for template fidelity.
    */
  def tabBreak(
      manifest: Manifest,
      catalog: ModelCatalog,
      study: String,
      seed: String = "ccdi"): Manifest =
    manifest.map { case (node, df) =>
      val keyed = catalog.keyOf(node) match {
        case Some(k) if df.columns.contains(k) =>
          df.withColumn("id", Uuid5Expression.uuid5Native(seed,
            concat_ws("::", lit(study), lit(node), CurationOps.rawCol(k))))
        case _ => df
      }
      val linked = catalog.linkColumns(node)
        .filter { case (c, _) => keyed.columns.contains(c) }
        .foldLeft(keyed) { case (d, (linkCol, parent)) =>
          d.withColumn(s"$parent.id",
            when(CurationOps.rawCol(linkCol).isNotNull,
              Uuid5Expression.uuid5Native(seed,
                concat_ws("::", lit(study), lit(parent),
                  CurationOps.rawCol(linkCol))))
              .otherwise(lit(null)))
        }
      node -> linked
    }

  /** JoinRy (`/root/reference/src/join_tsv_to_manifest.py:63-186`):
    * the REVERSE of [[tabBreak]] — database-exported node tsvs carry
    * uuid row ids and `<parent>.id` pointers; rewrite each pointer to
    * the parent's KEY value (`<parent>.<parent>_id`) via the global
    * id→key mapping built from every node's (id, key) pairs, then
    * blank the uuid columns. Empty/null pointers pass through; a
    * pointer absent from the mapping goes null (the reference's
    * KeyError, degraded gracefully). The mapping is catalog-sized and
    * broadcast — one hash join per pointer column, no shuffles.
    */
  def joinRy(manifest: Manifest, catalog: ModelCatalog,
      mode: JoinRyMode = JoinRyMode.Base): Manifest = {
    val idProp = mode.idProp
    val mapping = manifest.flatMap { case (node, df) =>
      catalog.keyOf(node) match {
        case Some(k) if df.columns.contains(idProp) && df.columns.contains(k) =>
          val pairs = df.select(CurationOps.rawCol(idProp).as("__mid"),
            CurationOps.rawCol(k).as("__mkey"))
          // the DCC mapping builder skips rows missing either side and
          // str(...).strip()s both (build_guid_to_id_mapping, join_tsv_
          // to_manifest_dcc.py:210-226); a guid seen twice is ONE dict
          // entry there, so keep one resolution per guid here too
          // deterministic winner (max key) — the reference's dict is
          // last-occurrence-wins; the model forbids one guid mapping
          // to two DIFFERENT keys, and that assumption is CHECKED:
          // a conflicting guid raises at evaluation instead of
          // silently picking a winner the reference might not
          Some(if (mode.multiDelim.isDefined)
            pairs.select(trim(col("__mid")).as("__mid"),
                trim(col("__mkey")).as("__mkey"))
              .filter(col("__mid").isNotNull && col("__mkey").isNotNull)
              .groupBy("__mid")
              .agg(max("__mkey").as("__max"),
                countDistinct("__mkey").as("__nk"))
              .select(col("__mid"),
                when(col("__nk") > 1, raise_error(concat(
                  lit("joinRy: guid maps to multiple distinct keys: "),
                  col("__mid")))).otherwise(col("__max")).as("__mkey"))
          else pairs)
        case _ => None
      }
    }.reduceOption(_ unionByName _)
    manifest.map { case (node, df) =>
      val noStudy =
        if (df.columns.contains("study") && node != "study") df.drop("study")
        else df
      val idCols = noStudy.columns.filter(c => c.endsWith(s".$idProp"))
      val joined = idCols.foldLeft(noStudy) { (d, c) =>
        val parent = c.split("\\.")(0)
        val target = s"$parent.${parent}_id"
        val looked = (mode.multiDelim, mapping) match {
          case (None, Some(m)) =>
            val mm = broadcast(m)
            d.join(mm, CurationOps.rawCol(c) === mm("__mid"), "left")
              .withColumn(target,
                when(CurationOps.rawCol(c).isNull ||
                  CurationOps.rawCol(c) === "", CurationOps.rawCol(c))
                  .otherwise(col("__mkey")))
              .drop("__mid", "__mkey")
          case (Some(delim), Some(m)) =>
            // per-element mapping, distributed without a driver map:
            // resolve each DISTINCT cell once (explode its trimmed
            // elements, left-join the mapping, reassemble in element
            // order), then broadcast-join resolutions back by cell
            // value — row counts never inflate, vectors of work scale
            // with distinct pointer cells, not rows
            val q = java.util.regex.Pattern.quote(delim)
            val elems = filter(transform(
              split(col("__cell"), q), e => trim(e)), e => e =!= "")
            val resolved = d
              .select(CurationOps.rawCol(c).as("__cell"))
              .filter(col("__cell").isNotNull && trim(col("__cell")) =!= "")
              .distinct()
              .select(col("__cell"),
                posexplode(elems).as(Seq("__p", "__g")))
              .join(broadcast(m), col("__g") === m("__mid"), "left")
              .groupBy(col("__cell"))
              .agg(array_join(transform(
                array_sort(collect_list(struct(col("__p"),
                  coalesce(col("__mkey"), col("__g")).as("__v")))),
                s => s.getField("__v")), delim).as("__mapped"))
            d.join(broadcast(resolved),
                CurationOps.rawCol(c) === resolved("__cell"), "left")
              // null/blank/whitespace cells normalize to "" (the DCC
              // mapped_values contract), as do all-delimiter cells
              .withColumn(target, coalesce(col("__mapped"), lit("")))
              .drop("__cell", "__mapped")
          case (None, None) => d.withColumn(target, lit(null).cast("string"))
          case (Some(_), None) => d.withColumn(target, lit(""))
        }
        looked.withColumn(c, lit(""))
      }
      val blanked =
        if (joined.columns.contains(idProp)) joined.withColumn(idProp, lit(""))
        else joined
      node -> blanked
    }
  }

  /** JoinRy pointer dialect — the delta between
    * `join_tsv_to_manifest.py` and `join_tsv_to_manifest_dcc.py`
    * (`:172-230` of the dcc rewrite) is a CONFIGURATION, not a fork:
    *  - `Base`: `id` uuid pointers, whole-cell lookup, empty/null
    *    cells pass through, unmapped pointers go null (the KeyError,
    *    degraded gracefully).
    *  - `Dcc`: `guid` pointers, `;`-multi-valued cells mapped per
    *    trimmed element with unmapped guids passing through verbatim
    *    (the reference logs a warning and keeps the guid), null/blank
    *    cells normalized to `""`, and mapping rows missing either the
    *    guid or the key skipped at build.
    */
  final case class JoinRyMode(idProp: String, multiDelim: Option[String])
  object JoinRyMode {
    val Base: JoinRyMode = JoinRyMode("id", None)
    val Dcc: JoinRyMode = JoinRyMode("guid", Some(";"))
  }

  /** The DCC tab-breaker's uuid cell (`/root/reference/src/
    * dcc_tabbreaker.py:12-40`): uuid5 under the md5("ccdi-dcc")
    * namespace over `study::node::value`; a `;`-delimited multi-value
    * cell mints one uuid per trimmed part and re-joins with the same
    * delimiter (the single-value case is the one-part split). Nulls
    * pass through.
    */
  def dccUuidCell(value: org.apache.spark.sql.Column, study: String,
      node: String, seed: String = "ccdi-dcc",
      delimiter: String = ";"): org.apache.spark.sql.Column = {
    val minted = transform(
      split(value, java.util.regex.Pattern.quote(delimiter)),
      v => Uuid5Expression.uuid5Native(seed,
        concat_ws("::", lit(study), lit(node), trim(v))))
    when(value.isNull, lit(null).cast("string"))
      .otherwise(array_join(minted, delimiter))
  }

  /** DCF index: union the manifest's file nodes, dedup on
    * (url, md5sum) keep-first-by-key, fill missing GUIDs
    * deterministically, project the index columns.
    */
  def dcfIndex(
      manifest: Manifest,
      catalog: ModelCatalog,
      phsAccession: String): DataFrame = {
    val fileNodes = catalog.fileNodes.filter(manifest.contains)
    require(fileNodes.nonEmpty, "manifest has no file nodes")
    val indexCols = Seq("guid", "md5sum", "file_size", "acl", "authz", "file_url")
    val unioned = fileNodes.map { n =>
      val df = manifest(n)
      val have = df.columns.toSet
      df.select(indexCols.map(c =>
        if (have(c)) col(c) else lit(null).cast("string").as(c)): _*)
    }.reduce(_ unionByName _)
    val deduped = JoinOps.top1PerGroup(
      unioned.filter(col("file_url").isNotNull),
      Seq("file_url", "md5sum"),
      Seq(col("guid").asc_nulls_last, col("file_size").asc))
    CurationOps.mintGuids(deduped, Seq("file_url", "md5sum"), "guid")
      .withColumn("acl", coalesce(col("acl"), lit(s"['$phsAccession']")))
      .withColumn("authz",
        coalesce(col("authz"), lit(s"['/programs/$phsAccession']")))
      .select(indexCols.map(col): _*)
  }

  /** CDS flatten (`/root/reference/src/s3_ccdi_to_cds.py:266-718`):
    * start from the union of all file nodes and walk each file back to
    * participant or study through every path the reference enumerates
    * (file→{sample,pdx,cell_line,participant,study}, then
    * pdx/cell_line→sample→… up to 4 hops), unioning the 14 terminal
    * paths. Join policy is the reference's pandas-merge parity
    * ([[graft.ops.JoinOps.leftJoinCoalesce]]): parent wins on column
    * conflicts, EXCEPT the five sample→participant-level joins where
    * `childWins` columns (anatomic_site) prefer the sample's value
    * (ref `:563-581`). Each path drops rows without a file url and
    * full-row duplicates, like `join_file_node_cleaner` (`:281-297`;
    * the all-null column prune is skipped — Spark schemas are static
    * and the union re-aligns by name). A `cds_path` provenance column
    * replaces the reference's implicit concat order.
    *
    * Node roles come from the caller; link columns are normalized from
    * the model's dotted `<parent>.<key>` form to the flat key names
    * via the catalog (`col_remap`, ref `:178-196`), and the file-node
    * set is `catalog.fileNodes`. Parents here are catalog-sized
    * (study/participant/sample tables) joined against the file fact —
    * Catalyst picks broadcast sides; each path shares the remapped
    * node frames, so the 14 paths are one DAG, not 14 scans.
    */
  def cdsFlatten(
      manifest: Manifest,
      catalog: ModelCatalog,
      studyNode: String = "study",
      participantNode: String = "participant",
      sampleNode: String = "sample",
      pdxNode: String = "pdx",
      cellLineNode: String = "cell_line",
      diagnosisNode: String = "diagnosis",
      studyAdminNode: String = "study_admin",
      studyPersonnelNode: String = "study_personnel",
      fileUrlCol: String = "file_url",
      childWinsCols: Set[String] = Set("anatomic_site"),
      // The reference holds every non-file node table in pandas
      // memory — they are dimension-scale by construction, while the
      // file tables dominate. Broadcasting the parent side keeps the
      // big file frames un-shuffled across all 14 paths. Disable for
      // mega-manifests whose node tables outgrow executor memory.
      hintBroadcastParents: Boolean = true): DataFrame = {

    // col_remap + drop_type_id_others (ref `:154-196`): dotted link
    // props -> flat parent key names; bookkeeping columns dropped.
    def remap(df: DataFrame): DataFrame = {
      val kept = df.columns.filter(c =>
        !(c == "type" || c == "id" || c.contains(".id")))
      // dotted link props flatten to their tail. A flat column of the
      // target name may already exist (or two dotted links may flatten
      // to the same tail) — renaming would create a silent duplicate
      // that only fails at a later ambiguous-reference resolution. The
      // flat/first column wins; later dotted variants are dropped.
      // Built as ONE select: per-column renames re-analyze the tree.
      val taken = scala.collection.mutable.Set.from(
        kept.filter(!_.contains(".")))
      val out = kept.flatMap { c =>
        if (!c.contains(".")) Some(col("`" + c + "`"))
        else {
          val flat = c.split("\\.", 2)(1)
          if (taken.contains(flat)) None
          else { taken += flat; Some(col("`" + c + "`").as(flat)) }
        }
      }
      df.select(out.toSeq: _*)
    }
    def key(n: String): String = catalog.keyOf(n).getOrElse(n + "_id")

    // Frames consumed by several downstream paths are lazily
    // checkpointed: the 14-path union would otherwise re-evaluate the
    // shared subtrees once per consumer (Catalyst has no cross-branch
    // common-subplan reuse). Lazy = materialized on first use, so the
    // stage stays a pure plan constructor. Only the file union and the
    // two level frames are checkpointed — measuring showed per-path or
    // per-node-table checkpoints serialize the DAG and cost more than
    // the recompute they save.
    // The file union is CORPUS-sized — sharedCut honors the
    // GRAFT_SHARED_CP_LEVEL storage knob (at 100× local stress the
    // ~18 GB of default deserialized blocks squeeze the pool until
    // the export's own sorts OOM — measured; DISK_ONLY completes at
    // unchanged heap). Default stays in-memory for bench scale.
    def shared(df: DataFrame): DataFrame =
      graft.ops.Checkpoints.sharedCut(df, eager = false)
    // GRAFT_CDS_CP_HOPS: additionally cut the MULTI-CONSUMER hop
    // frames (sample_file, pdx_file, cell_line_file, pdx_sample_file,
    // cell_line_sample_file, sample_pdx_sample_file — each feeds 2-3
    // terminal paths). Without it, every terminal path re-evaluates
    // its whole join subtree, so the corpus-sized file-union
    // checkpoint is re-read once per terminal path (14× at 100×
    // stress — the measured cds-sink re-read floor); with it, the
    // file union is read by the 5 direct consumers only and each hop
    // computes once. Off by default: at bench scale the extra
    // materializations cost more than the recompute they save (the
    // original placement measurement), and the knob exists for the
    // same reason GRAFT_SHUFFLE_PARTS does — the right setting is a
    // function of data scale.
    val cutHops = graft.Harness.knob("GRAFT_CDS_CP_HOPS").exists(_ != "0")
    def hop(p: Option[(String, DataFrame)]): Option[(String, DataFrame)] =
      if (cutHops) p.map { case (n, df) => n -> shared(df) } else p

    val m = manifest.view.mapValues(remap).toMap

    val fileNodes = catalog.fileNodes.filter(m.contains)
    require(fileNodes.nonEmpty, "manifest has no file nodes")

    def addLevel(base: DataFrame, node: String, on: String): DataFrame =
      if (m.contains(node)) JoinOps.leftJoinCoalesce(base, m(node), Seq(on))
      else base
    // The file-union cut and the study→participant level chain are
    // data-independent; constructing them concurrently overlaps their
    // checkpoint planning + intermediate AQE stages (guide §2.6 —
    // same frames, same cuts, only the construction wall shrinks).
    val Seq(Left(files), Right((studyLevel, participantLevel))) =
      graft.ops.Checkpoints.concurrently(Seq(
        () => Left(shared(fileNodes.map(m(_))
          .reduce(_.unionByName(_, allowMissingColumns = true)))),
        () => {
          val sl = m.get(studyNode).map { st =>
            shared(addLevel(addLevel(st, studyAdminNode, key(studyNode)),
              studyPersonnelNode, key(studyNode)))
          }
          val pl = sl.filter(_ => m.contains(participantNode)).map { s =>
            shared(addLevel(
              JoinOps.leftJoinCoalesce(s, m(participantNode),
                Seq(key(studyNode))),
              diagnosisNode, key(participantNode)))
          }
          Right((sl, pl))
        }))

    // join_node + join_file_node_cleaner for one hop (ref `:272-297`).
    def path(name: String, parent: Option[DataFrame], child: Option[DataFrame],
        on: String, childWins: Set[String] = Set.empty): Option[(String, DataFrame)] =
      for {
        p <- parent
        c <- child
        if c.columns.contains(on)
      } yield {
        // when the child carries the file URL, the left join is
        // inner-equivalent (unmatched parents get a null file_url and
        // the filter below drops them) — declared INNER so AQE can
        // pick a runtime broadcast from measured sizes; a left-outer
        // join may only build its big child side, forcing sort-merge
        val inner = c.columns.contains(fileUrlCol) &&
          !p.columns.contains(fileUrlCol)
        val pSide =
          if (inner && hintBroadcastParents) broadcast(p) else p
        val joined = JoinOps.leftJoinCoalesce(pSide, c, Seq(on), childWins,
          joinType = if (inner) "inner" else "left")
        val urlKept =
          if (joined.columns.contains(fileUrlCol))
            joined.filter(col(fileUrlCol).isNotNull)
          else joined
        // The reference dedups each hop (`join_file_node_cleaner`'s
        // drop_duplicates). Deferring every per-path dedup to ONE
        // post-union dedup is exactly equivalent — the union is tagged
        // with cds_path, so rows can't merge across paths, and a
        // full-row duplicate stays a full-row duplicate through the
        // row-wise joins/filters/coalesces between here and there —
        // and it turns ~23 wide shuffles into 1.
        name -> urlKept
      }

    val s = m.get(sampleNode)
    val x = m.get(pdxNode)
    val cl = m.get(cellLineNode)
    val f = Some(files)

    val sf = hop(path("sample_file", s, f, key(sampleNode)))
    val pf = hop(path("pdx_file", x, f, key(pdxNode)))
    val cf = hop(path("cell_line_file", cl, f, key(cellLineNode)))
    val plf = path("participant_file", participantLevel, f, key(participantNode))
    val slf = path("study_file", studyLevel, f, key(studyNode))
    val spf = path("sample_pdx_file", s, pf.map(_._2), key(sampleNode))
    val slpf = path("study_pdx_file", studyLevel, pf.map(_._2), key(studyNode))
    val scf = path("sample_cell_line_file", s, cf.map(_._2), key(sampleNode))
    val pclf = path("participant_cell_line_file",
      participantLevel, cf.map(_._2), key(participantNode))
    val slcf = path("study_cell_line_file", studyLevel, cf.map(_._2), key(studyNode))
    val psf = hop(path("pdx_sample_file", x, sf.map(_._2), key(pdxNode)))
    val csf = hop(path("cell_line_sample_file", cl, sf.map(_._2),
      key(cellLineNode)))
    val spsf = hop(path("sample_pdx_sample_file", s, psf.map(_._2),
      key(sampleNode)))
    val slpsf = path("study_pdx_sample_file", studyLevel, psf.map(_._2), key(studyNode))
    val scsf = path("sample_cell_line_sample_file", s, csf.map(_._2), key(sampleNode))
    val pclsf = path("participant_cell_line_sample_file",
      participantLevel, csf.map(_._2), key(participantNode))
    val slcsf = path("study_cell_line_sample_file",
      studyLevel, csf.map(_._2), key(studyNode))
    val plsf = path("participant_sample_file",
      participantLevel, sf.map(_._2), key(participantNode), childWinsCols)
    val plspf = path("participant_sample_pdx_file",
      participantLevel, spf.map(_._2), key(participantNode), childWinsCols)
    val plscf = path("participant_sample_cell_line_file",
      participantLevel, scf.map(_._2), key(participantNode), childWinsCols)
    val plspsf = path("participant_sample_pdx_sample_file",
      participantLevel, spsf.map(_._2), key(participantNode), childWinsCols)
    val plscsf = path("participant_sample_cell_line_sample_file",
      participantLevel, scsf.map(_._2), key(participantNode), childWinsCols)
    val slspsf = path("study_sample_pdx_sample_file",
      studyLevel, spsf.map(_._2), key(studyNode))

    // The 14 terminal paths of ref `:693-718` (`all_paths`).
    val terminal = Seq(plf, pclf, pclsf, plsf, plspf, plscf, plspsf, plscsf,
      slf, slpf, slcf, slpsf, slcsf, slspsf).flatten
    require(terminal.nonEmpty, "no CDS path is constructible from this manifest")
    terminal
      .map { case (name, df) => df.withColumn("cds_path", lit(name)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .dropDuplicates()
  }
}
