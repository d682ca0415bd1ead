package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.CurationOps

/** Manifest I/O boundary (SURVEY §2.1 S1-S4): node tables as TSV,
  * Parquet directories, or — via [[XlsxCodec]] (pure JDK, zero new
  * jars) — manifest WORKBOOKS directly, matching the reference's
  * `excel_sheets_to_dict`/`ccdi_manifest_to_dict` ingest
  * (`/root/reference/src/utils.py:1048-1089`) and its TabBreakeRy
  * TSV output format (`src/s3_ccdi_to_tabbreakery.py:138-142`).
  */
object ManifestIO {

  /** Sheets `ccdi_manifest_to_dict` never treats as node tables. */
  val NonNodeSheets: Seq[String] =
    Seq("README and INSTRUCTIONS", "Dictionary", "Terms and Value Sets")

  /** S1: read a manifest workbook into per-node all-string frames with
    * the reference's `ccdi_manifest_to_dict` semantics
    * (`src/utils.py:1062-1089`): skip the README/Dictionary/TaVS
    * sheets, drop the `type` column, drop all-empty rows, skip sheets
    * whose every column is dotted (linking-only sheets), NA bank
    * normalized. `row_idx` carries the EXCEL row number (header = 1,
    * first data row = 2) assigned before the empty-row drop — the same
    * numbers the validator reports (`s3_validationry_refactored.py:150`).
    *
    * Workbook parsing is driver-side (the file format is inherently
    * single-file, MBs by contract — openpyxl-in-pandas in the
    * reference); the returned frames are what distribute.
    */
  def readManifestXlsx(spark: SparkSession, path: String): Map[String, DataFrame] = {
    XlsxCodec.read(path)
      .filterNot { case (name, _) => NonNodeSheets.contains(name) }
      .flatMap { case (name, rows) =>
        if (rows.isEmpty) None
        else {
          val header = rows.head
          val dataCols = header.zipWithIndex.filter(_._1 != "type")
          if (dataCols.nonEmpty && dataCols.forall(_._1.contains("."))) None
          else {
            val schema = StructType(
              dataCols.map { case (c, _) => StructField(c, StringType, true) } :+
                StructField("row_idx", LongType, false))
            // the reference drops `type` FIRST and pandas maps its
            // DEFAULT na_values to NaN BEFORE dropna(how="all") — so a
            // row with only `type` pre-filled (common in CCDI
            // templates) or only pandas-default sentinels is dropped,
            // matching `ccdi_manifest_to_dict`. The row-drop uses the
            // pandas default list (which lacks lowercase "na"), NOT
            // the NA bank — a row of only "na" keeps its row_idx.
            val data = rows.drop(1).zipWithIndex.collect {
              case (r, i) if dataCols.exists { case (_, j) =>
                  j < r.length && r(j).nonEmpty &&
                    !CurationOps.PandasDefaultNa.contains(r(j)) } =>
                Row.fromSeq(dataCols.map { case (_, j) =>
                  val v = if (j < r.length) r(j) else ""
                  if (v.isEmpty) null else v
                } :+ (i + 2L))
            }
            import scala.jdk.CollectionConverters._
            Some(name ->
              CurationOps.normalizeNa(spark.createDataFrame(data.asJava, schema)))
          }
        }
      }.toMap
  }

  // The reference's template style inventory, verbatim
  // (`src/create_submission.py:41-58`): index/key headers teal,
  // linking (dotted) headers lilac, required headers amber — all
  // bold; every other header in the muted non-required gray.
  private val MetaIndexStyle = XlsxCodec.CellStyle(Some("DEFFF7"), bold = true)
  private val LinkingStyle = XlsxCodec.CellStyle(Some("DCD0FF"), bold = true)
  private val RequiredStyle = XlsxCodec.CellStyle(Some("FFF2CC"), bold = true)
  private val NonRequiredStyle =
    XlsxCodec.CellStyle(None, bold = false, fontRgb = Some("595959"))

  /** S2: overlay node frames onto a workbook — one sheet per node in
    * `sheetOrder` (template sheet order), each projected to its
    * template column list with a leading `type` column, like the
    * reference's per-sheet `to_excel` overlay
    * (`src/join_tsv_to_manifest.py:163-170`). Frames are result-sized
    * by the sink contract (same rule as [[writeNodeTsv]]'s coalesce).
    *
    * `styled = true` reproduces the reference templates' node-sheet
    * presentation (`src/create_submission.py:780-835`): frozen header
    * row, 25-wide columns, and per-category header styling — `type` /
    * `*_id` index columns teal+bold, dotted linking columns
    * lilac+bold, `requiredCols` members amber+bold, everything else
    * the muted gray font.
    */
  def writeManifestXlsx(
      manifest: Map[String, DataFrame], path: String,
      sheetOrder: Seq[String],
      templateCols: Map[String, Seq[String]] = Map.empty,
      styled: Boolean = false,
      requiredCols: Map[String, Set[String]] = Map.empty,
      // per-node key property for the index style; defaults to the
      // `{node}_id` naming convention — pass the real key prop for
      // alternately-keyed templates (the DCC surface keys on `guid`)
      keyCols: Map[String, String] = Map.empty): Unit = {
    val sheets = sheetOrder.filter(manifest.contains).map { node =>
      val df0 = manifest(node).drop("row_idx")
      val cols = templateCols.get(node)
        .map(tc => if (tc.contains("type")) tc else "type" +: tc)
        .getOrElse("type" +: df0.columns.filterNot(_ == "type").toSeq)
      val df = templateOrder(
        if (df0.columns.contains("type")) df0
        else df0.withColumn("type", lit(node)), cols)
      val rows = df.collect().toSeq
        .map(_.toSeq.map(v => if (v == null) "" else v.toString))
      val style =
        if (!styled) XlsxCodec.SheetStyle()
        else {
          val req = requiredCols.getOrElse(node, Set.empty)
          val keyCol = keyCols.getOrElse(node, s"${node}_id")
          XlsxCodec.SheetStyle(
            freezeTopRow = true,
            colWidths = cols.indices.map(_ -> 25.0).toMap,
            cellStyles = cols.zipWithIndex.map { case (name, c) =>
              val st =
                if (name == "type" || name == keyCol) MetaIndexStyle
                else if (name.contains(".")) LinkingStyle
                else if (req.contains(name)) RequiredStyle
                else NonRequiredStyle
              (0, c) -> st
            }.toMap)
        }
      XlsxCodec.Sheet(node, cols, rows, style)
    }
    XlsxCodec.write(path, sheets)
  }

  /** Read one node table as all-string columns with the NA bank
    * normalized and a stable `row_idx` (Excel-style: first data row
    * = 2, ref `/root/reference/src/s3_validationry_refactored.py:150`).
    *
    * Row indexing uses zipWithIndex over the file's natural order —
    * deterministic for a single input file (the manifest case). It is
    * attached at ingest and must never influence join/agg keys.
    */
  def readNodeTsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read
      .options(Map("sep" -> "\t", "header" -> "true", "inferSchema" -> "false"))
      .csv(path)
    val indexed = raw.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 2L))
    }
    val schema = StructType(raw.schema.fields :+ StructField("row_idx", LongType, false))
    CurationOps.normalizeNa(spark.createDataFrame(indexed, schema))
  }

  /** Read a whole manifest directory: `<dir>/<node>.tsv` per node. */
  def readManifest(spark: SparkSession, dir: String, nodes: Seq[String]): Map[String, DataFrame] =
    nodes.map(n => n -> readNodeTsv(spark, s"$dir/$n.tsv")).toMap

  /** JSON-lines node source (the reference parses GDC metadata JSON
    * per record, `/root/reference/workflows/mci_gdc_transform.py:
    * 142-160`): every field read as string, NA bank normalized —
    * same contract as the TSV reader minus row_idx (JSONL rows carry
    * their own ids).
    */
  def readNodeJsonl(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.json(path)
    val allString = raw.select(raw.columns.toSeq.map(c =>
      CurationOps.rawCol(c).cast(StringType).as(c)): _*)
    CurationOps.normalizeNa(allString)
  }

  /** P2: template-order projection — reorder to the template column
    * list, adding missing columns as nulls
    * (`/root/reference/src/s3_catcherry.py:1306-1313`).
    */
  def templateOrder(df: DataFrame, templateCols: Seq[String]): DataFrame = {
    val have = df.columns.toSet
    // reference templates name LINKING columns with dots
    // (`study.study_id`) — quote the name, or the dot reads as a
    // struct field access and analysis fails
    df.select(templateCols.map(c =>
      if (have(c)) col(s"`${c.replace("`", "``")}`")
      else lit(null).cast(StringType).as(c)): _*)
  }

  /** S4: single-file TSV sink (named-file semantics of the reference's
    * outputs). coalesce(1) is only safe for result-sized frames —
    * never call on raw data.
    */
  def writeNodeTsv(df: DataFrame, path: String, templateCols: Option[Seq[String]] = None): Unit = {
    val ordered = templateCols.map(templateOrder(df, _)).getOrElse(df)
    ordered.coalesce(1).write.mode("overwrite")
      .options(Map("sep" -> "\t", "header" -> "true", "emptyValue" -> ""))
      .csv(path)
  }
}
