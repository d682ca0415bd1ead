package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.LayoutOps

/** Snapshot-versioned parquet store — MVCC over a directory tree (the
  * Delta/Iceberg transaction-log core, self-contained on any
  * filesystem Spark can rename on):
  *
  * {{{
  *   <dir>/seg/s<version>_<uniq>/ immutable data segments (parquet)
  *   <dir>/tomb/t<version>_<uniq>/ immutable tombstone-id segments
  *   <dir>/manifest/v<version>/   one tiny parquet of (kind, path)
  *                                rows naming the snapshot's segments
  * }}}
  *
  * Every commit (append / delete / compact) writes ONLY new
  * directories and then publishes a new manifest via an atomic
  * directory RENAME — readers either see the old version or the new
  * one, never a half commit, and a concurrent writer racing to the
  * same version fails LOUDLY when its rename finds the name taken
  * (optimistic concurrency, the single-writer-per-version contract).
  * A snapshot read pins a manifest: the file listing comes from the
  * manifest, not from a directory scan, so reads are immune to
  * eventual-consistency listings and to concurrent commits — and any
  * RETAINED version remains byte-identically reproducible after later
  * appends, deletes, even compactions (time travel). [[vacuum]] is
  * the only operation that destroys history, and it names what it
  * drops.
  *
  * Why this shape at 100 TB: object stores list slowly and
  * non-transactionally; a manifest turns "which files is this table"
  * into one small read, makes O(1)-file commits out of appends to a
  * billion-file table, and gives concurrent exporters a consistent
  * corpus snapshot while ingest keeps committing. Compaction never
  * rewrites history — it writes the survivor set as a NEW segment and
  * a NEW manifest, so long-running readers of older pins are
  * undisturbed (readers and the compactor never contend).
  *
  * Tombstones are (id) frames anti-joined at read time, each on its
  * own single column — the Lucene/Delta deleted-rows model, with the
  * MVCC ORDERING rule: a tombstone hides rows only from segments
  * committed STRICTLY BEFORE it, so a later re-insert of a deleted id
  * is visible and [[commitUpsert]] can pair a tombstone with its
  * replacement rows in one atomic version; a [[compact]] folds them
  * in for real.
  */
object SnapshotStore {

  /** A lost optimistic-concurrency race: the version this writer
    * targeted was committed by someone else between its version
    * listing and its manifest rename. The commit wrote only new
    * directories, so nothing is corrupted — re-attempt on top of the
    * new latest ([[withCommitRetry]] automates exactly that).
    */
  final class CommitConflictException(msg: String)
    extends IllegalStateException(msg)

  /** Bounded retry for the optimistic-concurrency writer model:
    * re-runs `attempt` (which must RE-DERIVE its commit from the
    * store's current state — every public commit face does, opening
    * the latest snapshot fresh per call through [[open]]) until it
    * commits or `maxAttempts` races are lost, then rethrows the last
    * conflict. Only conflicts retry; any other failure propagates
    * immediately — a schema mismatch will not pass on attempt two.
    * Orphan segments from lost attempts are invisible to readers
    * (manifest-pinned listings) and collected by [[vacuum]]'s
    * version-gated sweep.
    */
  def withCommitRetry(maxAttempts: Int = 5)(attempt: () => Int): Int = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var last: CommitConflictException = null
    (1 to maxAttempts).foreach { _ =>
      try return attempt()
      catch { case e: CommitConflictException => last = e }
    }
    throw new CommitConflictException(
      s"commit lost $maxAttempts optimistic-concurrency races — " +
        s"writer contention this high needs coordination upstream: " +
        s"${last.getMessage}")
  }

  private def hfs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestDir(dir: String, v: Int): String =
    f"$dir/manifest/v$v%06d"

  /** Segment/tombstone names carry the version for humans but get a
    * UNIQUE suffix so no two write attempts ever target the same
    * directory: a crash between the data write and the manifest
    * rename leaves an orphan that later commits never collide with
    * (the restarted exactly-once sink must be able to re-attempt the
    * same version), and two racing writers can't interleave task
    * files in one directory. The manifest pins the real paths —
    * readers and CDC never derive anything from directory listings.
    */
  private def uniqueName(prefix: Char, v: Int): String =
    f"$prefix$v%06d" +
      s"_${ProcessHandle.current().pid()}_${java.lang.Long.toHexString(System.nanoTime())}"

  /** Per-process parquet SCHEMA memo for store files (catalog
    * behavior — Delta records the schema in its log for exactly this
    * reason; here the log pre-dates that row, so the first read's
    * schema is remembered instead). Sound because store files are
    * immutable and never reused: every segment/tombstone/DV name
    * embeds pid + nanotime ([[uniqueName]]), so a rebuilt fixture or
    * a retried commit can never resurrect an old path with different
    * content. A miss reads ONE footer on the driver
    * ([[DriverParquet.schema]], the footer Spark's own inference would
    * open — no job); only an evolved store's merge read pays Spark's
    * footer-merge job. Each EXECUTION still reads the parquet data in
    * full — the memo only skips the footer at plan construction (for
    * merge reads, Spark 4's explicit-schema scan upcasts/null-fills
    * per file, subsuming the footer merge — the `sch`-row contract).
    * GRAFT_NO_MEMO opts out, as with [[graft.Tables.load]].
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
  // Bounded (r19): every version/read shape is a new key and each key
  // is the full joined path list, so a long-lived driver that commits
  // and reads many versions would otherwise accumulate memory it never
  // releases. A memo may always forget — on overflow the whole map is
  // dropped (coarse, allocation-free, no LRU bookkeeping on the hot
  // path); the next reads simply re-infer once. 4096 entries covers
  // every bench/verify lifetime observed (hundreds of keys).
  private val SchemaMemoMax = 4096

  private def readParquetMemo(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean): DataFrame =
    spark.read.schema(schemaMemoOf(spark, paths, mergeSchema)).parquet(paths: _*)

  /** The memoized schema [[readParquetMemo]] reads `paths` with. */
  private def schemaMemoOf(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean): org.apache.spark.sql.types.StructType = {
    def infer: org.apache.spark.sql.types.StructType =
      if (mergeSchema)
        spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
      else DriverParquet.schema(spark, paths)
    if (graft.Harness.knob("GRAFT_NO_MEMO").isDefined) infer
    else {
      val key = (if (mergeSchema) "m|" else "p|") + paths.mkString(",")
      val known = schemaMemo.get(key)
      if (known != null) known
      else {
        val s = infer
        if (schemaMemo.size >= SchemaMemoMax) schemaMemo.clear()
        schemaMemo.put(key, s)
        s
      }
    }
  }

  /** Committed versions, ascending — a manifest counts once its
    * rename landed (the rename IS the commit point; a writer's
    * temp dir is dot-prefixed and never matches).
    */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val fs = hfs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/manifest")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{6}"))
      .map(_.drop(1).toInt).sorted
  }

  /** Manifests are BOOKKEEPING, not data: tens of (kind, path) string
    * rows. Reading/writing them through Spark cost a full job each —
    * schema inference + collect on read, a task + commit protocol on
    * write — and a commit face touches the manifest 2-3 times, so
    * multi-commit workloads (CDC maintenance, auto-optimize cadences,
    * index lifecycles) spent most of their wall in manifest job
    * scheduling (measured: q195's fixture build was ~114 jobs / ~10 s,
    * mostly sub-100 ms manifest/commit jobs). These helpers do the
    * same parquet I/O directly on the driver — reads with parquet-java,
    * writes through [[DriverParquet.write]] (Spark's own parquet
    * writer) — the format on disk is unchanged (a one-file parquet
    * directory, spark.read-able; the spec that opens manifests with
    * spark.read still passes), only the job-per-touch goes away.
    * Exactly Delta's own design: the transaction log is driver-side
    * I/O, never a job.
    */
  private val manifestSchema = org.apache.spark.sql.types.StructType(
    Seq("kind", "path").map(org.apache.spark.sql.types.StructField(_,
      org.apache.spark.sql.types.StringType)))

  private def hadoopConf(spark: SparkSession) =
    spark.sessionState.newHadoopConf()

  private def readManifestRows(spark: SparkSession, dir: String,
      v: Int): Seq[(String, String)] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = hadoopConf(spark)
    val d = new org.apache.hadoop.fs.Path(manifestDir(dir, v))
    val fs = d.getFileSystem(conf)
    val files = fs.listStatus(d).filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    val out = Seq.newBuilder[(String, String)]
    files.foreach { f =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), f).withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          def get(n: String): String =
            if (g.getType.containsField(n) &&
              g.getFieldRepetitionCount(n) > 0) g.getString(n, 0) else null
          out += ((get("kind"), get("path")))
          g = reader.read()
        }
      } finally reader.close()
    }
    out.result().sortBy(_._2)
  }

  private def writeManifestFile(spark: SparkSession, tmpDir: String,
      rows: Seq[(String, String)]): Unit =
    DriverParquet.write(spark, tmpDir, manifestSchema,
      rows.map { case (k, p) => org.apache.spark.sql.Row(k, p) })

  /** Publish version `v` listing `rows` = (kind, relative path).
    * Write-to-temp + atomic rename; a taken name = a lost race.
    * private[graft] so the spec can provoke the race directly (two
    * writers of the SAME version — unreachable from the public faces
    * without true concurrency).
    *
    * `op` is the OPERATION-KIND record [[history]] renders (Delta's
    * DESCRIBE HISTORY `operation` column): one `op` row per manifest,
    * stamped HERE — any carried `op` row from the previous version is
    * stripped first, so no commit face can accidentally inherit its
    * predecessor's label.
    *
    * `cdc` names a cdf-writing commit's change files: a LOST RACE
    * deletes them before rethrowing — unlike orphan seg/tomb dirs
    * (invisible to manifest-pinned readers), cdc files are
    * glob-visible to [[streamChanges]], so a conflict loser's
    * preimages would surface as phantom deletes. A hard CRASH between
    * the cdc write and the rename can still orphan them — the same
    * crashed-commit caveat [[streamInserts]] documents for segments.
    */
  private[graft] def commitManifest(spark: SparkSession, dir: String, v: Int,
      rowsIn: Seq[(String, String)], op: String = "unknown",
      cdc: Option[String] = None): Unit = {
    val rows = rowsIn.filterNot(_._1 == "op") :+ (("op", op))
    val fs = hfs(spark, dir)
    val tmp = s"$dir/manifest/.tmp_v$v" +
      s"_${ProcessHandle.current().pid()}_${System.nanoTime()}"
    // driver-side parquet write (see [[readManifestRows]]): same
    // one-file parquet dir on disk, no Spark job per commit
    writeManifestFile(spark, tmp, rows)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val dst = new org.apache.hadoop.fs.Path(manifestDir(dir, v))
    def conflict(cleanup: org.apache.hadoop.fs.Path): Nothing = {
      fs.delete(cleanup, true)
      cdc.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$p"), true))
      throw new CommitConflictException(
        s"snapshot commit conflict: version $v was committed concurrently " +
          s"at $dir — re-read and retry on top of the new latest")
    }
    if (fs.exists(dst)) conflict(tmpPath)
    val ok = fs.rename(tmpPath, dst)
    // HDFS rename fails on an existing destination, but the LOCAL
    // filesystem moves the source INTO an existing directory instead
    // — detect that lost race by our temp name nested under dst
    val nested = new org.apache.hadoop.fs.Path(dst, tmpPath.getName)
    if (!ok) conflict(tmpPath)
    if (fs.exists(nested)) conflict(nested)
  }

  /** Append `df` as new immutable segment(s) and publish the next
    * version (previous segments + tombstones carry forward). Returns
    * the committed version. By default the schema must match the
    * store's exactly (loud mismatch — silent unionByName drift
    * corrupts every later read); `mergeSchema = true` opts into
    * Delta-style EVOLUTION: new columns may appear (older segments
    * read them as null) and columns may be omitted (this segment
    * reads them as null), but a column name shared with the store
    * must keep its type — a type flip would poison every read.
    *
    * `partitionBy` makes this a PARTITIONED commit (the Delta/Iceberg
    * partition-column discipline — the single biggest segment-pruning
    * lever at 100 TB, where every real table is date/lang/source
    * partitioned): ONE write job lays the data out hive-style and
    * every partition leaf registers as its OWN manifest segment whose
    * path encodes its partition values, so [[readPrunedRange]] /
    * [[countPrunedRange]] prune whole segments against a partition
    * predicate before touching any sidecar or file, and
    * [[compactSmall]] / [[compactZordered]] can take a partition
    * scope. See [[segPartValues]] for the encoding contract.
    */
  def commitAppend(df: DataFrame, dir: String,
      mergeSchema: Boolean = false, statsCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = 100000L): Int = {
    val g = admit(open(df.sparkSession, dir, "commitAppend", fresh = true),
      df, mergeSchema, statsCols ++ bloomCols)
    g.publish(writeDataSegment(toPhysical(df, g.m), dir, g.h.v,
      g.phys(statsCols), g.phys(partitionBy), "commitAppend",
      g.phys(bloomCols), bloomExpectedItems), "append")
  }

  /** The shared data-segment writer every data-committing face rides:
    * returns the manifest rows naming what it wrote.
    *
    *  - plain commit: one `seg` row (+ one `stats` row when
    *    `statsCols` given), exactly the pre-partitioning layout.
    *  - partitioned commit: ONE hive-layout write job (each partition
    *    column is DUPLICATED into a `__p_<col>` twin for the layout,
    *    so the data files keep the full original schema and every
    *    leaf dir reads as a plain parquet segment), then one `seg`
    *    (+`stats`) row PER PARTITION LEAF. The leaf path IS the
    *    partition-value record — no second bookkeeping channel to
    *    drift. Stats ride in ONE sidecar at the commit root, computed
    *    by the write's own tasks (no job of its own, not one per
    *    partition), shared by every leaf's `stats` row.
    *
    * Every segment write — this one, [[rewrite]]'s per-signature
    * write and the z-order segments — is
    * [[graft.ops.LayoutOps.writeParquet]]: a bloom-free sidecar adds
    * no job to the data write's own.
    *
    * Loud guards, all post-write on the orphan-safe not-yet-committed
    * directory (no pre-write pass, so `df` is still evaluated ONCE):
    * a null partition value (hive's default-partition dir would make
    * the value unreadable from the path) and a partition value whose
    * escaped dir name carries the manifest separators `;`/`,`.
    */
  private def writeDataSegment(df: DataFrame, dir: String, v: Int,
      statsCols: Seq[String], partitionBy: Seq[String],
      op: String, bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = 100000L,
      prefix: Char = 's'): Seq[(String, String)] = {
    val spark = df.sparkSession
    if (partitionBy.isEmpty) {
      val seg = s"seg/${uniqueName(prefix, v)}"
      writeSegStats(LayoutOps.writeParquet(df, s"$dir/$seg", statsCols,
          bloomCols, bloomExpectedItems),
        s"$dir/$seg/_stats", Seq(seg), statsCols, bloomCols) :+ (("seg", seg))
    } else {
      val missing = partitionBy.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"$op: partition column(s) ${missing.mkString(",")} not in the " +
          s"committed frame (${df.columns.mkString(",")})")
      require(df.columns.forall(!_.startsWith("__p_")),
        s"$op: '__p_' column prefix is reserved for the partition layout")
      val root = s"seg/${uniqueName(prefix, v)}"
      val pcols = partitionBy.map(c => s"__p_$c")
      val sidecar = LayoutOps.writeParquet(
        partitionBy.zip(pcols).foldLeft(df) { case (d, (c, p)) =>
          d.withColumn(p, col(c))
        }, s"$dir/$root", statsCols, bloomCols, bloomExpectedItems,
        partitionBy = pcols)
      val fs = hfs(spark, dir)
      // relative leaf paths built during the descent (listStatus
      // returns scheme-qualified URIs — never string-strip those)
      def leaves(p: org.apache.hadoop.fs.Path, rel: String,
          depth: Int): Seq[String] =
        if (depth == 0) Seq(rel)
        else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
          // only real partition dirs (the __p_ twin prefix) — never
          // _SUCCESS/_temporary leftovers
          .filter(_.getName.startsWith("__p_"))
          .flatMap(c => leaves(c, s"$rel/${c.getName}", depth - 1))
      val rootPath = new org.apache.hadoop.fs.Path(s"$dir/$root")
      val leafSegs = leaves(rootPath, root, partitionBy.size).sorted
      def refuse(msg: String): Nothing = {
        fs.delete(rootPath, true)
        throw new IllegalArgumentException(s"$op: $msg")
      }
      if (leafSegs.exists(_.contains("=__HIVE_DEFAULT_PARTITION__")))
        refuse("null partition value(s) — a null cannot be recorded " +
          "in the partition path and would silently vanish from " +
          "partition pruning; filter or fill upstream")
      if (leafSegs.exists(s => s.contains(";") || s.contains(",")))
        refuse(s"partition value escapes to a dir name containing " +
          s"';' or ',' (manifest separators) — sanitize the value " +
          s"(${leafSegs.filter(s => s.contains(";") || s.contains(","))
            .mkString(", ")})")
      // an EMPTY frame produces no leaves: commit a no-data version
      // (a bloom sidecar would read the file-less root and fail)
      if (leafSegs.isEmpty) return Seq.empty
      writeSegStats(sidecar, s"$dir/$root/_stats", leafSegs, statsCols,
        bloomCols) ++ leafSegs.map(("seg", _))
    }
  }

  /** The partition values a segment path encodes: `__p_<col>=<val>`
    * components (hive-escaped values, unescaped here) from a
    * partitioned commit or a partition-scoped compaction. Empty for
    * unpartitioned segments. The path IS the manifest's partition
    * record — pruning reads it without touching the filesystem.
    */
  private[graft] def segPartValues(seg: String): Map[String, String] =
    seg.split('/').toSeq.collect {
      case c if c.startsWith("__p_") && c.contains('=') =>
        val i = c.indexOf('=')
        (c.substring(4, i),
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(c.substring(i + 1)))
    }.toMap

  /** Partition-predicate keep test for READS: a segment with no
    * recorded value for a probed column is kept CONSERVATIVELY (an
    * unpartitioned segment may hold matching rows; the row-level
    * residual keeps the result exact), while a recorded value prunes
    * decisively.
    */
  private def partKeep(seg: String,
      parts: Map[String, Set[String]]): Boolean = {
    val vals = segPartValues(seg)
    parts.forall { case (c, allowed) =>
      vals.get(c).forall(allowed.contains)
    }
  }

  /** Partition-scope test for COMPACTION: only segments whose
    * recorded values match are picked — an unpartitioned segment is
    * not addressable by a partition scope and carries forward.
    */
  private def scopeMatch(seg: String,
      scope: Map[String, Set[String]]): Boolean = {
    val vals = segPartValues(seg)
    scope.forall { case (c, allowed) =>
      vals.get(c).exists(allowed.contains)
    }
  }

  /** A segment's partition-path signature — the `/__p_...` suffix,
    * verbatim (order and escaping preserved), "" when unpartitioned.
    * Compactions group by it so a merged segment KEEPS its partition
    * encoding (merging across partitions would un-partition the data
    * and silently kill segment pruning for it).
    */
  private def sigOf(seg: String): String = {
    val base = seg.stripSuffix("/data")
    val i = base.indexOf("/__p_")
    if (i < 0) "" else base.substring(i)
  }

  /** The ordered partition-column list a segment path encodes (path
    * order IS the layout nesting order), empty when unpartitioned.
    * When every rewrite-touched segment shares one list, the rewrite
    * can run as ONE `partitionBy` write job instead of a serial
    * per-signature loop — the data re-derives its own leaf placement
    * from the duplicated original columns.
    */
  private def sigCols(seg: String): Seq[String] =
    seg.split('/').toSeq.collect {
      case c if c.startsWith("__p_") && c.contains('=') =>
        c.substring(4, c.indexOf('='))
    }

  /** Per-commit data-skipping stats (the Delta add-file discipline —
    * skipping must not wait for OPTIMIZE): when a data-committing face
    * is given `statsCols`, the new segment's per-file min/max sidecar
    * is written UNDER the segment directory (`<seg>/_stats` — an
    * underscore path, invisible to the segment's own parquet reads and
    * vacuumed with its segment; a partitioned commit's leaves share
    * ONE sidecar at the commit root) before the manifest publishes,
    * and the manifest records a `stats` row per segment so
    * [[readPrunedRange]] never probes the filesystem to discover it.
    * `sidecar` is the data write's own sidecar step
    * ([[graft.ops.LayoutOps.writeParquet]]): the stats were computed by
    * the write's own tasks and land with no Spark job, unless the
    * sidecar carries bloom columns, whose binaries stay off the driver
    * (one distributed aggregate over the written files).
    */
  private def writeSegStats(sidecar: String => Unit, statsDir: String,
      segs: Seq[String], statsCols: Seq[String],
      bloomCols: Seq[String]): Seq[(String, String)] =
    if (statsCols.isEmpty && bloomCols.isEmpty) Seq.empty
    else {
      sidecar(statsDir)
      // bloom columns record as bloom_<col> entries so sidecar GROUPS
      // (one read per distinct recorded column set) never mix
      // bloom-bearing and bloom-less sidecars of the same statsCols
      val recorded = (statsCols ++ bloomCols.map("bloom_" + _)).mkString(",")
      segs.map(seg => ("stats", s"$seg;$recorded"))
    }

  /** A manifest `stats` row: "<segment path>;<col,col,…>" — the
    * recorded columns ride the manifest so [[readPrunedRange]] can
    * group same-shaped sidecars into ONE read and never probes a
    * footer (or the filesystem) to learn what a sidecar holds.
    */
  private def parseStatsRow(v: String): (String, Seq[String]) = {
    val i = v.indexOf(';')
    (v.substring(0, i), v.substring(i + 1).split(",").toSeq)
  }

  // ===================== COLUMN MAPPING =====================
  // Delta-style column mapping (the RENAME/DROP COLUMN lever —
  // schema churn is routine on curated tables, e.g. the reference's
  // FK-remap discipline in s3_ccdi_to_cds.py col_remap, and a rename
  // without mapping is a full-table rewrite): ONE `map` manifest row
  // holds the ordered logical→physical name indirection
  // (`l1=p1;l2=p2;…;!retired1;…`). EVERYTHING ON DISK IS PHYSICAL —
  // data segments, tombstones, DV position files, CDC preimages and
  // stats sidecars all keep the names they were written with forever;
  // the logical view exists only at the API boundary (reads project
  // through the map, write faces rename incoming frames to physical,
  // probe column names translate at entry). That is what makes
  // [[renameColumn]]/[[dropColumn]] O(1)-manifest metadata commits:
  // no file is touched, recorded stats and blooms stay valid, old
  // tombstones keep matching, and time travel shows each version
  // under ITS OWN map. `!`-prefixed RETIRED physicals are dropped
  // columns' storage names — a later re-add of the same logical name
  // must NOT re-adopt them (the dropped values would resurface), so
  // [[extendMap]] uniquifies against them. FULL compactions
  // ([[compact]], [[compactPartitioned]], unscoped
  // [[compactZordered]]) read logically and carry only txn/chk rows,
  // so they MATERIALIZE the mapping for free; partial rewrites
  // ([[compactSmall]], scoped z-order, DELETE WHERE survivors) move
  // physical bytes and carry the map untouched.

  private[graft] final case class ColMap(
      entries: Seq[(String, String)], retired: Seq[String]) {
    val l2p: Map[String, String] = entries.toMap
    def phys(l: String, op: String): String = l2p.getOrElse(l,
      throw new IllegalArgumentException(
        s"$op: column '$l' is not in the store's current schema " +
          s"(${entries.map(_._1).mkString(",")}) — renamed or dropped?"))
    def usedPhysical: Set[String] = entries.map(_._2).toSet ++ retired
    def render: String =
      (entries.map { case (l, p) => s"$l=$p" } ++
        retired.map("!" + _)).mkString(";")
  }

  private[graft] def parseMapRow(s: String): ColMap = {
    val parts = s.split(";", -1).toSeq.filter(_.nonEmpty)
    ColMap(
      parts.filterNot(_.startsWith("!")).map { e =>
        val i = e.indexOf('=')
        (e.substring(0, i), e.substring(i + 1))
      },
      parts.filter(_.startsWith("!")).map(_.drop(1)))
  }

  private def colMapOf(rows: Seq[(String, String)]): Option[ColMap] =
    rows.collectFirst { case ("map", s) => parseMapRow(s) }

  /** Exact-name column reference — backtick-quoted so dotted names
    * (the xlsx template discipline) never parse as struct paths.
    */
  private def bq(n: String): Column = col("`" + n + "`")

  private def physN(m: Option[ColMap], l: String, op: String): String =
    m.fold(l)(_.phys(l, op))
  private def physAll(m: Option[ColMap], ls: Seq[String],
      op: String): Seq[String] = ls.map(physN(m, _, op))

  /** Project a PHYSICAL frame to the logical view: exactly the map's
    * columns, in map order, under their logical names (`keep` rides
    * extra engine columns like `_change` through). Identity when the
    * store is unmapped — the zero-cost common case.
    */
  private def toLogical(df: DataFrame, m: Option[ColMap],
      keep: Seq[String] = Nil): DataFrame =
    m.fold(df)(cm => df.select(
      cm.entries.map { case (l, p) => bq(p).as(l) } ++ keep.map(bq): _*))

  /** Rename an incoming LOGICAL frame to physical storage names.
    * Columns outside the map pass through unchanged — [[extendMap]]
    * must have run first for mergeSchema commits, so by the time a
    * frame reaches here every column has a map entry.
    */
  private def toPhysical(df: DataFrame, m: Option[ColMap]): DataFrame =
    m.fold(df)(cm => df.select(df.columns.toSeq.map(c =>
      bq(c).as(cm.l2p.getOrElse(c, c))): _*))

  /** Legal logical-name gate for names entering the map row: the
    * manifest encoding's separators, the layout/engine reserved
    * prefixes, and backticks (the exact-name quoting) are refused
    * loudly — a silent bad name would corrupt every later manifest
    * read.
    */
  private def mapNameGuard(n: String, op: String): Unit =
    require(n.nonEmpty && !n.contains(";") && !n.contains(",") &&
      !n.contains("=") && !n.contains("`") && !n.startsWith("!") &&
      !n.startsWith("__p_") && n != "_change" &&
      n != "__dv_file" && n != "__dv_ridx",
      s"$op: '$n' is not a legal store column name (manifest " +
        s"separator, backtick, or reserved prefix/name)")

  /** The store's map, or the identity map synthesized from the
    * current physical schema (the first rename/drop of an unmapped
    * store starts here — every existing name must be map-encodable).
    */
  private def mapOrIdentity(h: Head, op: String): ColMap =
    h.m.getOrElse {
      val names = h.raw.schema.fieldNames.toSeq
      names.foreach(mapNameGuard(_, op))
      ColMap(names.map(n => (n, n)), Nil)
    }

  /** mergeSchema on a MAPPED store: new logical columns enter the
    * map. Physical = the logical spelling unless it is already in use
    * — live or retired — in which case `<name>__r<v>` uniquifies
    * (bumping until free). Returns the possibly-extended map and the
    * carried rows with the map row replaced.
    */
  private def extendMap(m: Option[ColMap], cols: Seq[String],
      carried: Seq[(String, String)], v: Int, op: String)
      : (Option[ColMap], Seq[(String, String)]) = m match {
    case None => (None, carried)
    case Some(cm) =>
      val fresh = cols.filterNot(cm.l2p.contains)
      if (fresh.isEmpty) (m, carried)
      else {
        var used = cm.usedPhysical
        val added = fresh.map { c =>
          mapNameGuard(c, op)
          var cand = c
          var i = v
          while (used(cand)) { cand = s"${c}__r$i"; i += 1 }
          used += cand
          (c, cand)
        }
        val cm2 = cm.copy(entries = cm.entries ++ added)
        (Some(cm2),
          carried.filterNot(_._1 == "map") :+ (("map", cm2.render)))
      }
  }

  /** The single-part attribute names a CHECK expression references —
    * [[renameColumn]] re-anchors them, [[dropColumn]] refuses on
    * them. Parsed, never regex'd: `substr(a, 1, 2)` must not match a
    * column named `substr`.
    */
  private def exprAttrs(spark: SparkSession, ex: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(ex).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 => a.nameParts.head
    }

  private def renameInExpr(spark: SparkSession, ex: String,
      from: String, to: String): String =
    spark.sessionState.sqlParser.parseExpression(ex).transform {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 &&
            a.nameParts.head.equalsIgnoreCase(from) =>
        org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute(Seq(to))
    }.sql

  /** ALTER TABLE … RENAME COLUMN as an O(1)-manifest metadata commit
    * (Delta's column-mapping rename): the storage name never changes
    * — only the map row's logical spelling does — so no data file,
    * sidecar, tombstone or DV is touched, recorded stats stay valid,
    * and time travel below the rename shows the old name. CHECK
    * constraints referencing the column re-anchor to the new spelling
    * in the same commit (parsed and rewritten, never string-replaced).
    * Partition columns rename like any other: leaf paths encode the
    * PHYSICAL name and every probe entry point translates, so pruning
    * keeps working under the new logical name.
    */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String): Int = {
    val h = open(spark, dir, "renameColumn")
    mapNameGuard(to, "renameColumn")
    val cm = mapOrIdentity(h, "renameColumn")
    require(cm.l2p.contains(from),
      s"renameColumn: column '$from' is not in the store's current " +
        s"schema (${cm.entries.map(_._1).mkString(",")})")
    require(!cm.l2p.contains(to),
      s"renameColumn: column '$to' already exists at $dir — a rename " +
        s"cannot merge two columns")
    val cm2 = cm.copy(entries = cm.entries.map { case (l, p) =>
      (if (l == from) to else l, p) })
    h.publish(h.rows.filterNot(r => r._1 == "map" || r._1 == "chk") ++
      chks(h.rows).map { case (name, ex) =>
        ("chk", s"$name;${renameInExpr(spark, ex, from, to)}") } :+
      (("map", cm2.render)), "renameColumn")
  }

  /** ALTER TABLE … DROP COLUMN as an O(1)-manifest metadata commit:
    * the column leaves the map (reads stop projecting it — the bytes
    * stay on disk until a full compaction materializes the view) and
    * its storage name RETIRES, so a later mergeSchema re-add of the
    * same logical name gets FRESH storage and the dropped values can
    * never resurface. Refuses when a CHECK constraint references the
    * column (Delta's rule — drop the constraint first) and refuses to
    * drop the last column.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Int = {
    val h = open(spark, dir, "dropColumn")
    val cm = mapOrIdentity(h, "dropColumn")
    require(cm.l2p.contains(name),
      s"dropColumn: column '$name' is not in the store's current " +
        s"schema (${cm.entries.map(_._1).mkString(",")})")
    require(cm.entries.size > 1,
      s"dropColumn: '$name' is the store's only column — a table " +
        s"with no columns cannot be read")
    chks(h.rows).foreach { case (cn, ex) =>
      require(!exprAttrs(spark, ex).exists(_.equalsIgnoreCase(name)),
        s"dropColumn: CHECK constraint '$cn' ($ex) references " +
          s"'$name' — dropConstraint('$cn') first")
    }
    val cm2 = ColMap(cm.entries.filterNot(_._1 == name),
      cm.retired :+ cm.l2p(name))
    h.publish(h.rows.filterNot(_._1 == "map") :+ (("map", cm2.render)),
      "dropColumn")
  }

  /** The latest snapshot's logical→physical column mapping, identity
    * rows when the store never renamed/dropped — the observability
    * face (Delta surfaces the same through DESCRIBE's metadata).
    */
  def columnMapping(spark: SparkSession,
      dir: String): Seq[(String, String)] = {
    val (_, rows) = pin(spark, dir, None)
    colMapOf(rows).map(_.entries).getOrElse(
      rawFrame(spark, dir, rows).schema.fieldNames.toSeq.map(n => (n, n)))
  }

  /** statsCols must exist on the committed frame — a typo would write
    * an all-null sidecar that prunes EVERYTHING (silent wrong reads) —
    * and must not contain the manifest row separators.
    */
  private def statsGuard(df: DataFrame, statsCols: Seq[String],
      op: String): Unit = {
    val missing = statsCols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$op: statsCols ${missing.mkString(",")} not in the committed " +
        s"frame (${df.columns.mkString(",")})")
    require(statsCols.forall(c => !c.contains(";") && !c.contains(",")),
      s"$op: statsCols may not contain ';' or ',' (manifest separators)")
  }

  /** The write-side schema gate every data-committing face shares:
    * strict equality by default, evolution (add/omit only, never a
    * retype — a type flip poisons every later read) under
    * `mergeSchema`.
    */
  private def schemaGuard(df: DataFrame,
      cur: org.apache.spark.sql.types.StructType,
      mergeSchema: Boolean, op: String): Unit =
    if (!mergeSchema)
      require(df.schema.map(f => (f.name, f.dataType)) ==
        cur.map(f => (f.name, f.dataType)),
        s"$op: schema mismatch — store has " +
          s"${cur.map(f => s"${f.name}:${f.dataType.simpleString}")}, " +
          s"commit has " +
          s"${df.schema.map(f => s"${f.name}:${f.dataType.simpleString}")}" +
          s" (pass mergeSchema = true to evolve)")
    else {
      val curTypes = cur.map(f => f.name -> f.dataType).toMap
      val flips = df.schema.flatMap(f => curTypes.get(f.name)
        .filter(t => t != f.dataType && !widens(t, f.dataType))
        .map(t => s"${f.name}: ${t.simpleString} -> " +
          f.dataType.simpleString))
      require(flips.isEmpty,
        s"$op(mergeSchema): type flip on shared column(s) " +
          s"${flips.mkString(", ")} — evolution adds columns and " +
          s"WIDENS types (byte→short→int→long, float→double, " +
          s"integral→double), never narrows or cross-retypes them")
    }

  // ===================== TYPE WIDENING =====================
  // Delta-style type widening (the second ALTER TABLE evolution lever
  // beside column mapping): under mergeSchema a shared column may
  // WIDEN losslessly — byte→short→int→long, float→double, and
  // (byte|short|int)→double (every int32 is exact in a double;
  // long→double is NOT and refuses). No data file is rewritten: the
  // first widening commit stamps a `sch` manifest row holding the
  // full target PHYSICAL schema (json), and reads supply it to the
  // parquet scan — Spark 4's vectorized reader upcasts narrow file
  // columns in place (IntegerToLongUpdater / FloatToDoubleUpdater /
  // IntegerToDoubleUpdater), and a file missing a requested column
  // reads as null, so a `sch` read also subsumes the footer-merge.
  // Stats-driven faces (pruned reads, metadata aggregates, DELETE
  // WHERE, bloom probes) REFUSE on widened stores — their per-file
  // min/max compares would mix physical types; a full compaction
  // rewrites everything at the widest type and drops the row, which
  // re-arms them (the same compact-first honesty as tombstone/DV
  // refusals). Orthogonal to column mapping: widening is type-level
  // on PHYSICAL names, the map renames on top.

  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
  }

  private def schOf(rows: Seq[(String, String)])
      : Option[org.apache.spark.sql.types.StructType] =
    rows.collectFirst { case ("sch", s) =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  /** The write-side widening fold every mergeSchema face runs after
    * [[schemaGuard]]: merge the store's current PHYSICAL view schema
    * with the incoming frame's physical schema (wider type wins,
    * new columns append) and return the carried rows with the `sch`
    * row refreshed — stamped only once a widening has actually
    * happened (an add-only store keeps the cheap evo path).
    */
  private def widenSchemaRows(curPhysical: org.apache.spark.sql.types.StructType,
      dfPhysical: org.apache.spark.sql.types.StructType,
      carried: Seq[(String, String)]): Seq[(String, String)] = {
    import org.apache.spark.sql.types._
    val incoming = dfPhysical.map(f => f.name -> f.dataType).toMap
    val widened = curPhysical.map { f =>
      incoming.get(f.name) match {
        case Some(t) if widens(f.dataType, t) => StructField(f.name, t)
        case _ => StructField(f.name, f.dataType)
      }
    }
    val known = curPhysical.fieldNames.toSet
    val added = dfPhysical.filterNot(f => known(f.name))
      .map(f => StructField(f.name, f.dataType))
    val target = StructType(widened ++ added)
    val anyWiden = curPhysical.exists(f =>
      incoming.get(f.name).exists(t => widens(f.dataType, t)))
    if (!anyWiden && !carried.exists(_._1 == "sch")) carried
    else carried.filterNot(_._1 == "sch") :+ (("sch", target.json))
  }

  /** The MATERIALIZED-RENAME vocabulary hazard the glob-based file
    * streams must refuse: [[streamInserts]]/[[streamChanges]] pin ONE
    * schema over `seg/s*` (and `cdc/c*`), which is correct only while
    * every glob-visible file shares the current physical column
    * vocabulary. After a rename is materialized (a full compaction
    * drops the map and re-bases physical = logical), pre-compaction
    * files still store the OLD physical names — the parquet source
    * matches by name and would silently null-fill the renamed column
    * for those files, a wrong feed rather than an error. Detection:
    * any retained version's non-identity map entry that the CURRENT
    * map no longer carries. A LIVE map is safe (all files share the
    * original physical names the projection expects), and type
    * widening is glob-safe (names unchanged; the reader upcasts) —
    * only the materialized rename refuses, until the
    * pre-materialization history is vacuumed.
    */
  private def streamVocabGuard(spark: SparkSession, dir: String,
      op: String): Unit = {
    val vs = versions(spark, dir)
    val curEntries = colMapOf(readManifestRows(spark, dir, vs.max))
      .map(_.entries.toSet).getOrElse(Set.empty[(String, String)])
    val stale = vs.init
      .flatMap(v => colMapOf(readManifestRows(spark, dir, v)).toSeq)
      .flatMap(_.entries).distinct
      .filter { case (l, p) => l != p }
      .filterNot(curEntries)
    require(stale.isEmpty,
      s"$op: retained history carries a MATERIALIZED column rename " +
        s"(${stale.take(3).mkString(", ")}) — glob-visible " +
        s"pre-compaction files still store the old physical names and " +
        s"the pinned schema would silently null-fill them; vacuum the " +
        s"pre-materialization history first, or define the stream " +
        s"while the map is live")
  }

  private def widenGuard(rows: Seq[(String, String)], op: String): Unit =
    require(!rows.exists(_._1 == "sch"),
      s"$op: the store carries WIDENED column types (`sch` row) — " +
        s"per-file stats compares across mixed physical types are " +
        s"unsafe; compact() first to materialize the widest type, or " +
        s"filter read(...) directly")

  /** Tombstone `ids` (distinct, non-null — loud otherwise: a null
    * tombstone silently never matches the anti-join) and publish the
    * next version. Rows stay on disk; reads hide them from this
    * version on.
    *
    * `dv = true` is the MERGE-ON-READ twin (GDPR deletes arrive as ID
    * LISTS, and the id face is where the right-to-be-forgotten cost
    * story actually runs): one scan locates the ids' physical
    * (file, row index) positions, ONE match-sized deletion-vector
    * sidecar commits — no tombstone, no anti-join key rides every
    * later read's plan for ids that matched nothing, and the write
    * footprint is bytes-of-matches whatever the segment sizes.
    * Returns the PREVIOUS latest without committing when no id
    * matches a visible row (a positions sidecar of nothing is not a
    * version); the tombstone mode still always commits — its contract
    * is "hide these ids whenever they appear in OLDER segments",
    * which is meaningful even with zero current matches.
    */
  def commitDelete(ids: DataFrame, idCol: String, dir: String,
      cdf: Boolean = false, dv: Boolean = false): Int = {
    val spark = ids.sparkSession
    val h = open(spark, dir, "commitDelete")
    // the delete key must exist in the store's CURRENT schema: a
    // mistyped column would write a tombstone the read-side antiTomb
    // silently passes through (its missing-column branch exists for
    // genuinely evolution-omitted segments), silently no-op'ing the
    // delete — the same silent-no-match hazard the null guard below
    // exists for
    val cur = h.logical.schema.fieldNames
    require(cur.contains(idCol),
      s"commitDelete: id column '$idCol' is not in the store's current " +
        s"schema (${cur.mkString(",")}) — the tombstone would never " +
        s"match and the delete would silently no-op")
    // the tombstone is a PHYSICAL artifact — it must anti-join every
    // older segment under the storage name, whatever the column is
    // logically called today or after any later rename
    val pId = physN(h.m, idCol, "commitDelete")
    val tomb = ids.select(bq(idCol).as(pId)).distinct()
    val bad = tomb.where(bq(pId).isNull).count()
    require(bad == 0,
      s"commitDelete: null id(s) in '$idCol' — a null tombstone never " +
        s"matches the read-side anti-join and the row would stay visible")
    val v = h.v
    if (dv) {
      // pin ONE evaluation of the id frame — the positions, the CDC
      // preimages and the count must agree id for id
      val pinnedIds = graft.ops.Checkpoints.cut(tomb, eager = true)
      val matched = graft.ops.Checkpoints.cut(
        rawFrame(spark, dir, h.rows, keepPos = true)
          // no unconditional broadcast hint: a mass-delete id frame
          // must not OOM the driver (the tombBroadcastGate philosophy
          // — AQE broadcasts genuinely small id sides on its own)
          .join(pinnedIds, Seq(pId), "left_semi"),
        eager = true)
      if (matched.isEmpty) return v - 1
      val (dvRow, cdcRel, _) =
        writeDeletionVector(spark, dir, v, matched, cdf)
      return h.publish(h.rows :+ dvRow, "delete", cdcRel)
    }
    val tp = s"tomb/${uniqueName('t', v)}"
    tomb.write.mode("errorifexists").parquet(s"$dir/$tp")
    // cdf: the preimages (pre-delete view, semi-joined on the ids)
    // ride the commit so [[streamChanges]] can ship them — the price
    // of CDF is one read job at delete time, paid only when on. The
    // join reads the WRITTEN tombstone back, never the caller's
    // frame: a non-deterministic `ids` re-evaluated here could emit
    // preimages the committed tombstone doesn't actually hide.
    // Preimages write PHYSICAL (everything on disk is physical);
    // [[readChanges]] projects at output.
    val cdcRel = if (!cdf) None
      else Some(writeCdc(spark, dir, v,
        h.raw.join(
          DriverParquet.read(spark, Seq(s"$dir/$tp")), Seq(pId), "left_semi")))
    h.publish(h.rows :+ (("tomb", tp)), "delete", cdcRel)
  }

  /** [[commitDeleteWhere]]'s evidence: the committed version, how
    * many rows the predicate deleted, and the write footprint —
    * segments rewritten vs segments in the table (the carried
    * remainder was PROVEN disjoint by partition values / file stats
    * and never read, Delta's stats-driven DELETE file matching), plus
    * the bytes the commit wrote (copy-on-write: the survivor
    * rewrites + tombstone; merge-on-read: the match-sized deletion
    * vector — the number the `dv = true` mode exists to shrink).
    */
  final case class DeleteWhere(version: Int, rowsDeleted: Long,
      segsRewritten: Int, segsTotal: Int, bytesWritten: Long = -1L)

  /** Predicate DELETE (Delta's `DELETE WHERE`), stats-driven
    * copy-on-write: delete every visible row satisfying the
    * conjunction of `ranges` (inclusive, the stats-drivable predicate
    * form) and `parts` (partition values) — WITHOUT enumerating ids
    * up front and WITHOUT touching provably-disjoint data. Segments
    * whose partition values miss the predicate, or whose per-file
    * stats show no file can overlap, carry forward untouched (never
    * read — the shared [[Pruning]] planner picks the suspects, and
    * this face adds the rewrite); only suspect segments rewrite,
    * copy-on-write, grouped by partition signature so the layout's
    * pruning survives. The commit
    * is ONE atomic version holding a tombstone of the deleted ids
    * (which is what makes [[readChanges]] emit the delete PREIMAGES
    * — the rewritten survivor segments are dataChange=false `c`
    * movement the feed skips) plus the survivor segments. SQL
    * three-valued semantics: a row where the predicate is NULL (a
    * null probe value) is NOT deleted.
    *
    * `idCol` must be a row key (the [[commitUpsert]] contract): the
    * tombstone hides the deleted ids from every older segment, so a
    * duplicated id would over-delete. Matched rows with a null id
    * refuse loudly (a null tombstone never matches). Returns None —
    * committing nothing — when no row matches; segment granularity is
    * this store's file-group unit (per-commit/per-partition segments
    * play the role Delta's files do), documented honestly: a
    * partially-matching segment rewrites whole, and a rewritten
    * partition LEAF's old directory lingers under its commit root
    * until the whole root becomes unreachable ([[vacuum]] collects at
    * root granularity — manifest-pinned readers never see it).
    *
    * `dv = true` switches to MERGE-ON-READ (Delta's deletion
    * vectors — the modern point-delete answer): instead of rewriting
    * suspect segments, the commit writes ONE match-sized sidecar of
    * the deleted rows' (root-relative file, row index) positions and
    * a `dv` manifest row naming it plus the segments it touches;
    * every read then folds the DV as a position anti-join over
    * exactly those segments. No tombstone, no rewrite: `bytesWritten`
    * is the right-to-be-forgotten cost story at 100 TB — a point
    * delete in a TB segment writes KBs, where copy-on-write rewrites
    * the segment (its floor is segment size, not match size). History
    * pins are untouched (older manifests don't list the DV), CDC
    * preimages still emit under `cdf = true`, [[readChanges]] renders
    * DV deletes from the positions, compaction materializes DVs and
    * drops them, and re-inserts are new files a DV can never touch —
    * so the MVCC re-insert semantics match the tombstone mode's. The
    * trade is Delta's own: every read until the next compaction pays
    * the (broadcast, match-sized) anti-join, and the metadata-answered
    * faces ([[countPrunedRange]], [[partitions]]) refuse DV-bearing
    * views exactly as they refuse tombstoned ones.
    */
  def commitDeleteWhere(spark: SparkSession, dir: String,
      ranges: Seq[graft.ops.LayoutOps.ColRange], idCol: String,
      parts: Map[String, Set[String]] = Map.empty,
      statsCols: Seq[String] = Nil,
      cdf: Boolean = false, dv: Boolean = false): Option[DeleteWhere] = {
    require(ranges.nonEmpty || parts.nonEmpty,
      "commitDeleteWhere needs at least one range or partition predicate")
    val h = open(spark, dir, "commitDeleteWhere")
    val plan = new Pruning(spark, dir, "commitDeleteWhere", (h.v - 1, h.rows),
      ranges, parts)
    val cur = h.logical.schema.fieldNames
    require(cur.contains(idCol),
      s"commitDeleteWhere: id column '$idCol' is not in the store's " +
        s"current schema (${cur.mkString(",")})")
    val pStats = physAll(h.m, statsCols, "commitDeleteWhere")
    val pId = physN(h.m, idCol, "commitDeleteWhere")
    val suspects = plan.touched
    if (suspects.isEmpty) return None
    val pred = coalesce(plan.residual, lit(false))
    // matched rows pinned ONCE: the tombstone and the delete count
    // must agree row for row with what the rewrite below removes
    // (both read the same immutable segments, so the rewrite's twin
    // evaluation is deterministic by construction). Existing DVs fold
    // in — an already-dv-deleted row must not re-match (its preimage
    // would re-emit and its count would lie). dv mode keeps the
    // position columns: they ARE the deletion vector.
    val matched = graft.ops.Checkpoints.cut(
      rawFrame(spark, dir, h.rows, Some(suspects), keepPos = dv).where(pred),
      eager = true)
    // ONE bookkeeping aggregate: the delete count and the null-id
    // count the tombstone guard below needs
    val tally = matched.agg(count(lit(1)),
      count(when(bq(pId).isNull, 1))).head()
    val nDel = tally.getLong(0)
    if (nDel == 0) return None
    val v = h.v
    if (dv) {
      // merge-on-read: ONE match-sized position sidecar, nothing
      // rewritten, no tombstone (the DV is position-exact — the MVCC
      // ordering rule exists for id matching, which this mode never
      // does). See [[writeDeletionVector]] for the shared tail.
      val (dvRow, cdcRel, bytes) =
        writeDeletionVector(spark, dir, v, matched, cdf)
      return Some(DeleteWhere(h.publish(h.rows :+ dvRow, "delete", cdcRel),
        nDel, 0, plan.segs.size, bytes))
    }
    require(tally.getLong(1) == 0,
      s"commitDeleteWhere: matched row(s) carry a null '$idCol' — a " +
        s"null tombstone never matches the read-side anti-join")
    val tp = s"tomb/${uniqueName('t', v)}"
    matched.select(bq(pId)).distinct()
      .write.mode("errorifexists").parquet(s"$dir/$tp")
    // a predicate matching EVERY visible row pins the schema with one
    // empty segment, leaving the same readable empty snapshot id-based
    // commitDelete does
    val (kept, fresh) = rewrite(h, suspects, Some(pred), pStats,
      emptySchema = Some(matched.schema))
    // the copy-on-write footprint: every rewrite root (the root
    // subsumes its partition leaves and stats sidecar) + the tombstone
    val fs = hfs(spark, dir)
    val wroteBytes = (fresh.collect { case ("seg", p) =>
        p.split('/').take(2).mkString("/") }.distinct :+ tp)
      .map(p => fs.getContentSummary(
        new org.apache.hadoop.fs.Path(s"$dir/$p")).getLength).sum
    // cdf: the pinned matched frame IS the preimage set — no extra job
    val cdcRel = if (!cdf) None else Some(writeCdc(spark, dir, v, matched))
    Some(DeleteWhere(h.publish(kept ++ fresh :+ (("tomb", tp)), "delete",
      cdcRel), nDel, suspects.size, plan.segs.size, wroteBytes))
  }

  /** [[commitMerge]]'s evidence: the committed version plus how many
    * target rows each clause claimed.
    */
  final case class MergeResult(version: Int, updated: Long,
      deleted: Long, inserted: Long)

  /** Conditional MERGE (Delta's `MERGE INTO` with WHEN MATCHED
    * UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT), as ONE
    * atomic version: `source` matches the latest snapshot on `idCol`;
    * matched rows satisfying `deleteWhen` delete, remaining matched
    * rows satisfying `updateWhen` are REPLACED by their source row
    * (whole-row, the [[commitUpsert]] form), matched rows satisfying
    * neither stay untouched, and unmatched source rows insert when
    * `insertNotMatched`. Clause order is Delta's: delete is evaluated
    * before update. Conditions see the TARGET row's columns under
    * their own names and the SOURCE row's under a `src_` prefix
    * (e.g. `col("src_n_chars") > col("n_chars")`); a condition
    * evaluating to NULL does not fire (SQL three-valued semantics).
    *
    * Commit shape: one tombstone (updated ∪ deleted ids) + one data
    * segment (update replacements ∪ inserts) — correct under the MVCC
    * ordering rule exactly as commitUpsert is. CDC rendering,
    * honestly: [[readChanges]] emits an update as its delete PREIMAGE
    * plus its replacement INSERT (Delta's CDF would tag them
    * update_pre/postimage; the net content is identical).
    *
    * Loud guards: `source` is pinned to ONE evaluation; duplicate
    * source ids refuse (two source rows claiming one target row is
    * the Delta multiple-matches error); null source ids refuse.
    * Returns None — committing nothing — when no clause claims any
    * row.
    */
  def commitMerge(source: DataFrame, idCol: String, dir: String,
      updateWhen: Option[Column] = Some(lit(true)),
      deleteWhen: Option[Column] = None,
      insertNotMatched: Boolean = true,
      mergeSchema: Boolean = false, statsCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      cdf: Boolean = false): Option[MergeResult] = {
    val h = open(source.sparkSession, dir, "commitMerge")
    val g = admit(h, source, mergeSchema, statsCols)
    // merge logic runs LOGICAL end to end (target/source/clauses are
    // the user's view); only the written artifacts translate
    val src = graft.ops.Checkpoints.cut(source, eager = true)
    val idStats = src.agg(
      count(lit(1)).as("n"),
      count_distinct(col(idCol)).as("d"),
      count(when(col(idCol).isNull, 1)).as("nulls")).head()
    require(idStats.getLong(2) == 0,
      s"commitMerge: null id(s) in source '$idCol'")
    require(idStats.getLong(0) == idStats.getLong(1),
      s"commitMerge: source holds ${idStats.getLong(0)} rows but only " +
        s"${idStats.getLong(1)} distinct '$idCol' values — multiple " +
        s"source rows would claim one target row (the Delta " +
        s"multiple-matches error); dedupe upstream")
    val target = h.logical
    val srcP = src.select(src.columns.toSeq.map(c => col(c).as(s"src_$c")): _*)
    val delC = coalesce(deleteWhen.getOrElse(lit(false)), lit(false))
    val updC = coalesce(updateWhen.getOrElse(lit(false)), lit(false))
    // the matched classification is pinned ONCE: the tombstone, the
    // clause counts and the replacement rows must agree row for row
    val matched = graft.ops.Checkpoints.cut(
      target.join(srcP, col(idCol) === col(s"src_$idCol"), "inner")
        .withColumn("__act",
          when(delC, lit("d")).when(updC, lit("u")).otherwise(lit("n"))),
      eager = true)
    val updRows = matched.where(col("__act") === "u")
      .select(src.columns.toSeq.map(c => col(s"src_$c").as(c)): _*)
    val insRows =
      if (!insertNotMatched) updRows.limit(0)
      else src.join(target.select(col(idCol)), Seq(idCol), "left_anti")
        // the USING join moves idCol first — restore the source order
        // so the written segment's schema matches the store's exactly
        .select(src.columns.toSeq.map(col): _*)
    // ONE bookkeeping aggregate over the pinned classification: the
    // clause counts by `__act`, and the inserts as the source rows no
    // target row matched — exact because source ids were just proven
    // distinct and non-null (a target with duplicate ids puts one
    // source id on several matched rows; count_distinct folds them)
    val tally = matched.agg(
      count(when(col("__act") === "u", 1)),
      count(when(col("__act") === "d", 1)),
      count_distinct(col(s"src_$idCol"))).head()
    val nUpd = tally.getLong(0)
    val nDel = tally.getLong(1)
    val nIns = if (!insertNotMatched) 0L
      else idStats.getLong(0) - tally.getLong(2)
    if (nUpd + nDel + nIns == 0) return None
    val v = h.v
    val claimed = matched.where(col("__act") =!= "n")
      .select(bq(idCol).as(physN(g.m, idCol, "commitMerge"))).distinct()
    val tombRows = if (nUpd + nDel == 0) Seq.empty
      else {
        val tp = s"tomb/${uniqueName('t', v)}"
        claimed.write.mode("errorifexists").parquet(s"$dir/$tp")
        Seq(("tomb", tp))
      }
    val segRows = if (nUpd + nIns == 0) Seq.empty
      else writeDataSegment(
        toPhysical(updRows.unionByName(insRows,
          allowMissingColumns = true), g.m),
        dir, v, g.phys(statsCols), g.phys(partitionBy), "commitMerge")
    // cdf: updated + deleted targets' preimages, from the pinned
    // classification (target columns only) — written PHYSICAL like
    // every on-disk artifact
    val cdcRel = if (!cdf || nUpd + nDel == 0) None
      else Some(writeCdc(h.spark, dir, v,
        toPhysical(matched.where(col("__act") =!= "n")
          .select(target.columns.map(col).toSeq: _*), g.m)))
    Some(MergeResult(g.publish(tombRows ++ segRows, "merge", cdcRel),
      nUpd, nDel, nIns))
  }

  /** CHECK constraints (Delta's `ALTER TABLE … ADD CONSTRAINT` /
    * write-side invariants): a `chk` manifest row carries
    * `name;<sql expression>` forward through every commit, and every
    * data-ADDING face ([[commitAppend]], [[commitStreamBatch]],
    * [[commitUpsert]], [[commitMerge]]) validates its JUST-WRITTEN
    * segment against all of them before publishing — reading the
    * written files back means the data is evaluated exactly once and
    * a refusal leaves only an invisible orphan, never a half-commit.
    * Compactions and predicate deletes move/keep already-validated
    * rows and skip the check. SQL-standard NULL semantics: a row
    * violates only when the expression is FALSE (UNKNOWN passes) —
    * stated here because engines disagree; a constraint referencing a
    * column the frame lacks fails analysis loudly.
    *
    * `addConstraint` validates the EXISTING table first (Delta scans
    * on ADD CONSTRAINT too — a constraint the current data violates
    * would make every later read a lie) and commits the rule as a new
    * version; [[dropConstraint]] removes it. Both are O(1)-file
    * commits.
    */
  def addConstraint(spark: SparkSession, dir: String, name: String,
      sqlExpr: String): Int = {
    require(!name.contains(";") && !name.contains(",") && name.nonEmpty,
      s"constraint name must be non-empty without ';'/',', got '$name'")
    val h = open(spark, dir, "addConstraint")
    require(!chks(h.rows).exists(_._1 == name),
      s"addConstraint: constraint '$name' already exists at $dir")
    val bad = h.logical.where(!coalesce(expr(sqlExpr), lit(true))).count()
    require(bad == 0,
      s"addConstraint: existing data violates '$name' ($sqlExpr) on " +
        s"$bad row(s) — clean the table first")
    h.publish(h.rows :+ (("chk", s"$name;$sqlExpr")), "addConstraint")
  }

  def dropConstraint(spark: SparkSession, dir: String,
      name: String): Int = {
    val h = open(spark, dir, "dropConstraint")
    require(chks(h.rows).exists(_._1 == name),
      s"dropConstraint: no constraint named '$name' at $dir")
    h.publish(h.rows.filterNot(r => chks(Seq(r)).exists(_._1 == name)),
      "dropConstraint")
  }

  /** The active constraints of the latest snapshot: name → SQL. */
  def constraints(spark: SparkSession, dir: String): Map[String, String] =
    chks(pin(spark, dir, None)._2).toMap

  /** The `chk` manifest rows as (name, SQL) — `name;<sql expression>`,
    * split at the first `;` (names never carry one; the SQL may).
    */
  private def chks(rows: Seq[(String, String)]): Seq[(String, String)] =
    rows.collect { case ("chk", s) =>
      (s.takeWhile(_ != ';'), s.substring(s.indexOf(';') + 1))
    }

  /** Validate the just-written segment rows against every carried
    * `chk` constraint — ONE aggregation job for all constraints over
    * the new files only (Delta's write-path invariant check), loud on
    * the first violation count.
    */
  private def constraintGuard(spark: SparkSession, dir: String,
      carried: Seq[(String, String)], segRows: Seq[(String, String)],
      op: String, m: Option[ColMap] = None): Unit = {
    val rules = chks(carried)
    val segs = segRows.collect { case ("seg", p) => p }
    if (rules.isEmpty || segs.isEmpty) return
    // constraints are LOGICAL expressions; written files are physical
    // — project through the map before evaluating. Only the columns
    // this commit actually wrote: a mergeSchema commit may omit map
    // columns, and a constraint referencing one still fails analysis
    // loudly (the documented contract) while unrelated ones evaluate.
    val raw = DriverParquet.read(spark, segs.map(p => s"$dir/$p"))
    val df = m.fold(raw)(cm => raw.select(
      cm.entries.filter { case (_, p) => raw.columns.contains(p) }
        .map { case (l, p) => bq(p).as(l) }: _*))
    val counts = df.agg(
      count(when(!coalesce(expr(rules.head._2), lit(true)), 1)),
      rules.tail.map(c =>
        count(when(!coalesce(expr(c._2), lit(true)), 1))): _*).head()
    rules.zipWithIndex.foreach { case ((name, ex), i) =>
      require(counts.getLong(i) == 0,
        s"$op: CHECK constraint '$name' ($ex) violated by " +
          s"${counts.getLong(i)} new row(s) — nothing committed (the " +
          s"written segment is an invisible orphan)")
    }
  }

  /** Snapshot read at `version` (default: latest). The segment list
    * comes from the PINNED manifest — never a directory scan — so the
    * frame is reproducible against any later commit; tombstone frames
    * anti-join each on their own id column.
    */
  /** The commit version encoded in a segment/tombstone path
    * (`seg/s000123_<uniq>` → 123) — the ORDERING key of MVCC reads.
    * Component-anchored: a shallow CLONE's references carry a
    * relative-path prefix (`../src/seg/s000123_x`), so the version
    * component is the one after the LAST bare `seg`/`tomb`/`dv` dir —
    * store internals after it are never named that.
    */
  private def pathVersion(p: String): Int = {
    val cs = p.split('/')
    val i = cs.lastIndexWhere(c => c == "seg" || c == "tomb" || c == "dv")
    require(i >= 0 && i + 1 < cs.length,
      s"segment path carries no version: $p")
    cs(i + 1).drop(1).takeWhile(_.isDigit).toInt
  }

  /** Broadcast-or-shuffle gate for tombstone anti/semi joins: a
    * curation-sized tombstone (the overwhelmingly common case — ids
    * are 8-byte longs, a million ids is ~8 MB of parquet) broadcasts;
    * a mass-delete tombstone ("drop a study" at billions of ids) must
    * NOT — an unconditional broadcast hint there OOMs the driver and
    * executors with no loud failure mode. The gate is driver-cheap:
    * the tombstone segment's FILE SIZE is already known to the
    * filesystem (one getContentSummary per tombstone path, no job),
    * and parquet bytes underestimate the in-memory broadcast by ~4× —
    * the default 32 MB gate admits ~10M-id tombstones and pushes
    * anything bigger to a shuffle anti-join (AQE may still broadcast
    * genuinely small sides on its own). Override via the
    * `graft.snapshot.tombBroadcastBytes` system property.
    */
  private[graft] def tombBroadcastGate(spark: SparkSession, dir: String,
      paths: Seq[String]): Boolean = {
    val limit = sys.props.get("graft.snapshot.tombBroadcastBytes")
      .map(_.toLong).getOrElse(32L << 20)
    val fs = hfs(spark, dir)
    val bytes = paths.map(p =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$dir/$p"))
        .getLength).sum
    bytes <= limit
  }

  /** Anti-join `base` against one tombstone dir, on the tombstone's
    * own single id column (loud on a multi-column tombstone). A base
    * whose schema LACKS the id column entirely (schema evolution can
    * omit it) passes through untouched — a row with no id can never
    * be the tombstoned row, and the join would fail analysis.
    * Broadcast rides the [[tombBroadcastGate]] size gate.
    */
  private def antiTomb(spark: SparkSession, dir: String,
      base: DataFrame, tombPath: String): DataFrame = {
    val t = readParquetMemo(spark, Seq(s"$dir/$tombPath"),
      mergeSchema = false)
    val idCol = t.columns match {
      case Array(one) => one
      case cs => throw new IllegalStateException(
        s"tombstone segment $tombPath must hold exactly one id column, " +
          s"got ${cs.mkString(",")}")
    }
    val hinted = if (tombBroadcastGate(spark, dir, Seq(tombPath)))
      broadcast(t) else t
    if (!base.columns.contains(idCol)) base
    else base.join(hinted, Seq(idCol), "left_anti")
  }

  /** The two row-POSITION columns a deletion-vector read rides:
    * the file's STORE-ROOT-RELATIVE path and the row's index within
    * it, attached from the parquet source's `_metadata` at scan time
    * (the only place they exist). Root-relative — everything after
    * the last `/seg/` component — so DVs survive a store-root move
    * and resolve identically through a shallow clone's re-rooted
    * manifest (Delta stores DV file references relative for the same
    * reason); segment internals never contain a `seg` dir, so the
    * suffix is unambiguous.
    */
  private def withPosCols(df: DataFrame): DataFrame =
    df.select(col("*"),
      concat(lit("seg/"),
        substring_index(col("_metadata.file_path"), "/seg/", -1))
        .as("__dv_file"),
      col("_metadata.row_index").as("__dv_ridx"))

  /** A segment path's `seg/`-anchored form — the canonical identity
    * deletion vectors and sidecar attribution compare on: a shallow
    * clone's manifest rows carry a relative-path prefix
    * (`../src/seg/sN`) while DV affected lists and recorded file
    * paths are source-resolved, so raw string equality would silently
    * SKIP the DV anti-join on a clone (a wrong read, not an error).
    * Segment-name uniqueness keeps the anchored form unambiguous.
    */
  private def segAnchor(s: String): String = {
    val i = s.lastIndexOf("seg/")
    if (i < 0) s else s.substring(i)
  }

  /** The shared DV-commit tail both merge-on-read delete faces ride
    * ([[commitDelete]]'s id-list mode and [[commitDeleteWhere]]'s
    * predicate mode): derive the affected-segment list from the
    * matched positions (each file's parent dir IS its manifest
    * segment path, in seg/-anchored form), write the match-sized
    * sidecar as ONE file (scattering positions across scan tasks pays
    * parquet's per-file floor dozens of times — measured 22 KB → 1.5
    * KB for 21 rows), and return the manifest row + optional CDC
    * relation + bytes written.
    */
  private def writeDeletionVector(spark: SparkSession, dir: String,
      v: Int, matched: DataFrame, cdf: Boolean)
      : ((String, String), Option[String], Long) = {
    val rel = s"dv/${uniqueName('d', v)}"
    val affected = matched
      .select(regexp_replace(col("__dv_file"), "/[^/]+$", "").as("sg"))
      .distinct().collect().map(_.getString(0)).sorted
    matched.select(col("__dv_file"), col("__dv_ridx")).coalesce(1)
      .write.mode("errorifexists").parquet(s"$dir/$rel")
    val bytes = hfs(spark, dir).getContentSummary(
      new org.apache.hadoop.fs.Path(s"$dir/$rel")).getLength
    val cdcRel = if (!cdf) None else Some(writeCdc(spark, dir, v,
      matched.drop("__dv_file", "__dv_ridx")))
    ((("dv", s"$rel;${affected.mkString(",")}")), cdcRel, bytes)
  }

  /** Anti-join the accumulated frame against the named deletion
    * vectors' (file, row index) pairs — the merge-on-read half of
    * [[commitDeleteWhere]]'s `dv = true` mode. Position equality is
    * exact (immutable files, stable row indexes), so unlike id
    * tombstones there is NO version-ordering rule: a DV hides exactly
    * the physical rows it names, wherever the manifest still lists
    * their files, and a re-insert is a new file it can never touch.
    * Broadcast rides the same size gate as tombstones (DVs are
    * match-sized — the point of merge-on-read).
    */
  private def antiDv(spark: SparkSession, dir: String,
      base: DataFrame, dvPaths: Seq[String]): DataFrame = {
    val dv = readParquetMemo(spark,
        dvPaths.sorted.map(p => s"$dir/$p"), mergeSchema = false)
      .select(col("__dv_file"), col("__dv_ridx"))
    val hinted = if (tombBroadcastGate(spark, dir, dvPaths))
      broadcast(dv) else dv
    base.join(hinted, Seq("__dv_file", "__dv_ridx"), "left_anti")
  }

  /** Union of `segs` minus every tombstone that POSTDATES each
    * segment — the MVCC ordering rule: a tombstone at version T hides
    * rows from segments committed strictly BEFORE T, never rows a
    * later commit (or the SAME commit — the upsert case) re-inserts.
    * LINEAR shape: tombstones fold in ascending version order, each
    * scanned and anti-joined ONCE against the accumulated union of
    * the segments it postdates (rows from segments that predate an
    * evolution-added id column carry a null id through the union and
    * survive the anti-join, as they must) — T joins for T tombstones,
    * never the T²/2 a per-segment-group plan would hold.
    *
    * `dvs` (path → affected segments, from the manifest's `dv` rows)
    * fold as ONE position anti-join over the final union — deletion
    * vectors commute with id tombstones (set subtraction on different
    * keys), and only DVs naming a segment actually being read ride
    * the plan. `keepPos` hands the caller the position columns
    * (`__dv_file`, `__dv_ridx`) instead of dropping them — the
    * DV-writing commit needs the positions of its matched rows.
    */
  private def segsMinusTombs(spark: SparkSession, dir: String,
      segs: Seq[String], tombs: Seq[String], evolved: Boolean,
      dvs: Seq[(String, Seq[String])] = Nil,
      keepPos: Boolean = false,
      target: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    // seg/-anchored matching: a clone's manifest segments carry a
    // relative prefix while DV affected lists are source-anchored —
    // raw equality would silently skip the anti-join on a clone
    val segSet = segs.map(segAnchor).toSet
    val live = dvs.collect {
      case (p, affected) if affected.exists(a => segSet(segAnchor(a))) => p
    }
    val withPos = keepPos || live.nonEmpty
    def readSegs(ps: Seq[String]): DataFrame = {
      // a WIDENED store's target schema drives the scan directly:
      // Spark 4's vectorized reader upcasts narrow file columns in
      // place and null-fills missing ones, so the explicit schema
      // subsumes the footer-merge too
      val f = target match {
        case Some(t) =>
          spark.read.schema(t).parquet(ps.sorted.map(p => s"$dir/$p"): _*)
        case None => readParquetMemo(spark,
          ps.sorted.map(p => s"$dir/$p"), mergeSchema = evolved)
      }
      if (withPos) withPosCols(f) else f
    }
    def union(a: Option[DataFrame], b: DataFrame): DataFrame =
      a.fold(b)(_.unionByName(b, allowMissingColumns = true))
    val bySeg = segs.sortBy(pathVersion)
    var acc = Option.empty[DataFrame]
    var rest = bySeg
    tombs.map(p => (pathVersion(p), p)).sortBy(_._1).foreach {
      case (tv, tp) =>
        val (older, later) = rest.partition(pathVersion(_) < tv)
        if (older.nonEmpty) acc = Some(union(acc, readSegs(older)))
        rest = later
        acc = acc.map(antiTomb(spark, dir, _, tp))
    }
    if (rest.nonEmpty) acc = Some(union(acc, readSegs(rest)))
    val folded = if (live.isEmpty) acc.get
      else antiDv(spark, dir, acc.get, live)
    if (withPos && !keepPos) folded.drop("__dv_file", "__dv_ridx")
    else folded
  }

  /** The manifest's deletion-vector rows: DV path → the segments it
    * names files in (the `"<path>;<seg,seg,…>"` encoding, shared with
    * `stats` rows). The affected-segment list is what lets reads skip
    * the position anti-join entirely for untouched segment sets and
    * lets compaction drop a DV once every named segment was rewritten.
    */
  private def dvRowsOf(rows: Seq[(String, String)]): Seq[(String, Seq[String])] =
    rows.collect { case ("dv", s) => parseStatsRow(s) }

  def read(spark: SparkSession, dir: String,
      version: Option[Int] = None): DataFrame = {
    val (df, rows) = readRaw(spark, dir, version)
    // the VERSION'S OWN map: time travel below a rename shows the
    // old names, exactly Delta's column-mapping contract
    toLogical(df, colMapOf(rows))
  }

  /** Pin one snapshot: the version (the latest by default) and its
    * manifest rows — loud when nothing is committed, the version is
    * gone, or its manifest lists no data segment. `op` prefixes the
    * messages; `fresh` pins a store with no commit yet as version 0
    * with no rows (see [[open]]).
    */
  private def pin(spark: SparkSession, dir: String,
      version: Option[Int], op: String = "",
      fresh: Boolean = false): (Int, Seq[(String, String)]) = {
    val vs = versions(spark, dir)
    if (fresh && vs.isEmpty) return (0, Seq.empty)
    require(vs.nonEmpty, s"${op}no committed snapshot at $dir")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v),
      s"${op}snapshot version $v does not exist at $dir (have " +
        s"${vs.mkString(",")}) — vacuumed or never committed")
    val rows = readManifestRows(spark, dir, v)
    require(rows.exists(_._1 == "seg"),
      s"${op}manifest v$v at $dir lists no data segments")
    (v, rows)
  }

  /** The PHYSICAL MVCC frame of one manifest's `rows`: its data
    * segments (or only `segs`, each still under every tombstone and
    * deletion vector the manifest carries) — the internal form every
    * face that writes physical artifacts (tombstones, DVs, CDC
    * preimages, rewrites) folds against. Physical names never change,
    * so joins built here stay valid across any number of renames.
    * mergeSchema footer-merging is a per-file job — only stores that
    * actually evolved pay it (the manifest records the first evolved
    * commit; a compaction unifies the schema and drops the flag).
    */
  private def rawFrame(spark: SparkSession, dir: String,
      rows: Seq[(String, String)], segs: Option[Seq[String]] = None,
      keepPos: Boolean = false): DataFrame =
    segsMinusTombs(spark, dir,
      segs.getOrElse(rows.collect { case ("seg", p) => p }),
      rows.collect { case ("tomb", p) => p },
      evolved = rows.exists(_._1 == "evo"),
      dvs = dvRowsOf(rows), keepPos = keepPos, target = schOf(rows))

  /** [[read]] minus the logical projection: the pinned snapshot's
    * [[rawFrame]] plus its manifest rows.
    */
  private def readRaw(spark: SparkSession, dir: String,
      version: Option[Int] = None)
      : (DataFrame, Seq[(String, String)]) = {
    val (_, rows) = pin(spark, dir, version)
    (rawFrame(spark, dir, rows), rows)
  }

  // ===================== THE COMMIT PATH =====================
  // Every writing face commits the same way (Delta's single log-append
  // point, Armbrust et al., VLDB 2020): [[open]] the latest snapshot,
  // derive the next version's rows from it — through [[admit]] when
  // the face adds data, [[rewrite]] when it rewrites segments
  // copy-on-write, [[rewriteAll]] when it rewrites the whole table —
  // and [[Head.publish]] them. Only new directories are written before
  // the publish, so a face that fails anywhere leaves invisible
  // orphans, never a half commit.

  /** An opened snapshot: the writing face (`op`, the prefix of its
    * messages), the version the commit targets, the latest snapshot's
    * manifest rows (the carry base — empty on a store with no commit
    * yet) and its column map.
    */
  private final case class Head(spark: SparkSession, dir: String, op: String,
      v: Int, rows: Seq[(String, String)]) {
    val m: Option[ColMap] = colMapOf(rows)
    def fresh: Boolean = rows.isEmpty
    def segs: Seq[String] = rows.collect { case ("seg", p) => p }
    /** The latest snapshot's physical frame (one [[rawFrame]], so an
      * evolved store's footer merge runs once per commit).
      */
    lazy val raw: DataFrame = rawFrame(spark, dir, rows)
    def logical: DataFrame = toLogical(raw, m)

    /** The one publish: [[commitManifest]] of `next` at `v` under the
      * [[history]] operation `kind`, cleaning up the `cdc` change files
      * on a lost race. Returns `v`.
      */
    def publish(next: Seq[(String, String)], kind: String,
        cdc: Option[String] = None): Int = {
      commitManifest(spark, dir, v, next, kind, cdc)
      v
    }
  }

  /** The one opener every writing face derives its commit from: the
    * latest snapshot ([[pin]]) and the version after it, listed fresh
    * per call (what makes [[withCommitRetry]] re-derive a lost
    * commit). `fresh` admits a store with no commit yet — the first
    * commit of [[commitAppend]] / [[commitStreamBatch]] targets
    * version 1 over no rows.
    */
  private def open(spark: SparkSession, dir: String, op: String,
      fresh: Boolean = false): Head = {
    val (latest, rows) = pin(spark, dir, None, s"$op: ", fresh)
    Head(spark, dir, op, latest + 1, rows)
  }

  /** What [[admit]] let in: the (possibly extended) column map and the
    * rows to carry, `evo`/`sch`/`map` already updated.
    */
  private final case class Admitted(h: Head, m: Option[ColMap],
      carried: Seq[(String, String)]) {
    /** Logical column names → physical storage names. */
    def phys(cols: Seq[String]): Seq[String] = physAll(m, cols, h.op)

    /** The gate's last step, then the publish: the just-written
      * `added` rows' segments must satisfy every CHECK constraint
      * ([[constraintGuard]]), and a store's FIRST commit must list a
      * data segment — an EMPTY partitioned frame writes no leaves (an
      * unpartitioned empty frame still writes one schema-bearing
      * file), and a data-less v1 would leave the store permanently
      * unreadable; later empty commits are harmless no-data versions.
      */
    def publish(added: Seq[(String, String)], kind: String,
        cdc: Option[String] = None): Int = {
      require(!h.fresh || added.exists(_._1 == "seg"),
        s"${h.op}: an empty partitioned frame cannot be a store's FIRST " +
          s"commit at ${h.dir} — the v1 manifest would list no data " +
          s"segments and every read would fail; commit rows first")
      constraintGuard(h.spark, h.dir, carried, added, h.op, m)
      h.publish(carried ++ added, kind, cdc)
    }
  }

  /** The one admission gate of the four data-adding faces
    * ([[commitAppend]], [[commitStreamBatch]], [[commitUpsert]],
    * [[commitMerge]]), in order: the schema gate against the store's
    * LOGICAL view ([[schemaGuard]] — strict unless `mergeSchema`), the
    * stats-column gate over `guarded`, the column map extended by any
    * new logical column (the incoming frame is LOGICAL; everything
    * written renames to physical through the returned map), the
    * widening fold refreshing the `sch` target, and the `evo` flag on
    * the first evolved commit (reads pay the parquet footer-merge only
    * from there on; compaction unifies the schema and drops it). The
    * CHECK constraints run at [[Admitted.publish]], over the written
    * files.
    */
  private def admit(h: Head, df: DataFrame, mergeSchema: Boolean,
      guarded: Seq[String]): Admitted = {
    val op = h.op
    if (!h.fresh) schemaGuard(df, h.logical.schema, mergeSchema, op)
    statsGuard(df, guarded, op)
    val (m, extended) = extendMap(h.m, df.columns.toSeq, h.rows, h.v, op)
    val carried = if (h.fresh || !mergeSchema) extended
      else widenSchemaRows(h.raw.schema, toPhysical(df, m).schema, extended)
    val evo = if (mergeSchema && !carried.exists(_._1 == "evo"))
      Seq(("evo", "true")) else Seq.empty
    Admitted(h, m, carried ++ evo)
  }

  /** The one copy-on-write rewrite behind [[commitDeleteWhere]]'s
    * suspect rewrite and the partial compactions ([[compactSmall]],
    * scoped [[compactZordered]]): the `picked` segments of `h`,
    * grouped by partition-path SIGNATURE (so a rewritten segment keeps
    * its partition encoding and partitions never blend), rewrite into
    * fresh `c` (dataChange=false) segments at `h.v` — each group's
    * rows under every tombstone and DV that hides them, minus the rows
    * `pred` deletes. Returns the carried rows the rewrite leaves and
    * the rows it wrote.
    *
    *  - Writing: ONE `partitionBy` write job when every picked segment
    *    shares one partition-column list (the survivor union re-derives
    *    its own leaf placement from the duplicated original columns —
    *    a rewrite spanning P partitions otherwise pays P serial job
    *    launches, a wall-clock term ∝ P at 100 TB partition counts;
    *    `pack` repartitions on those columns first so each leaf
    *    bin-packs to one file), else one write per signature group:
    *    `group`'s (the z-order layout) or a plain segment with its
    *    stats sidecar at the commit ROOT, where [[sidecarDirOf]]
    *    resolves it for the plain and the partition-suffixed shape. A
    *    group the rewrite emptied contributes nothing (Spark may write
    *    no data file for an empty frame, and reading the bare dir
    *    would fail schema inference).
    *  - Retiring: the picked segments and their stats rows; a
    *    tombstone no remaining segment predates (the rewritten rows
    *    commit at `h.v`, above it); a DV whose every named segment was
    *    rewritten (its positions materialized — matched on
    *    seg/-anchored identity, since a clone's manifest rows carry a
    *    relative-path prefix); and the `evo` flag once ONE segment
    *    holds the whole table (its schema is unified). Everything
    *    else (txn, chk, map, sch) carries.
    *  - Never publishing a data-less manifest (every later read would
    *    throw "lists no data segments"): when no segment would remain,
    *    `emptySchema` pins the schema with ONE empty `c` segment (a
    *    legal full-table DELETE leaves a readable empty snapshot —
    *    whether the rewrite itself emits a schema-bearing file is a
    *    plan-shape accident), and without one the rewrite refuses.
    */
  private def rewrite(h: Head, picked: Seq[String], pred: Option[Column],
      pStats: Seq[String], pack: Boolean = false,
      group: Option[(DataFrame, String) => Seq[(String, String)]] = None,
      emptySchema: Option[org.apache.spark.sql.types.StructType] = None)
      : (Seq[(String, String)], Seq[(String, String)]) = {
    val (spark, dir, v, op) = (h.spark, h.dir, h.v, h.op)
    def survivors(segs: Seq[String]): DataFrame = {
      val all = rawFrame(spark, dir, h.rows, Some(segs))
      val kept = pred.fold(all)(p => all.where(!p))
      statsGuard(kept, pStats, op)
      kept
    }
    val groups = picked.groupBy(sigOf).toSeq.sortBy(_._1)
    val colLists = picked.map(sigCols).distinct
    val fresh =
      if (group.isEmpty && groups.size > 1 && colLists.size == 1 &&
          colLists.head.nonEmpty) {
        val cols = colLists.head
        val all = survivors(picked)
        writeDataSegment(if (pack) all.repartition(cols.map(col): _*) else all,
          dir, v, pStats, cols, op, prefix = 'c')
      } else groups.flatMap { case (sig, segs) =>
        group match {
          case Some(write) => write(survivors(segs), sig)
          case None =>
            val root = s"seg/${uniqueName('c', v)}"
            val seg = s"$root$sig"
            val sidecar = LayoutOps.writeParquet(survivors(segs),
              s"$dir/$seg", pStats)
            if (DriverParquet.dataFiles(spark, Seq(s"$dir/$seg")).isEmpty)
              Seq.empty
            else ("seg", seg) +:
              writeSegStats(sidecar, s"$dir/$root/_stats", Seq(seg), pStats, Nil)
        }
      }
    val pickedSet = picked.toSet
    val anchors = pickedSet.map(segAnchor)
    val keptSegs = h.segs.filterNot(pickedSet)
    val minKept = keptSegs.map(pathVersion).minOption.getOrElse(v)
    val nFresh = fresh.count(_._1 == "seg")
    val kept = h.rows.filter {
      case ("seg", p) => !pickedSet(p)
      case ("stats", s) => !pickedSet(parseStatsRow(s)._1)
      case ("tomb", p) => pathVersion(p) > minKept
      case ("dv", s) => parseStatsRow(s)._2.exists(a => !anchors(segAnchor(a)))
      case ("evo", _) => keptSegs.nonEmpty || nFresh > 1
      case _ => true
    }
    if (keptSegs.nonEmpty || nFresh > 0) (kept, fresh)
    else {
      require(emptySchema.isDefined,
        s"$op: the survivor set at $dir is empty — nothing to compact " +
          s"(every picked row is tombstoned); use commitDelete semantics " +
          s"or vacuum instead")
      (kept, fresh ++ writeDataSegment(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          emptySchema.get), dir, v, Nil, Nil, op, prefix = 'c'))
    }
  }

  /** The one tail of the three FULL rewrites ([[compact]],
    * [[compactPartitioned]], unscoped [[compactZordered]]): read the
    * latest snapshot LOGICALLY (materializing the column map and any
    * widening for free), `write` it at the next version, and publish
    * it as that version's only data, carrying just the streaming txn
    * markers (a restarted stream replaying its last batch after a
    * rewrite must still dedupe on them) and the CHECK constraints
    * (table rules outlive any rewrite).
    */
  private def rewriteAll(spark: SparkSession, dir: String, op: String,
      kind: String)(write: (DataFrame, Int) => Seq[(String, String)]): Int = {
    val h = open(spark, dir, op)
    h.publish(h.rows.filter(r => r._1 == "txn" || r._1 == "chk") ++
      write(h.logical, h.v), kind)
  }

  /** Fold tombstones in for real: write the latest snapshot's
    * SURVIVOR set as one fresh segment and publish it as the next
    * version's only content. History is untouched — older pins still
    * read their original segments (no lineage hazard either: compact
    * only writes NEW directories). Returns the committed version.
    */
  def compact(spark: SparkSession, dir: String): Int =
    rewriteAll(spark, dir, "compact", "compact") { (df, v) =>
      // `c` prefix = dataChange FALSE: the rows aren't new, they moved
      // (the Delta convention) — [[readChanges]] skips these segments
      writeDataSegment(df, dir, v, Nil, Nil, "compact", prefix = 'c')
    }

  /** Idempotent streaming commit (the Delta sink's txn discipline):
    * append `df` as one snapshot version RECORDING `appId:batchId` in
    * the manifest (a `txn` row per appId, carried forward and
    * replaced on that appId's next commit). A restarted query
    * re-offering an already-committed batch id is a NO-OP returning
    * the existing latest version — committing each micro-batch at
    * most once even though foreachBatch only guarantees
    * at-least-once delivery. The txn is keyed by appId exactly as
    * Delta's is: batch ids are only monotone WITHIN one checkpoint
    * lineage, so a second query (or a recreated checkpoint, whose ids
    * restart at 0) must carry its own appId or its early batches
    * would be silently dropped as replays.
    */
  def commitStreamBatch(df: DataFrame, dir: String, batchId: Long,
      appId: String = "default", statsCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): Int = {
    require(!appId.contains(":"),
      s"appId must not contain ':' (the txn-row separator), got '$appId'")
    val h = open(df.sparkSession, dir, "commitStreamBatch", fresh = true)
    val (mine, carried) = h.rows.partition { case (k, b) =>
      k == "txn" && b.startsWith(s"$appId:") }
    if (mine.exists(_._2.drop(appId.length + 1).toLong >= batchId))
      return h.v - 1 // replayed batch
    // the strict gate of every data-adding face: a batch the store's
    // schema does not match would poison every later read
    val g = admit(h.copy(rows = carried), df, mergeSchema = false, statsCols)
    // partitionBy: the canonical 100 TB ingest shape is a stream
    // committing into a date/lang-partitioned store — each micro-batch
    // usually touches one or two partitions, so the per-leaf manifest
    // rows stay O(1) per commit
    g.publish(writeDataSegment(toPhysical(df, g.m), dir, h.v,
      g.phys(statsCols), g.phys(partitionBy), "commitStreamBatch") :+
      (("txn", s"$appId:$batchId")), "streamBatch")
  }

  /** The exactly-once streaming sink over [[commitStreamBatch]]:
    * every micro-batch becomes one atomic snapshot version, replays
    * dedup on the recorded batch id, and CONCURRENT READERS see each
    * batch entirely or not at all (the manifest rename is the
    * visibility point) — a parquet directory a `writeStream.format(
    * "parquet")` sink can never make transactional.
    */
  def streamSink(stream: DataFrame, dir: String, checkpointDir: String,
      appId: String = "default", statsCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          commitStreamBatch(batch, dir, id, appId, statsCols,
            partitionBy); ()
        }
      }
      .start()

  /** RESTORE (Delta's `RESTORE TABLE … TO VERSION AS OF`): publish a
    * NEW version whose data content is exactly `toVersion`'s — a
    * history-preserving rollback (bad ingest, fat-fingered delete):
    * nothing is rewritten or destroyed, the new manifest simply names
    * the old version's segments and tombstones again, so the rollback
    * is itself O(1) files, time-travelable, and revertable. Streaming
    * txn markers carry from the CURRENT latest (a restarted sink's
    * replay dedup must survive the rollback — replaying an
    * already-committed batch after a restore would silently
    * double-ingest it). CDC honesty: [[readChanges]] across a restore
    * boundary is NOT a faithful change feed — a tombstone rollback
    * re-exposes rows without adding any manifest entry (the feed
    * emits NOTHING), and a rolled-back append emits no delete
    * preimages; only segments absent from the pre-restore manifest
    * (e.g. rolled past a compaction) surface, as inserts. Change-feed
    * consumers re-baseline at a restore, exactly as Delta's CDF does.
    * Returns the committed version.
    */
  def restore(spark: SparkSession, dir: String, toVersion: Int): Int = {
    val h = open(spark, dir, "restore")
    val (_, target) = pin(spark, dir, Some(toVersion), "restore: ")
    h.publish(target.filterNot(_._1 == "txn") ++
      h.rows.filter(_._1 == "txn"), "restore")
  }

  /** The commit wall-clock of a version — the manifest directory's
    * filesystem mtime (written once at the commit rename, never
    * modified after). Powers [[versionAsOf]].
    */
  def commitTime(spark: SparkSession, dir: String, v: Int): Long =
    hfs(spark, dir).getFileStatus(
      new org.apache.hadoop.fs.Path(manifestDir(dir, v)))
      .getModificationTime

  /** `TIMESTAMP AS OF`: the latest version committed at or before
    * `tsMillis` (loud when the history starts later — vacuumed or the
    * table didn't exist). Timestamps come from the manifests' own
    * mtimes, so no clock rides the data path; like Delta, the mapping
    * is only as monotone as the filesystem clock.
    */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed snapshot at $dir")
    val at = vs.filter(commitTime(spark, dir, _) <= tsMillis)
    require(at.nonEmpty,
      s"versionAsOf: no version at $dir committed at or before " +
        s"$tsMillis (earliest is ${commitTime(spark, dir, vs.min)})")
    at.max
  }

  /** BIN-PACKING compaction (Delta's plain OPTIMIZE): merge only the
    * data segments whose on-disk size is under `maxSegBytes` into ONE
    * fresh segment, carrying the big segments forward untouched — at
    * 100 TB, rewriting the whole table every cadence trigger (what
    * [[compact]]/[[compactZordered]] do) is the difference between an
    * O(small-files) maintenance job and an O(table) one. MVCC makes
    * the partial merge safe: tombstones POSTDATING a merged segment
    * fold into the rewrite (the merged rows re-commit at the new
    * version, above those tombstones), tombstones still covering
    * UNMERGED older segments stay in the manifest, and a tombstone no
    * remaining segment predates is dropped as dead weight. History
    * pins are untouched (only NEW directories are written); the new
    * segment is dataChange=false (`c` prefix — CDC skips it) and can
    * carry its own stats sidecar. Returns the committed version, or
    * None when fewer than two segments qualify.
    */
  def compactSmall(spark: SparkSession, dir: String, maxSegBytes: Long,
      statsCols: Seq[String] = Nil,
      scope: Map[String, Set[String]] = Map.empty): Option[Int] = {
    val fs = hfs(spark, dir)
    compactGroups(spark, dir, "compactSmall", statsCols, scope, minGroup = 2,
      pick = seg => fs.getContentSummary(new org.apache.hadoop.fs.Path(
        s"$dir/${seg.stripSuffix("/data")}")).getLength <= maxSegBytes,
      pack = true)
  }

  /** The partial compactions' shared core ([[compactSmall]], scoped
    * [[compactZordered]]): pick the latest snapshot's segments matching
    * the partition `scope` and `pick`, group them by partition-path
    * signature, drop groups smaller than `minGroup`, and publish their
    * [[rewrite]] (`zorder` = z-order columns and file count, else a
    * plain bin-pack) as one version. A PARTIAL rewrite moves physical
    * bytes and carries the map, so the caller's logical names
    * translate once at entry. None when no group qualifies.
    */
  private def compactGroups(spark: SparkSession, dir: String, op: String,
      statsCols: Seq[String], scope: Map[String, Set[String]],
      minGroup: Int, pick: String => Boolean, pack: Boolean = false,
      zorder: Option[(Seq[String], Int)] = None): Option[Int] = {
    val h = open(spark, dir, op)
    val pStats = physAll(h.m, statsCols, op)
    val pScope = scope.map { case (c, a) => (physN(h.m, c, op), a) }
    val group = zorder.map { case (zCols, nFiles) =>
      val pZ = physAll(h.m, zCols, op)
      (df: DataFrame, sig: String) =>
        writeZSegment(df, dir, h.v, pZ, nFiles, pStats, sig)
    }
    val groups = h.segs
      .filter(s => scopeMatch(s, pScope) && pick(s))
      .groupBy(sigOf).filter(_._2.size >= minGroup)
    if (groups.isEmpty) None
    else {
      val (kept, fresh) = rewrite(h, groups.values.flatten.toSeq, None,
        pStats, pack, group)
      Some(h.publish(kept ++ fresh, op))
    }
  }

  /** REPARTITION the table: fold the latest snapshot's survivor set
    * into fresh segments laid out under `partitionBy` and publish it
    * as the next version's only data — the "the table started
    * unpartitioned (or wrongly partitioned) and now needs partition
    * pruning" lifecycle move, which Delta itself only offers as a
    * manual rewrite. One O(table) job (it IS a full rewrite — run it
    * once, not on a cadence); the new leaves are dataChange=false
    * `c` segments (rows moved, CDC skips them), per-commit stats and
    * blooms ride as usual, history pins keep reading the old layout,
    * and the streaming txn markers + CHECK constraints carry. Every
    * later [[commitAppend]] with the same `partitionBy` then extends
    * the layout and [[readPrunedRange]] prunes segments table-wide.
    */
  def compactPartitioned(spark: SparkSession, dir: String,
      partitionBy: Seq[String], statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Int = {
    require(partitionBy.nonEmpty,
      "compactPartitioned needs partition columns — use compact() for " +
        "a plain fold")
    rewriteAll(spark, dir, "compactPartitioned", "repartition") { (df, v) =>
      val segRows = writeDataSegment(df, dir, v, statsCols, partitionBy,
        "compactPartitioned", bloomCols, prefix = 'c')
      // a fully-tombstoned table yields no leaves — publishing a
      // data-less manifest would break every later read loudly but
      // confusingly; refuse here with the real reason instead
      require(segRows.exists(_._1 == "seg"),
        s"compactPartitioned: the survivor set at $dir is empty — " +
          s"nothing to lay out (every row is tombstoned)")
      segRows
    }
  }

  /** OPTIMIZE ZORDER on the store (Delta's flagship pair, composed
    * from the engine's own layout op): compacts the latest snapshot's
    * survivor set through [[graft.ops.LayoutOps.zorderWrite]] —
    * rank-normalized Morton clustering into ~`nFiles` z-sorted files
    * plus the per-file min/max sidecar — and publishes it as one
    * dataChange=false version. [[readPrunedLatest]] then answers
    * range probes reading only the files whose stats intersect,
    * WITHOUT losing any store property: history pins still read the
    * old segments, CDC skips the movement, the txn marker carries.
    *
    * A partition `scope` z-rewrites only the segments whose recorded
    * partition values match (per signature group, so the rewritten
    * layout keeps its partition encoding); everything else — including
    * history pins and unscoped partitions' data — carries forward
    * untouched. Single-segment groups still rewrite: re-clustering ONE
    * partition is the point. A scoped rewrite is PARTIAL (the map
    * carries, names translate to physical); the unscoped one reads
    * logically and drops the map, so its names stay logical.
    */
  def compactZordered(spark: SparkSession, dir: String,
      zCols: Seq[String], nFiles: Int, statsCols: Seq[String],
      scope: Map[String, Set[String]] = Map.empty): Int =
    if (scope.isEmpty)
      rewriteAll(spark, dir, "compactZordered", "zorder") { (df, v) =>
        writeZSegment(df, dir, v, zCols, nFiles, statsCols)
      }
    else compactGroups(spark, dir, "compactZordered", statsCols, scope,
        minGroup = 1, pick = _ => true, zorder = Some((zCols, nFiles)))
      .getOrElse(throw new IllegalArgumentException(
        s"compactZordered: no segment matches partition scope " +
          s"$scope at $dir — nothing to rewrite"))

  /** One z-ordered `c` segment (`<root><sig>/data` plus its sidecar
    * beside it) of `df` at version `v`; `sig` keeps a partition-scoped
    * rewrite's partition encoding.
    */
  private def writeZSegment(df: DataFrame, dir: String, v: Int,
      zCols: Seq[String], nFiles: Int, statsCols: Seq[String],
      sig: String = ""): Seq[(String, String)] = {
    val seg = s"seg/${uniqueName('c', v)}$sig"
    graft.ops.LayoutOps.zorderWrite(df, zCols, nFiles, statsCols, s"$dir/$seg")
    Seq(("seg", s"$seg/data"), ("stats", s"$seg/data;${statsCols.mkString(",")}"))
  }

  /** Stats-pruned range scan of the latest snapshot — valid when the
    * latest version is a single [[compactZordered]] segment with no
    * tombstones on top (loud otherwise: pruning a multi-segment or
    * tombstoned view would need per-segment sidecars; re-run the
    * z-compaction after new commits, exactly Delta's OPTIMIZE
    * cadence). Past that precondition it IS [[readPrunedRange]] at
    * the latest version. Returns the pruned frame plus files
    * read/total.
    */
  def readPrunedLatest(spark: SparkSession, dir: String,
      ranges: Seq[graft.ops.LayoutOps.ColRange]): graft.ops.LayoutOps.PrunedScan = {
    val (v, rows) = pin(spark, dir, None)
    val segs = rows.collect { case ("seg", p) => p }
    val tombs = rows.collect { case ("tomb", p) => p }
    require(tombs.isEmpty && segs.length == 1 &&
      segs.head.endsWith("/data") && !rows.exists(_._1 == "dv"),
      s"readPrunedLatest: latest version v$v at $dir is not a " +
        s"single z-compacted segment (segs=$segs, tombs=${tombs.length}," +
        s" dvs=${rows.count(_._1 == "dv")}) — run compactZordered first")
    widenGuard(rows, "readPrunedLatest")
    readPrunedRange(spark, dir, ranges, Some(v))
  }

  /** Stats-pruned range scan of ANY committed snapshot — the
    * mid-ingest form [[readPrunedLatest]] can't serve: real tables are
    * multi-segment (and often tombstoned) most of the time, and Delta/
    * Iceberg prune them anyway because every add carries its stats.
    * Here every segment prunes against its OWN sidecar — the
    * per-commit one `statsCols` wrote (`stats` manifest rows), or the
    * z-compaction's (`<root>/_stats`) — and a segment with no sidecar
    * is read in full (conservative, never wrong; a sidecar missing
    * one of the probe columns prunes on the rest). Tombstones fold
    * over the pruned union in the same MVCC version order as [[read]]
    * — hiding rows commutes with the residual row filter, so the
    * result is row-exact vs `read(...).where(residual)` whatever was
    * pruned. A probe column a segment's SCHEMA omits (evolution) is
    * null on every row there, so the whole segment skips. Returns the
    * pruned frame plus files read/total — the read-amplification
    * evidence. What this face adds to the shared [[Pruning]] planner:
    * the MVCC tombstone/DV fold over the scanned files and the
    * schema-stable empty fallback.
    */
  def readPrunedRange(spark: SparkSession, dir: String,
      ranges: Seq[graft.ops.LayoutOps.ColRange],
      version: Option[Int] = None,
      parts: Map[String, Set[String]] = Map.empty,
      eqs: Seq[graft.ops.LayoutOps.ColEq] = Nil)
      : graft.ops.LayoutOps.PrunedScan = {
    require(ranges.nonEmpty || parts.nonEmpty || eqs.nonEmpty,
      "readPrunedRange needs at least one range, partition or " +
        "equality predicate")
    val plan = new Pruning(spark, dir, "readPrunedRange",
      pin(spark, dir, version), ranges, parts, eqs)
    val kept = plan.split((_, _) => false)._1.toMap
    // deletion vectors naming a SURVIVING segment (partition AND
    // stats pruning both already applied — `kept` is the final file
    // map) fold as a position anti-join over the pruned union:
    // pruning keeps files, a DV hides rows, and they compose; a probe
    // whose surviving files all miss the DV'd segments plans no join
    // at all. The DV side is match-sized and broadcast-gated.
    // seg/-anchored matching, as in segsMinusTombs (clone prefixes).
    val keptAnchors = kept.keysIterator.map(segAnchor).toSet
    val liveDvs = dvRowsOf(plan.rows).collect {
      case (p, affected)
        if affected.exists(a => keptAnchors(segAnchor(a))) => p
    }
    def batchFrame(batch: Seq[String]): Option[DataFrame] =
      plan.scan(batch.sortBy(pathVersion).flatMap(s => kept.get(s).map(s -> _)),
          pos = liveDvs.nonEmpty)(identity)
        .reduceOption(_.unionByName(_, allowMissingColumns = true))

    // the [[segsMinusTombs]] MVCC fold over pruned per-interval
    // batches: tombstones in ascending version order, each anti-joined
    // once against the accumulated union of the (surviving) segments
    // it postdates
    var acc = Option.empty[DataFrame]
    def add(b: Option[DataFrame]): Unit = (acc, b) match {
      case (Some(a), Some(x)) =>
        acc = Some(a.unionByName(x, allowMissingColumns = true))
      case (None, Some(x)) => acc = Some(x)
      case _ => ()
    }
    var rest = plan.live.sortBy(pathVersion)
    plan.rows.collect { case ("tomb", p) => (pathVersion(p), p) }
      .sortBy(_._1).foreach { case (tv, tp) =>
        val (older, later) = rest.partition(pathVersion(_) < tv)
        add(batchFrame(older))
        rest = later
        acc = acc.map(antiTomb(spark, dir, _, tp))
      }
    add(batchFrame(rest))
    val folded = acc.map(a =>
      if (liveDvs.isEmpty) a
      else antiDv(spark, dir, a, liveDvs).drop("__dv_file", "__dv_ridx"))
    // everything pruned: the snapshot's own schema-stable empty frame
    // (the false filter folds to an empty relation — nothing is read).
    // On an evolved store the pruned union carries only the columns of
    // the segments it kept, so it aligns onto that frame by name (a
    // column no kept segment has is null, as in [[read]]). Both exit
    // under the logical view.
    lazy val empty = rawFrame(spark, dir, plan.rows).where(lit(false))
    val df = toLogical(folded.fold(empty)(a =>
      if (plan.evolved) empty.unionByName(a, allowMissingColumns = true)
      else a), plan.m)
    LayoutOps.PrunedScan(df, plan.filesRead, plan.filesTotal,
      segsRead = plan.live.size, segsTotal = plan.segs.size)
  }

  /** Streaming INSERT feed off the store (the Delta streaming-source
    * shape, on the file-stream machinery the store's layout makes
    * correct by construction): data segments are immutable
    * append-only parquet directories whose names distinguish
    * dataChange (`seg/s*`) from compaction movement (`seg/c*`), so a
    * file stream over the `s*` glob emits every committed insert
    * EXACTLY ONCE and never re-emits a compaction — the downstream
    * incremental-ingest face (each commit's files surface as one
    * micro-batch; FileStreamSource checkpoints file names, so
    * restarts resume).
    *
    * Contract notes, honestly: this is the INSERT feed — tombstones
    * don't retract rows already emitted (no streaming source can);
    * use [[readChanges]] for reconciliation. Orphan segments from
    * crashed commits are the one case the manifest protects batch
    * readers from that a file glob cannot; crashed-commit orphans are
    * rare and removable (vacuum any uncommitted `seg/s*` not named by
    * a manifest).
    */
  def streamInserts(spark: SparkSession, dir: String): DataFrame = {
    streamVocabGuard(spark, dir, "streamInserts")
    // the files are PHYSICAL — pin the physical schema from the
    // latest snapshot (a logical schema over renamed storage would
    // read silent nulls), then project to the logical view
    val (raw, rows) = readRaw(spark, dir)
    toLogical(
      spark.readStream.schema(raw.schema).parquet(s"$dir/seg/s*"),
      colMapOf(rows))
  }

  /** Write-time change data (Delta's `_change_data` design): a
    * deleting/updating commit called with `cdf = true` ALSO writes the
    * affected rows' PREIMAGES (tagged `_change = 'delete'`) under
    * `cdc/` — the price of CDF is paid once at commit time, which is
    * what makes a true STREAMING change feed possible: no streaming
    * source can retroactively compute a preimage, but a file stream
    * over pre-written change files can ship it. Inserts don't write
    * change files (Delta's optimization — the data segment IS the
    * change), so the cdc channel stays proportional to deletes.
    */
  private def writeCdc(spark: SparkSession, dir: String, v: Int,
      preimages: DataFrame): String = {
    val rel = s"cdc/${uniqueName('c', v)}"
    preimages.withColumn("_change", lit("delete"))
      .write.mode("errorifexists").parquet(s"$dir/$rel")
    rel
  }

  /** The STREAMING change-data feed (the Delta CDF streaming-source
    * parity [[processChanges]]' pull loop cannot give): a real
    * Structured Streaming union of
    *
    *  - the insert feed (`seg/s*` — every data-change segment's rows,
    *    compaction movement excluded), tagged `_change = 'insert'`,
    *  - the write-time preimage feed (`cdc/c*` — rows deleted or
    *    replaced by commits that opted into `cdf = true`), already
    *    tagged `_change = 'delete'`,
    *
    * so a streaming query MAINTAINS a downstream aggregate
    * continuously (fold inserts +, deletes −), checkpoint-resumable,
    * with exactly-once composition via [[commitStreamBatch]] in
    * foreachBatch. Contract notes, honestly: the two file sources
    * batch independently, so event ORDER across kinds is not
    * guaranteed — consumers must fold commutatively (sums/counts do)
    * or reconcile via [[readChanges]]; deletes committed WITHOUT
    * `cdf = true` never surface here (exactly Delta: CDF must be on
    * when the change happens); and a RESTORE emits nothing, so feed
    * consumers re-baseline at a restore exactly as [[readChanges]]'
    * scaladoc requires. Unlike the net-change batch feed, an
    * insert-then-delete surfaces as BOTH events.
    *
    * CONTENDED-WRITER race window, honestly: cdc files are
    * glob-visible from the moment their write finishes, BEFORE the
    * manifest rename decides the commit. A conflict LOSER deletes its
    * cdc files ([[commitManifest]]), but a live consumer that
    * already listed one in a micro-batch has folded preimages of a
    * delete that never committed (FileStreamSource never un-reads),
    * or crashes with FileNotFoundException if the file vanishes
    * between its listing and its read. Single-writer stores (the
    * overwhelmingly common deployment — ingest owns its table) never
    * hit this; consumers of multi-writer CONTENDED stores must
    * reconcile via [[readChanges]], whose manifest-diff feed is
    * immune by construction. (Staging cdc files outside the glob and
    * renaming them in after the manifest rename would close this
    * window but open a worse one: a crash between the two renames
    * would silently LOSE committed preimages from the feed.)
    */
  def streamChanges(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    streamVocabGuard(spark, dir, "streamChanges")
    // files under seg/ and cdc/ are PHYSICAL; the logical view is
    // projected per source (the map pinned at stream definition, like
    // the schema — Delta pins table metadata the same way)
    val (raw, rows) = readRaw(spark, dir)
    val m = colMapOf(rows)
    val schema = raw.schema
    // a store with no cdf commit yet has no cdc/ dir — materialize it
    // so the glob source starts empty instead of failing
    hfs(spark, dir).mkdirs(new org.apache.hadoop.fs.Path(s"$dir/cdc"))
    // rate limiting (the Delta CDF source's maxFilesPerTrigger): each
    // file source independently caps its micro-batch, bounding
    // catch-up batches after a long consumer outage
    def limited(r: org.apache.spark.sql.streaming.DataStreamReader) =
      maxFilesPerTrigger.fold(r)(n =>
        r.option("maxFilesPerTrigger", n.toString))
    val inserts = toLogical(limited(spark.readStream.schema(schema))
      .parquet(s"$dir/seg/s*"), m)
      .withColumn("_change", lit("insert"))
    val deletes = toLogical(limited(spark.readStream
        .schema(org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField("_change",
            org.apache.spark.sql.types.StringType))))
      .parquet(s"$dir/cdc/c*"), m, keep = Seq("_change"))
    inserts.unionByName(deletes)
  }

  /** Change-data feed between two committed versions (Delta CDF
    * semantics over the version-encoded directory names):
    *
    *  - `insert` rows = rows of data-change segments (`seg/s*`, never
    *    compaction's `seg/c*`) committed in (fromV, toV], minus any
    *    id tombstoned by toV — an insert-then-delete inside the range
    *    nets OUT (both rules exclude it), exactly Delta's net-change
    *    contract.
    *  - `delete` rows = the PREIMAGE (full row as of fromV) of ids
    *    tombstoned in (fromV, toV] that were visible at fromV — a
    *    delete of an in-range insert nets out here too.
    *
    * The consumer contract a 100 TB pipeline needs: downstream
    * exports re-sync by reading |changed rows|, not by re-scanning
    * the table. Both endpoints' manifests must still exist (loudly —
    * vacuumed history has no change feed). Output = data columns +
    * `_change` ('insert' | 'delete').
    */
  def readChanges(spark: SparkSession, dir: String,
      fromV: Int, toV: Int): DataFrame = {
    require(fromV < toV, s"readChanges needs fromV < toV, got $fromV..$toV")
    val vs = versions(spark, dir)
    Seq(fromV, toV).foreach(v => require(vs.contains(v),
      s"readChanges: version $v does not exist at $dir (have " +
        s"${vs.mkString(",")}) — vacuumed or never committed"))
    // the range's additions come from MANIFEST DIFFS, never from
    // directory listings — orphan directories from crashed commits are
    // invisible here exactly as they are to [[read]]. vacuum only
    // drops a version PREFIX, so fromV existing ⇒ every manifest in
    // (fromV, toV] exists; guard anyway against hand-deleted history
    (fromV to toV).foreach(v => require(vs.contains(v),
      s"readChanges: version $v inside the range is missing at $dir — " +
        s"the change feed needs every manifest in ($fromV, $toV]"))
    val fromManifest = readManifestRows(spark, dir, fromV)
    val fromRows = fromManifest.toSet
    val added = (fromV + 1 to toV)
      .flatMap(v => readManifestRows(spark, dir, v))
      .distinct.filterNot(fromRows)
    // compaction segments are dataChange=false (`c` name prefix):
    // their rows moved, they aren't new
    val newSegs = added.collect {
      case ("seg", p) if !p.startsWith("seg/c") => p
    }
    val newTombs = added.collect { case ("tomb", p) => p }
    val newDvs = added.collect { case ("dv", s) => parseStatsRow(s) }
    // only IN-RANGE tombstones can hide an in-range insert: every
    // newSeg has version > fromV, and under the MVCC ordering rule a
    // tombstone applies only to STRICTLY-OLDER segments, so any tomb
    // still active from before the range (tv ≤ fromV) never matches
    // (an upsert's own rows and later re-inserts survive the same way).
    // In-range DELETION VECTORS net out the same way: one naming an
    // in-range segment's files hides those rows from the insert side,
    // and the delete side below only emits positions VISIBLE at fromV
    // — so an insert-then-dv-delete nets to nothing, exactly the
    // tombstone contract.
    // the feed folds PHYSICAL frames throughout (segments, tombstone
    // keys, DV positions and CDC files all live in storage names) and
    // projects ONCE at the end under the END version's map — one
    // feed, one schema, whatever renames happened inside the range
    val asOfFrom = readRaw(spark, dir, Some(fromV))._1
    val toRows = readManifestRows(spark, dir, toV)
    // a range spanning a MATERIALIZED rename or widening mixes
    // physical file vocabularies among the in-range segments (read
    // together under the END version's map/schema, which no longer
    // describes the pre-materialization files) — a silent-null or
    // read-error hazard, refused like the restore re-baseline: the
    // consumer re-baselines across the materialization
    locally {
      val rangeRows = (fromV until toV)
        .map(v => readManifestRows(spark, dir, v))
      val toEntries = colMapOf(toRows)
        .map(_.entries.toSet).getOrElse(Set.empty[(String, String)])
      val staleRename = rangeRows
        .flatMap(r => colMapOf(r).toSeq).flatMap(_.entries).distinct
        .filter { case (l, p) => l != p }
        .filterNot(toEntries)
      val staleWiden = rangeRows.exists(_.exists(_._1 == "sch")) &&
        schOf(toRows).isEmpty
      require(staleRename.isEmpty && !staleWiden,
        s"readChanges: the range ($fromV, $toV] spans a MATERIALIZED " +
          s"column rename/type widening — in-range segments carry " +
          s"mixed physical vocabularies; re-baseline the consumer " +
          s"across the materializing compaction (the restore " +
          s"discipline)")
    }
    val inserts =
      if (newSegs.isEmpty) asOfFrom.limit(0)
      else segsMinusTombs(spark, dir, newSegs, newTombs,
        // evolved if any manifest touching the range carried the flag
        // (an in-range compaction may have dropped it from toV's while
        // pre-compaction in-range segments still differ in schema)
        evolved = fromRows.exists(_._1 == "evo") ||
          added.exists(_._1 == "evo"),
        dvs = newDvs,
        // widened range: the END version's target types cover every
        // in-range segment (widening is monotone within a range)
        target = schOf(toRows))
    val deletes =
      if (newTombs.isEmpty) asOfFrom.limit(0)
      else {
        val idCols = newTombs.map(p =>
          DriverParquet.schema(spark, Seq(s"$dir/$p")).fieldNames.toSeq)
          .distinct
        require(idCols.size == 1 && idCols.head.size == 1,
          s"readChanges: in-range tombstones disagree on the id column " +
            s"($idCols) — one change feed needs one delete key")
        val ids = DriverParquet.read(spark, newTombs.map(p => s"$dir/$p"))
          .distinct()
        val hinted = if (tombBroadcastGate(spark, dir, newTombs))
          broadcast(ids) else ids
        asOfFrom.join(hinted, Seq(ids.columns.head), "left_semi")
      }
    // DV-delete preimages: the fromV view re-read WITH positions,
    // semi-joined on the in-range DVs' (file, row index) pairs — a DV
    // position in a fromV-invisible file simply never matches (its
    // file isn't in the fromV manifest), which is what nets out an
    // in-range insert-then-dv-delete on this side too
    val dvDeletes =
      if (newDvs.isEmpty) asOfFrom.limit(0)
      else {
        val fromWithPos = rawFrame(spark, dir, fromManifest, keepPos = true)
        val dvF = DriverParquet.read(spark, newDvs.map(d => s"$dir/${d._1}"))
          .select(col("__dv_file"), col("__dv_ridx"))
        val hinted = if (tombBroadcastGate(spark, dir, newDvs.map(_._1)))
          broadcast(dvF) else dvF
        fromWithPos.join(hinted, Seq("__dv_file", "__dv_ridx"),
          "left_semi").drop("__dv_file", "__dv_ridx")
      }
    toLogical(
      inserts.withColumn("_change", lit("insert"))
        .unionByName(deletes.withColumn("_change", lit("delete")),
          allowMissingColumns = true)
        .unionByName(dvDeletes.withColumn("_change", lit("delete")),
          allowMissingColumns = true),
      colMapOf(toRows),
      keep = Seq("_change"))
  }

  /** The TYPED change feed (Delta CDF's `_change_type` rendering):
    * [[readChanges]] refined so an id that both emits a delete
    * preimage AND a net-surviving re-insert inside the range renders
    * as `update_preimage` (the old row) + `update_postimage` (the new
    * row) — exactly Delta's tagging for the atomic upsert/merge, and
    * for a cross-version delete-then-reinsert the NET-change truth
    * this feed already promises (per-version replay is
    * [[processChanges]]' job). Ids only ever deleted stay `delete`;
    * ids only inserted stay `insert`. `idCol` is the pairing key (the
    * store's tombstone key). The pairing is two id-level semi-join
    * tags over the pinned change frame — change feeds are delta-sized,
    * so the id sides are small by construction (AQE broadcasts them
    * on its own; no unconditional hint, a mass-delete feed must not
    * OOM the driver).
    */
  def readChangesTyped(spark: SparkSession, dir: String,
      fromV: Int, toV: Int, idCol: String): DataFrame = {
    val ch = graft.ops.Checkpoints.cut(
      readChanges(spark, dir, fromV, toV), eager = true)
    require(ch.columns.contains(idCol),
      s"readChangesTyped: id column '$idCol' is not in the change " +
        s"feed's schema (${ch.columns.mkString(",")})")
    val ins = ch.where(col("_change") === "insert")
    val del = ch.where(col("_change") === "delete")
    val insIds = ins.select(col(idCol)).distinct()
      .withColumn("__has_ins", lit(true))
    val delIds = del.select(col(idCol)).distinct()
      .withColumn("__has_del", lit(true))
    val typedDel = del.join(insIds, Seq(idCol), "left")
      .withColumn("_change_type",
        when(col("__has_ins"), lit("update_preimage"))
          .otherwise(lit("delete")))
      .drop("__has_ins")
    val typedIns = ins.join(delIds, Seq(idCol), "left")
      .withColumn("_change_type",
        when(col("__has_del"), lit("update_postimage"))
          .otherwise(lit("insert")))
      .drop("__has_del")
    typedIns.unionByName(typedDel).drop("_change")
  }

  /** Read-amplification snapshot of the latest version: (data
    * segments, delete debt) from ONE manifest read — the two numbers
    * the OPTIMIZE cadence watches. Delete debt counts tombstones AND
    * deletion vectors: both put an anti-join on every read until a
    * compaction folds them, so both belong to the same O(table)
    * rewrite trigger.
    */
  def segmentCounts(spark: SparkSession, dir: String): (Int, Int) = {
    val (_, rows) = pin(spark, dir, None)
    (rows.count(_._1 == "seg"),
      rows.count(r => r._1 == "tomb" || r._1 == "dv"))
  }

  /** What an OPTIMIZE cadence fire actually did — the two triggers
    * have different cost classes and callers watching the maintenance
    * budget need to know which one they paid.
    */
  sealed trait OptimizeAction { def version: Int }
  /** An O(small-files) [[compactSmall]] bin-pack fired. */
  final case class BinPacked(version: Int) extends OptimizeAction
  /** An O(table) [[compactZordered]] full rewrite fired. */
  final case class ZOrdered(version: Int) extends OptimizeAction

  /** Threshold-triggered OPTIMIZE — the cadence policy the
    * 64/256-segment read curves imply (read latency grows with raw
    * segment count; compaction restores the floor), SPLIT by cost
    * class exactly as Delta splits OPTIMIZE from OPTIMIZE ZORDER:
    *
    *  - segment-count trigger (`segs > maxSegments`) → [[compactSmall]]
    *    bin-pack, an O(small-files) job that never rewrites the big
    *    segments — the fire that runs every few commits under
    *    continuous ingest, so its cost MUST stay proportional to the
    *    new data, not the table. When no two segments are under
    *    `maxSegBytes`, nothing fires (Delta's OPTIMIZE is the same
    *    no-op on an all-big table — rewriting big segments on a
    *    count trigger would make the maintenance loop O(table) per
    *    ~`maxSegments` commits, the exact wart this split removes).
    *  - tombstone trigger (`tombs > maxTombstones`) → [[compactZordered]]
    *    full rewrite, the rare O(table) fire: folding accumulated
    *    tombstones and restoring the clustered layout genuinely needs
    *    to touch every row, so it keys off delete debt, never off
    *    ingest velocity.
    *
    * Call it after every commit (or on a schedule): cost is one
    * manifest read when idle, and read amplification stays BOUNDED
    * under continuous ingest with rewrite-bytes-per-fire ≪ table
    * bytes (curves in SURVEY §8 r14). History pins and CDC
    * are untouched (both compactions are dataChange=false); concurrent
    * readers keep their manifests. Returns which action fired, or
    * None when idle or when only big segments exceed the count cap.
    */
  def autoOptimize(spark: SparkSession, dir: String,
      maxSegments: Int, maxTombstones: Int, maxSegBytes: Long,
      zCols: Seq[String], nFiles: Int,
      statsCols: Seq[String]): Option[OptimizeAction] = {
    require(maxSegments >= 1 && maxTombstones >= 0 && maxSegBytes > 0,
      s"need maxSegments >= 1, maxTombstones >= 0, maxSegBytes > 0; " +
        s"got ($maxSegments, $maxTombstones, $maxSegBytes)")
    val (segs, tombs) = segmentCounts(spark, dir)
    if (tombs > maxTombstones)
      Some(ZOrdered(compactZordered(spark, dir, zCols, nFiles, statsCols)))
    else if (segs > maxSegments)
      compactSmall(spark, dir, maxSegBytes, statsCols).map(BinPacked.apply)
    else None
  }

  /** On a NON-evolved store every probe column must exist in the
    * store's schema — a typo'd `ColRange.col` would otherwise prune
    * every segment to an empty frame that looks like a valid answer
    * (the same silent-no-match hazard class commitDelete's id-column
    * guard closes). Evolved stores keep the PER-SEGMENT silent skip:
    * a column a segment's schema legitimately omits is null on every
    * row there, so skipping the segment is the correct answer, and
    * requiring global presence would reject valid evolution probes.
    * One footer read (strict schemaGuard pins all segments identical
    * on a non-evolved store).
    */
  private def rangeColsGuard(spark: SparkSession, dir: String,
      segs: Seq[String], evolved: Boolean,
      probeCols: Seq[String], op: String): Unit =
    if (!evolved) {
      val sch = DriverParquet.schema(spark, Seq(s"$dir/${segs.head}"))
        .fieldNames.toSet
      val missing = probeCols.filterNot(sch)
      require(missing.isEmpty,
        s"$op: probe column(s) ${missing.mkString(",")} not in the " +
          s"store's schema (${sch.mkString(",")}) — on a non-evolved " +
          s"store a missing probe column is a typo, and pruning would " +
          s"silently return an empty frame")
    }

  /** Typed literals for the eq probes, validated against the store's
    * own column types — the silent-no-match hazard [[rangeColsGuard]]
    * closes for names, closed here for TYPES: with only a bloom
    * sidecar, an eq value of the wrong runtime type (Int 42 probing a
    * LongType column) hashes differently from the build side's
    * `xxhash64(col)`, the bloom rejects every file, and the residual
    * filter cannot restore rows from files that were never read — a
    * silent empty answer. Exact-widening conversions (Int→Long, a
    * fitting integral, Float→Double) cast to the column's type so the
    * probe hash matches the build side bit for bit; anything lossy or
    * cross-kind refuses loudly (mirroring `cmpStat`'s contract). Type
    * resolution is one footer read on a non-evolved store; an evolved
    * store probes segment footers until one carries the column (the
    * type-flip guard pins it unique), and a column NO segment carries
    * was already refused by name on non-evolved stores / legitimately
    * prunes everything on evolved ones (lit keeps the value's own
    * type there — no bloom was built for an absent column).
    */
  private def eqTypedLits(spark: SparkSession, dir: String,
      segs: Seq[String], evolved: Boolean,
      eqs: Seq[graft.ops.LayoutOps.ColEq], op: String): Seq[Column] =
    if (eqs.isEmpty) Seq.empty
    else {
      val typeOf = scala.collection.mutable.Map.empty[String,
        org.apache.spark.sql.types.DataType]
      val remaining = scala.collection.mutable.Set(eqs.map(_.col): _*)
      val footers = if (evolved) segs else segs.take(1)
      footers.iterator.takeWhile(_ => remaining.nonEmpty).foreach { seg =>
        DriverParquet.schema(spark, Seq(s"$dir/$seg")).foreach { f =>
          if (remaining.remove(f.name)) typeOf(f.name) = f.dataType
        }
      }
      eqs.map(eq => typeOf.get(eq.col)
        .map(dt => typedEqLit(eq.value, dt, eq.col, op))
        .getOrElse(lit(eq.value)))
    }

  private def typedEqLit(value: Any,
      dt: org.apache.spark.sql.types.DataType, c: String,
      op: String): Column = {
    import org.apache.spark.sql.types._
    def fail(): Nothing = throw new IllegalArgumentException(
      s"$op: eq probe for '$c' carries a ${value.getClass.getName} " +
        s"but the store column is ${dt.simpleString} — a mistyped " +
        s"value hashes differently from the bloom build side and " +
        s"would silently prune every file; pass the column's own type")
    def integral(v: Long): Column = dt match {
      case LongType => lit(v)
      case IntegerType if v.isValidInt => lit(v.toInt)
      case ShortType if v.isValidShort => lit(v.toShort)
      case ByteType if v.isValidByte => lit(v.toByte)
      case _ => fail()
    }
    value match {
      case v: Long => integral(v)
      case v: Int => integral(v.toLong)
      case v: Short => integral(v.toLong)
      case v: Byte => integral(v.toLong)
      case v: Double => if (dt == DoubleType) lit(v) else fail()
      case v: Float => dt match {
        case FloatType => lit(v)
        case DoubleType => lit(v.toDouble)
        case _ => fail()
      }
      case v: String => if (dt == StringType) lit(v) else fail()
      case v: Boolean => if (dt == BooleanType) lit(v) else fail()
      case v: java.sql.Timestamp =>
        if (dt == TimestampType) lit(v) else fail()
      case v: java.time.Instant =>
        if (dt == TimestampType) lit(v) else fail()
      case v: java.time.LocalDateTime =>
        if (dt == TimestampNTZType) lit(v) else fail()
      case v: java.sql.Date => if (dt == DateType) lit(v) else fail()
      case v: java.time.LocalDate =>
        if (dt == DateType) lit(v) else fail()
      case v: Array[Byte] => if (dt == BinaryType) lit(v) else fail()
      // a value whose scale exceeds the column's would silently ROUND
      // under a bare cast — the probe would then match a different
      // value than the caller asked for; rescale exactly or refuse
      case v: java.math.BigDecimal => dt match {
        case d: DecimalType =>
          val rescaled = try v.setScale(d.scale) catch {
            case _: ArithmeticException => fail()
          }
          if (rescaled.precision > d.precision) fail()
          lit(rescaled).cast(d)
        case _ => fail()
      }
      case v: BigDecimal => typedEqLit(v.bigDecimal, dt, c, op)
      case _ => fail()
    }
  }

  /** Where a segment's stats sidecar lives: beside a z-root's `data`
    * dir, at the commit root above a partition leaf (one sidecar per
    * partitioned commit, shared by its leaves), or under a plain
    * segment dir (the underscore path its own parquet reads ignore).
    */
  private def sidecarDirOf(dir: String)(seg: String): String =
    if (seg.endsWith("/data"))
      s"$dir/${seg.stripSuffix("/data")}/_stats"
    else {
      val i = seg.indexOf("/__p_")
      if (i >= 0) s"$dir/${seg.substring(0, i)}/_stats"
      else s"$dir/$seg/_stats"
    }

  /** One segment's collected sidecar view: the rows that survived the
    * bloom verdicts, the sidecar's column set, and the PRE-verdict
    * file count (the filesTotal contribution — bloom pruning must
    * count as pruning, not shrink the denominator).
    */
  private final case class SegStats(rows: Seq[org.apache.spark.sql.Row],
      have: Set[String], filesTotal: Int)

  /** Collected per-commit sidecars for the stats-bearing segments of
    * one manifest: segment → [[SegStats]], ONE read per distinct
    * recorded column set. A bloom-free group is read on the driver
    * ([[DriverParquet.collect]], Spark's own parquet reader — no job);
    * a group with bloom columns is one collect job — flat driver JOB
    * count at any segment count either way. The collected ROWS grow
    * with file count (Delta pays the
    * same cost class in its log replay); what keeps the allocation
    * bounded at 100 TB is that probing callers PARTITION-PRUNE
    * `statsOf` before calling ([[Pruning]], the planner behind every
    * pruned face, filters to the partition-surviving segments;
    * [[partitions]] and [[history]] read whole manifests or
    * manifest diffs by design), so a probe reads only the
    * sidecars of commits with at least one surviving leaf — the
    * stats of the partitions it touches, not the table's (sibling-
    * leaf rows inside a touched commit's shared sidecar still ride
    * the collect and drop at attribution; a sidecar is one tiny file
    * per commit, so that slack is per-commit, not per-table).
    * Row→segment attribution is by file path containment.
    *
    * `eqs` with a matching `bloom_<col>` sidecar column evaluate IN
    * the sidecar read plan ([[graft.expr.BloomBytesProbe]] over the
    * binary column): only boolean verdicts are collected, never the
    * filter bytes — at 100 TB file counts the binaries are the bulk
    * of the sidecar and must stay out of the driver. A null verdict
    * (a merged sidecar read where some files lack the filter) keeps
    * the file conservatively; an eq column with no bloom anywhere in
    * the group is simply unpruned here (min/max may still act on it).
    */
  private def segStatRows(spark: SparkSession, dir: String,
      statsOf: Map[String, Seq[String]],
      eqs: Seq[(graft.ops.LayoutOps.ColEq, Column)] = Nil)
      : Seq[(String, SegStats)] = {
    val out = scala.collection.mutable.Map.empty[String,
      (scala.collection.mutable.Buffer[org.apache.spark.sql.Row],
        Set[String], Int)]
    statsOf.groupBy(_._2).foreach { case (_, group) =>
      val groupSegs = group.keys.toSeq.sorted
      // distinct: every partition leaf of one commit shares the ONE
      // sidecar written at the commit root
      val statsDirs = groupSegs.map(sidecarDirOf(dir)).distinct
      // sidecar dirs live under write-once unique segment roots, so
      // the schema memo applies to them too. The read names the
      // sidecars' part files: a `_stats` root is a hidden path to
      // Spark, which warns on every read that lists one.
      val files = DriverParquet.dataFiles(spark, statsDirs)
      val schema = schemaMemoOf(spark, files, mergeSchema = false)
      val have = schema.fieldNames.toSet
      val verdicts = eqs.zipWithIndex.collect {
        case ((eq, typedLit), i) if have.contains(s"bloom_${eq.col}") =>
          // the probe hashes the TYPED literal — build and probe must
          // agree on the value's binary image (eqTypedLits' contract)
          graft.expr.BloomBytesProbe.probe(col(s"bloom_${eq.col}"),
            xxhash64(typedLit)).as(s"__bloom_keep_$i")
      }
      val base = schema.fieldNames.filterNot(_.startsWith("bloom_"))
        .map(col).toSeq
      // a bloom-free group is files-sized and read on the driver (no
      // job); a bloom group stays a Spark read with the verdicts
      // computed inside it, so the binaries never collect
      val collected =
        if (base.size == schema.size) DriverParquet.collect(spark, files, schema)
        else spark.read.schema(schema).parquet(files: _*)
          .select(base ++ verdicts: _*).collect().toSeq
      val nBase = base.size
      val nVerd = verdicts.size
      groupSegs.foreach(seg => out(seg) =
        (scala.collection.mutable.Buffer.empty, have, 0))
      // a shared commit-root sidecar names EVERY leaf's files — a row
      // for a sibling leaf this probe excluded (partition pruning
      // filtered statsOf before we got here) is skipped, not an error;
      // a file outside every involved commit root stays loud (corrupt).
      // Attribution matches on the `seg/`-anchored SUFFIX
      // ([[segAnchor]]): a shallow clone's segment references carry a
      // relative-path prefix while the sidecar recorded the file's
      // source-resolved path — the anchored forms agree (and are
      // identical for local segments).
      val groupRoots = statsDirs
        .map(_.stripPrefix(s"$dir/").stripSuffix("/_stats"))
        .map(segAnchor).distinct
      collected.foreach { r =>
        val f = graft.ops.LayoutOps.decodeStatFile(r.getAs[String]("file"))
        groupSegs.find(sg => f.contains(s"/${segAnchor(sg)}/")) match {
          case Some(seg) =>
            val (buf, h, n) = out(seg)
            out(seg) = (buf, h, n + 1)
            val keep = (0 until nVerd).forall(i =>
              r.isNullAt(nBase + i) || r.getBoolean(nBase + i))
            if (keep) buf += r
          case None =>
            if (!groupRoots.exists(rt => f.contains(s"/$rt/")))
              throw new IllegalStateException(
                s"sidecar names a file outside its segments: $f")
        }
      }
    }
    out.toSeq.map { case (seg, (b, h, n)) => seg -> SegStats(b.toSeq, h, n) }
  }

  /** The one pruning planner behind the store's pruned faces —
    * [[readPrunedRange]] (and [[readPrunedLatest]] through it),
    * [[countPrunedRange]], [[minMaxPrunedRange]], [[sumPrunedRange]]
    * and [[commitDeleteWhere]]'s suspect set. It is the Delta add-file
    * design (Armbrust et al., VLDB 2020): per-file stats prune, a
    * row-level residual keeps the answer exact, and each face adds
    * only its own fold. Construction does the driver-only steps over
    * one pinned manifest (`pinned`, from [[pin]]): the tombstone/DV
    * refusal of the metadata-answered faces (`refuse` renders the
    * message after the `op: v<N> at <dir> carries` prefix), the
    * widening guard, the logical → physical translation of every
    * probe name and `target`, the probe-column guard, the typed eq
    * literals, partition pruning, then the stats rows of the
    * SURVIVING segments only and the residual. [[split]] runs the one
    * sidecar walk; [[scan]] reads the files it leaves.
    */
  private final class Pruning(spark: SparkSession, dir: String,
      op: String, pinned: (Int, Seq[(String, String)]),
      ranges: Seq[LayoutOps.ColRange], parts: Map[String, Set[String]],
      eqs: Seq[LayoutOps.ColEq] = Nil, target: Option[String] = None,
      refuse: Option[(Int, Int) => String] = None) {
    val (v, rows) = pinned
    require(parts.forall(_._2.nonEmpty),
      s"$op: empty allowed-value set for partition column(s) " +
        parts.filter(_._2.isEmpty).keys.mkString(","))
    refuse.foreach { msg =>
      val (nTombs, nDvs) = (rows.count(_._1 == "tomb"), rows.count(_._1 == "dv"))
      require(nTombs == 0 && nDvs == 0,
        s"$op: v$v at $dir carries ${msg(nTombs, nDvs)}")
    }
    val segs: Seq[String] = rows.collect { case ("seg", p) => p }
    val evolved: Boolean = rows.exists(_._1 == "evo")
    widenGuard(rows, op)
    // probes arrive LOGICAL; stats, partition paths and footers are
    // physical — translate once at entry
    val m: Option[ColMap] = colMapOf(rows)
    private val pRanges = ranges.map(r => r.copy(col = physN(m, r.col, op)))
    private val pParts = parts.map { case (c, a) => (physN(m, c, op), a) }
    private val pEqs = eqs.map(e => e.copy(col = physN(m, e.col, op)))
    val pTarget: Option[String] = target.map(physN(m, _, op))
    private val probeCols =
      pRanges.map(_.col) ++ pParts.keys ++ pEqs.map(_.col) ++ pTarget
    rangeColsGuard(spark, dir, segs, evolved, probeCols, op)
    private val eqLits = eqTypedLits(spark, dir, segs, evolved, pEqs, op)
    // PARTITION pruning first — segments whose path-recorded values
    // miss the predicate drop before any sidecar or file is touched
    // (the reason partition columns exist at 100 TB: neither their
    // sidecars nor their listings cost anything). Unrecorded segments
    // keep conservatively; the row residual keeps the result exact.
    val live: Seq[String] = segs.filter(partKeep(_, pParts))
    private val liveSet = live.toSet
    private val statsOf: Map[String, Seq[String]] = rows.collect {
      case ("stats", s) => parseStatsRow(s)
    }.toMap.filter { case (seg, _) => liveSet(seg) }
    // the residual re-applies EVERY predicate kind row-level: ranges
    // as typed between, partition values as the dir-name string form
    // (hive renders integral/string partition values canonically),
    // equality probes as typed equals
    val residual: Column = (pRanges.map(rg =>
        bq(rg.col).between(lit(rg.lo), lit(rg.hi))) ++
      pParts.toSeq.sortBy(_._1).map { case (c, allowed) =>
        bq(c).cast("string").isin(allowed.toSeq.sorted: _*) } ++
      pEqs.zip(eqLits).map { case (eq, l) => bq(eq.col) === l })
      .reduce(_ && _)
    // an eq probe also prunes as a degenerate min/max range (its bloom
    // verdicts already filtered inside segStatRows' read plan), but a
    // bloom never proves containment — might-contain admits false
    // positives — so an eq-contained file needs min = value = max
    private val rangesAll = pRanges ++
      pEqs.map(eq => LayoutOps.ColRange(eq.col, eq.value, eq.value))
    // Per-segment file lists, driver-cheap at ANY segment count: the
    // manifest names each sidecar's columns, so same-shaped sidecars
    // read as ONE job (usually one total — per-segment jobs were
    // measured 5× slower than the full scan at 64 segments of bench
    // data, all scheduling overhead). Segments committed without stats
    // are listed in full on the driver (no job) and read whole.
    private lazy val walked = segStatRows(spark, dir, statsOf, pEqs.zip(eqLits))
    private lazy val listed = live.filterNot(statsOf.contains).map(seg =>
      seg -> DriverParquet.dataFiles(spark, Seq(s"$dir/$seg")))
    lazy val filesTotal: Int =
      walked.map(_._2.filesTotal).sum + listed.map(_._2.size).sum
    private def usable(ss: SegStats): Seq[LayoutOps.ColRange] =
      rangesAll.filter(rg =>
        ss.have(s"min_${rg.col}") && ss.have(s"max_${rg.col}"))

    /** The sidecar walk sorts each file of a stats-bearing live
      * segment into CONTAINED (its segment's partition values exactly
      * match and its stats put every row inside every range with no
      * nulls — `answer` takes it from metadata by returning true),
      * SCAN (its stats overlap) or SKIP; a no-stats segment scans
      * whole. Returns the files to scan per segment and how many
      * files `answer` took.
      */
    def split(answer: (org.apache.spark.sql.Row, Set[String]) => Boolean)
        : (Seq[(String, Seq[String])], Int) = {
      var meta = 0
      val fromStats = walked.flatMap { case (seg, ss) =>
        val exact = scopeMatch(seg, pParts)
        val keep = usable(ss)
        val files = ss.rows.filter { r =>
          if (exact && LayoutOps.containedFile(r, rangesAll, ss.have) &&
              answer(r, ss.have)) { meta += 1; false }
          else LayoutOps.keepFile(r, keep)
        }.map(r => LayoutOps.decodeStatFile(r.getAs[String]("file")))
        if (files.isEmpty) None else Some(seg -> files)
      }
      (fromStats ++ listed.filter(_._2.nonEmpty), meta)
    }

    /** The live segments a probe may touch, listing none: a segment
      * committed without stats always may (conservative), and on an
      * evolved store one whose schema omits a probe column never does
      * (the [[scan]] rule — and a predicate over a column no touched
      * segment carries would not even resolve).
      */
    def touched: Seq[String] = {
      val hit = walked.collect {
        case (seg, ss) if ss.rows.exists(LayoutOps.keepFile(_, usable(ss))) => seg
      }.toSet
      live.filter(s => (hit(s) || !statsOf.contains(s)) &&
        (!evolved || probeCols.forall(footer(s).fieldNames.contains)))
    }

    /** A segment's footer schema, read once per planner (on the
      * driver, no job) — what an evolved store's faces group and skip
      * segments by.
      */
    private val footers = scala.collection.mutable.Map.empty[String,
      org.apache.spark.sql.types.StructType]
    private def footer(seg: String) = footers.getOrElseUpdate(seg,
      DriverParquet.schema(spark, Seq(s"$dir/$seg")))

    /** Files read by [[scan]] so far. */
    var filesRead = 0

    /** `f` over `files` under the residual: ONE relation on a
      * non-evolved store (strict schemaGuard pins identical schemas —
      * no footer merge needed), one per distinct segment footer
      * schema on an evolved store, so each relation stays
      * single-schema and a probe pays a job per schema, not per
      * segment. A relation whose schema omits a probe column
      * contributes nothing (null never sits in an inclusive range,
      * and never matches a partition-value set). `pos` attaches the
      * deletion-vector position columns first.
      */
    def scan[A](files: Seq[(String, Seq[String])], pos: Boolean = false)(
        f: DataFrame => A): Seq[A] = {
      val relations =
        if (!evolved) Seq(files.flatMap(_._2)).filter(_.nonEmpty)
          .map(fls => DriverParquet.read(spark, fls) -> fls.size)
        else {
          val bySchema = files.filter(_._2.nonEmpty)
            .map { case (seg, fls) => (footer(seg), fls) }
          bySchema.map(_._1).distinct.map { sch =>
            val fls = bySchema.filter(_._1 == sch).flatMap(_._2)
            spark.read.schema(sch).parquet(fls: _*) -> fls.size
          }
        }
      relations.flatMap { case (raw, n) =>
        val df = if (pos) withPosCols(raw) else raw
        if (probeCols.exists(!df.columns.contains(_))) None
        else { filesRead += n; Some(f(df.where(residual))) }
      }
    }
  }

  /** A metadata-answered range COUNT: how many rows satisfy the
    * conjunction of ranges, reading ONLY boundary files. Files whose
    * sidecar proves containment (min/max inside the range, zero
    * nulls) contribute their recorded `n_rows` without being opened
    * — the Delta/Iceberg stats-answered `count(*)`; files that merely
    * OVERLAP are scanned with the residual filter; disjoint files are
    * skipped. Valid on tombstone-free views only (loud otherwise — a
    * tombstone hides ids, which no range metadata can count; compact
    * first, or count `readPrunedRange(...).df`). Returns the count
    * plus the evidence split (files scanned / answered from metadata
    * / total). What this face adds to the shared [[Pruning]] planner:
    * the `n_rows` sum over contained files plus the scanned count.
    */
  final case class CountScan(count: Long, filesScanned: Int,
      filesMetaAnswered: Int, filesTotal: Int,
      segsRead: Int = -1, segsTotal: Int = -1)

  def countPrunedRange(spark: SparkSession, dir: String,
      ranges: Seq[graft.ops.LayoutOps.ColRange],
      version: Option[Int] = None,
      parts: Map[String, Set[String]] = Map.empty,
      eqs: Seq[graft.ops.LayoutOps.ColEq] = Nil): CountScan = {
    require(ranges.nonEmpty || parts.nonEmpty || eqs.nonEmpty,
      "countPrunedRange needs at least one range, partition or " +
        "equality predicate")
    val plan = new Pruning(spark, dir, "countPrunedRange",
      pin(spark, dir, version), ranges, parts, eqs,
      refuse = Some((t, d) =>
        if (t > 0) s"$t tombstone(s) — hidden ids defeat range " +
          s"metadata; compact first, or count readPrunedRange(...).df"
        else s"$d deletion vector(s) — dv-hidden rows defeat row " +
          s"metadata exactly as tombstones do; compact first, or " +
          s"count readPrunedRange(...).df"))
    // a contained file answers with its recorded n_rows
    var meta = 0L
    val (scan, metaFiles) = plan.split { (r, have) =>
      have("n_rows") && { meta += r.getAs[Long]("n_rows"); true }
    }
    CountScan(meta + plan.scan(scan)(_.count()).sum,
      scan.map(_._2.size).sum, metaFiles, plan.filesTotal,
      segsRead = plan.live.size, segsTotal = plan.segs.size)
  }

  /** [[minMaxPrunedRange]]'s evidence: the extremes (null when no row
    * satisfies the probe — SQL MIN/MAX over an empty set) plus the
    * same scan-split countPrunedRange reports.
    */
  final case class MinMaxScan(min: Any, max: Any, filesScanned: Int,
      filesMetaAnswered: Int, filesTotal: Int,
      segsRead: Int = -1, segsTotal: Int = -1)

  /** Metadata-answered MIN/MAX (the other half of the
    * aggregate-pushdown story [[countPrunedRange]] opened — Delta/
    * Iceberg answer both from file stats): the extremes of `target`
    * over rows satisfying the conjunction of `ranges` and `parts`,
    * reading ONLY boundary files. A file whose sidecar proves
    * CONTAINMENT (probe min/max inside the range, zero probe nulls,
    * partition values exactly matched) contributes its recorded
    * `min_<target>`/`max_<target>` without being opened — valid
    * precisely because every one of its rows satisfies the probe, and
    * the stats' null-skipping matches SQL MIN/MAX's; a file that
    * merely OVERLAPS is scanned with the residual filter (unlike
    * COUNT, its stats span rows outside the probe, so they can only
    * bound, never answer); disjoint files are skipped. Tombstones and
    * deletion vectors refuse loudly (a hidden row could BE the
    * extreme); a contained file with no recorded target stats
    * downgrades to a scan (conservative, never wrong). Null-only
    * target files contribute nothing, exactly as SQL MIN/MAX skips
    * nulls. What this face adds to the shared [[Pruning]] planner:
    * the `cmpStat` extreme fold over recorded and scanned extremes.
    */
  def minMaxPrunedRange(spark: SparkSession, dir: String,
      target: String, ranges: Seq[graft.ops.LayoutOps.ColRange],
      version: Option[Int] = None,
      parts: Map[String, Set[String]] = Map.empty): MinMaxScan = {
    require(ranges.nonEmpty || parts.nonEmpty,
      "minMaxPrunedRange needs at least one range or partition predicate")
    val plan = new Pruning(spark, dir, "minMaxPrunedRange",
      pin(spark, dir, version), ranges, parts, target = Some(target),
      refuse = Some((t, d) =>
        (if (t > 0) s"$t tombstone(s) — a hidden row"
         else s"$d deletion vector(s) — a dv-hidden row") +
          " could be the extreme; compact first, or aggregate " +
          "readPrunedRange(...).df"))
    val pTarget = plan.pTarget.get
    // a contained file answers with its recorded extremes; a null min
    // means the file's target is all-null — SQL MIN/MAX skips it, so
    // the file contributes nothing
    val cand = scala.collection.mutable.Buffer.empty[(Any, Any)]
    val (scan, metaFiles) = plan.split { (r, have) =>
      have(s"min_$pTarget") && have(s"max_$pTarget") && {
        if (!r.isNullAt(r.fieldIndex(s"min_$pTarget")))
          cand += ((r.getAs[Any](s"min_$pTarget"),
            r.getAs[Any](s"max_$pTarget")))
        true
      }
    }
    plan.scan(scan)(_.agg(min(bq(pTarget)), max(bq(pTarget))).head())
      .foreach(r => if (!r.isNullAt(0)) cand += ((r.get(0), r.get(1))))
    val (mn, mx) =
      if (cand.isEmpty) (null, null)
      else (cand.map(_._1).reduce((a, b) =>
          if (LayoutOps.cmpStat(a, b, target) <= 0) a else b),
        cand.map(_._2).reduce((a, b) =>
          if (LayoutOps.cmpStat(a, b, target) >= 0) a else b))
    MinMaxScan(mn, mx, scan.map(_._2.size).sum, metaFiles,
      plan.filesTotal, segsRead = plan.live.size,
      segsTotal = plan.segs.size)
  }

  /** [[sumPrunedRange]]'s evidence: the exact sum (null when every
    * probed value is null or no row matches), the non-null value
    * count (SUM's and AVG's denominator), and the scan split.
    */
  final case class SumScan(sum: java.math.BigDecimal, count: Long,
      filesScanned: Int, filesMetaAnswered: Int, filesTotal: Int,
      segsRead: Int = -1, segsTotal: Int = -1)

  /** Metadata-answered SUM (and AVG via sum/count — the last member
    * of the aggregate-pushdown family COUNT/MIN/MAX opened): the
    * exact sum of `target` over rows satisfying the conjunction of
    * `ranges` and `parts`. A CONTAINED file (probe min/max inside the
    * range, zero probe nulls, exactly-matched partition values)
    * contributes its recorded `sum_<target>` and its non-null count
    * (`n_rows - nulls_<target>`) without being opened; boundary
    * files scan; disjoint files skip. INTEGRAL target columns only,
    * loudly: sums ride DECIMAL(38,0) end to end (per-file at write,
    * combine here, cast at the edge), so the answer is exact and
    * merge-order-free — a floating target would make the
    * metadata-answered value disagree with a scan by fold order,
    * which is the one wrong thing a metadata face can do (aggregate
    * `readPrunedRange(...).df` for those). Tombstones/DVs refuse; a
    * contained file without a recorded sum downgrades to a scan.
    * What this face adds to the shared [[Pruning]] planner: the
    * integral-type check and the DECIMAL(38,0) sum/count fold.
    */
  def sumPrunedRange(spark: SparkSession, dir: String,
      target: String, ranges: Seq[graft.ops.LayoutOps.ColRange],
      version: Option[Int] = None,
      parts: Map[String, Set[String]] = Map.empty): SumScan = {
    require(ranges.nonEmpty || parts.nonEmpty,
      "sumPrunedRange needs at least one range or partition predicate")
    val plan = new Pruning(spark, dir, "sumPrunedRange",
      pin(spark, dir, version), ranges, parts, target = Some(target),
      refuse = Some((_, _) => "tombstones/deletion vectors — hidden " +
        "rows defeat row metadata; compact first, or aggregate " +
        "readPrunedRange(...).df"))
    val pTarget = plan.pTarget.get
    // the integral-only contract, checked against the store's own
    // type. On an EVOLVED store the column may be absent from older
    // segments — probe footers until one carries it (the eqTypedLits
    // discipline; segs.head alone could predate the column and let a
    // floating target silently round through the DECIMAL cast); a
    // column NO segment carries is a typo, refused loudly.
    locally {
      import org.apache.spark.sql.types._
      val footers = if (plan.evolved) plan.segs else plan.segs.take(1)
      val dt = footers.iterator
        .flatMap(seg => DriverParquet.schema(spark, Seq(s"$dir/$seg"))
          .find(_.name == pTarget).map(_.dataType))
        .nextOption()
      dt match {
        case Some(ByteType | ShortType | IntegerType | LongType) => ()
        case Some(t) => throw new IllegalArgumentException(
          s"sumPrunedRange: target '$target' is ${t.simpleString} — " +
            s"only integral sums are exact and merge-order-free; " +
            s"aggregate readPrunedRange(...).df for floating columns")
        case None => throw new IllegalArgumentException(
          s"sumPrunedRange: target '$target' exists in no segment of " +
            s"$dir — an absent column can only be a typo")
      }
    }
    var acc: java.math.BigDecimal = null
    var cnt = 0L
    def add(x: java.math.BigDecimal, n: Long): Unit = {
      acc = if (acc == null) x else acc.add(x)
      cnt += n
    }
    // a contained file answers with its recorded sum and non-null
    // count. A null recorded sum with ZERO non-null rows = the file's
    // target is all-null: SQL SUM skips it and the count contribution
    // is zero. A null sum over non-null rows is an INCONSISTENT
    // sidecar row (e.g. a pre-sum sidecar read in a mixed statsCols
    // group) — contributing nothing would silently undercount, so
    // that file falls back to a scan.
    val (scan, metaFiles) = plan.split { (r, have) =>
      have(s"sum_$pTarget") && have(s"nulls_$pTarget") &&
        have("n_rows") && {
          val i = r.fieldIndex(s"sum_$pTarget")
          val nonNull = r.getAs[Long]("n_rows") -
            r.getAs[Long](s"nulls_$pTarget")
          if (!r.isNullAt(i)) add(r.getDecimal(i), nonNull)
          !r.isNullAt(i) || nonNull == 0L
        }
    }
    plan.scan(scan)(_.agg(
        sum(bq(pTarget).cast(org.apache.spark.sql.types.DecimalType(38, 0))),
        count(bq(pTarget))).head())
      .foreach(r => if (!r.isNullAt(0)) add(r.getDecimal(0), r.getLong(1)))
    SumScan(acc, cnt, scan.map(_._2.size).sum, metaFiles, plan.filesTotal,
      segsRead = plan.live.size, segsTotal = plan.segs.size)
  }

  /** SHOW PARTITIONS with row counts, answered from METADATA alone
    * (the Delta `SHOW PARTITIONS` / `DESCRIBE DETAIL` observability
    * face): per distinct partition tuple of the pinned snapshot, the
    * segment count and the exact row count — derived from the
    * manifest's leaf paths and the per-commit sidecars' `n_rows`,
    * with NO data file opened. Loud preconditions keep it exact:
    * tombstones refuse (hidden ids defeat row metadata — compact
    * first), an unpartitioned segment refuses (it belongs to no
    * partition tuple), and a segment committed without stats refuses
    * (silently undercounting a metadata answer is the one wrong
    * thing a metadata face can do). Output: one row per partition
    * tuple — the partition columns (string-typed, the dir-name form)
    * + n_segments + n_rows.
    */
  def partitions(spark: SparkSession, dir: String,
      version: Option[Int] = None): DataFrame = {
    val (v, rows) = pin(spark, dir, version)
    val segs = rows.collect { case ("seg", p) => p }
    val tombs = rows.count(_._1 == "tomb")
    require(tombs == 0,
      s"partitions: v$v at $dir carries $tombs tombstone(s) — hidden " +
        s"ids defeat row metadata; compact first")
    val nDvs = rows.count(_._1 == "dv")
    require(nDvs == 0,
      s"partitions: v$v at $dir carries $nDvs deletion vector(s) — " +
        s"dv-hidden rows defeat row metadata; compact first")
    widenGuard(rows, "partitions")
    val vals = segs.map(s => s -> segPartValues(s)).toMap
    val bare = segs.filter(vals(_).isEmpty)
    require(bare.isEmpty,
      s"partitions: ${bare.size} unpartitioned segment(s) at v$v " +
        s"(${bare.take(3).mkString(",")}…) belong to no partition " +
        s"tuple — run compactPartitioned first")
    val cols = vals.values.flatMap(_.keys).toSeq.distinct.sorted
    require(vals.values.forall(_.keySet == cols.toSet),
      s"partitions: segments disagree on the partition columns " +
        s"(${vals.values.map(_.keySet).toSeq.distinct.mkString(" vs ")})")
    val statsOf: Map[String, Seq[String]] = rows.collect {
      case ("stats", s) => parseStatsRow(s)
    }.toMap
    val missing = segs.filterNot(statsOf.contains)
    require(missing.isEmpty,
      s"partitions: ${missing.size} segment(s) carry no stats sidecar " +
        s"— n_rows would silently undercount; re-commit with statsCols")
    val perSeg = segStatRows(spark, dir, statsOf).toMap
    val out = segs.groupBy(vals).toSeq.map { case (tuple, gsegs) =>
      val n = gsegs.map(sg =>
        perSeg(sg).rows.map(_.getAs[Long]("n_rows")).sum).sum
      org.apache.spark.sql.Row.fromSeq(
        cols.map(tuple) ++ Seq(gsegs.size.toLong, n))
    }
    // a driver-built rows-per-partition frame (hive-unescaped values
    // may carry spaces/colons — never round-trip them through a
    // delimiter); tiny by construction
    // paths encode PHYSICAL names — render the logical view; a
    // partition column whose logical was DROPPED has no honest
    // rendering (the layout still prunes on it, but the user can't
    // name it), so refuse like the other metadata preconditions
    val outCols = colMapOf(rows) match {
      case None => cols
      case Some(cm) =>
        val p2l = cm.entries.map(_.swap).toMap
        cols.map(p => p2l.getOrElse(p,
          throw new IllegalArgumentException(
            s"partitions: partition column '$p' was dropped from the " +
              s"logical schema — compact to materialize the layout " +
              s"before listing partitions")))
    }
    val schema = org.apache.spark.sql.types.StructType(
      outCols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)) ++
        Seq(org.apache.spark.sql.types.StructField("n_segments",
          org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /** The operation kinds that change table CONTENT (Delta's
    * dataChange flag): maintenance rewrites (compactions, z-orders,
    * repartitions) and constraint edits move or annotate rows without
    * changing what a read returns.
    */
  private val DataChangeOps: Set[String] =
    Set("append", "delete", "upsert", "merge", "streamBatch", "restore",
      "clone")

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`): a new
    * store root whose FIRST manifest references the source's segment
    * / tombstone / DV / stats paths READ-ONLY via a relative-path
    * prefix — zero data copied, one manifest written. The clone then
    * lives its own life copy-on-write: local commits write local
    * directories, [[compact]] materializes it fully local (dropping
    * every source reference), history/time travel work, and
    * [[vacuum]] on the CLONE can never touch source files (its sweep
    * lists only local children). The dev/test lever: fork a 100 TB
    * table in O(1) files, run a destructive experiment, throw the
    * root away.
    *
    * The clone's first version number IS the pinned source version —
    * that is what keeps the MVCC ordering rule coherent: every cloned
    * path's encoded commit version is ≤ the pin, so a clone-local
    * tombstone (committed at pin+1 or later) correctly hides cloned
    * rows, while the cloned tombstones keep their original ordering
    * among the cloned segments.
    *
    * Contract, honestly: the source must STAY at `src` — the clone
    * pins by reference, so vacuuming the source below the pinned
    * version (or moving its root) breaks the clone (Delta's shallow
    * clone has exactly this property); materialize with [[compact]]
    * first if the source's lifecycle is not yours. Streaming txn
    * markers do NOT carry (a fresh lineage must not inherit replay
    * dedup state), and [[streamInserts]]/[[streamChanges]] on a clone
    * cover clone-LOCAL commits only (file globs don't cross roots).
    * Same-filesystem plain paths only — the relative hop is computed
    * with filesystem semantics, loudly refused for scheme'd URIs.
    */
  def clone(spark: SparkSession, src: String, dst: String,
      version: Option[Int] = None): Int = {
    require(!src.contains("://") && !dst.contains("://"),
      s"clone: plain same-filesystem paths only (got '$src' -> '$dst')")
    val (at, srcRows) = pin(spark, src, version, "clone: ")
    require(versions(spark, dst).isEmpty,
      s"clone: $dst already holds a committed store")
    val srcAbs = java.nio.file.Paths.get(src).toAbsolutePath.normalize
    val dstAbs = java.nio.file.Paths.get(dst).toAbsolutePath.normalize
    require(srcAbs != dstAbs, "clone: src and dst are the same root")
    val rel = dstAbs.relativize(srcAbs).toString
    def ref(p: String): String = s"$rel/$p"
    val rows = srcRows.flatMap {
      case ("seg", p) => Seq(("seg", ref(p)))
      case ("tomb", p) => Seq(("tomb", ref(p)))
      case ("stats", s) =>
        val (p, cols) = parseStatsRow(s)
        Seq(("stats", s"${ref(p)};${cols.mkString(",")}"))
      case ("dv", s) =>
        val (p, segs) = parseStatsRow(s)
        Seq(("dv", s"${ref(p)};${segs.map(ref).mkString(",")}"))
      case ("txn", _) => Seq.empty // fresh stream lineage
      case other => Seq(other) // chk, evo — table rules clone
    }
    Head(spark, dst, "clone", at, Seq.empty).publish(rows, "clone")
  }

  /** DESCRIBE HISTORY (Delta's observability face): one row per
    * RETAINED version, ascending — the operation kind recorded at
    * commit time (`op` manifest row; "unknown" for manifests written
    * before the record existed), whether it changed data, and the
    * MANIFEST-DIFF footprint vs the previous retained version:
    * segments added, rows added (summed from the added segments'
    * stats sidecars — -1 when any added segment carries no sidecar:
    * honest unknowability beats a silent undercount, the metadata-face
    * discipline), tombstoned id cardinality (an UPPER bound on rows
    * hidden — an upsert's tombstone pairs with same-version
    * re-inserts), dv-deleted positions, and the commit wall-clock.
    * Vacuumed versions render nothing (their manifests are gone), and
    * the earliest retained version reports its full manifest as
    * added; a RESTORE therefore re-reports the segments it re-exposed
    * — the diff is honest about what became readable, not about bytes
    * written. Driver work is manifest-sized; the one sidecar pass is
    * grouped (segStatRows), and tombstone/DV cardinalities are the
    * row counts in those files' parquet footers (no job, no data
    * read).
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed snapshot at $dir")
    val manifests = vs.map(v => v -> readManifestRows(spark, dir, v)).toMap
    val addedOf: Map[Int, Seq[(String, String)]] = vs.zipWithIndex.map {
      case (v, i) =>
        val prev = if (i == 0) Set.empty[(String, String)]
          else manifests(vs(i - 1)).toSet
        v -> manifests(v).filterNot(prev).filterNot(_._1 == "op")
    }.toMap
    val statSegs: Map[String, Seq[String]] =
      addedOf.values.flatten.collect {
        case ("stats", s) => parseStatsRow(s)
      }.toMap
    val perSeg = segStatRows(spark, dir, statSegs)
      .map { case (sg, ss) =>
        sg -> ss.rows.map(_.getAs[Long]("n_rows")).sum
      }.toMap
    def countRows(path: String): Long =
      DriverParquet.rowCount(spark, Seq(s"$dir/$path"))
    val out = vs.map { v =>
      val added = addedOf(v)
      val segsAdded = added.collect { case ("seg", p) => p }
      val rowsAdded =
        if (segsAdded.isEmpty) 0L
        else if (segsAdded.forall(perSeg.contains)) segsAdded.map(perSeg).sum
        else -1L
      val idsTomb = added.collect { case ("tomb", p) => p }
        .map(countRows).sum
      val dvRows = added.collect { case ("dv", s) => parseStatsRow(s)._1 }
        .map(countRows).sum
      val op = manifests(v).collectFirst { case ("op", o) => o }
        .getOrElse("unknown")
      org.apache.spark.sql.Row(v, commitTime(spark, dir, v), op,
        DataChangeOps.contains(op), segsAdded.size, rowsAdded, idsTomb,
        dvRows)
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("ts_millis", LongType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("data_change", BooleanType, nullable = false),
      StructField("segs_added", IntegerType, nullable = false),
      StructField("rows_added", LongType, nullable = false),
      StructField("ids_tombstoned", LongType, nullable = false),
      StructField("dv_rows", LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /** Version-cursor change-feed processing — the MAINTENANCE face
    * over [[readChanges]] (Delta's streaming CDF consumer shape,
    * without needing a long-running query): each call reads the
    * changes from the persisted cursor to the latest committed
    * version, hands them to `f` as ONE batch (insert rows + delete
    * preimages, the `_change` column), and only THEN advances the
    * cursor. The range is WRITE-AHEAD PINNED in an intent file before
    * `f` runs, so a crash anywhere replays the SAME (fromV, toV] on
    * restart — never a recomputed wider range, which would fold the
    * already-committed prefix under a NEW batch id and double-apply
    * it if ingest committed between the crash and the replay.
    * EXACTLY-ONCE therefore composes the same way the streaming sink
    * gets it: have `f` commit its output through [[commitStreamBatch]]
    * with `batchId = toV` — the pinned replay re-offers the same
    * batch id and no-ops. A missing cursor
    * file starts from `baseline` (the version the caller's base state
    * was computed at). Returns the processed (fromV, toV), or None
    * when already caught up.
    *
    * This is what keeps q191's incremental aggregate maintained
    * CONTINUOUSLY: base at v_b, then one delta log append per
    * processed range, readout = base + folded deltas — cost per call
    * ∝ |changed rows| since the cursor, never a table re-scan.
    */
  def processChanges(spark: SparkSession, dir: String, cursorPath: String,
      baseline: Int)(f: (DataFrame, Int, Int) => Unit): Option[(Int, Int)] = {
    val fs = hfs(spark, cursorPath)
    val cp = new org.apache.hadoop.fs.Path(cursorPath)
    val ip = new org.apache.hadoop.fs.Path(s"$cursorPath.intent")
    def readFile(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    }
    def writeFile(p: org.apache.hadoop.fs.Path, s: String): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$p.tmp_${ProcessHandle.current().pid()}_${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (fs.exists(p)) fs.delete(p, false)
      require(fs.rename(tmp, p),
        s"processChanges: could not write $p")
    }
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"processChanges: no committed snapshot at $dir")
    // a persisted INTENT pins a crashed call's exact range, and the
    // replay re-offers it VERBATIM — never a recomputed wider one.
    // This is what makes the batchId = toV recipe exactly-once: if a
    // new ingest commit lands between the crash and the replay, a
    // recomputed (fromV, newLatest] range would reach f under a NEW
    // batch id and silently re-apply the already-committed prefix.
    // Write order: intent → f → cursor advance → intent delete; every
    // crash point replays the same pinned range, which f's idempotent
    // commit absorbs.
    val (fromV, toV) =
      if (fs.exists(ip)) {
        val Array(a, b) = readFile(ip).split(" ")
        (a.toInt, b.toInt)
      } else {
        val cur = if (fs.exists(cp)) readFile(cp).toInt else baseline
        val latest = vs.max
        if (latest <= cur) return None
        writeFile(ip, s"$cur $latest")
        (cur, latest)
      }
    f(readChanges(spark, dir, fromV, toV), fromV, toV)
    writeFile(cp, toV.toString)
    fs.delete(ip, false)
    Some((fromV, toV))
  }

  /** Atomic UPSERT (the Delta MERGE whole-row form): ONE committed
    * version whose manifest carries BOTH a tombstone of `df`'s ids
    * and `df` as a new segment — matched rows replace, unmatched rows
    * insert, and a concurrent reader sees the old state or the new
    * one, never the deleted-but-not-yet-reinserted middle that a
    * commitDelete + commitAppend pair exposes. Correct BECAUSE of the
    * MVCC ordering rule: the tombstone at version v hides only
    * strictly-older segments, so the upsert's own segment (same v)
    * survives its own tombstone.
    */
  def commitUpsert(df: DataFrame, idCol: String, dir: String,
      mergeSchema: Boolean = false, statsCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil, cdf: Boolean = false): Int = {
    val h = open(df.sparkSession, dir, "commitUpsert")
    val g = admit(h, df, mergeSchema, statsCols)
    // pin ONE evaluation of df: the tombstone, the null check and the
    // segment must agree row for row — a non-deterministic source
    // evaluated thrice could tombstone ids its own segment never
    // re-inserts (silent deletes) or vice versa (silent duplicates)
    val pinned = graft.ops.Checkpoints.cut(df, eager = true)
    val pId = physN(g.m, idCol, "commitUpsert")
    val ids = pinned.select(bq(idCol).as(pId)).distinct()
    val bad = ids.where(bq(pId).isNull).count()
    require(bad == 0,
      s"commitUpsert: null id(s) in '$idCol' — a null tombstone never " +
        s"matches the read-side anti-join and the old row would stay")
    val tp = s"tomb/${uniqueName('t', h.v)}"
    ids.write.mode("errorifexists").parquet(s"$dir/$tp")
    val segRows = writeDataSegment(toPhysical(pinned, g.m), dir, h.v,
      g.phys(statsCols), g.phys(partitionBy), "commitUpsert")
    // cdf: replaced rows' preimages (matched ids only — unmatched
    // source rows are pure inserts, which the data segment carries);
    // physical on disk, [[readChanges]] projects at output
    val cdcRel = if (!cdf) None
      else Some(writeCdc(h.spark, dir, h.v,
        h.raw.join(ids, Seq(pId), "left_semi")))
    g.publish(("tomb", tp) +: segRows, "upsert", cdcRel)
  }

  /** RESTORE TIMESTAMP AS OF (the wall-clock twin of [[restore]]):
    * roll back to the latest version committed at or before
    * `tsMillis` — [[versionAsOf]]'s resolution composed with the
    * history-preserving O(1)-file rollback, the "undo everything
    * since last night's good run" move.
    */
  def restoreAsOf(spark: SparkSession, dir: String, tsMillis: Long): Int =
    restore(spark, dir, versionAsOf(spark, dir, tsMillis))

  /** What [[vacuum]] WOULD delete, without deleting it — the
    * dry-run every destructive maintenance face owes its operator
    * (vacuum is the store's only history-destroying operation, and
    * the sweep's reachability math deserves inspection before the
    * point of no return). Same arguments, same version-gated
    * reachability scan, same returned relative paths; the filesystem
    * is untouched.
    */
  def vacuumDryRun(spark: SparkSession, dir: String,
      keepFrom: Int): Seq[String] =
    vacuumImpl(spark, dir, keepFrom, delete = false)

  /** Drop history BEFORE `keepFrom`: manifests of older versions and
    * every seg/tomb directory no retained manifest references, PROVIDED
    * the directory's encoded version also predates `keepFrom`. The
    * version gate is what makes vacuum safe against the store's own
    * optimistic-concurrency writers: an IN-FLIGHT commit has written
    * its segment but not yet renamed its manifest — an "orphan" to the
    * reachability scan — and deleting it would let the writer's rename
    * then publish a version pointing at a deleted segment (every later
    * read fails). An in-flight commit that can still succeed always
    * targets a version ABOVE the latest committed one, so unreachable
    * dirs are collected only at versions ≤ the committed max: such an
    * orphan's version was already taken by a successful commit, its
    * own rename can only fail the conflict check, so it is genuinely
    * dead (Delta guards the same race with a retention window; the
    * version gate is this store's sharper equivalent). Returns the
    * deleted relative paths (manifests included) — the loud record of
    * what just became unreadable.
    */
  def vacuum(spark: SparkSession, dir: String, keepFrom: Int): Seq[String] =
    vacuumImpl(spark, dir, keepFrom, delete = true)

  private def vacuumImpl(spark: SparkSession, dir: String, keepFrom: Int,
      delete: Boolean): Seq[String] = {
    val fs = hfs(spark, dir)
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"vacuum: no committed snapshot at $dir")
    require(vs.contains(keepFrom),
      s"vacuum: keepFrom=$keepFrom is not a committed version at $dir " +
        s"(have ${vs.mkString(",")})")
    val keep = vs.filter(_ >= keepFrom)
    // `stats`/`dv` manifest rows encode "<path>;<csv>" — reachability
    // needs the path part (a dv dir named only through the encoded
    // form must survive the sweep)
    val reachable = keep.flatMap(readManifestRows(spark, dir, _))
      .flatMap(r => Seq(r._2, r._2.takeWhile(_ != ';'))).toSet
    def children(sub: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(s => s"$sub/${s.getPath.getName}")
    }
    // a child dir is reachable when a manifest names it OR anything
    // under it (z-compacted segments are committed as `<root>/data`
    // with the stats sidecar beside it — dropping the parent would
    // destroy a referenced segment); an UNREACHABLE dir is collected
    // only when its encoded version is ≤ the committed max (the
    // in-flight-writer gate — see the scaladoc). A dir whose name
    // does not parse at all cannot be an in-flight commit (the store
    // never writes such names), so it collects as plain junk — the
    // pre-gate behavior; a maintenance sweep must not crash on a
    // foreign leftover.
    def inFlight(c: String): Boolean =
      c.substring(c.indexOf('/') + 2).takeWhile(_.isDigit)
        .toIntOption.exists(_ > vs.max)
    val dropData = (children("seg") ++ children("tomb") ++ children("dv"))
      .filterNot(c => reachable.exists(r => r == c || r.startsWith(c + "/")))
      .filterNot(inFlight)
    // write-time change files retire with their version (no manifest
    // references them — the version encoded in the dir name is the
    // retention key, exactly Delta's change-data retention): a cdc dir
    // at version < keepFrom can only feed a change range vacuum just
    // made unreadable anyway. In-flight cdf commits target versions
    // above the committed max and are protected by the same gate.
    val dropCdc = children("cdc").filter(c =>
      c.substring(c.indexOf('/') + 2).takeWhile(_.isDigit)
        .toIntOption.exists(_ < keepFrom))
    val dropManifests = vs.filter(_ < keepFrom)
      .map(v => f"manifest/v$v%06d")
    (dropData ++ dropCdc ++ dropManifests).map { rel =>
      if (delete)
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), true)
      rel
    }
  }
}
