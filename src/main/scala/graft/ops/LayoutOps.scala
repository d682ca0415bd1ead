package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout optimization: Z-order clustering plus a per-file
  * min/max stats sidecar, and a reader that prunes files against it —
  * the data-skipping discipline (Delta OPTIMIZE ZORDER, Iceberg sort
  * orders) that decides whether a selective scan over a 100 TB table
  * reads GBs or the table.
  *
  * The write clusters rows by their Morton z-value
  * ([[graft.expr.ZValue]]) with `repartitionByRange` + an in-partition
  * sort, so every produced file covers a small hyper-rectangle of the
  * interleaved key space; `_stats/` then records each file's per-column
  * min/max, computed by the write's own tasks ([[writeParquet]] — no
  * re-scan of the written files). [[readPruned]] evaluates a
  * conjunction of range predicates against the sidecar ON THE DRIVER
  * (the sidecar is files-sized — KBs per thousand files), reads only
  * the overlapping files, and re-applies the predicate as the residual
  * row filter, so pruning is a pure optimization: the row set is
  * identical to a full scan, which is exactly what the q165 oracle
  * grades. A lexicographic layout prunes only on its leading column;
  * the z-order layout prunes on every interleaved column — measured
  * head-to-head in SURVEY §8 r13 item 16.
  */
object LayoutOps {

  /** One range predicate: `lo <= col <= hi`, inclusive, on a column
    * recorded in the stats sidecar. Bounds are TYPED — pass the same
    * runtime type the column collects as (Long, Double, String,
    * java.time.LocalDateTime for TIMESTAMP_NTZ, java.sql.Timestamp /
    * java.sql.Date for the tz'd types); a mismatched bound type fails
    * loudly at prune time rather than silently keeping every file.
    */
  final case class ColRange(col: String, lo: Any, hi: Any)

  /** One equality probe: `col = value` on a column whose sidecar may
    * carry a per-file Bloom filter — the point-lookup form min/max
    * cannot serve on an unsorted/unclustered column (a guid probe
    * over files that all span the full key range prunes nothing by
    * range; the bloom says "this file cannot hold it" per file).
    * `value` follows the [[ColRange]] typing contract: pass the
    * column's own runtime type — the probe hashes the value with the
    * same xxhash64 the build side inserted. The snapshot store
    * VALIDATES the value's runtime type against the column's and
    * casts exact widenings (Int→Long, Float→Double) before hashing;
    * a lossy or cross-kind value refuses loudly, because with only a
    * bloom sidecar a mismatched hash would prune every file and the
    * residual filter CANNOT restore rows from files that were never
    * read — the residual keeps the row set exact only over surviving
    * files.
    */
  final case class ColEq(col: String, value: Any)

  /** A pruned read: the (already residual-filtered) rows plus the
    * pruning evidence. `segsRead`/`segsTotal` carry the snapshot
    * store's PARTITION-pruning evidence (segments touched vs segments
    * in the manifest — file counts only cover surviving segments,
    * because counting a pruned segment's files would mean listing it,
    * defeating the prune); -1 on plain layout reads, which have no
    * segment notion.
    */
  final case class PrunedScan(df: DataFrame, filesRead: Int,
    filesTotal: Int, segsRead: Int = -1, segsTotal: Int = -1)

  /** Z-order write: cluster `df` by the Morton value of `zCols` into
    * ~`nFiles` range-partitioned, z-sorted files under `dir/data`,
    * then record the per-file min/max sidecar for `statsCols` under
    * `dir/_stats`.
    *
    * Columns are RANK-NORMALIZED before interleaving (each mapped onto
    * 2^rankBits quantile bins via a driver-collected approxQuantile
    * cut table — a sampling job, the same mechanism RangePartitioner
    * uses): raw-value interleaving gives the wider-ranged column all
    * the high bits (a 15-bit key interleaved with a 10-bit key
    * degenerates toward a plain sort on the wide one — measured: the
    * trailing-column probe read 51/64 files raw vs 19/64 ranked), so
    * equal bit WEIGHT, not equal bit position, is what balances
    * pruning across dimensions. This is the Delta/Iceberg OPTIMIZE
    * ZORDER design. 2^rankBits bins per column bounds the cut-table
    * expression at 2^rankBits−1 comparisons per column per row.
    */
  def zorderWrite(df: DataFrame, zCols: Seq[String],
      nFiles: Int, statsCols: Seq[String], dir: String,
      rankBits: Int = 6): Unit = {
    require(zCols.nonEmpty && nFiles >= 1 && statsCols.nonEmpty,
      "need z columns, nFiles >= 1 and stats columns")
    require(rankBits >= 1 && zCols.size * rankBits <= 63,
      s"rank bits out of range: ${zCols.size} cols x $rankBits")
    val nb = 1 << rankBits
    val probes = (1 until nb).map(_.toDouble / nb).toArray
    // ONE sampling pass computes every column's cut table, over the
    // NUMERIC image of each z column (dates/timestamps map to their
    // epoch scalar — any monotone map preserves the rank bins)
    val numDf = df.select(zCols.map(c => numericImage(df, c).as(c)): _*)
    val allCuts = numDf.stat.approxQuantile(zCols.toArray, probes, 0.001)
    val rankCols = zCols.zip(allCuts).map { case (c, cuts) =>
      // rank = #cuts strictly below the value: monotone, null-safe
      // (null value -> null rank -> null z, clustered together), one
      // native binary-search probe per row (expr/RankBin) — the
      // composable when-chain twin ran interpreted at ~17 µs/row
      graft.expr.RankBin.rankBin(numericImage(df, c),
        cuts.distinct.toIndexedSeq)
    }
    val clustered = df
      .withColumn("__z", graft.expr.ZValue.zvalue(rankBits, rankCols: _*))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    writeParquet(clustered, s"$dir/data", statsCols, overwrite = true)(
      s"$dir/_stats")
  }

  /** Comparison layout: lexicographic sort on `sortCols` — prunes on
    * the leading column only. Same sidecar, so [[readPruned]] treats
    * both layouts identically and the difference is purely what the
    * layout made skippable.
    */
  def sortedWrite(df: DataFrame, sortCols: Seq[String],
      nFiles: Int, statsCols: Seq[String], dir: String): Unit = {
    require(sortCols.nonEmpty && nFiles >= 1 && statsCols.nonEmpty,
      "need sort columns, nFiles >= 1 and stats columns")
    writeParquet(df.repartitionByRange(nFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*),
      s"$dir/data", statsCols, overwrite = true)(s"$dir/_stats")
  }

  /** Monotone numeric image of an orderable column for rank binning:
    * dates/timestamps map to their epoch scalar (exact in double —
    * micros stay < 2^53), numerics cast through double. Strings are
    * sidecar-prunable ([[readPruned]] compares them natively) but not
    * z-orderable here — fail loudly rather than interleave garbage.
    */
  private def numericImage(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case TimestampNTZType =>
        unix_micros(col(c).cast("timestamp")).cast("double")
      case StringType => throw new IllegalArgumentException(
        s"zorderWrite: string column '$c' cannot be rank-binned — " +
          s"z-order on numeric/date/timestamp columns (strings still " +
          s"prune via the stats sidecar)")
      case _ => col(c).cast("double")
    }
  }

  /** The one data write behind the layout roots and every snapshot
    * store segment: `df` as parquet under `dataDir` (an existing
    * directory refuses unless `overwrite`; `partitionBy` lays it out
    * hive-style), through [[org.apache.spark.sql.graft.FileStatsWriter]].
    * Returns the sidecar step: given a stats directory, it records
    * every written file's `statsCols` stats there — a no-op without
    * stats or bloom columns. A bloom-free sidecar's rows were computed
    * by the write's own tasks and are written on the driver
    * ([[graft.io.DriverParquet.write]]): no job, no re-read. With
    * `bloomCols` the step is [[writeStatsSidecar]]'s distributed
    * aggregate, so filter binaries never reach the driver. The caller
    * decides when (and whether) the sidecar lands — after its own
    * checks on what was written.
    */
  private[graft] def writeParquet(df: DataFrame, dataDir: String,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = 100000L, partitionBy: Seq[String] = Nil,
      overwrite: Boolean = false): String => Unit = {
    val spark = df.sparkSession
    val stats = org.apache.spark.sql.graft.FileStatsWriter.write(df, dataDir,
      overwrite, partitionBy,
      if (statsCols.isEmpty || bloomCols.nonEmpty) Nil
      else statAggs(df.schema, statsCols) :+ count(lit(1)).as("n_rows"))
    statsDir =>
      if (bloomCols.nonEmpty)
        writeStatsSidecar(spark, statsCols, dataDir, statsDir, bloomCols,
          bloomExpectedItems)
      else stats.foreach { st =>
        val p = new org.apache.hadoop.fs.Path(statsDir)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        graft.io.DriverParquet.write(spark, statsDir, st.schema, st.rows)
      }
  }

  /** The per-column stats aggregates, in sidecar column order. min/max
    * persist in the COLUMN'S OWN TYPE (long, double, string, date,
    * timestamp) — the sidecar compare and the residual filter are
    * typed end-to-end, so reference-shaped probes (ship-date ranges,
    * key prefixes) skip files too. Per-column null counts ride along
    * (with `n_rows`): a file whose min/max lie INSIDE a probe range
    * with zero nulls is answerable from metadata alone (the
    * Delta/Iceberg stats-answered COUNT —
    * [[graft.io.SnapshotStore.countPrunedRange]]). Integral columns
    * ALSO record an exact per-file sum (DECIMAL(38,0) — overflow-proof,
    * merge-order-free), which is what lets
    * [[graft.io.SnapshotStore.sumPrunedRange]] answer SUM/AVG over
    * contained files from metadata alone. Floating columns get none: a
    * double sum is order-dependent, so a metadata-answered value could
    * disagree with a scan — the same exactness discipline that keeps
    * the COUNT/MIN/MAX faces honest.
    */
  private def statAggs(schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String]): Seq[Column] = statsCols.flatMap { c =>
    import org.apache.spark.sql.types._
    val base = Seq(
      min(col(c)).as(s"min_$c"),
      max(col(c)).as(s"max_$c"),
      count(when(col(c).isNull, 1)).as(s"nulls_$c"))
    schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        base :+ sum(col(c).cast(DecimalType(38, 0))).as(s"sum_$c")
      case _ => base
    }
  }

  /** The BLOOM-bearing per-file stats sidecar of an arbitrary parquet
    * directory: [[statAggs]] plus a per-file serialized Bloom filter
    * for each of `bloomCols`, as ONE distributed aggregate over the
    * written files (`groupBy(input_file_name())`), written by Spark so
    * the filter binaries never reach the driver. Bloom-free sidecars
    * are computed by the write's own tasks instead ([[writeParquet]]);
    * both give the same stats columns and rows.
    *
    * bloomCols add a PER-FILE serialized Bloom filter over the column's
    * xxhash64 image (`bloom_<col>`, Spark's own BloomFilterAggregate) —
    * what makes an EQUALITY probe on an unsorted column prune files
    * min/max cannot (the guid/doc-id point-lookup access pattern).
    * Sizing is the caller's honest knob: bytes-per-file ∝
    * expectedItems·ln(1/fpp) — size to the rows-per-file of the
    * layout, not the table; the sidecar probe never collects the
    * binaries (verdicts are computed in the sidecar read plan), but
    * sidecar bytes on disk are still files × filterBytes.
    */
  def writeStatsSidecar(spark: SparkSession, statsCols: Seq[String],
      dataDir: String, statsDir: String,
      bloomCols: Seq[String],
      bloomExpectedItems: Long = 100000L,
      bloomFpp: Double = 0.03): Unit = {
    require(bloomCols.nonEmpty, "writeStatsSidecar needs bloom columns " +
      "(bloom-free sidecars come from the write itself)")
    require(bloomExpectedItems > 0 && bloomFpp > 0 && bloomFpp < 1,
      s"bloom sizing out of range: ($bloomExpectedItems, $bloomFpp)")
    val data = graft.io.DriverParquet.read(spark, Seq(dataDir))
    val aggs = statAggs(data.schema, statsCols) ++
      bloomCols.map(c => bloomAgg(col(c), bloomExpectedItems, bloomFpp)
        .as(s"bloom_$c")) :+
      count(lit(1)).as("n_rows")
    data.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1).write.mode("overwrite").parquet(statsDir)
  }

  /** Spark's BloomFilterAggregate over the column's xxhash64 image —
    * the same insert discipline the runtime-filter rewrite uses, so
    * [[graft.expr.BloomBytesProbe]] probes with `xxhash64(lit(v))`
    * match exactly.
    */
  private def bloomAgg(c: Column, expectedItems: Long,
      fpp: Double): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(
          ColumnBridge.expression(xxhash64(c)),
          ColumnBridge.expression(lit(expectedItems)),
          ColumnBridge.expression(lit(numBits)), 0, 0)
        .toAggregateExpression())
  }

  /** Typed sidecar compare: every stat type the sidecar stores (Long,
    * Double, String, LocalDateTime, Timestamp, Date…) is Comparable;
    * a bound whose runtime type doesn't match the stat's fails loudly
    * — silently keeping every file would make pruning a no-op that
    * still reports success.
    */
  private def widen(v: Any): Any = v match {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case f: Float => f.toDouble
    case x => x
  }

  private[graft] def cmpStat(stat: Any, bound: Any, c: String): Int =
    try widen(stat).asInstanceOf[Comparable[Any]].compareTo(widen(bound))
    catch {
      case e: ClassCastException => throw new IllegalArgumentException(
        s"readPruned: bound for '$c' is a ${bound.getClass.getName} " +
          s"but the sidecar stat is a ${stat.getClass.getName} — pass " +
          s"bounds in the column's own type", e)
    }

  /** `input_file_name()` records URI-ENCODED paths (a space is %20) —
    * decode before handing them back to `spark.read.parquet`, which
    * expects plain paths; a data root containing a space or % would
    * otherwise fail or misread on the second open. Scheme-less
    * strings pass through untouched.
    */
  private def decodeFileUri(f: String): String = {
    val u = try new java.net.URI(f) catch {
      case _: java.net.URISyntaxException => return f
    }
    if (u.getScheme == null) f
    else {
      val auth = Option(u.getAuthority).getOrElse("")
      s"${u.getScheme}://$auth${u.getPath}" // getPath decodes %XX
    }
  }

  /** Read `dir/data` under a conjunction of inclusive ranges, pruning
    * files whose sidecar min/max cannot overlap. The residual filter
    * is re-applied to the surviving files, so the result is row-exact
    * vs a full scan whatever the layout did.
    */
  def readPruned(spark: SparkSession, dir: String,
      ranges: Seq[ColRange]): PrunedScan = {
    require(ranges.nonEmpty, "readPruned needs at least one range")
    val (kept, total) = pruneFiles(spark, s"$dir/_stats", ranges)
    val residual = residualFilter(ranges)
    val df =
      if (kept.isEmpty)
        // schema-stable empty frame; Catalyst folds the false filter
        // to an empty relation, so nothing is read
        graft.io.DriverParquet.read(spark, Seq(s"$dir/data")).where(lit(false))
      else graft.io.DriverParquet.read(spark, kept).where(residual)
    PrunedScan(df, kept.length, total)
  }

  /** The conjunction of inclusive range predicates a pruned read
    * re-applies to surviving files — pruning is a pure optimization
    * precisely because this residual makes the row set identical to a
    * full scan.
    */
  def residualFilter(ranges: Seq[ColRange]): Column = ranges
    .map(rg => col(rg.col).between(lit(rg.lo), lit(rg.hi)))
    .reduce(_ && _)

  /** Driver-side sidecar evaluation for a LAYOUT ROOT: (surviving
    * file paths, total files). The sidecar is files-sized by
    * construction — KBs per thousand files — so it is read on the
    * driver ([[graft.io.DriverParquet.collect]], no job): the cheap
    * half of skipping. A range column the sidecar doesn't
    * record fails loudly (the root's sidecar was written with the
    * caller's own statsCols, so a miss is a bug, not a fallback; the
    * snapshot store's per-commit sidecars, where recorded column sets
    * legitimately vary, prune on the recorded subset via
    * [[keepFile]] directly).
    */
  private[graft] def pruneFiles(spark: SparkSession, statsDir: String,
      ranges: Seq[ColRange]): (Seq[String], Int) = {
    // the sidecar's part files, not its `_stats` root (a hidden path
    // Spark warns about on every read)
    val files = graft.io.DriverParquet.dataFiles(spark, Seq(statsDir))
    val schema = graft.io.DriverParquet.schema(spark, files)
    val have = schema.fieldNames.toSet
    val stats = graft.io.DriverParquet.collect(spark, files, schema)
    val missing = ranges.map(_.col)
      .filterNot(c => have.contains(s"min_$c") && have.contains(s"max_$c"))
    require(missing.isEmpty,
      s"readPruned: sidecar at $statsDir lacks stats for " +
        s"${missing.mkString(",")} — recorded columns drive pruning; " +
        s"re-write with those statsCols")
    val kept = stats.filter(keepFile(_, ranges))
      .map(r => decodeFileUri(r.getAs[String]("file"))).toSeq
    (kept, stats.length)
  }

  /** One sidecar row vs a conjunction of ranges: can this file hold a
    * matching row? A null min/max means the file holds only nulls for
    * that column — it cannot satisfy an inclusive range.
    */
  private[graft] def keepFile(r: org.apache.spark.sql.Row,
      usable: Seq[ColRange]): Boolean =
    usable.forall { rg =>
      !r.isNullAt(r.fieldIndex(s"min_${rg.col}")) &&
        cmpStat(r.getAs[Any](s"max_${rg.col}"), rg.lo, rg.col) >= 0 &&
        cmpStat(r.getAs[Any](s"min_${rg.col}"), rg.hi, rg.col) <= 0
    }

  /** [[decodeFileUri]], exported for sidecar consumers that collect
    * stats rows themselves (the snapshot store's grouped prune).
    */
  private[graft] def decodeStatFile(f: String): String = decodeFileUri(f)

  /** One sidecar row vs a conjunction of ranges: do ALL the file's
    * rows satisfy them? Requires the sidecar to carry the column's
    * min/max AND null count (zero — a null row fails an inclusive
    * range, so a file with nulls is never fully contained). A
    * contained file's contribution to `count(*)` is its `n_rows`
    * metadata — no read.
    */
  private[graft] def containedFile(r: org.apache.spark.sql.Row,
      ranges: Seq[ColRange], have: Set[String]): Boolean =
    ranges.forall { rg =>
      have.contains(s"min_${rg.col}") && have.contains(s"nulls_${rg.col}") &&
        !r.isNullAt(r.fieldIndex(s"min_${rg.col}")) &&
        r.getAs[Long](s"nulls_${rg.col}") == 0L &&
        cmpStat(r.getAs[Any](s"min_${rg.col}"), rg.lo, rg.col) >= 0 &&
        cmpStat(r.getAs[Any](s"max_${rg.col}"), rg.hi, rg.col) <= 0
    }
}
