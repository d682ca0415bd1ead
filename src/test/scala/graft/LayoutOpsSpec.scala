package graft

import org.apache.spark.sql.functions._

import graft.expr.ZValue
import graft.ops.LayoutOps
import graft.ops.LayoutOps.ColRange

/** Z-order layout + stats-sidecar pruning: the native z-value pinned
  * bit-equal to its composable twin under codegen, loud range
  * violations, and the layout property itself — a z-ordered table
  * prunes files on EVERY interleaved dimension where a lexicographic
  * sort prunes only on its leading column — with row-exactness vs the
  * unpruned scan.
  */
class LayoutOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val f = new java.io.File(
      s"/tmp/graft_layout_${ProcessHandle.current().pid()}_$tag")
    graft.ops.StageMemo.wipe(f)
    f.getAbsolutePath
  }

  // the full 64x64 grid, one row per cell — x and y independent, so a
  // lexicographic x-sort genuinely cannot cluster y
  private lazy val grid = (0 until 4096).map { i =>
    (i.toLong, (i % 64).toLong, (i / 64).toLong)
  }.toDF("id", "x", "y")

  test("native zvalue is bit-identical to the composed shift/or twin") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = grid.select(
        ZValue.zvalue(6, col("x"), col("y")).as("nat"),
        ZValue.zvalueComposed(6, col("x"), col("y")).as("twin"))
        .collect()
      rows.length shouldBe 4096
      rows.foreach(r => r.getLong(0) shouldBe r.getLong(1))
      // a hand-computed anchor: x=0b101=5, y=0b011=3 at 3 bits
      // -> bits: (x0<<0)|(y0<<1)|(x1<<2)|(y1<<3)|(x2<<4)|(y2<<5)
      //        =  1    | 2     | 0     | 8     | 16    | 0    = 27
      Seq((5L, 3L)).toDF("x", "y")
        .select(ZValue.zvalue(3, col("x"), col("y")))
        .head().getLong(0) shouldBe 27L
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("native rank_bin ≡ the composable when-chain twin (codegen, no fallback)") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val cuts = Seq(3.0, 10.0, 10.5, 40.0, 41.0)
      val df = (Seq(-5L, 3L, 4L, 10L, 11L, 40L, 41L, 42L, 1000L)
        .map(v => Tuple1(v))).toDF("v")
      val twin = cuts.map(c => when(col("v").cast("double") > lit(c), 1L)
        .otherwise(0L)).reduce(_ + _)
      val rows = df.select(
        graft.expr.RankBin.rankBin(col("v").cast("double"), cuts).as("nat"),
        twin.as("tw")).collect()
      rows.foreach(r => r.getLong(0) shouldBe r.getLong(1))
      // null in -> null out
      Seq(Tuple1(Option.empty[Long])).toDF("v")
        .select(graft.expr.RankBin.rankBin(col("v").cast("double"), cuts))
        .head().isNullAt(0) shouldBe true
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("zvalue: null child nulls out, out-of-range throws") {
    Seq((Some(1L), None: Option[Long])).toDF("x", "y")
      .select(ZValue.zvalue(4, col("x"), col("y")))
      .head().isNullAt(0) shouldBe true
    val e = intercept[Exception] {
      Seq((16L, 1L)).toDF("x", "y")
        .select(ZValue.zvalue(4, col("x"), col("y"))).collect()
    }
    e.getMessage should include("out of [0, 2^4)")
    intercept[Exception] {
      Seq((-1L, 1L)).toDF("x", "y")
        .select(ZValue.zvalue(4, col("x"), col("y"))).collect()
    }.getMessage should include("out of")
  }

  test("z-ordered layout prunes on both dimensions, row-exact vs full scan") {
    val dir = freshDir("zorder")
    LayoutOps.zorderWrite(grid, Seq("x", "y"), nFiles = 16,
      statsCols = Seq("x", "y"), dir)

    val scan = LayoutOps.readPruned(spark, dir, Seq(
      ColRange("x", 8, 15), ColRange("y", 16, 23)))
    scan.filesTotal should be >= 8
    scan.filesRead should be < scan.filesTotal // 1.5% box -> skip files

    val expected = sortedRows(grid
      .filter(col("x").between(8, 15) && col("y").between(16, 23)))
    expected should not be empty
    sortedRows(scan.df) shouldBe expected
  }

  test("z-order prunes the trailing dimension where a lexicographic sort cannot") {
    val zDir = freshDir("cmp_z")
    val sDir = freshDir("cmp_s")
    LayoutOps.zorderWrite(grid, Seq("x", "y"), nFiles = 16,
      statsCols = Seq("x", "y"), zDir)
    LayoutOps.sortedWrite(grid, Seq("x"), nFiles = 16,
      statsCols = Seq("x", "y"), sDir)

    val yOnly = Seq(ColRange("y", 0, 7)) // 12.5% of y, all of x
    val zScan = LayoutOps.readPruned(spark, zDir, yOnly)
    val sScan = LayoutOps.readPruned(spark, sDir, yOnly)

    // lexicographic-by-x files each span the full y range: zero skipped
    sScan.filesRead shouldBe sScan.filesTotal
    zScan.filesRead should be < zScan.filesTotal
    sortedRows(zScan.df) shouldBe sortedRows(sScan.df)
  }

  test("empty overlap reads nothing; null-key rows never break exactness") {
    val dir = freshDir("nulls")
    val withNulls = grid.unionByName(
      Seq((9000L, 63L, Option.empty[Long]), (9001L, 62L, Option.empty[Long]))
        .toDF("id", "x", "y"))
    // null z-values sort together; the write must not throw
    LayoutOps.zorderWrite(withNulls, Seq("x", "y"), nFiles = 8,
      statsCols = Seq("x", "y"), dir)

    val hit = LayoutOps.readPruned(spark, dir, Seq(ColRange("x", 60, 63)))
    sortedRows(hit.df) shouldBe sortedRows(
      withNulls.filter(col("x").between(60, 63)))
    // rows with null y still match an x-only range
    hit.df.filter(col("id") >= 9000L).count() shouldBe 2

    val miss = LayoutOps.readPruned(spark, dir, Seq(ColRange("x", 999, 1000)))
    miss.filesRead shouldBe 0
    miss.df.count() shouldBe 0L
    miss.df.columns shouldBe withNulls.columns // schema-stable empty
  }

  test("typed sidecar: timestamp z-column prunes; string stats prune; mismatched bound is loud") {
    val dir = freshDir("typed")
    // 64 days of hourly rows: ts interleaves with k, name rides along
    val rows = (0 until 1536).map { i =>
      (java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
        .plusHours(i.toLong), (i % 64).toLong, f"n${i % 64}%02d")
    }
    val df = rows.toDF("ts", "k", "name")
    LayoutOps.zorderWrite(df, Seq("ts", "k"), nFiles = 16,
      statsCols = Seq("ts", "k", "name"), dir)

    val lo = java.time.LocalDateTime.of(2024, 1, 5, 0, 0)
    val hi = java.time.LocalDateTime.of(2024, 1, 12, 0, 0)
    val scan = LayoutOps.readPruned(spark, dir, Seq(
      ColRange("ts", lo, hi), ColRange("k", 8L, 23L)))
    scan.filesRead should be < scan.filesTotal
    sortedRows(scan.df) shouldBe sortedRows(
      df.filter(col("ts").between(lit(lo), lit(hi)) &&
        col("k").between(8, 23)))

    // string stats prune too (sidecar compares natively)
    val sScan = LayoutOps.readPruned(spark, dir, Seq(
      ColRange("name", "n08", "n23")))
    sortedRows(sScan.df) shouldBe sortedRows(
      df.filter(col("name").between("n08", "n23")))

    // a bound in the wrong type fails loudly, never silently no-prunes
    val e = intercept[IllegalArgumentException] {
      LayoutOps.readPruned(spark, dir, Seq(ColRange("ts", 1L, 2L)))
    }
    e.getMessage should include("own type")
    // and strings can't be z-ordered (they do prune via the sidecar)
    intercept[IllegalArgumentException] {
      LayoutOps.zorderWrite(df, Seq("name"), nFiles = 4,
        statsCols = Seq("name"), freshDir("typed_bad"))
    }.getMessage should include("rank-binned")
  }

  test("driver-written stats sidecar equals Spark's write: schema, rows and parquet types for every stats type") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val dir = freshDir("drvsidecar")
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("s", ShortType),
      StructField("i", IntegerType), StructField("str", StringType),
      StructField("d", DoubleType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("dec", DecimalType(12, 3)),
      StructField("nul", LongType), StructField("grp", StringType)))
    val rows = (0 until 60).map { k =>
      def orNull(v: Any) = if (k % 7 == 3) null else v
      Row(orNull(k.toLong * 1000003L), orNull((k - 30).toShort), orNull(k * 17),
        orNull(f"s$k%03d"), if (k % 11 == 5) Double.NaN else orNull(k / 4.0),
        orNull(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(k))),
        orNull(java.sql.Timestamp.valueOf(
          java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(k * 37L))),
        orNull(new java.math.BigDecimal(s"${k * 13}.125")), null, s"g${k % 3}")
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val cols = Seq("l", "s", "i", "str", "d", "dt", "ts", "dec", "nul")
    // the write-time sidecar (the writing tasks' stats, written on the
    // driver) against a bloom column's sidecar: Spark's distributed
    // re-read aggregate over the same files, the reference
    def sameSidecar(drv: String, spk: String, nRows: Long): Unit = {
      val a = spark.read.parquet(graft.io.DriverParquet.dataFiles(spark, Seq(drv)): _*)
      val b = spark.read.parquet(graft.io.DriverParquet.dataFiles(spark, Seq(spk)): _*)
        .drop("bloom_l")
      a.schema shouldBe b.schema
      a.orderBy("file").collect().toSeq shouldBe b.orderBy("file").collect().toSeq
      a.count() shouldBe nRows
      // one row per file, sorted by file; every file decodes to a real path
      val files = a.collect().map(_.getString(0)).toSeq
      files shouldBe files.sorted
      files.distinct.size shouldBe files.size
      files.foreach(f => new java.io.File(new java.net.URI(f)).isFile shouldBe true)
      files.foreach(f => new java.io.File(LayoutOps.decodeStatFile(f)
        .stripPrefix("file:")).isFile shouldBe true)
      // one file each, the same parquet column types (bloom aside)
      def fileSchema(d: String) = {
        val fs = graft.io.DriverParquet.files(spark, Seq(d))
        fs.size shouldBe 1
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            fs.head, spark.sessionState.newHadoopConf()))
        try in.getFooter.getFileMetaData.getSchema.getFields.asScala
          .filterNot(_.getName == "bloom_l").map(_.toString).toSeq
        finally in.close()
      }
      fileSchema(drv) shouldBe fileSchema(spk)
    }
    def bloomRef(data: String, ref: String): Unit =
      LayoutOps.writeStatsSidecar(spark, cols, data, ref, bloomCols = Seq("l"))
    def dataFiles(d: String) = graft.io.DriverParquet.dataFiles(spark, Seq(d)).size

    LayoutOps.writeParquet(df, s"$dir/data", cols)(s"$dir/drv")
    bloomRef(s"$dir/data", s"$dir/spk")
    sameSidecar(s"$dir/drv", s"$dir/spk", 3)
    spark.read.parquet(s"$dir/drv").columns should contain allOf (
      "sum_l", "sum_s", "sum_i", "min_d", "max_dec", "nulls_ts", "min_nul",
      "n_rows")
    // the data files are df.write's: the same parquet schema and Spark
    // row metadata (a non-nullable column included), rows and _SUCCESS
    val wide = df.withColumn("nn", lit(1L))
    LayoutOps.writeParquet(wide, s"$dir/wide", Nil)
    wide.write.parquet(s"$dir/plain")
    def footer(d: String) = {
      val st = graft.io.DriverParquet.files(spark, Seq(d)).head
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
          st, spark.sessionState.newHadoopConf()))
      try {
        val m = in.getFooter.getFileMetaData
        (m.getSchema.toString, m.getKeyValueMetaData.asScala
          .get("org.apache.spark.sql.parquet.row.metadata"))
      } finally in.close()
    }
    footer(s"$dir/wide") shouldBe footer(s"$dir/plain")
    new java.io.File(s"$dir/wide/_SUCCESS").isFile shouldBe true
    spark.read.parquet(s"$dir/wide").exceptAll(wide).count() shouldBe 0L
    // an existing directory refuses, as `errorifexists` does
    intercept[org.apache.spark.sql.AnalysisException] {
      LayoutOps.writeParquet(df, s"$dir/data", cols)
    }.getMessage should include("already exists")

    // a write split by maxRecordsPerFile: one row per rolled file
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    try LayoutOps.writeParquet(df, s"$dir/split", cols)(s"$dir/splitdrv")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    bloomRef(s"$dir/split", s"$dir/splitspk")
    dataFiles(s"$dir/split") shouldBe 9 // 3 tasks x ceil(20 / 7)
    sameSidecar(s"$dir/splitdrv", s"$dir/splitspk", 9)

    // an empty frame: its one schema-only file gets no stats row
    LayoutOps.writeParquet(df.limit(0), s"$dir/empty", cols)(s"$dir/emptydrv")
    bloomRef(s"$dir/empty", s"$dir/emptyspk")
    dataFiles(s"$dir/empty") shouldBe 1
    sameSidecar(s"$dir/emptydrv", s"$dir/emptyspk", 0)

    // a partitioned commit's ONE shared sidecar at the commit root
    val store = s"$dir/store"
    graft.io.SnapshotStore.commitAppend(df, store, statsCols = cols,
      partitionBy = Seq("grp"))
    val root = new java.io.File(s"$store/seg").listFiles().head.getAbsolutePath
    bloomRef(root, s"$dir/rootspk")
    sameSidecar(s"$root/_stats", s"$dir/rootspk", 3 * 3) // 3 leaves x 3 files

    // a store root whose path holds a space and a '%': `file` is the
    // encoded URI input_file_name() reports, decoded on the way back
    val odd = s"$dir/st ore%41x"
    graft.io.SnapshotStore.commitAppend(df, odd, statsCols = cols)
    val seg = new java.io.File(s"$odd/seg").listFiles().head.getAbsolutePath
    bloomRef(seg, s"$dir/oddspk")
    sameSidecar(s"$seg/_stats", s"$dir/oddspk", 3)
    spark.read.parquet(s"$seg/_stats").collect().map(_.getString(0))
      .foreach(_ should include("st%20ore%2541x"))
    graft.io.SnapshotStore.readPrunedRange(spark, odd,
      Seq(ColRange("i", 100, 300))).df.count() shouldBe
      df.where(col("i").between(100, 300)).count()
  }
}
