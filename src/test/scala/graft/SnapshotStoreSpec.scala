package graft

import org.apache.spark.sql.functions._

import graft.io.SnapshotStore

/** MVCC snapshot store: commit protocol (append/delete/compact as new
  * directories + atomic manifest rename), snapshot isolation (old
  * pins reproducible after later commits), loud conflict/schema/null
  * guards, and vacuum semantics.
  */
class SnapshotStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft_snap_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def docs(ids: Range) =
    ids.map(i => (i.toLong, s"doc $i", (i % 7 + 1).toLong))
      .toDF("doc_id", "text", "n")

  test("append/delete/compact commit versions; every pinned version time-travels") {
    val dir = freshDir("lifecycle")
    val v1 = SnapshotStore.commitAppend(docs(1 to 10), dir)
    val v2 = SnapshotStore.commitAppend(docs(11 to 20), dir)
    val v3 = SnapshotStore.commitDelete(
      Seq(2L, 4L, 13L).toDF("doc_id"), "doc_id", dir)
    val v4 = SnapshotStore.compact(spark, dir)
    (v1, v2, v3, v4) shouldBe ((1, 2, 3, 4))
    SnapshotStore.versions(spark, dir) shouldBe Seq(1, 2, 3, 4)

    def idsAt(v: Int) = SnapshotStore.read(spark, dir, Some(v))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    idsAt(1) shouldBe (1L to 10L)
    idsAt(2) shouldBe (1L to 20L)
    idsAt(3) shouldBe (1L to 20L).filterNot(Set(2L, 4L, 13L))
    idsAt(4) shouldBe idsAt(3) // compact changes bytes, not content
    // latest = v4
    SnapshotStore.read(spark, dir).select("doc_id").count() shouldBe 17

    // v4 is ONE segment with tombstones folded in: no anti-join needed
    SnapshotStore.read(spark, dir, Some(4))
      .queryExecution.executedPlan.toString should not include "Join"

    // snapshot isolation: a v2 re-read AFTER delete+compact still
    // returns v2's exact content (old segments untouched)
    idsAt(2) shouldBe (1L to 20L)
  }

  test("commit conflict, schema mismatch, null tombstones and bad reads fail loudly") {
    val dir = freshDir("guards")
    SnapshotStore.commitAppend(docs(1 to 5), dir)
    // two writers publishing the SAME version: the second rename finds
    // the name taken and must fail loudly (nothing silently
    // overwritten) — driven through commitManifest directly because
    // the public faces re-list versions and only collide under true
    // concurrency
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val v1Seg = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/seg"))
      .head.getPath.getName
    SnapshotStore.commitManifest(spark, dir, 2,
      Seq(("seg", s"seg/$v1Seg")))
    val conflict = intercept[IllegalStateException] {
      SnapshotStore.commitManifest(spark, dir, 2,
        Seq(("seg", s"seg/$v1Seg")))
    }
    conflict.getMessage should include("conflict")

    // every data-adding face runs the same strict gate: a missing
    // column or swapped column types refuse and commit nothing
    val vBefore = SnapshotStore.versions(spark, dir).max
    Seq(Seq((9L, "x")).toDF("doc_id", "text"), // column missing
        Seq(("x", 9L, 1L)).toDF("doc_id", "text", "n")) // types swapped
      .foreach { bad =>
        Seq[() => Any](
          () => SnapshotStore.commitAppend(bad, dir),
          () => SnapshotStore.commitStreamBatch(bad, dir, batchId = 7L)
        ).foreach { face =>
          val drift = intercept[IllegalArgumentException](face())
          drift.getMessage should include("schema mismatch")
        }
      }
    SnapshotStore.versions(spark, dir).max shouldBe vBefore
    SnapshotStore.read(spark, dir).count() shouldBe 5

    val nulls = intercept[IllegalArgumentException] {
      SnapshotStore.commitDelete(
        Seq(Some(1L), None).toDF("doc_id"), "doc_id", dir)
    }
    nulls.getMessage should include("null id")

    val gone = intercept[IllegalArgumentException] {
      SnapshotStore.read(spark, dir, Some(99))
    }
    gone.getMessage should include("does not exist")
  }

  test("readChanges: net inserts/deletes with preimages; compaction is dataChange=false; in-range churn nets out") {
    val dir = freshDir("cdc")
    SnapshotStore.commitAppend(docs(1 to 10), dir) // v1
    SnapshotStore.commitAppend(docs(11 to 16), dir) // v2 (inserts)
    SnapshotStore.commitDelete( // v3: 4 pre-range-start, 12 in-range
      Seq(4L, 12L).toDF("doc_id"), "doc_id", dir)
    SnapshotStore.compact(spark, dir) // v4: moved rows, not new ones

    val ch = SnapshotStore.readChanges(spark, dir, 1, 4)
      .select("_change", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // 12 was inserted AND deleted inside the range: nets out entirely;
    // 4's delete carries its v1 preimage; compaction emits nothing
    ch shouldBe (Seq(("delete", 4L)) ++
      Seq(11L, 13L, 14L, 15L, 16L).map(("insert", _)))

    // preimage columns are real values, not nulls
    val del = SnapshotStore.readChanges(spark, dir, 1, 4)
      .filter(col("_change") === "delete").collect().head
    del.getAs[String]("text") shouldBe "doc 4"

    // compact-only range: the feed is empty
    SnapshotStore.readChanges(spark, dir, 3, 4).count() shouldBe 0L

    // endpoints must exist
    val gone = intercept[IllegalArgumentException] {
      SnapshotStore.readChanges(spark, dir, 1, 9)
    }
    gone.getMessage should include("does not exist")
  }

  test("streaming sink: each micro-batch is one atomic version; replayed batch ids are no-ops, surviving compaction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir("sink")
    val ckpt = freshDir("sink_ckpt")
    val in = MemoryStream[(Long, String)]
    val q = SnapshotStore.streamSink(
      in.toDF().toDF("doc_id", "text"), dir, ckpt)
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
      SnapshotStore.versions(spark, dir) shouldBe Seq(1, 2)
      SnapshotStore.read(spark, dir).count() shouldBe 3
    } finally q.stop()

    // at-least-once delivery replays a committed batch after restart:
    // the recorded txn id makes the re-commit a NO-OP
    val replay = SnapshotStore.commitStreamBatch(
      Seq((3L, "c")).toDF("doc_id", "text"), dir, batchId = 1L)
    replay shouldBe 2
    SnapshotStore.versions(spark, dir) shouldBe Seq(1, 2)
    SnapshotStore.read(spark, dir).count() shouldBe 3

    // the txn marker survives a compaction between restart and replay
    SnapshotStore.compact(spark, dir) // v3
    SnapshotStore.commitStreamBatch(
      Seq((3L, "c")).toDF("doc_id", "text"), dir, batchId = 1L) shouldBe 3
    SnapshotStore.read(spark, dir).count() shouldBe 3

    // a genuinely new batch commits as the next version
    SnapshotStore.commitStreamBatch(
      Seq((4L, "d")).toDF("doc_id", "text"), dir, batchId = 2L) shouldBe 4
    SnapshotStore.read(spark, dir).count() shouldBe 4
  }

  test("partitioned streaming sink: micro-batches land as partition leaves, replay dedup holds, probes prune") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = freshDir("psink")
    val ckpt = freshDir("psink_ckpt")
    val in = MemoryStream[(Long, String)]
    val q = SnapshotStore.streamSink(
      in.toDF().toDF("doc_id", "lang"), dir, ckpt,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
    try {
      in.addData((1L, "en"), (2L, "fr"))
      q.processAllAvailable()
      in.addData((3L, "en"))
      q.processAllAvailable()
      // batch 1 fans into (en, fr) leaves, batch 2 into one en leaf
      SnapshotStore.versions(spark, dir) shouldBe Seq(1, 2)
      SnapshotStore.segmentCounts(spark, dir) shouldBe ((3, 0))
      val scan = SnapshotStore.readPrunedRange(spark, dir, Nil,
        parts = Map("lang" -> Set("fr")))
      scan.segsRead shouldBe 1
      scan.df.count() shouldBe 1
    } finally q.stop()
    // the replay no-op holds across the partitioned write path too
    SnapshotStore.commitStreamBatch(
      Seq((9L, "de")).toDF("doc_id", "lang"), dir, batchId = 1L,
      partitionBy = Seq("lang")) shouldBe 2
    SnapshotStore.read(spark, dir).count() shouldBe 3
  }

  test("mergeSchema evolution: added columns null-backfill, omitted columns null-forward, type flips refuse") {
    val dir = freshDir("evolve")
    SnapshotStore.commitAppend(
      Seq((1L, "en")).toDF("doc_id", "lang"), dir)
    // add a column (old rows read it as null)
    SnapshotStore.commitAppend(
      Seq((2L, "fr", 10L)).toDF("doc_id", "lang", "n"), dir,
      mergeSchema = true)
    // omit a column (this segment reads it as null)
    SnapshotStore.commitAppend(
      Seq((3L, 30L)).toDF("doc_id", "n"), dir, mergeSchema = true)
    val rows = SnapshotStore.read(spark, dir)
      .select("doc_id", "lang", "n").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    rows.toSeq shouldBe Seq(
      (1L, Some("en"), None),
      (2L, Some("fr"), Some(10L)),
      (3L, None, Some(30L)))
    // strict mode still refuses drift, and evolution refuses a retype
    val strict = intercept[IllegalArgumentException] {
      SnapshotStore.commitAppend(
        Seq((4L, 1.5)).toDF("doc_id", "n"), dir)
    }
    strict.getMessage should include("mergeSchema = true to evolve")
    val flip = intercept[IllegalArgumentException] {
      SnapshotStore.commitAppend(
        Seq((4L, 1.5)).toDF("doc_id", "n"), dir, mergeSchema = true)
    }
    flip.getMessage should include("type flip")
  }

  test("evolution x tombstones: a segment omitting the delete key survives the anti-join instead of wedging the read") {
    val dir = freshDir("evotomb")
    SnapshotStore.commitAppend(
      Seq((1L, "en"), (2L, "fr")).toDF("doc_id", "lang"), dir) // v1
    SnapshotStore.commitDelete(Seq(2L).toDF("doc_id"), "doc_id", dir) // v2
    // v3 OMITS doc_id entirely — legal evolution; its rows can never
    // be the tombstoned row, so they must pass the anti-join untouched
    SnapshotStore.commitAppend(
      Seq(("zz", 7L)).toDF("lang", "n"), dir, mergeSchema = true)
    SnapshotStore.commitDelete(Seq(1L).toDF("doc_id"), "doc_id", dir) // v4
    val rows = SnapshotStore.read(spark, dir)
      .select("doc_id", "lang", "n").collect()
      .map(r => (Option(r.get(0)), r.getString(1), Option(r.get(2))))
    rows.toSeq shouldBe Seq((None, "zz", Some(7L)))
    // upsert keeps the same guards as append: drift refuses without
    // mergeSchema, a retype refuses with it
    val strict = intercept[IllegalArgumentException] {
      SnapshotStore.commitUpsert(
        Seq((1L, "en")).toDF("doc_id", "lang"), "doc_id", dir)
    }
    strict.getMessage should include("mergeSchema = true")
    val flip = intercept[IllegalArgumentException] {
      SnapshotStore.commitUpsert(
        Seq((1L, "en", 1.5)).toDF("doc_id", "lang", "n"), "doc_id", dir,
        mergeSchema = true)
    }
    flip.getMessage should include("type flip")
  }

  test("streamInserts emits each committed insert exactly once and never re-emits a compaction") {
    val dir = freshDir("feed")
    SnapshotStore.commitAppend(docs(1 to 5), dir)
    val q = SnapshotStore.streamInserts(spark, dir)
      .writeStream.format("memory").queryName("snap_feed")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.table("snap_feed").count() shouldBe 5
      // a new commit surfaces incrementally
      SnapshotStore.commitAppend(docs(6 to 9), dir)
      q.processAllAvailable()
      spark.table("snap_feed").count() shouldBe 9
      // delete + compact move rows into a c* segment: no re-emission
      SnapshotStore.commitDelete(Seq(2L).toDF("doc_id"), "doc_id", dir)
      SnapshotStore.compact(spark, dir)
      q.processAllAvailable()
      spark.table("snap_feed").count() shouldBe 9
      spark.table("snap_feed").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq shouldBe (1L to 9L)
    } finally q.stop()
  }

  test("processChanges: cursor-driven maintenance equals full recompute across crash-replays and restarts") {
    val dir = freshDir("cdcmaint")
    val aggDir = freshDir("cdcmaint_agg")
    val cursor = s"${freshDir("cdcmaint_cur")}/cursor"
    def pop(ids: Range) = ids.map(i => (i.toLong, s"k${i % 3}", i.toLong))
      .toDF("doc_id", "grp", "v")

    SnapshotStore.commitAppend(pop(1 to 30), dir) // v1 — the baseline
    // maintained state = base aggregate at v1 + a DELTA LOG store;
    // readout folds the log (the Kafka-Streams changelog shape) —
    // append-only, so exactly-once rides commitStreamBatch's txn row
    SnapshotStore.commitAppend(
      SnapshotStore.read(spark, dir, Some(1)).groupBy("grp")
        .agg(count(lit(1)).as("dn"), sum(col("v")).as("dv")), aggDir)
    def maintain(): Unit = {
      SnapshotStore.processChanges(spark, dir, cursor, baseline = 1) {
        (ch, _, toV) =>
          val delta = ch.select(col("grp"),
            when(col("_change") === "insert", lit(1L)).otherwise(lit(-1L))
              .as("sgn"), col("v"))
            .groupBy("grp")
            .agg(sum(col("sgn")).as("dn"),
              sum(col("sgn") * col("v")).as("dv"))
          SnapshotStore.commitStreamBatch(delta, aggDir, batchId = toV,
            appId = "maint")
          ()
      }
      ()
    }
    def readout() = SnapshotStore.read(spark, aggDir)
      .groupBy("grp").agg(sum(col("dn")).as("n"), sum(col("dv")).as("s"))
      .filter(col("n") > 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    def recompute() = SnapshotStore.read(spark, dir)
      .groupBy("grp").agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq

    // caught up at the baseline: nothing to process
    SnapshotStore.processChanges(spark, dir, cursor, 1)((_, _, _) =>
      fail("nothing to process at the baseline")) shouldBe None

    SnapshotStore.commitAppend(pop(31 to 50), dir) // v2
    SnapshotStore.commitDelete(
      pop(1 to 30).filter(col("doc_id") % 5 === 0).select("doc_id"),
      "doc_id", dir) // v3
    maintain() // processes (1, 3]
    readout() shouldBe recompute()

    // CRASH REPLAY: f ran, the cursor never advanced — rewind it and
    // maintain again; the txn row makes the re-commit a no-op
    val fs = new org.apache.hadoop.fs.Path(cursor)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(cursor), false)
    val aggVersionsBefore = SnapshotStore.versions(spark, aggDir)
    maintain() // replays (1, 3] — exactly-once absorbs it
    SnapshotStore.versions(spark, aggDir) shouldBe aggVersionsBefore
    readout() shouldBe recompute()

    // more churn, including an upsert, processed in a LATER range
    SnapshotStore.commitUpsert(
      Seq((7L, "k1", 7000L)).toDF("doc_id", "grp", "v"), "doc_id", dir) // v4
    SnapshotStore.commitAppend(pop(51 to 60), dir) // v5
    maintain() // processes (3, 5]
    readout() shouldBe recompute()
    // and a caught-up call is a no-op
    SnapshotStore.processChanges(spark, dir, cursor, 1)((_, _, _) =>
      fail("already caught up")) shouldBe None

    // TRUE crash injection: f COMMITS its delta then dies before the
    // cursor advances, and a NEW ingest commit lands before the
    // retry. The write-ahead intent pins the crashed (5, 6] range, so
    // the retry re-offers batchId=6 (txn no-op) instead of folding
    // the already-applied prefix into a wider (5, 7] batch under
    // batchId=7 — the double-apply this guards against.
    SnapshotStore.commitAppend(pop(61 to 70), dir) // v6
    val boom = intercept[RuntimeException] {
      SnapshotStore.processChanges(spark, dir, cursor, 1) { (ch, _, toV) =>
        val delta = ch.select(col("grp"),
          when(col("_change") === "insert", lit(1L)).otherwise(lit(-1L))
            .as("sgn"), col("v"))
          .groupBy("grp")
          .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("v")).as("dv"))
        SnapshotStore.commitStreamBatch(delta, aggDir, batchId = toV,
          appId = "maint")
        throw new RuntimeException("crash after the delta committed")
      }
    }
    boom.getMessage should include("crash after")
    SnapshotStore.commitAppend(pop(71 to 80), dir) // v7 lands pre-retry
    maintain() // replays the PINNED (5, 6] — no-op on the txn row
    maintain() // then processes (6, 7]
    readout() shouldBe recompute()
  }

  test("commitUpsert replaces matched rows and inserts unmatched ones in ONE atomic version; re-inserts are visible") {
    val dir = freshDir("upsert")
    SnapshotStore.commitAppend(docs(1 to 6), dir) // v1
    // upsert: 2 and 4 replaced (new text), 99 inserted
    val up = Seq((2L, "TWO", 0L), (4L, "FOUR", 0L), (99L, "NEW", 0L))
      .toDF("doc_id", "text", "n")
    SnapshotStore.commitUpsert(up, "doc_id", dir) shouldBe 2
    val got = SnapshotStore.read(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.keySet shouldBe Set(1L, 2L, 3L, 4L, 5L, 6L, 99L)
    got(2L) shouldBe "TWO"
    got(4L) shouldBe "FOUR"
    got(1L) shouldBe "doc 1" // untouched rows keep their v1 values
    // v1 pin is unaffected (snapshot isolation through the upsert)
    SnapshotStore.read(spark, dir, Some(1))
      .filter(col("doc_id") === 2L).select("text")
      .head().getString(0) shouldBe "doc 2"
    // CDC across the upsert: preimage deletes for 2/4 (99 was not
    // visible at v1 so its delete nets out), inserts for all three
    val ch = SnapshotStore.readChanges(spark, dir, 1, 2)
      .select("_change", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    ch shouldBe Seq(("delete", 2L), ("delete", 4L),
      ("insert", 2L), ("insert", 4L), ("insert", 99L))

    // MVCC ordering: a plain delete then a LATER re-insert is visible
    SnapshotStore.commitDelete(Seq(3L).toDF("doc_id"), "doc_id", dir) // v3
    SnapshotStore.read(spark, dir).filter(col("doc_id") === 3L)
      .count() shouldBe 0
    SnapshotStore.commitAppend(
      Seq((3L, "back", 0L)).toDF("doc_id", "text", "n"), dir) // v4
    SnapshotStore.read(spark, dir).filter(col("doc_id") === 3L)
      .select("text").head().getString(0) shouldBe "back"
  }

  test("compactZordered: pruned range scans, history pins survive, CDC skips the movement, vacuum keeps the z-segment") {
    val dir = freshDir("zopt")
    val pop = (1L to 800L).map(i => (i, i % 97, s"row $i"))
      .toDF("doc_id", "k", "text")
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 400), dir)
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 400), dir)
    SnapshotStore.commitDelete(Seq(7L).toDF("doc_id"), "doc_id", dir)
    val v = SnapshotStore.compactZordered(spark, dir,
      zCols = Seq("k", "doc_id"), nFiles = 8,
      statsCols = Seq("k", "doc_id"))
    v shouldBe 4
    // content identical to the pre-optimize snapshot
    SnapshotStore.read(spark, dir).count() shouldBe 799
    // the range probe skips files and returns exactly the range
    val scan = SnapshotStore.readPrunedLatest(spark, dir,
      Seq(graft.ops.LayoutOps.ColRange("k", 10L, 20L)))
    scan.filesRead should be < scan.filesTotal
    scan.df.count() shouldBe pop
      .filter(col("k").between(10, 20) && col("doc_id") =!= 7L).count()
    // history pins still read their original segments
    SnapshotStore.read(spark, dir, Some(1)).count() shouldBe 400
    // the movement emits no changes
    SnapshotStore.readChanges(spark, dir, 3, 4).count() shouldBe 0
    // vacuum keeps the z-segment (manifest names <root>/data, the
    // sidecar rides in the same root) and the probe still prunes
    SnapshotStore.vacuum(spark, dir, keepFrom = 4)
    val scan2 = SnapshotStore.readPrunedLatest(spark, dir,
      Seq(graft.ops.LayoutOps.ColRange("k", 10L, 20L)))
    scan2.filesRead shouldBe scan.filesRead
    // pre-optimize views demand readPrunedLatest refuse loudly
    SnapshotStore.commitAppend(
      Seq((9001L, 3L, "late")).toDF("doc_id", "k", "text"), dir)
    val multi = intercept[IllegalArgumentException] {
      SnapshotStore.readPrunedLatest(spark, dir,
        Seq(graft.ops.LayoutOps.ColRange("k", 10L, 20L)))
    }
    multi.getMessage should include("compactZordered first")
  }

  test("per-commit stats prune a multi-segment mid-ingest store; tombstones, no-stats segments and version pins stay exact") {
    import graft.ops.LayoutOps
    val dir = freshDir("midprune")
    val pop = (1L to 900L).map(i => (i, i % 9, s"row $i"))
      .toDF("doc_id", "k", "text")
    // two banded appends WITH per-commit stats, a tombstone, then an
    // append WITHOUT stats — the mid-ingest shape readPrunedLatest
    // refuses and Delta prunes anyway
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 300), dir,
      statsCols = Seq("doc_id")) // v1
    SnapshotStore.commitAppend(pop.filter(col("doc_id").between(301, 600)),
      dir, statsCols = Seq("doc_id")) // v2
    SnapshotStore.commitDelete(
      Seq(150L, 450L).toDF("doc_id"), "doc_id", dir) // v3
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 600), dir) // v4, no stats
    val scan = SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 100L, 200L)))
    // v2's files prune entirely; v4 has no sidecar so its files all
    // read (conservative) — strictly fewer files than the store holds
    scan.filesRead should be < scan.filesTotal
    scan.df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (100L to 200L).filterNot(_ == 150L)

    // an upsert's own segment carries stats too and its tombstone
    // applies post-prune: the replaced row appears once, new value
    SnapshotStore.commitUpsert(
      Seq((120L, 99L, "REPLACED")).toDF("doc_id", "k", "text"),
      "doc_id", dir, statsCols = Seq("doc_id")) // v5
    val scan2 = SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 100L, 200L)))
    scan2.df.filter(col("doc_id") === 120L).select("text")
      .collect().map(_.getString(0)).toSeq shouldBe Seq("REPLACED")
    scan2.df.count() shouldBe 100 // 100..200 minus deleted 150

    // a version PIN prunes that version's view, not the latest
    val pinned = SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 100L, 200L)), version = Some(2))
    pinned.df.count() shouldBe 101 // pre-delete, pre-upsert
    pinned.df.filter(col("doc_id") === 120L).select("text")
      .head().getString(0) shouldBe "row 120"

    // probe outside every sidecar: statically empty, zero files read
    val none = SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 5000L, 6000L)))
    // v4 (no stats) still reads in full — only stats-covered segments prune
    none.df.count() shouldBe 0

    // a range column the sidecar lacks prunes on the recorded subset
    // (k has no stats anywhere: every file survives pruning, residual
    // still filters rows exactly)
    val sub = SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 100L, 200L),
        LayoutOps.ColRange("k", 3L, 3L)))
    sub.df.count() shouldBe pop
      .filter(col("doc_id").between(100, 200) && col("doc_id") =!= 150L &&
        col("doc_id") =!= 120L && col("k") === 3L).count()
  }

  test("readPrunedRange/countPrunedRange: a typo'd probe column on a non-evolved store fails loudly, never an empty frame") {
    import graft.ops.LayoutOps
    val dir = freshDir("typoguard")
    SnapshotStore.commitAppend(
      (1L to 50L).map(i => (i, s"row $i")).toDF("doc_id", "text"), dir,
      statsCols = Seq("doc_id"))
    // without the guard both faces would silently return empty/0 —
    // indistinguishable from a genuinely empty probe result
    val r = intercept[IllegalArgumentException] {
      SnapshotStore.readPrunedRange(spark, dir,
        Seq(LayoutOps.ColRange("doc_idd", 1L, 10L)))
    }
    r.getMessage should include("doc_idd")
    r.getMessage should include("non-evolved")
    val c = intercept[IllegalArgumentException] {
      SnapshotStore.countPrunedRange(spark, dir,
        Seq(LayoutOps.ColRange("doc_idd", 1L, 10L)))
    }
    c.getMessage should include("doc_idd")
    // an EVOLVED store keeps the per-segment silent skip: a column one
    // segment's schema omits is a legitimate probe, not a typo
    SnapshotStore.commitAppend(
      Seq((51L, 7L)).toDF("doc_id", "extra"), dir, mergeSchema = true,
      statsCols = Seq("doc_id"))
    SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("extra", 1L, 10L))).df.count() shouldBe 1L
  }

  test("readPrunedRange row-set equals read().where(residual) on an evolved, z-compacted, churned store") {
    import graft.ops.LayoutOps
    val dir = freshDir("pruneexact")
    val pop = (1L to 400L).map(i => (i, i % 13)).toDF("doc_id", "k")
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 200), dir,
      statsCols = Seq("doc_id", "k"))
    // evolution: a segment OMITTING the probe column contributes
    // nothing to a range probe on it (null can never sit in a range)
    SnapshotStore.commitAppend(
      Seq((9991L, "extra")).toDF("doc_id", "note"), dir,
      mergeSchema = true, statsCols = Seq("doc_id"))
    SnapshotStore.commitAppend(
      Seq(("pure", 7L)).toDF("note", "k2"), dir, mergeSchema = true)
    SnapshotStore.compactZordered(spark, dir,
      zCols = Seq("doc_id"), nFiles = 4, statsCols = Seq("doc_id", "k"))
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 200), dir,
      mergeSchema = true, statsCols = Seq("doc_id", "k"))
    SnapshotStore.commitDelete(Seq(42L, 242L).toDF("doc_id"), "doc_id", dir)
    val ranges = Seq(LayoutOps.ColRange("doc_id", 30L, 250L),
      LayoutOps.ColRange("k", 2L, 9L))
    val scan = SnapshotStore.readPrunedRange(spark, dir, ranges)
    val full = SnapshotStore.read(spark, dir)
      .where(LayoutOps.residualFilter(ranges))
    scan.df.select("doc_id", "k").collect().map(r =>
        (r.getLong(0), r.getLong(1))).sorted.toSeq shouldBe
      full.select("doc_id", "k").collect().map(r =>
        (r.getLong(0), r.getLong(1))).sorted.toSeq
    scan.filesRead should be < scan.filesTotal
  }

  test("countPrunedRange: contained files answer from metadata, boundary files scan, nulls and tombstones guard") {
    import graft.ops.LayoutOps
    val dir = freshDir("metacount")
    val pop = (1L to 800L).map(i => (i, s"row $i")).toDF("doc_id", "text")
    // range-sorted commits so middle files are CONTAINED in the probe
    SnapshotStore.commitAppend(
      pop.filter(col("doc_id") <= 400).repartitionByRange(4, col("doc_id")),
      dir, statsCols = Seq("doc_id"))
    SnapshotStore.commitAppend(
      pop.filter(col("doc_id") > 400).repartitionByRange(4, col("doc_id")),
      dir, statsCols = Seq("doc_id"))
    val cs = SnapshotStore.countPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 100L, 500L)))
    cs.count shouldBe 401L
    cs.filesMetaAnswered should be > 0 // middle files never opened
    cs.filesScanned should be < cs.filesTotal
    // exact vs the row-reading twin, and the metadata answers are a
    // strict subset of the files the row reader would touch
    val rs = SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 100L, 500L)))
    rs.df.count() shouldBe cs.count
    cs.filesScanned should be < rs.filesRead

    // a file with NULLS in the probe column is never metadata-answered
    // (null fails an inclusive range, so n_rows would overcount)
    val nullDir = freshDir("metanull")
    SnapshotStore.commitAppend(
      (Seq[Option[Long]](Some(5L), None, Some(7L)))
        .toDF("doc_id").coalesce(1), nullDir, statsCols = Seq("doc_id"))
    val ns = SnapshotStore.countPrunedRange(spark, nullDir,
      Seq(LayoutOps.ColRange("doc_id", 0L, 100L)))
    ns.count shouldBe 2L
    ns.filesMetaAnswered shouldBe 0 // scanned, not trusted
    // tombstones defeat range metadata: loud, with the escape hatch
    SnapshotStore.commitDelete(Seq(5L).toDF("doc_id"), "doc_id", nullDir)
    val tomb = intercept[IllegalArgumentException] {
      SnapshotStore.countPrunedRange(spark, nullDir,
        Seq(LayoutOps.ColRange("doc_id", 0L, 100L)))
    }
    tomb.getMessage should include("compact first")
    // post-compact the count answers again (tombstone folded)
    SnapshotStore.compact(spark, nullDir)
    SnapshotStore.countPrunedRange(spark, nullDir,
      Seq(LayoutOps.ColRange("doc_id", 0L, 100L))).count shouldBe 1L
  }

  test("withCommitRetry: lost races re-attempt on fresh state, non-conflicts propagate, the budget is loud") {
    val dir = freshDir("retry")
    SnapshotStore.commitAppend(docs(1 to 5), dir) // v1
    // a writer that loses its first TWO races (a competitor publishes
    // the version it targeted just before its own attempt runs), then
    // wins: the retry must land its rows on top of the competitors'
    var races = 0
    val v = SnapshotStore.withCommitRetry() { () =>
      if (races < 2) {
        races += 1
        // the competitor's commit — target version now taken
        SnapshotStore.commitAppend(docs(100 to 100), dir)
        val taken = SnapshotStore.versions(spark, dir).max
        // this writer derived `taken` before the competitor landed:
        // its manifest rename must conflict (driven through
        // commitManifest — the public faces re-list per call)
        SnapshotStore.commitManifest(spark, dir, taken, Seq(("seg", "x")))
        fail("the stale rename must have conflicted")
      }
      SnapshotStore.commitAppend(docs(6 to 9), dir)
    }
    races shouldBe 2
    v shouldBe 4 // v2/v3 were the competitors' commits
    SnapshotStore.read(spark, dir).count() shouldBe 11 // 5 + 2 + 4
    // a non-conflict failure propagates on the FIRST attempt
    var attempts = 0
    val drift = intercept[IllegalArgumentException] {
      SnapshotStore.withCommitRetry() { () =>
        attempts += 1
        SnapshotStore.commitAppend(
          Seq((1L, "x")).toDF("doc_id", "text"), dir)
      }
    }
    drift.getMessage should include("schema mismatch")
    attempts shouldBe 1
    // exhausting the budget rethrows loudly
    val lost = intercept[SnapshotStore.CommitConflictException] {
      SnapshotStore.withCommitRetry(maxAttempts = 3) { () =>
        SnapshotStore.commitManifest(spark, dir,
          SnapshotStore.versions(spark, dir).max, Seq(("seg", "x")))
        fail("must conflict")
      }
    }
    lost.getMessage should include("lost 3 optimistic-concurrency races")
  }

  test("restore: history-preserving rollback, txn markers carry, timestamp travel maps mtimes to versions") {
    val dir = freshDir("restore")
    SnapshotStore.commitAppend(docs(1 to 10), dir) // v1
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100) // fs mtime granularity can be a full second
    SnapshotStore.commitStreamBatch(docs(11 to 15), dir, batchId = 1L) // v2
    SnapshotStore.commitDelete( // v3 — the fat-fingered delete
      Seq(2L, 4L, 11L).toDF("doc_id"), "doc_id", dir)
    val v = SnapshotStore.restore(spark, dir, toVersion = 2)
    v shouldBe 4
    // content is exactly v2's; nothing was rewritten (the manifest
    // re-names the same segment dirs)
    SnapshotStore.read(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (1L to 15L)
    // the bad delete remains time-travelable (history preserved)
    SnapshotStore.read(spark, dir, Some(3)).count() shouldBe 12
    // txn markers carried: replaying the committed batch is a NO-OP
    // even after the rollback
    SnapshotStore.commitStreamBatch(docs(11 to 15), dir,
      batchId = 1L) shouldBe 4
    // life continues on top of the restored state
    SnapshotStore.commitAppend(docs(16 to 18), dir) // v5
    SnapshotStore.read(spark, dir).count() shouldBe 18
    // the rollback is itself revertable
    SnapshotStore.restore(spark, dir, toVersion = 3)
    SnapshotStore.read(spark, dir).count() shouldBe 12

    // timestamp travel: a time between v1 and v2 resolves to v1
    SnapshotStore.versionAsOf(spark, dir, afterV1) shouldBe 1
    SnapshotStore.versionAsOf(spark, dir,
      System.currentTimeMillis()) shouldBe 6
    val early = intercept[IllegalArgumentException] {
      SnapshotStore.versionAsOf(spark, dir, 0L)
    }
    early.getMessage should include("committed at or before")

    // vacuum keeps everything the restored manifest references — the
    // restored content survives dropping all the history before it
    SnapshotStore.vacuum(spark, dir, keepFrom = 6)
    SnapshotStore.read(spark, dir).count() shouldBe 12

    // every other writing face carries the txn marker too: replaying
    // the committed batch after each one is still a no-op
    import graft.ops.LayoutOps.ColRange
    SnapshotStore.commitAppend(docs(30 to 40), dir, partitionBy = Seq("n"))
    Seq[(String, () => Any)](
      "commitUpsert" -> (() =>
        SnapshotStore.commitUpsert(docs(5 to 6), "doc_id", dir)),
      "commitMerge" -> (() =>
        SnapshotStore.commitMerge(docs(7 to 8), "doc_id", dir)),
      "compactSmall" -> (() =>
        SnapshotStore.compactSmall(spark, dir, maxSegBytes = 1L << 30)),
      "commitDeleteWhere" -> (() => SnapshotStore.commitDeleteWhere(spark,
        dir, Seq(ColRange("doc_id", 9L, 9L)), "doc_id")),
      "commitDeleteWhere(dv)" -> (() => SnapshotStore.commitDeleteWhere(
        spark, dir, Seq(ColRange("doc_id", 10L, 10L)), "doc_id", dv = true)),
      "compactZordered(scope)" -> (() => SnapshotStore.compactZordered(
        spark, dir, Seq("doc_id"), 1, Seq("doc_id"),
        scope = Map("n" -> Set("3"))))
    ).foreach { case (face, run) =>
      val v = SnapshotStore.versions(spark, dir).max
      run()
      withClue(face) {
        SnapshotStore.versions(spark, dir).max shouldBe v + 1
        SnapshotStore.commitStreamBatch(docs(11 to 15), dir,
          batchId = 1L) shouldBe v + 1
      }
    }
    SnapshotStore.read(spark, dir).count() shouldBe 21
  }

  test("compactSmall: only small segments merge, postdating tombstones fold, covering tombstones stay, history pins hold") {
    val dir = freshDir("binpack")
    val big = docs(1 to 500)
    SnapshotStore.commitAppend(big, dir) // v1 — stays
    SnapshotStore.commitAppend(docs(1001 to 1020), dir) // v2 small
    SnapshotStore.commitAppend(docs(1021 to 1040), dir) // v3 small
    // v4 deletes from BOTH the big segment and a small one: the merge
    // must fold it for the merged rows and keep it for the big ones
    SnapshotStore.commitDelete(
      Seq(7L, 1005L).toDF("doc_id"), "doc_id", dir)
    val before = SnapshotStore.read(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val bigBytes = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/seg"))
      .map(s => fs.getContentSummary(s.getPath).getLength).max
    val v = SnapshotStore.compactSmall(spark, dir, bigBytes - 1)
    v shouldBe Some(5)
    // big + merged remain; the tombstone stays (the big segment
    // predates it, so 7 must stay hidden)
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((2, 1))
    SnapshotStore.read(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      before
    // the folded delete is PHYSICAL for the merged rows: scanning the
    // merged segment alone never sees 1005
    SnapshotStore.read(spark, dir).filter(col("doc_id") === 1005L)
      .count() shouldBe 0
    // history pins untouched; the movement emits no CDC
    SnapshotStore.read(spark, dir, Some(2)).count() shouldBe 520
    SnapshotStore.readChanges(spark, dir, 4, 5).count() shouldBe 0
    // fewer than two qualifying segments: a no-op
    SnapshotStore.compactSmall(spark, dir, 1L) shouldBe None
    // when EVERYTHING merges, no segment predates the tombstone and
    // it drops as dead weight
    val dir2 = freshDir("binpack_all")
    SnapshotStore.commitAppend(docs(1 to 20), dir2)
    SnapshotStore.commitAppend(docs(21 to 40), dir2)
    SnapshotStore.commitDelete(Seq(3L).toDF("doc_id"), "doc_id", dir2)
    SnapshotStore.compactSmall(spark, dir2, Long.MaxValue,
      statsCols = Seq("doc_id")).isDefined shouldBe true
    SnapshotStore.segmentCounts(spark, dir2) shouldBe ((1, 0))
    SnapshotStore.read(spark, dir2).count() shouldBe 39
    // and the merged segment's fresh sidecar answers metadata counts
    SnapshotStore.countPrunedRange(spark, dir2,
      Seq(graft.ops.LayoutOps.ColRange("doc_id", 1L, 40L)))
      .count shouldBe 39L

    // a TOTAL merge of an EVOLVED store unifies the schema and drops
    // the evo flag (reads stop paying the footer merge — the
    // compact/compactZordered contract); a bad statsCols fails BEFORE
    // the merge write
    val dir3 = freshDir("binpack_evo")
    SnapshotStore.commitAppend(Seq((1L, "en")).toDF("doc_id", "lang"), dir3)
    SnapshotStore.commitAppend(Seq((2L, 9L)).toDF("doc_id", "n"), dir3,
      mergeSchema = true)
    intercept[IllegalArgumentException] {
      SnapshotStore.compactSmall(spark, dir3, Long.MaxValue,
        statsCols = Seq("nope"))
    }.getMessage should include("statsCols")
    val v3 = SnapshotStore.compactSmall(spark, dir3, Long.MaxValue).get
    val manifest = spark.read.parquet(
        f"$dir3/manifest/v$v3%06d")
      .collect().map(_.getString(0)).toSeq
    manifest should not contain "evo"
    SnapshotStore.read(spark, dir3).columns.toSet shouldBe
      Set("doc_id", "lang", "n")
  }

  test("true concurrency: six racing writers all land under withCommitRetry; versions sequential, content complete") {
    val dir = freshDir("race")
    SnapshotStore.commitAppend(docs(1 to 1), dir) // v1
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // every writer re-derives from the store's current state per
    // attempt; the rename conflict is the only coordination
    val landed = Await.result(Future.sequence((1 to 6).map { w =>
      Future {
        SnapshotStore.withCommitRetry(maxAttempts = 30) { () =>
          SnapshotStore.commitAppend(docs(w * 10 to w * 10 + 2), dir)
        }
      }
    }), 180.seconds)
    landed.sorted shouldBe (2 to 7)
    SnapshotStore.versions(spark, dir) shouldBe (1 to 7)
    // nothing lost, nothing doubled: 1 + 6 writers x 3 rows
    SnapshotStore.read(spark, dir).count() shouldBe 19
    // losers' abandoned segments are invisible orphans; vacuum
    // collects them (their versions are all <= the committed max)
    SnapshotStore.vacuum(spark, dir, keepFrom = 1)
    SnapshotStore.read(spark, dir).count() shouldBe 19
  }

  test("autoOptimize: count trigger bin-packs, tombstone trigger z-orders, all-big segments never force an O(table) rewrite") {
    val dir = freshDir("cadence")
    val pop = (1L to 600L).map(i => (i, i % 17, s"row $i"))
      .toDF("doc_id", "k", "text")
    def auto(maxSegBytes: Long = 1L << 30) =
      SnapshotStore.autoOptimize(spark, dir,
        maxSegments = 2, maxTombstones = 1, maxSegBytes = maxSegBytes,
        zCols = Seq("doc_id"), nFiles = 4, statsCols = Seq("doc_id", "k"))
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 200), dir)
    auto() shouldBe None // 1 segment — under threshold
    SnapshotStore.commitAppend(
      pop.filter(col("doc_id").between(201, 400)), dir)
    auto() shouldBe None // 2 segments — at threshold, not over
    SnapshotStore.commitDelete(Seq(5L).toDF("doc_id"), "doc_id", dir)
    auto() shouldBe None // 1 tombstone — at threshold
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 400), dir)
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((3, 1))
    // the count trigger with ALL-BIG segments is a NO-OP, never a full
    // rewrite (maxSegBytes=1 makes every segment "big")
    auto(maxSegBytes = 1L) shouldBe None
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((3, 1))
    // the count trigger with small segments BIN-PACKS (O(small-files)),
    // folding the postdating tombstone into the merged segment
    val v = auto()
    v.get shouldBe a[SnapshotStore.BinPacked]
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((1, 0))
    SnapshotStore.read(spark, dir).count() shouldBe 599
    // idle call after the bin-pack: one manifest read, no work
    auto() shouldBe None
    // delete debt crosses the tombstone threshold → the RARE O(table)
    // z-order rewrite fires, folds both tombstones, restores pruning
    SnapshotStore.commitDelete(Seq(6L).toDF("doc_id"), "doc_id", dir)
    auto() shouldBe None // 1 tombstone — at threshold
    SnapshotStore.commitDelete(Seq(7L).toDF("doc_id"), "doc_id", dir)
    val z = auto()
    z.get shouldBe a[SnapshotStore.ZOrdered]
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((1, 0))
    SnapshotStore.read(spark, dir).count() shouldBe 597
    val scan = SnapshotStore.readPrunedLatest(spark, dir,
      Seq(graft.ops.LayoutOps.ColRange("doc_id", 100L, 150L)))
    scan.filesRead should be < scan.filesTotal
    scan.df.count() shouldBe 51
    auto() shouldBe None
  }

  test("commitDelete refuses an id column absent from the store's current schema") {
    val dir = freshDir("badkey")
    SnapshotStore.commitAppend(docs(1 to 5), dir)
    // a mistyped delete key would tombstone nothing (antiTomb's
    // missing-column branch passes it through) — refuse loudly instead
    val bad = intercept[IllegalArgumentException] {
      SnapshotStore.commitDelete(Seq(3L).toDF("docid"), "docid", dir)
    }
    bad.getMessage should include("not in the store's current schema")
    // the store is untouched: no tombstone version was committed
    SnapshotStore.versions(spark, dir) shouldBe Seq(1)
  }

  test("tombstone broadcast gate: the forced shuffle path is row-identical and the gate sizes off the segment files") {
    val dir = freshDir("tombgate")
    SnapshotStore.commitAppend(docs(1 to 20), dir) // v1
    SnapshotStore.commitDelete( // v2
      Seq(2L, 4L, 13L).toDF("doc_id"), "doc_id", dir)
    def snap() = SnapshotStore.read(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    def cdc() = SnapshotStore.readChanges(spark, dir, 1, 2)
      .select("_change", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val (snapBc, cdcBc) = (snap(), cdc())
    // default gate: a 3-id tombstone is far under the limit
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tombPath = "tomb/" + fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/tomb"))
      .head.getPath.getName
    SnapshotStore.tombBroadcastGate(spark, dir, Seq(tombPath)) shouldBe true
    // force the mass-delete regime (gate=0 bytes): the anti/semi joins
    // drop the broadcast hint and must return the same rows
    sys.props("graft.snapshot.tombBroadcastBytes") = "0"
    try {
      SnapshotStore.tombBroadcastGate(spark, dir, Seq(tombPath)) shouldBe false
      snap() shouldBe snapBc
      cdc() shouldBe cdcBc
    } finally sys.props.remove("graft.snapshot.tombBroadcastBytes")
  }

  test("vacuum collects stale orphans but never an in-flight writer's segment") {
    val dir = freshDir("orphan")
    SnapshotStore.commitAppend(docs(1 to 5), dir) // v1
    SnapshotStore.compact(spark, dir) // v2 — v1's segment unreachable from v2
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // a crashed writer's orphan at a version BELOW the retention floor
    // (its version was re-used by a later successful commit, so its own
    // rename can only lose the race — genuinely dead)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/seg/s000002_stale_orphan"))
    // an IN-FLIGHT writer: segment written, manifest rename not yet
    // attempted, targeting version latest+1 — deleting it would publish
    // a committed version pointing at a deleted segment
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/seg/s000003_in_flight"))
    val dropped = SnapshotStore.vacuum(spark, dir, keepFrom = 2)
    dropped.map(_.takeWhile(_ != '_')).sorted shouldBe Seq(
      "manifest/v000001", "seg/s000001", "seg/s000002")
    // the in-flight segment survived and its commit can still publish
    fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/seg/s000003_in_flight")) shouldBe true
    SnapshotStore.read(spark, dir).count() shouldBe 5
  }

  test("vacuum drops exactly the unreachable history and retained versions survive") {
    val dir = freshDir("vacuum")
    SnapshotStore.commitAppend(docs(1 to 10), dir) // v1: seg/s000001
    SnapshotStore.commitDelete(Seq(3L).toDF("doc_id"), "doc_id", dir) // v2
    SnapshotStore.compact(spark, dir) // v3: seg/s000003 only
    SnapshotStore.commitAppend(docs(11 to 12), dir) // v4

    val dropped = SnapshotStore.vacuum(spark, dir, keepFrom = 3)
    // v1/v2 manifests go; the v1 segment and the tombstone are
    // unreachable from v3/v4, which reference only the compacted
    // segment (+ v4's append). Segment names carry a unique suffix
    // after the version — compare the version-bearing prefix.
    dropped.map(_.takeWhile(_ != '_')).sorted shouldBe Seq(
      "manifest/v000001", "manifest/v000002",
      "seg/s000001", "tomb/t000002")

    SnapshotStore.versions(spark, dir) shouldBe Seq(3, 4)
    SnapshotStore.read(spark, dir, Some(3)).count() shouldBe 9
    SnapshotStore.read(spark, dir, Some(4)).count() shouldBe 11
    val old = intercept[IllegalArgumentException] {
      SnapshotStore.read(spark, dir, Some(1))
    }
    old.getMessage should include("vacuumed or never committed")
  }

  private def langPop(n: Int) = (1L to n.toLong).map(i =>
      (i, Seq("en", "fr", "de")((i % 3).toInt), s"row $i"))
    .toDF("doc_id", "lang", "text")

  test("CHECK constraints: write-path invariants refuse loudly and commit nothing; add scans existing data; compactions carry rules; NULL passes") {
    val dir = freshDir("chk")
    SnapshotStore.commitAppend(
      Seq((1L, Option(10L)), (2L, Option(20L))).toDF("doc_id", "x"), dir)
    // adding a constraint the CURRENT data violates refuses
    val badAdd = intercept[IllegalArgumentException] {
      SnapshotStore.addConstraint(spark, dir, "x_small", "x < 15")
    }
    badAdd.getMessage should include("existing data violates")
    SnapshotStore.addConstraint(spark, dir, "x_pos", "x > 0")
    SnapshotStore.constraints(spark, dir) shouldBe Map("x_pos" -> "x > 0")
    // a violating append refuses loudly and commits NOTHING (the
    // written segment is an invisible orphan)
    val vNow = SnapshotStore.versions(spark, dir).max
    val bad = intercept[IllegalArgumentException] {
      SnapshotStore.commitAppend(
        Seq((3L, Option(-5L))).toDF("doc_id", "x"), dir)
    }
    bad.getMessage should include("x_pos")
    SnapshotStore.versions(spark, dir).max shouldBe vNow
    SnapshotStore.read(spark, dir).count() shouldBe 2
    // a valid append passes; a NULL result passes (SQL-standard
    // UNKNOWN — stated in the scaladoc because engines disagree)
    SnapshotStore.commitAppend(
      Seq((3L, Option(5L)), (4L, Option.empty[Long]))
        .toDF("doc_id", "x"), dir)
    SnapshotStore.read(spark, dir).count() shouldBe 4
    // upsert and merge run the same write-path guard
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitUpsert(
        Seq((1L, Option(-1L))).toDF("doc_id", "x"), "doc_id", dir)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitMerge(
        Seq((1L, Option(-2L))).toDF("doc_id", "x"), "doc_id", dir)
    // rules outlive a full compaction and still bite
    SnapshotStore.compact(spark, dir)
    SnapshotStore.constraints(spark, dir).keySet shouldBe Set("x_pos")
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitAppend(
        Seq((7L, Option(-7L))).toDF("doc_id", "x"), dir)
    // ... and every other committing face carries them too
    import graft.ops.LayoutOps.ColRange
    SnapshotStore.commitAppend(Seq((5L, Option(5L)), (6L, Option(5L)))
      .toDF("doc_id", "x"), dir, partitionBy = Seq("x"))
    Seq[(String, () => Any)](
      "commitUpsert" -> (() => SnapshotStore.commitUpsert(
        Seq((1L, Option(11L))).toDF("doc_id", "x"), "doc_id", dir)),
      "commitMerge" -> (() => SnapshotStore.commitMerge(
        Seq((2L, Option(12L))).toDF("doc_id", "x"), "doc_id", dir)),
      "compactSmall" -> (() =>
        SnapshotStore.compactSmall(spark, dir, maxSegBytes = 1L << 30)),
      "commitDeleteWhere" -> (() => SnapshotStore.commitDeleteWhere(spark,
        dir, Seq(ColRange("doc_id", 3L, 3L)), "doc_id")),
      "commitDeleteWhere(dv)" -> (() => SnapshotStore.commitDeleteWhere(
        spark, dir, Seq(ColRange("doc_id", 4L, 4L)), "doc_id", dv = true)),
      "compactZordered(scope)" -> (() => SnapshotStore.compactZordered(
        spark, dir, Seq("doc_id"), 1, Seq("doc_id"),
        scope = Map("x" -> Set("5"))))
    ).foreach { case (face, run) =>
      val v = SnapshotStore.versions(spark, dir).max
      run()
      withClue(face) {
        SnapshotStore.versions(spark, dir).max shouldBe v + 1
        SnapshotStore.constraints(spark, dir).keySet shouldBe Set("x_pos")
      }
    }
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitAppend(
        Seq((8L, Option(-8L))).toDF("doc_id", "x"), dir)
    // duplicate add and unknown drop are loud; drop re-allows
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.addConstraint(spark, dir, "x_pos", "x > 0")
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.dropConstraint(spark, dir, "nope")
    SnapshotStore.dropConstraint(spark, dir, "x_pos")
    SnapshotStore.commitAppend(
      Seq((9L, Option(-9L))).toDF("doc_id", "x"), dir)
    SnapshotStore.read(spark, dir).count() shouldBe 5
  }

  test("commitDeleteWhere: stats-proven disjoint segments never rewrite, preimages feed CDC, null predicates keep rows") {
    import graft.ops.LayoutOps
    val dir = freshDir("delwhere")
    // k is NULL on every 50th row — SQL three-valued DELETE must keep
    // those rows whatever the range says
    val pop = (1L to 600L).map(i =>
        (i, if (i % 50 == 0) None else Some(i % 400), s"row $i"))
      .toDF("doc_id", "k", "text")
    Seq((1L, 200L), (201L, 400L), (401L, 600L)).foreach { case (lo, hi) =>
      SnapshotStore.commitAppend(
        pop.filter(col("doc_id").between(lo, hi)), dir,
        statsCols = Seq("doc_id"))
    }
    SnapshotStore.commitDelete(Seq(450L).toDF("doc_id"), "doc_id", dir)
    val vBefore = SnapshotStore.versions(spark, dir).max
    val res = SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 100L, 250L)), "doc_id",
      statsCols = Seq("doc_id")).get
    res.rowsDeleted shouldBe 151 // ids 100..250 inclusive
    res.segsRewritten shouldBe 2 // the 401..600 segment proved disjoint
    res.segsTotal shouldBe 3
    def ids() = SnapshotStore.read(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    ids() shouldBe (1L to 600L)
      .filterNot(i => i >= 100 && i <= 250).filterNot(_ == 450L)
    // CDC: the predicate delete surfaces as delete PREIMAGES; the
    // rewritten survivor segments are dataChange=false movement
    val cdc = SnapshotStore.readChanges(spark, dir, vBefore, res.version)
    cdc.filter(col("_change") === "insert").count() shouldBe 0
    cdc.filter(col("_change") === "delete")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (100L to 250L)
    // a range on the NULLABLE column keeps null rows (pred = NULL)
    val res2 = SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(LayoutOps.ColRange("k", 0L, 500L)), "doc_id").get
    SnapshotStore.read(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (1L to 600L).filter(i => i % 50 == 0)
        .filterNot(i => i >= 100 && i <= 250).filterNot(_ == 450L)
    res2.rowsDeleted should be > 0L
    // nothing matches → None, no version committed
    val vNow = SnapshotStore.versions(spark, dir).max
    SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 5000L, 6000L)),
      "doc_id") shouldBe None
    SnapshotStore.versions(spark, dir).max shouldBe vNow
  }

  test("commitDeleteWhere with a partition predicate: drops whole partitions without reading the others") {
    val dir = freshDir("delpart")
    val pop = langPop(300)
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 150), dir,
      partitionBy = Seq("lang"))
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 150), dir,
      partitionBy = Seq("lang"))
    val res = SnapshotStore.commitDeleteWhere(spark, dir, Nil, "doc_id",
      parts = Map("lang" -> Set("fr"))).get
    res.segsRewritten shouldBe 2 // only the two fr leaves touched
    res.segsTotal shouldBe 6
    res.rowsDeleted shouldBe pop.filter(col("lang") === "fr").count()
    // the emptied fr groups contribute no segments; reads stay exact
    SnapshotStore.read(spark, dir).count() shouldBe
      pop.filter(col("lang") =!= "fr").count()
    val scan = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("en")))
    scan.df.count() shouldBe pop.filter(col("lang") === "en").count()
  }

  test("bloom sidecars: an equality probe on an unsorted column prunes files min/max cannot; verdicts compute in-plan") {
    import graft.ops.LayoutOps
    val dir = freshDir("bloomeq")
    // the realistic shape: min/max stats on the CLUSTER key (band),
    // blooms on the LOOKUP key (doc_id) — every file spans nearly the
    // full doc_id range, so range metadata is useless for a point
    // probe and only the per-file bloom can say "cannot hold it"
    val pop = (1L to 2000L).map(i => (i, i % 4, s"row $i"))
      .toDF("doc_id", "band", "text")
    (0L to 3L).foreach { b =>
      SnapshotStore.commitAppend(
        pop.filter(col("band") === b).repartition(4), dir,
        statsCols = Seq("band"), bloomCols = Seq("doc_id"),
        bloomExpectedItems = 1000L)
    }
    // the no-bloom twin: a doc_id RANGE probe has no min/max recorded
    // anywhere — every file reads (min/max alone prunes nothing)
    val noBloom = SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 777L, 777L)))
    noBloom.filesRead shouldBe noBloom.filesTotal
    noBloom.df.count() shouldBe 1
    // the eq probe: blooms reject the files that cannot hold 777 —
    // three whole segments (wrong band) plus the band's other files
    val eq = SnapshotStore.readPrunedRange(spark, dir, Nil,
      eqs = Seq(LayoutOps.ColEq("doc_id", 777L)))
    eq.filesRead should be < noBloom.filesRead
    eq.filesTotal shouldBe noBloom.filesTotal
    eq.df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq shouldBe Seq((777L, 1L))
    // an absent id touches at most the false-positive files and
    // returns exactly nothing (the residual keeps it exact)
    val absent = SnapshotStore.readPrunedRange(spark, dir, Nil,
      eqs = Seq(LayoutOps.ColEq("doc_id", 999999L)))
    absent.df.count() shouldBe 0
    absent.filesRead should be <= 2
    // eq composes with ranges: band stats prune segments, bloom
    // prunes within
    val both = SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("band", 1L, 1L)),
      eqs = Seq(LayoutOps.ColEq("doc_id", 777L)))
    both.filesRead should be <= eq.filesRead
    both.df.count() shouldBe 1
    // the COUNT twin prunes its scan set the same way but never
    // metadata-answers from a bloom (false positives would overcount)
    val cs = SnapshotStore.countPrunedRange(spark, dir, Nil,
      eqs = Seq(LayoutOps.ColEq("doc_id", 777L)))
    cs.count shouldBe 1L
    cs.filesMetaAnswered shouldBe 0
    cs.filesScanned should be < cs.filesTotal
  }

  test("commitMerge: delete-before-update clause order, untouched non-matches, insert-not-matched, CDC rendering, loud guards") {
    val dir = freshDir("merge")
    val pop = (1L to 20L).map(i => (i, s"row $i", i % 7))
      .toDF("doc_id", "text", "n")
    SnapshotStore.commitAppend(pop, dir)
    // source: ids 5,10,15 matched (n flips to 99), ids 100,101 new
    val src = Seq((5L, "UPD 5", 99L), (10L, "UPD 10", 99L),
        (15L, "UPD 15", 99L), (100L, "NEW 100", 1L), (101L, "NEW 101", 2L))
      .toDF("doc_id", "text", "n")
    val vBefore = SnapshotStore.versions(spark, dir).max
    // delete matched targets whose n == 3 (id 10: 10%7=3); update the
    // rest only when the TARGET id is odd (5, 15 update; none stay —
    // so add id 4 to source untouched-path: 4%7=4, even → neither)
    val src2 = src.unionByName(
      Seq((4L, "UPD 4", 99L)).toDF("doc_id", "text", "n"))
    val res = SnapshotStore.commitMerge(src2, "doc_id", dir,
      updateWhen = Some(col("doc_id") % 2 === 1),
      deleteWhen = Some(col("n") === 3)).get
    res.updated shouldBe 2 // 5, 15
    res.deleted shouldBe 1 // 10
    res.inserted shouldBe 2 // 100, 101
    val out = SnapshotStore.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    out.filter(_._1 == 4L) shouldBe Seq((4L, "row 4", 4L)) // untouched
    out.filter(_._1 == 5L) shouldBe Seq((5L, "UPD 5", 99L))
    out.exists(_._1 == 10L) shouldBe false
    out.filter(_._1 == 100L) shouldBe Seq((100L, "NEW 100", 1L))
    out.size shouldBe 21 // 20 - 1 deleted + 2 inserted
    // CDC: updates render as delete-preimage + replacement insert
    val cdc = SnapshotStore.readChanges(spark, dir, vBefore, res.version)
      .select("_change", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    cdc should contain allOf (
      ("delete", 5L, "row 5"), ("delete", 10L, "row 10"),
      ("insert", 5L, "UPD 5"), ("insert", 100L, "NEW 100"))
    cdc.count(_._1 == "delete") shouldBe 3
    cdc.count(_._1 == "insert") shouldBe 4
    // a no-op merge commits nothing
    val vNow = SnapshotStore.versions(spark, dir).max
    SnapshotStore.commitMerge(
      Seq((999L, "x", 0L)).toDF("doc_id", "text", "n"), "doc_id", dir,
      updateWhen = None, insertNotMatched = false) shouldBe None
    SnapshotStore.versions(spark, dir).max shouldBe vNow
    // duplicate source ids are the Delta multiple-matches error
    val dup = intercept[IllegalArgumentException] {
      SnapshotStore.commitMerge(
        Seq((5L, "a", 1L), (5L, "b", 2L)).toDF("doc_id", "text", "n"),
        "doc_id", dir)
    }
    dup.getMessage should include("multiple")
    // null source ids refuse
    val nul = intercept[IllegalArgumentException] {
      SnapshotStore.commitMerge(
        Seq((Option.empty[Long], "a", 1L)).toDF("doc_id", "text", "n"),
        "doc_id", dir)
    }
    nul.getMessage should include("null id")
  }

  test("streamChanges: a streaming query maintains the aggregate ≡ recompute across restarts; a restore emits nothing (re-baseline)") {
    val dir = freshDir("cdfstream")
    val ckpt = freshDir("cdfckpt")
    val pop = (1L to 300L).map(i => (i, i % 5, i * 10))
      .toDF("doc_id", "g", "x")
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 150), dir)
    // the maintained state: per-group (count, sum) folded COMMUTATIVELY
    // (the feed's two file sources batch independently — order across
    // kinds is not guaranteed, sums don't care)
    val state = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      .withDefaultValue((0L, 0L))
    def run(): Unit = {
      val q = SnapshotStore.streamChanges(spark, dir).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.groupBy(col("g"))
            .agg(sum(when(col("_change") === "insert", 1L)
              .otherwise(-1L)).as("dn"),
              sum(when(col("_change") === "insert", col("x"))
                .otherwise(-col("x"))).as("dx"))
            .collect().foreach { r =>
              val (n0, s0) = state(r.getLong(0))
              state(r.getLong(0)) = (n0 + r.getLong(1), s0 + r.getLong(2))
            }
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    def recompute(): Map[Long, (Long, Long)] =
      SnapshotStore.read(spark, dir).groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    run()
    state.toMap shouldBe recompute()
    // more ingest + cdf deletes/upserts, then a RESTART (fresh query,
    // same checkpoint — file offsets resume, nothing re-folds)
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 150), dir)
    SnapshotStore.commitDelete(
      pop.filter(col("doc_id") % 7 === 0).select("doc_id"),
      "doc_id", dir, cdf = true)
    SnapshotStore.commitUpsert(
      pop.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), col("g"), (col("x") + 1L).as("x")),
      "doc_id", dir, cdf = true)
    run()
    state.toMap shouldBe recompute()
    // predicate delete and merge keep the feed consistent too
    SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(graft.ops.LayoutOps.ColRange("doc_id", 20L, 40L)), "doc_id",
      cdf = true)
    SnapshotStore.commitMerge(
      Seq((3L, 3L, 999L), (9001L, 1L, 5L)).toDF("doc_id", "g", "x"),
      "doc_id", dir, cdf = true)
    run()
    state.toMap shouldBe recompute()
    // a RESTORE emits NOTHING on the feed (no new seg/cdc files): the
    // maintained state is untouched while the table content moved —
    // the documented re-baseline contract (Delta CDF's too)
    val before = state.toMap
    SnapshotStore.restore(spark, dir,
      SnapshotStore.versions(spark, dir).max - 2)
    run()
    state.toMap shouldBe before
    state.toMap should not be recompute() // the consumer must re-baseline
    // a delete WITHOUT cdf never surfaces preimages (Delta: CDF must
    // be on when the change happens) — inserts still flow
    SnapshotStore.commitDelete(Seq(2L).toDF("doc_id"), "doc_id", dir)
    run()
    state.toMap shouldBe before
    // change files retire with their version: vacuuming to the latest
    // drops every cdc dir older than it
    val latest = SnapshotStore.versions(spark, dir).max
    val dropped = SnapshotStore.vacuum(spark, dir, keepFrom = latest)
    dropped.count(_.startsWith("cdc/")) should be > 0
  }

  test("partitioned commits: leaves are full-schema segments, partition predicates prune segments before sidecars, residual stays exact") {
    import graft.ops.LayoutOps
    val dir = freshDir("partstore")
    val pop = langPop(300)
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 150), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang")) // v1: 3 leaves
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 150), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang")) // v2: 3 leaves
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((6, 0))
    // read: full original schema (the partition column is DUPLICATED
    // into the layout twin, so data files keep it), every row once
    val r = SnapshotStore.read(spark, dir)
    r.columns.toSeq shouldBe Seq("doc_id", "lang", "text")
    r.count() shouldBe 300
    // partition predicate prunes segments BEFORE any sidecar/file read
    val scan = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("en")))
    scan.segsRead shouldBe 2
    scan.segsTotal shouldBe 6
    scan.df.count() shouldBe pop.filter(col("lang") === "en").count()
    // partition + range compose; file-level stats still prune within
    // the surviving segments (v2's en leaf holds only doc_id > 150)
    val both = SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 1L, 100L)),
      parts = Map("lang" -> Set("en")))
    both.segsRead shouldBe 2
    both.filesRead should be < both.filesTotal
    both.df.count() shouldBe
      pop.filter(col("lang") === "en" && col("doc_id") <= 100).count()
    // tombstones fold post-prune in MVCC order
    SnapshotStore.commitDelete(Seq(3L, 153L).toDF("doc_id"), "doc_id", dir)
    val scan2 = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("en", "fr")))
    scan2.df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      pop.filter(col("lang").isin("en", "fr") &&
        !col("doc_id").isin(3L, 153L))
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // a MIXED store: an unpartitioned commit is kept conservatively,
    // and the row residual keeps the answer exact
    SnapshotStore.commitAppend(
      Seq((9001L, "en", "late")).toDF("doc_id", "lang", "text"), dir)
    val scan3 = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("fr")))
    scan3.segsRead shouldBe 3 // 2 fr leaves + the unpartitioned segment
    scan3.df.filter(col("doc_id") === 9001L).count() shouldBe 0
    // a partitioned UPSERT: its segment partitions, its tombstone
    // hides the old row, the replacement is visible
    SnapshotStore.commitUpsert(
      Seq((6L, "en", "REPLACED")).toDF("doc_id", "lang", "text"),
      "doc_id", dir, partitionBy = Seq("lang"))
    val up = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("en")))
    up.df.filter(col("doc_id") === 6L).select("text")
      .collect().map(_.getString(0)).toSeq shouldBe Seq("REPLACED")
    // vacuum keeps every reachable partition leaf: 300 - {3,153}
    // deleted + the late unpartitioned row (the id-6 upsert replaces)
    SnapshotStore.vacuum(spark, dir, keepFrom = 5)
    SnapshotStore.read(spark, dir).count() shouldBe 299
  }

  test("partitions: SHOW PARTITIONS answered from metadata alone; loud on tombstones, bare segments and missing stats") {
    val dir = freshDir("showpart")
    val pop = langPop(300)
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 150), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 150), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
    val out = SnapshotStore.partitions(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val expect = pop.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.keySet shouldBe expect.keySet
    out.foreach { case (lang, (nSeg, nRows)) =>
      nSeg shouldBe 2L
      nRows shouldBe expect(lang)
    }
    // tombstones defeat row metadata — loud
    SnapshotStore.commitDelete(Seq(3L).toDF("doc_id"), "doc_id", dir)
    val tombed = intercept[IllegalArgumentException] {
      SnapshotStore.partitions(spark, dir)
    }
    tombed.getMessage should include("tombstone")
    // the pre-delete PIN still answers
    SnapshotStore.partitions(spark, dir, version = Some(2))
      .count() shouldBe expect.size.toLong
    // a bare (unpartitioned) segment is loud, as is a stats-less one
    val dir2 = freshDir("showpart2")
    SnapshotStore.commitAppend(pop, dir2, statsCols = Seq("doc_id"))
    val bare = intercept[IllegalArgumentException] {
      SnapshotStore.partitions(spark, dir2)
    }
    bare.getMessage should include("unpartitioned")
    val dir3 = freshDir("showpart3")
    SnapshotStore.commitAppend(pop, dir3, partitionBy = Seq("lang"))
    val noStats = intercept[IllegalArgumentException] {
      SnapshotStore.partitions(spark, dir3)
    }
    noStats.getMessage should include("no stats sidecar")
  }

  test("compactPartitioned retro-fits partition pruning onto an unpartitioned table; CDC skips the movement; rules carry") {
    val dir = freshDir("retropart")
    val pop = langPop(300)
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 150), dir)
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 150), dir)
    SnapshotStore.commitDelete(Seq(3L).toDF("doc_id"), "doc_id", dir)
    SnapshotStore.addConstraint(spark, dir, "pos", "doc_id > 0")
    val vBefore = SnapshotStore.versions(spark, dir).max
    val before = SnapshotStore.read(spark, dir)
      .collect().map(_.toSeq).toSet
    val v = SnapshotStore.compactPartitioned(spark, dir, Seq("lang"),
      statsCols = Seq("doc_id"))
    SnapshotStore.read(spark, dir)
      .collect().map(_.toSeq).toSet shouldBe before
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((3, 0))
    val scan = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("en")))
    scan.segsRead shouldBe 1
    scan.segsTotal shouldBe 3
    // repartitioning is movement, not change — the feed stays silent
    SnapshotStore.readChanges(spark, dir, vBefore, v).count() shouldBe 0
    // rules carry; later partitioned appends extend the layout
    SnapshotStore.constraints(spark, dir).keySet shouldBe Set("pos")
    SnapshotStore.commitAppend(
      Seq((301L, "en", "late")).toDF("doc_id", "lang", "text"), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
    val scan2 = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("en")))
    scan2.segsRead shouldBe 2
    scan2.df.count() shouldBe scan.df.count() + 1
    // history pins keep reading the old layout
    SnapshotStore.read(spark, dir, Some(2)).count() shouldBe 300
  }

  test("streamChanges maxFilesPerTrigger bounds catch-up micro-batches") {
    val dir = freshDir("cdfrate")
    val ckpt = freshDir("cdfratec")
    (1 to 4).foreach { i =>
      SnapshotStore.commitAppend(
        Seq((i.toLong, i.toLong)).toDF("doc_id", "x").coalesce(1), dir)
    }
    var batches = 0
    val q = SnapshotStore.streamChanges(spark, dir,
        maxFilesPerTrigger = Some(1)).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) batches += 1; ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    batches should be >= 4 // one file per commit, one file per batch
  }

  test("two-level partitioning: leaves nest, predicates prune on either or both columns, compaction keeps both encodings") {
    import graft.ops.LayoutOps
    val dir = freshDir("part2")
    val pop = (1L to 240L).map(i =>
        (i, Seq("en", "fr")((i % 2).toInt), (i % 3).toString, s"row $i"))
      .toDF("doc_id", "lang", "shard", "text")
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 120), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang", "shard"))
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 120), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang", "shard"))
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((12, 0)) // 2×2×3
    SnapshotStore.read(spark, dir).count() shouldBe 240
    // prune on the LEADING column
    val byLang = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("en")))
    byLang.segsRead shouldBe 6
    byLang.df.count() shouldBe pop.filter(col("lang") === "en").count()
    // prune on the TRAILING column alone (the path records both)
    val byShard = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("shard" -> Set("2")))
    byShard.segsRead shouldBe 4
    byShard.df.count() shouldBe pop.filter(col("shard") === "2").count()
    // both columns compose to a single leaf per commit
    val bothCols = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("fr"), "shard" -> Set("0")))
    bothCols.segsRead shouldBe 2
    bothCols.df.count() shouldBe
      pop.filter(col("lang") === "fr" && col("shard") === "0").count()
    // signature-grouped compaction keeps BOTH encodings
    SnapshotStore.compactSmall(spark, dir, maxSegBytes = 1L << 30,
      statsCols = Seq("doc_id")).isDefined shouldBe true
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((6, 0))
    val after = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("fr"), "shard" -> Set("0")))
    after.segsRead shouldBe 1
    after.df.count() shouldBe bothCols.df.count()
  }

  test("countPrunedRange with partition predicates: exact partitions meta-answer, conservative segments must scan") {
    import graft.ops.LayoutOps
    val dir = freshDir("partcount")
    val pop = langPop(300)
    SnapshotStore.commitAppend(pop, dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
    val cs = SnapshotStore.countPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 1L, 300L)),
      parts = Map("lang" -> Set("en")))
    cs.count shouldBe pop.filter(col("lang") === "en").count()
    cs.segsRead shouldBe 1
    cs.segsTotal shouldBe 3
    // the en leaf's files are contained in the full doc_id range AND
    // the partition predicate is exactly satisfied → pure metadata
    cs.filesScanned shouldBe 0
    cs.filesMetaAnswered should be > 0
    // an unpartitioned commit can never be meta-answered under a
    // partition predicate — its rows must scan
    SnapshotStore.commitAppend(
      Seq((9001L, "en", "late")).toDF("doc_id", "lang", "text"), dir,
      statsCols = Seq("doc_id"))
    val cs2 = SnapshotStore.countPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 1L, 9001L)),
      parts = Map("lang" -> Set("en")))
    cs2.count shouldBe cs.count + 1
    cs2.filesScanned should be > 0
  }

  test("compactSmall groups by partition signature (never blending partitions); scope limits the merge") {
    import graft.ops.LayoutOps
    val dir = freshDir("partpack")
    val pop = langPop(300)
    Seq(100L, 200L, 300L).foreach { hi =>
      SnapshotStore.commitAppend(
        pop.filter(col("doc_id") > hi - 100 && col("doc_id") <= hi), dir,
        statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
    }
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((9, 0))
    // scope: only en's three leaves merge
    SnapshotStore.compactSmall(spark, dir, maxSegBytes = 1L << 30,
      statsCols = Seq("doc_id"),
      scope = Map("lang" -> Set("en"))).isDefined shouldBe true
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((7, 0))
    // the merged segment keeps its partition encoding: an en probe
    // touches exactly one segment
    val en = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("en")))
    en.segsRead shouldBe 1
    en.df.count() shouldBe pop.filter(col("lang") === "en").count()
    // unscoped: fr and de groups merge independently; the single
    // merged-en segment is a group of one and carries forward
    SnapshotStore.compactSmall(spark, dir, maxSegBytes = 1L << 30,
      statsCols = Seq("doc_id")).isDefined shouldBe true
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((3, 0))
    SnapshotStore.read(spark, dir).count() shouldBe 300
    val fr = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("fr")))
    fr.segsRead shouldBe 1
    fr.df.count() shouldBe pop.filter(col("lang") === "fr").count()
  }

  test("partition-scoped compactZordered z-rewrites one partition, carries the rest, keeps pruning exact") {
    import graft.ops.LayoutOps
    val dir = freshDir("partz")
    val pop = langPop(600)
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 300), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 300), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
    SnapshotStore.compactZordered(spark, dir, zCols = Seq("doc_id"),
      nFiles = 4, statsCols = Seq("doc_id"),
      scope = Map("lang" -> Set("en")))
    SnapshotStore.segmentCounts(spark, dir) shouldBe ((5, 0))
    SnapshotStore.read(spark, dir).count() shouldBe 600
    // the z-rewritten en partition prunes by file inside its segment
    val en = SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 1L, 60L)),
      parts = Map("lang" -> Set("en")))
    en.segsRead shouldBe 1
    en.filesRead should be < en.filesTotal
    en.df.count() shouldBe
      pop.filter(col("lang") === "en" && col("doc_id") <= 60).count()
    // scope matching nothing is loud
    val none = intercept[IllegalArgumentException] {
      SnapshotStore.compactZordered(spark, dir, zCols = Seq("doc_id"),
        nFiles = 4, statsCols = Seq("doc_id"),
        scope = Map("lang" -> Set("zz")))
    }
    none.getMessage should include("no segment matches")
  }

  test("partition guards: null values and separator values refuse loudly, escaped values round-trip") {
    val dir = freshDir("partguards")
    val nullLang = intercept[IllegalArgumentException] {
      SnapshotStore.commitAppend(
        Seq((1L, Option.empty[String], "x")).toDF("doc_id", "lang", "text"),
        dir, partitionBy = Seq("lang"))
    }
    nullLang.getMessage should include("null partition value")
    val semi = intercept[IllegalArgumentException] {
      SnapshotStore.commitAppend(
        Seq((1L, "a;b", "x")).toDF("doc_id", "lang", "text"),
        dir, partitionBy = Seq("lang"))
    }
    semi.getMessage should include("manifest separators")
    // both refusals deleted their orphan roots: the store is still
    // empty and a clean commit starts at v1
    SnapshotStore.versions(spark, dir) shouldBe Seq.empty
    // a value hive MUST escape (':' and space) round-trips through the
    // path encoding and the partition predicate
    SnapshotStore.commitAppend(
      Seq((1L, "zh hant:TW", "x"), (2L, "en", "y"))
        .toDF("doc_id", "lang", "text"),
      dir, partitionBy = Seq("lang")) shouldBe 1
    val scan = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("zh hant:TW")))
    scan.segsRead shouldBe 1
    scan.segsTotal shouldBe 2
    scan.df.select("doc_id").head().getLong(0) shouldBe 1L
    // a missing partition column and the reserved prefix refuse
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitAppend(
        Seq((3L, "en", "z")).toDF("doc_id", "lang", "text"), dir,
        partitionBy = Seq("langg"))
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitAppend(
        Seq((3L, "en", "z")).toDF("doc_id", "__p_lang", "text"), dir,
        partitionBy = Seq("text"))
    // an EMPTY partitioned frame commits a no-data version (no leaves
    // — reading a file-less root for a sidecar would fail)
    SnapshotStore.commitAppend(
      Seq((9L, "en", "x")).toDF("doc_id", "lang", "text")
        .where(col("doc_id") < 0),
      dir, statsCols = Seq("doc_id"), partitionBy = Seq("lang")) shouldBe 2
    SnapshotStore.read(spark, dir).count() shouldBe 2
  }

  test("eq probes are TYPE-validated against the store column: exact widenings cast, lossy values refuse (bloom-only silent-empty hazard)") {
    import graft.ops.LayoutOps
    val dir = freshDir("bloomtype")
    val pop = (1L to 400L).map(i => (i, s"row $i")).toDF("doc_id", "text")
    SnapshotStore.commitAppend(pop.repartition(4), dir,
      bloomCols = Seq("doc_id"), bloomExpectedItems = 500L)
    // an Int probing the LongType column: the bloom build side hashed
    // xxhash64(long), so an unwidened Int lit would hash differently,
    // prune EVERY file, and return a silently-empty frame — the typed
    // cast makes it find the row
    val widened = SnapshotStore.readPrunedRange(spark, dir, Nil,
      eqs = Seq(LayoutOps.ColEq("doc_id", 77)))
    widened.df.count() shouldBe 1
    // a lossy/cross-kind value refuses loudly instead of silently
    // pruning everything (the residual cannot restore never-read files)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.readPrunedRange(spark, dir, Nil,
        eqs = Seq(LayoutOps.ColEq("doc_id", "77")))
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.countPrunedRange(spark, dir, Nil,
        eqs = Seq(LayoutOps.ColEq("doc_id", 3.5)))
    // an integral that cannot fit the column's type is lossy too
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.readPrunedRange(spark, dir, Nil,
        eqs = Seq(LayoutOps.ColEq("text", 5L)))
  }

  test("commitDeleteWhere matching every visible row leaves a readable empty snapshot, never a bricked store") {
    import graft.ops.LayoutOps
    val dir = freshDir("delall")
    // PARTITIONED layout: the dynamic-partition empty-survivor write
    // emits NO files (unlike a zero-partition write, which pins the
    // schema in one empty file), so without the deterministic
    // schema-pin segment this exact shape bricked the store
    val pop = langPop(120)
    SnapshotStore.commitAppend(pop, dir, statsCols = Seq("doc_id"),
      partitionBy = Seq("lang"))
    val res = SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 0L, 100000L)), "doc_id").get
    res.rowsDeleted shouldBe 120
    // the store stays fully readable as an empty snapshot (the
    // id-based commitDelete equivalence), and later appends revive it
    SnapshotStore.read(spark, dir).count() shouldBe 0
    SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 1L, 10L))).df.count() shouldBe 0
    SnapshotStore.commitAppend(pop.limit(5), dir,
      partitionBy = Seq("lang"))
    SnapshotStore.read(spark, dir).count() shouldBe 5
    // time travel to the pre-delete version still sees all rows
    SnapshotStore.read(spark, dir, Some(1)).count() shouldBe 120
  }

  /** Fatter rows for write-footprint assertions: md5-derived text is
    * incompressible enough that segment bytes dominate parquet's
    * per-file floor, so merge-on-read vs copy-on-write byte ratios
    * measure the design, not the codec.
    */
  private def fatDocs(ids: Range) = {
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    ids.map(i => (i.toLong, h(s"a$i") + h(s"b$i") + h(s"c$i"),
      (i % 7 + 1).toLong)).toDF("doc_id", "text", "n")
  }

  test("deletion vectors: a point DELETE WHERE writes match-sized bytes, rewrites nothing, and reads stay exact") {
    import graft.ops.LayoutOps
    val dvDir = freshDir("dvmor")
    val cowDir = freshDir("dvcow")
    val pop = fatDocs(1 to 9000)
    Seq(dvDir, cowDir).foreach { d =>
      Seq(1 to 3000, 3001 to 6000, 6001 to 9000).foreach(r =>
        SnapshotStore.commitAppend(fatDocs(r).repartition(3), d,
          statsCols = Seq("doc_id")))
    }
    val vBefore = SnapshotStore.versions(spark, dvDir).max
    val dvRes = SnapshotStore.commitDeleteWhere(spark, dvDir,
      Seq(LayoutOps.ColRange("doc_id", 4100L, 4120L)), "doc_id",
      dv = true).get
    val cowRes = SnapshotStore.commitDeleteWhere(spark, cowDir,
      Seq(LayoutOps.ColRange("doc_id", 4100L, 4120L)), "doc_id").get
    dvRes.rowsDeleted shouldBe 21
    cowRes.rowsDeleted shouldBe 21
    // merge-on-read: ZERO segments rewritten, bytes ∝ matches; the
    // copy-on-write twin pays the whole suspect segment
    dvRes.segsRewritten shouldBe 0
    cowRes.segsRewritten shouldBe 1
    (dvRes.bytesWritten * 10) should be < cowRes.bytesWritten
    // both read the same exact row set
    val expect = pop.where(!col("doc_id").between(4100L, 4120L)).count()
    SnapshotStore.read(spark, dvDir).count() shouldBe expect
    SnapshotStore.read(spark, cowDir).count() shouldBe expect
    SnapshotStore.read(spark, dvDir)
      .where(col("doc_id").between(4090L, 4130L))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
      ((4090L to 4099L) ++ (4121L to 4130L))
    // time travel: the pre-delete pin is untouched
    SnapshotStore.read(spark, dvDir, Some(vBefore)).count() shouldBe 9000
    // pruned reads fold the DV too, and untouched-segment probes skip
    // the anti-join entirely (the dv row names its segments)
    val hit = SnapshotStore.readPrunedRange(spark, dvDir,
      Seq(LayoutOps.ColRange("doc_id", 4000L, 4200L)))
    hit.df.count() shouldBe 201L - 21L
    hit.filesRead should be < hit.filesTotal
    val miss = SnapshotStore.readPrunedRange(spark, dvDir,
      Seq(LayoutOps.ColRange("doc_id", 100L, 200L)))
    miss.df.count() shouldBe 101
    miss.df.queryExecution.executedPlan.toString should not include "Join"
    // CDF: the delete range renders the 21 preimages, nothing else
    val cdc = SnapshotStore.readChanges(spark, dvDir, vBefore,
      dvRes.version)
    cdc.where(col("_change") === "delete").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe (4100L to 4120L)
    cdc.where(col("_change") === "insert").count() shouldBe 0
    // metadata faces refuse dv-bearing views exactly as tombstoned ones
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.countPrunedRange(spark, dvDir,
        Seq(LayoutOps.ColRange("doc_id", 1L, 100L)))
    // delete debt counts the DV; a second DV stacks with a tombstone
    SnapshotStore.segmentCounts(spark, dvDir)._2 shouldBe 1
    SnapshotStore.commitDeleteWhere(spark, dvDir,
      Seq(LayoutOps.ColRange("doc_id", 7000L, 7004L)), "doc_id",
      dv = true).get.rowsDeleted shouldBe 5
    SnapshotStore.commitDelete(Seq(1L, 2L).toDF("doc_id"), "doc_id",
      dvDir)
    SnapshotStore.read(spark, dvDir).count() shouldBe 9000L - 21 - 5 - 2
    // a re-insert of dv-deleted ids is a NEW file no DV touches
    SnapshotStore.commitAppend(fatDocs(4100 to 4102), dvDir,
      statsCols = Seq("doc_id"))
    SnapshotStore.read(spark, dvDir)
      .where(col("doc_id") === 4100L).count() shouldBe 1
    // compaction materializes every DV and drops the rows; the read
    // plan loses its anti-joins
    val vc = SnapshotStore.compact(spark, dvDir)
    SnapshotStore.read(spark, dvDir).count() shouldBe 9000L - 21 - 5 - 2 + 3
    SnapshotStore.read(spark, dvDir, Some(vc))
      .queryExecution.executedPlan.toString should not include "Join"
    SnapshotStore.segmentCounts(spark, dvDir) shouldBe ((1, 0))
    // pre-compaction pins still resolve their DVs; vacuuming them away
    // collects the dv dirs (they're named only via the encoded row)
    SnapshotStore.read(spark, dvDir, Some(dvRes.version))
      .count() shouldBe 9000L - 21
    val dropped = SnapshotStore.vacuum(spark, dvDir, vc)
    dropped.count(_.startsWith("dv/")) shouldBe 2
  }

  test("commitDelete(dv = true): id-list merge-on-read — match-sized sidecar, no tombstone, no-match commits nothing") {
    import graft.ops.LayoutOps
    val dir = freshDir("dvids")
    SnapshotStore.commitAppend(fatDocs(1 to 3000).repartition(3), dir,
      statsCols = Seq("doc_id"))
    val vBefore = SnapshotStore.versions(spark, dir).max
    // the GDPR shape: delete BY ID LIST; some ids match nothing
    val v = SnapshotStore.commitDelete(
      Seq(100L, 200L, 999999L).toDF("doc_id"), "doc_id", dir,
      cdf = true, dv = true)
    v shouldBe vBefore + 1
    SnapshotStore.read(spark, dir).count() shouldBe 2998
    SnapshotStore.read(spark, dir)
      .where(col("doc_id").isin(100L, 200L)).count() shouldBe 0
    // no tombstone rides the commit — the delete debt is the ONE dv
    SnapshotStore.segmentCounts(spark, dir)._2 shouldBe 1
    // CDC preimages: exactly the two matched rows
    SnapshotStore.readChanges(spark, dir, vBefore, v)
      .where(col("_change") === "delete").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(100L, 200L)
    // an all-miss id list commits NOTHING (a positions sidecar of
    // nothing is not a version)
    SnapshotStore.commitDelete(Seq(888888L).toDF("doc_id"), "doc_id",
      dir, dv = true) shouldBe v
    SnapshotStore.versions(spark, dir).max shouldBe v
    // time travel + pruned reads resolve the id-based DV too
    SnapshotStore.read(spark, dir, Some(vBefore)).count() shouldBe 3000
    SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 90L, 210L))).df
      .count() shouldBe 121L - 2L
  }

  test("deletion vectors on a partitioned store: untouched-partition probes never plan the anti-join; CoW deletes fold existing DVs") {
    import graft.ops.LayoutOps
    val dir = freshDir("dvpart")
    val pop = langPop(600)
    SnapshotStore.commitAppend(pop, dir, statsCols = Seq("doc_id"),
      partitionBy = Seq("lang"))
    // dv-delete five rows inside the 'en' partition only
    val res = SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 300L, 330L)), "doc_id",
      parts = Map("lang" -> Set("en")), dv = true).get
    res.segsRewritten shouldBe 0
    val delIds = (300L to 330L).filter(_ % 3 == 0) // en = i%3==0... lang index
    // langPop: lang = Seq("en","fr","de")(i % 3) → en when i%3==0
    res.rowsDeleted shouldBe delIds.size
    // a probe of another partition never plans the DV anti-join
    val fr = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("fr")))
    fr.df.queryExecution.executedPlan.toString should not include "Join"
    fr.df.count() shouldBe pop.where(col("lang") === "fr").count()
    // the touched partition folds it
    val en = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("en")))
    en.df.count() shouldBe
      pop.where(col("lang") === "en").count() - delIds.size
    // a LATER copy-on-write delete folds the existing DV: its matched
    // count must not resurrect dv-deleted rows
    val cow = SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 295L, 340L)), "doc_id").get
    cow.rowsDeleted shouldBe
      pop.where(col("doc_id").between(295L, 340L)).count() - delIds.size
    SnapshotStore.read(spark, dir).count() shouldBe
      pop.where(!col("doc_id").between(295L, 340L)).count()
    // the CoW rewrite consumed every affected segment → the dv row died
    SnapshotStore.segmentCounts(spark, dir)._2 shouldBe 1 // the tomb
  }

  test("history: op records, data-change flags, manifest-diff footprints, vacuumed-prefix behavior") {
    val dir = freshDir("history")
    SnapshotStore.commitAppend(docs(1 to 10), dir, statsCols = Seq("doc_id"))
    SnapshotStore.commitAppend(docs(11 to 20), dir, statsCols = Seq("doc_id"))
    SnapshotStore.addConstraint(spark, dir, "pos", "n > 0")
    SnapshotStore.commitDelete(Seq(2L).toDF("doc_id"), "doc_id", dir)
    SnapshotStore.compactSmall(spark, dir, maxSegBytes = 1L << 30,
      statsCols = Seq("doc_id"))
    val h = SnapshotStore.history(spark, dir)
      .orderBy(col("version")).collect()
    h.map(_.getInt(0)).toSeq shouldBe Seq(1, 2, 3, 4, 5)
    h.map(_.getString(2)).toSeq shouldBe
      Seq("append", "append", "addConstraint", "delete", "compactSmall")
    h.map(_.getBoolean(3)).toSeq shouldBe
      Seq(true, true, false, true, false)
    h.map(_.getInt(4)).toSeq shouldBe Seq(1, 1, 0, 0, 1)
    // the bin-pack's merged segment carries stats, so its moved rows
    // are countable (19 = 20 appended - 1 tombstone folded in)
    h.map(_.getLong(5)).toSeq shouldBe Seq(10L, 10L, 0L, 0L, 19L)
    h.map(_.getLong(6)).toSeq shouldBe Seq(0L, 0L, 0L, 1L, 0L)
    // commit wall-clocks are monotone non-decreasing
    h.map(_.getLong(1)).toSeq shouldBe h.map(_.getLong(1)).sorted.toSeq
    // a vacuumed prefix vanishes; the earliest retained version
    // reports its FULL manifest as added
    SnapshotStore.vacuum(spark, dir, keepFrom = 4)
    val h2 = SnapshotStore.history(spark, dir)
      .orderBy(col("version")).collect()
    h2.map(_.getInt(0)).toSeq shouldBe Seq(4, 5)
    h2.head.getInt(4) shouldBe 2 // both appended segs, full-manifest diff
    h2.head.getLong(5) shouldBe 20L
    h2.head.getLong(6) shouldBe 1L
  }

  test("minMaxPrunedRange: contained files answer from stats, boundary files scan, hidden-row views refuse") {
    import graft.ops.LayoutOps
    val dir = freshDir("minmax")
    // bands of 100 by n: files inside band 2 are CONTAINED by a probe
    // covering [100, 250); band 3 overlaps at the boundary; band 1 is
    // disjoint
    val pop = (1L to 900L).map(i => (i, (i - 1) / 3, s"r$i"))
      .toDF("doc_id", "n", "text") // n in 0..299
    Seq(0L, 100L, 200L).foreach(lo =>
      SnapshotStore.commitAppend(
        pop.where(col("n").between(lo, lo + 99)).repartition(2), dir,
        statsCols = Seq("n", "doc_id")))
    val probe = Seq(LayoutOps.ColRange("n", 100L, 250L))
    val mm = SnapshotStore.minMaxPrunedRange(spark, dir, "doc_id", probe)
    mm.min shouldBe 301L // n=100 → doc_ids 301..303
    mm.max shouldBe 753L // n=250 → doc_ids 751..753
    mm.filesMetaAnswered should be > 0
    mm.filesScanned should be > 0
    (mm.filesScanned + mm.filesMetaAnswered) should be < mm.filesTotal
    // partition-scoped form, and the partition-only (no range) probe
    val pdir = freshDir("minmaxp")
    SnapshotStore.commitAppend(langPop(300), pdir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
    val pm = SnapshotStore.minMaxPrunedRange(spark, pdir, "doc_id", Nil,
      parts = Map("lang" -> Set("fr")))
    pm.min shouldBe 1L // fr = i%3==1 → first is 1
    pm.max shouldBe 298L // last i%3==1 ≤ 300
    pm.filesScanned shouldBe 0 // exactly-matched leaves are contained
    pm.filesMetaAnswered should be > 0
    // a mistyped probe range still fails loudly (cmpStat's contract)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.minMaxPrunedRange(spark, dir, "doc_id",
        Seq(LayoutOps.ColRange("n", "a", "z")))
    // tombstones and DVs refuse — a hidden row could be the extreme
    SnapshotStore.commitDelete(Seq(753L).toDF("doc_id"), "doc_id", dir)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.minMaxPrunedRange(spark, dir, "doc_id", probe)
    SnapshotStore.commitDeleteWhere(spark, pdir,
      Seq(LayoutOps.ColRange("doc_id", 298L, 298L)), "doc_id",
      dv = true)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.minMaxPrunedRange(spark, pdir, "doc_id", Nil,
        parts = Map("lang" -> Set("fr")))
  }

  test("shallow clone: pinned equivalence, source-commit isolation, local divergence, materialization survives source deletion") {
    import graft.ops.LayoutOps
    val src = freshDir("clsrc")
    val dst = freshDir("cldst")
    SnapshotStore.commitAppend(docs(1 to 20), src,
      statsCols = Seq("doc_id"))
    SnapshotStore.commitDelete(Seq(5L, 6L).toDF("doc_id"), "doc_id", src)
    SnapshotStore.commitDeleteWhere(spark, src,
      Seq(LayoutOps.ColRange("doc_id", 10L, 11L)), "doc_id", dv = true)
    val pin = SnapshotStore.clone(spark, src, dst)
    pin shouldBe 3
    def ids(dir: String, v: Option[Int] = None) =
      SnapshotStore.read(spark, dir, v).select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
    val expect = (1L to 20L).filterNot(Set(5L, 6L, 10L, 11L))
    ids(dst) shouldBe expect // tombstone AND dv resolve through the refs
    // stats-pruned reads work through cloned sidecars (anchored
    // attribution), with real pruning evidence
    val scan = SnapshotStore.readPrunedRange(spark, dst,
      Seq(LayoutOps.ColRange("doc_id", 1L, 3L)))
    scan.df.count() shouldBe 3
    // post-clone SOURCE commits are invisible to the clone
    SnapshotStore.commitAppend(docs(100 to 110), src,
      statsCols = Seq("doc_id"))
    ids(dst) shouldBe expect
    // divergent clone writes land locally and never touch the source
    SnapshotStore.commitAppend(docs(200 to 205), dst,
      statsCols = Seq("doc_id"))
    ids(dst) shouldBe (expect ++ (200L to 205L))
    ids(src) shouldBe (expect ++ (100L to 110L))
    // a clone-LOCAL delete hides CLONED rows — the version-numbering
    // property (the clone's first version = the pin, so local
    // tombstones postdate every cloned segment)
    SnapshotStore.commitDelete(Seq(1L, 200L).toDF("doc_id"), "doc_id",
      dst)
    ids(dst) shouldBe (expect ++ (200L to 205L))
      .filterNot(Set(1L, 200L))
    // time travel to the pin still works on the clone
    ids(dst, Some(pin)) shouldBe expect
    // history renders the clone as the earliest retained version
    val h = SnapshotStore.history(spark, dst).orderBy(col("version"))
      .collect()
    h.head.getInt(0) shouldBe pin
    h.head.getString(2) shouldBe "clone"
    // vacuum on the clone sweeps only LOCAL children — the source
    // stays intact and the clone keeps reading
    SnapshotStore.vacuum(spark, dst,
      SnapshotStore.versions(spark, dst).max)
    ids(src) shouldBe (expect ++ (100L to 110L))
    // compact materializes the clone fully local: delete the WHOLE
    // source root and the clone must still read
    val vc = SnapshotStore.compact(spark, dst)
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.list(p).forEach(rmTree(_))
      java.nio.file.Files.delete(p)
    }
    rmTree(java.nio.file.Paths.get(src))
    ids(dst, Some(vc)) shouldBe (expect ++ (200L to 205L))
      .filterNot(Set(1L, 200L))
    // refusals: an occupied destination, a scheme'd path
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.clone(spark, dst, dst)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.clone(spark, "s3://bucket/t", freshDir("clx"))
  }

  test("one-job partitioned rewrites: multi-partition DELETE WHERE and bin-pack write one root, stay exact, keep pruning") {
    import graft.ops.LayoutOps
    val dir = freshDir("onejob")
    val pop = langPop(600)
    // three stats-carrying partitioned ingests → 9 leaves (3 langs × 3)
    Seq(col("doc_id") <= 200,
        col("doc_id").between(201, 400), col("doc_id") > 400)
      .foreach(band => SnapshotStore.commitAppend(pop.filter(band), dir,
        statsCols = Seq("doc_id"), partitionBy = Seq("lang")))
    def segsAt(d: String, v: Int) =
      spark.read.parquet(f"$d/manifest/v$v%06d")
        .collect().filter(_.getString(0) == "seg").map(_.getString(1))
    // a delete spanning EVERY partition: all 9 leaves suspect, one
    // shared partition-column list → the ONE-JOB bulk rewrite
    val res = SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 150L, 450L)), "doc_id",
      statsCols = Seq("doc_id")).get
    res.segsRewritten shouldBe 9
    val rewritten = segsAt(dir, res.version).filter(_.startsWith("seg/c"))
    rewritten.length shouldBe 3 // one leaf per lang survives
    // ONE write job ⇒ every leaf shares the same commit root
    rewritten.map(_.split('/').take(2).mkString("/")).distinct
      .length shouldBe 1
    rewritten.foreach(_ should include("/__p_lang="))
    SnapshotStore.read(spark, dir).count() shouldBe
      pop.where(!col("doc_id").between(150L, 450L)).count()
    // partition pruning survives the bulk rewrite
    val scan = SnapshotStore.readPrunedRange(spark, dir, Nil,
      parts = Map("lang" -> Set("en")))
    scan.segsRead should be < scan.segsTotal
    scan.df.count() shouldBe pop.where(col("lang") === "en" &&
      !col("doc_id").between(150L, 450L)).count()
    // the bin-pack cadence takes the same one-root path: 3+ small
    // leaves per lang fold into ONE commit root of 3 leaves
    val dir2 = freshDir("onejob2")
    Seq(col("doc_id") <= 200,
        col("doc_id").between(201, 400), col("doc_id") > 400)
      .foreach(band => SnapshotStore.commitAppend(pop.filter(band), dir2,
        statsCols = Seq("doc_id"), partitionBy = Seq("lang")))
    val vb = SnapshotStore.compactSmall(spark, dir2,
      maxSegBytes = 1L << 30, statsCols = Seq("doc_id")).get
    val binned = segsAt(dir2, vb)
    binned.length shouldBe 3
    binned.map(_.split('/').take(2).mkString("/")).distinct
      .length shouldBe 1
    SnapshotStore.segmentCounts(spark, dir2)._1 shouldBe 3
    SnapshotStore.read(spark, dir2).count() shouldBe 600
    // bin-packed leaves hold ONE file each (the repartition-by-cols
    // placement — the point of the pack)
    binned.foreach { leaf =>
      new java.io.File(s"$dir2/$leaf").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")) shouldBe 1
    }
    // mixed layouts (an unpartitioned segment in the suspect set)
    // fall back to per-signature rewrites and stay exact
    val dir3 = freshDir("onejob3")
    SnapshotStore.commitAppend(pop.filter(col("doc_id") <= 300), dir3,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang"))
    SnapshotStore.commitAppend(pop.filter(col("doc_id") > 300), dir3,
      statsCols = Seq("doc_id"))
    SnapshotStore.commitDeleteWhere(spark, dir3,
      Seq(LayoutOps.ColRange("doc_id", 250L, 350L)), "doc_id",
      statsCols = Seq("doc_id"))
    SnapshotStore.read(spark, dir3).count() shouldBe
      pop.where(!col("doc_id").between(250L, 350L)).count()
  }

  test("sumPrunedRange: contained files answer from recorded sums, floats refuse, missing sums downgrade to scans") {
    import graft.ops.LayoutOps
    val dir = freshDir("sumrange")
    val pop = (1L to 900L).map(i => (i, (i - 1) / 3, s"r$i"))
      .toDF("doc_id", "n", "text") // n in 0..299, 3 rows per n
    Seq(0L, 100L, 200L).foreach(lo =>
      SnapshotStore.commitAppend(
        pop.where(col("n").between(lo, lo + 99)).repartition(2), dir,
        statsCols = Seq("n", "doc_id")))
    val probe = Seq(LayoutOps.ColRange("n", 100L, 250L))
    val ss = SnapshotStore.sumPrunedRange(spark, dir, "doc_id", probe)
    // doc ids with n in [100,250] are 301..753
    ss.sum.longValueExact shouldBe (301L to 753L).sum
    ss.count shouldBe 453L
    ss.filesMetaAnswered should be > 0
    ss.filesScanned should be > 0
    (ss.filesScanned + ss.filesMetaAnswered) should be < ss.filesTotal
    // AVG's denominator is the NON-NULL count: plant nulls in a store
    // whose probe band is fully contained
    val dn = freshDir("sumnull")
    val popN = (1L to 300L).map(i =>
        (i, i % 10, if (i % 5 == 0) None else Some(i)))
      .toDF("doc_id", "n", "v")
    SnapshotStore.commitAppend(popN, dn, statsCols = Seq("n", "v"))
    val sn = SnapshotStore.sumPrunedRange(spark, dn, "v",
      Seq(LayoutOps.ColRange("n", 0L, 9L)))
    sn.sum.longValueExact shouldBe (1L to 300L).filter(_ % 5 != 0).sum
    sn.count shouldBe 240L
    sn.filesMetaAnswered shouldBe sn.filesTotal
    // a floating target refuses loudly (order-dependent sums are the
    // one thing a metadata answer must never return)
    val df = freshDir("sumfloat")
    SnapshotStore.commitAppend(
      (1L to 10L).map(i => (i, i / 2.0)).toDF("doc_id", "x"), df,
      statsCols = Seq("doc_id", "x"))
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.sumPrunedRange(spark, df, "x",
        Seq(LayoutOps.ColRange("doc_id", 1L, 5L)))
    // a target with no recorded stats downgrades every contained file
    // to a scan — exact, zero metadata answers
    val dg = freshDir("sumdown")
    SnapshotStore.commitAppend(pop.where(col("n") < 100), dg,
      statsCols = Seq("n"))
    val sg = SnapshotStore.sumPrunedRange(spark, dg, "doc_id",
      Seq(LayoutOps.ColRange("n", 0L, 99L)))
    sg.sum.longValueExact shouldBe (1L to 300L).sum
    sg.filesMetaAnswered shouldBe 0
    sg.filesScanned shouldBe sg.filesTotal
    // hidden-row views refuse
    SnapshotStore.commitDelete(Seq(5L).toDF("doc_id"), "doc_id", dir)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.sumPrunedRange(spark, dir, "doc_id", probe)
    // EVOLVED store: a floating target added after the first segment
    // must still refuse (the type probe walks footers until it finds
    // the column — segs.head alone predates it), and a column absent
    // everywhere is a loud typo
    val de = freshDir("sumevo")
    SnapshotStore.commitAppend(
      (1L to 10L).map(i => (i, i % 3)).toDF("doc_id", "n"), de,
      statsCols = Seq("n"))
    SnapshotStore.commitAppend(
      (11L to 20L).map(i => (i, i % 3, i / 2.0)).toDF("doc_id", "n", "x"),
      de, mergeSchema = true, statsCols = Seq("n"))
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.sumPrunedRange(spark, de, "x",
        Seq(LayoutOps.ColRange("n", 0L, 2L)))
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.sumPrunedRange(spark, de, "nope",
        Seq(LayoutOps.ColRange("n", 0L, 2L)))
  }

  test("vacuumDryRun previews exactly vacuum's sweep without touching the filesystem; restoreAsOf rolls back by wall-clock") {
    val dir = freshDir("dryrun")
    SnapshotStore.commitAppend(docs(1 to 10), dir)
    val t1 = SnapshotStore.commitTime(spark, dir, 1)
    SnapshotStore.commitAppend(docs(11 to 20), dir)
    SnapshotStore.commitDelete(Seq(3L).toDF("doc_id"), "doc_id", dir)
    SnapshotStore.compact(spark, dir)
    val preview = SnapshotStore.vacuumDryRun(spark, dir, keepFrom = 4)
    preview should not be empty
    // nothing was touched: every previewed path still exists and all
    // pins still read
    SnapshotStore.versions(spark, dir) shouldBe Seq(1, 2, 3, 4)
    SnapshotStore.read(spark, dir, Some(1)).count() shouldBe 10
    // the real sweep drops exactly the previewed set
    SnapshotStore.vacuum(spark, dir, keepFrom = 4) shouldBe preview
    SnapshotStore.versions(spark, dir) shouldBe Seq(4)
    // restoreAsOf: a wall-clock at/after v1's commit (and before v2's
    // moment, which the fixture can't pin portably) resolves through
    // versionAsOf — exercised on a fresh store with a mid-history
    // timestamp
    val rdir = freshDir("restoreasof")
    SnapshotStore.commitAppend(docs(1 to 5), rdir)
    val tMid = SnapshotStore.commitTime(spark, rdir, 1)
    Thread.sleep(20)
    SnapshotStore.commitAppend(docs(6 to 9), rdir)
    val v = SnapshotStore.restoreAsOf(spark, rdir, tMid)
    v shouldBe 3
    SnapshotStore.read(spark, rdir).count() shouldBe 5
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.restoreAsOf(spark, rdir, t1 - 1000000L)
  }

  test("a deletion vector committed ON a shallow clone hides its rows (seg/-anchored DV matching)") {
    import graft.ops.LayoutOps
    val src = freshDir("cldvsrc")
    val dst = freshDir("cldvdst")
    SnapshotStore.commitAppend(docs(1 to 100), src,
      statsCols = Seq("doc_id"))
    SnapshotStore.clone(spark, src, dst)
    // BOTH dv faces against the clone's prefixed references — before
    // the anchored matching this silently returned the "deleted" rows
    SnapshotStore.commitDelete(Seq(2L, 3L).toDF("doc_id"), "doc_id",
      dst, dv = true)
    val res = SnapshotStore.commitDeleteWhere(spark, dst,
      Seq(LayoutOps.ColRange("doc_id", 50L, 52L)), "doc_id",
      dv = true).get
    res.segsRewritten shouldBe 0
    SnapshotStore.read(spark, dst).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe
      (1L to 100L).filterNot(Set(2L, 3L, 50L, 51L, 52L))
    // the pruned read resolves them too, and the source is untouched
    SnapshotStore.readPrunedRange(spark, dst,
      Seq(LayoutOps.ColRange("doc_id", 1L, 60L))).df
      .count() shouldBe 60L - 5L
    SnapshotStore.read(spark, src).count() shouldBe 100
  }

  test("an empty partitioned frame as a store's FIRST commit refuses loudly (would publish an unreadable data-less v1)") {
    val dir = freshDir("emptyfirst")
    val none = Seq((1L, "en")).toDF("doc_id", "lang")
      .where(col("doc_id") < 0)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitAppend(none, dir, partitionBy = Seq("lang"))
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitStreamBatch(none, dir, batchId = 0L,
        partitionBy = Seq("lang"))
    SnapshotStore.versions(spark, dir) shouldBe Seq.empty
  }

  test("renameColumn: metadata-only commit; reads project, time travel keeps old names, old tombstones still match, writes translate") {
    val dir = freshDir("rename")
    SnapshotStore.commitAppend(docs(1 to 10), dir)
    SnapshotStore.commitDelete(Seq(3L).toDF("doc_id"), "doc_id", dir)
    val segsBefore = new java.io.File(s"$dir/seg").listFiles().length
    val v = SnapshotStore.renameColumn(spark, dir, "n", "tokens")
    v shouldBe 3
    // METADATA-ONLY: no new data directory was written
    new java.io.File(s"$dir/seg").listFiles().length shouldBe segsBefore
    SnapshotStore.columnMapping(spark, dir) shouldBe
      Seq(("doc_id", "doc_id"), ("text", "text"), ("tokens", "n"))
    val cur = SnapshotStore.read(spark, dir)
    cur.columns.toSeq shouldBe Seq("doc_id", "text", "tokens")
    cur.where(col("doc_id") === 5L).select("tokens")
      .head().getLong(0) shouldBe 6L // 5 % 7 + 1
    // time travel BELOW the rename shows the old name
    SnapshotStore.read(spark, dir, Some(1)).columns.toSeq shouldBe
      Seq("doc_id", "text", "n")
    // a LOGICAL-named append lands physically and reads back joined
    // with the pre-rename segments (storage name is still `n`)
    SnapshotStore.commitAppend(
      Seq((11L, "doc 11", 99L)).toDF("doc_id", "text", "tokens"), dir)
    SnapshotStore.read(spark, dir).where(col("tokens") === 99L)
      .count() shouldBe 1
    // the old name is GONE from the logical surface
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitDelete(Seq(1L).toDF("n"), "n", dir)
    // deletes under the new name hide pre-rename rows (the tombstone
    // wrote the PHYSICAL key)
    SnapshotStore.commitDelete(Seq(1L).toDF("doc_id"), "doc_id", dir)
    SnapshotStore.read(spark, dir).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq shouldBe
      ((2L to 11L).filterNot(_ == 3L))
    // upsert through the map: replaces by id, values under new name
    SnapshotStore.commitUpsert(
      Seq((2L, "doc 2 v2", 42L)).toDF("doc_id", "text", "tokens"),
      "doc_id", dir)
    SnapshotStore.read(spark, dir).where(col("doc_id") === 2L)
      .select("tokens").head().getLong(0) shouldBe 42L
    // rename guards: unknown source, taken target, reserved names
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.renameColumn(spark, dir, "n", "x")
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.renameColumn(spark, dir, "tokens", "text")
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.renameColumn(spark, dir, "tokens", "__p_bad")
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.renameColumn(spark, dir, "tokens", "a;b")
  }

  test("dropColumn hides the column; a re-added name gets FRESH storage (dropped values never resurface); compact materializes the map") {
    val dir = freshDir("dropcol")
    SnapshotStore.commitAppend(docs(1 to 6), dir)
    SnapshotStore.dropColumn(spark, dir, "n")
    val afterDrop = SnapshotStore.read(spark, dir)
    afterDrop.columns.toSeq shouldBe Seq("doc_id", "text")
    // the mergeSchema RE-ADD of the dropped name: new values visible,
    // old rows NULL — the retired physical (`n`) was not re-adopted
    SnapshotStore.commitAppend(
      Seq((7L, "doc 7", 777L)).toDF("doc_id", "text", "n"), dir,
      mergeSchema = true)
    val readd = SnapshotStore.read(spark, dir)
    readd.columns.toSeq shouldBe Seq("doc_id", "text", "n")
    readd.where(col("doc_id") === 7L).select("n")
      .head().getLong(0) shouldBe 777L
    readd.where(col("doc_id") <= 6L && col("n").isNotNull)
      .count() shouldBe 0L // the ONE wrong thing: old values resurfacing
    // the fresh storage name is uniquified away from the retired one
    val mapped = SnapshotStore.columnMapping(spark, dir).toMap
    mapped("n") should not be "n"
    // compact MATERIALIZES: identity mapping, same logical content
    SnapshotStore.compact(spark, dir)
    SnapshotStore.columnMapping(spark, dir) shouldBe
      Seq(("doc_id", "doc_id"), ("text", "text"), ("n", "n"))
    val mat = SnapshotStore.read(spark, dir)
    mat.count() shouldBe 7
    mat.where(col("n").isNotNull).count() shouldBe 1
    // guards: last column, unknown column
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.dropColumn(spark, dir, "nope")
    SnapshotStore.dropColumn(spark, dir, "text")
    SnapshotStore.dropColumn(spark, dir, "n")
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.dropColumn(spark, dir, "doc_id")
  }

  test("column mapping composes with constraints, partitions, metadata probes, CDC and clones") {
    import graft.ops.LayoutOps
    val dir = freshDir("mapcompose")
    val rows = (1 to 60).map(i =>
      (i.toLong, if (i % 3 == 0) "en" else "fr", (i % 10).toLong))
      .toDF("doc_id", "lang", "score")
    SnapshotStore.commitAppend(rows, dir, partitionBy = Seq("lang"),
      statsCols = Seq("doc_id", "score"))
    SnapshotStore.addConstraint(spark, dir, "nonneg", "score >= 0")
    // constraints RE-ANCHOR on rename (parsed, not string-replaced)
    SnapshotStore.renameColumn(spark, dir, "score", "quality")
    SnapshotStore.constraints(spark, dir)("nonneg") should include("quality")
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitAppend(
        Seq((61L, "en", -5L)).toDF("doc_id", "lang", "quality"), dir)
    // a constraint blocks dropping its column until dropped itself
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.dropColumn(spark, dir, "quality")
    // PARTITION column rename: probes under the new logical name
    // still prune on the physically-named leaf paths
    SnapshotStore.renameColumn(spark, dir, "lang", "language")
    val cs = SnapshotStore.countPrunedRange(spark, dir,
      Nil, parts = Map("language" -> Set("en")))
    cs.count shouldBe 20L
    cs.filesScanned shouldBe 0 // metadata-answered
    SnapshotStore.partitions(spark, dir).columns.toSeq shouldBe
      Seq("language", "n_segments", "n_rows")
    // metadata MIN/MAX + SUM translate the target
    SnapshotStore.minMaxPrunedRange(spark, dir, "quality",
      Nil, parts = Map("language" -> Set("en")))
      .max.asInstanceOf[Long] shouldBe 9L
    SnapshotStore.sumPrunedRange(spark, dir, "doc_id",
      Nil, parts = Map("language" -> Set("en")))
      .sum.longValueExact() shouldBe (3 to 60 by 3).sum.toLong
    // pruned reads return the LOGICAL view
    SnapshotStore.readPrunedRange(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 1L, 10L))).df
      .columns.toSeq shouldBe Seq("doc_id", "language", "quality")
    // CDC across a rename boundary: output under the END version's map
    val vBefore = SnapshotStore.versions(spark, dir).max
    SnapshotStore.commitDelete(Seq(6L).toDF("doc_id"), "doc_id", dir)
    val feed = SnapshotStore.readChanges(spark, dir, vBefore,
      SnapshotStore.versions(spark, dir).max)
    feed.columns.toSeq shouldBe
      Seq("doc_id", "language", "quality", "_change")
    feed.where(col("_change") === "delete").select("doc_id")
      .head().getLong(0) shouldBe 6L
    // a shallow clone CARRIES the map
    val dst = freshDir("mapclone")
    SnapshotStore.clone(spark, dir, dst)
    SnapshotStore.read(spark, dst).columns.toSeq shouldBe
      Seq("doc_id", "language", "quality")
    SnapshotStore.columnMapping(spark, dst)
      .toMap.apply("quality") shouldBe "score"
    // DELETE WHERE under logical names on the mapped clone
    SnapshotStore.commitDeleteWhere(spark, dst,
      Seq(LayoutOps.ColRange("quality", 9L, 9L)), "doc_id")
    SnapshotStore.read(spark, dst).where(col("quality") === 9L)
      .count() shouldBe 0L
    // history renders the metadata ops, dataChange = false
    val hist = SnapshotStore.history(spark, dir)
      .where(col("op").isin("renameColumn", "dropColumn"))
    hist.count() shouldBe 2
    hist.where(col("data_change")).count() shouldBe 0
  }

  test("racing cdf/dv writers: losers clean their glob-visible CDC files, DV orphans stay invisible, the version chain stays gapless") {
    val dir = freshDir("mwrace")
    SnapshotStore.commitAppend(docs(1 to 400), dir)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger
    val errors = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Throwable]())
    var round = 0
    // two writers enter commitDelete nearly simultaneously: each
    // reads the latest version at entry, computes for ~100s of ms,
    // then races the manifest rename — a collision per round is
    // near-certain; loop until one is observed so the loser-cleanup
    // path provably ran (not just the no-contention fast path)
    while (conflicts.get() == 0 && round < 24) {
      round += 1
      val (idA, idB) = (round.toLong, (round + 100).toLong)
      val threads = Seq(
        (0, idA), (1, idB)).map { case (w, id) =>
        val t = new Thread(() => {
          try SnapshotStore.withCommitRetry(maxAttempts = 50) { () =>
            try {
              if (w == 0)
                SnapshotStore.commitDelete(Seq(id).toDF("doc_id"),
                  "doc_id", dir, cdf = true)
              else
                SnapshotStore.commitDelete(Seq(id).toDF("doc_id"),
                  "doc_id", dir, dv = true, cdf = true)
            } catch {
              case e: SnapshotStore.CommitConflictException =>
                conflicts.incrementAndGet(); throw e
            }
          } catch { case t: Throwable => errors.add(t); () }
        })
        t.start(); t
      }
      threads.foreach(_.join())
    }
    errors.size shouldBe 0
    conflicts.get() should be > 0 // the loser path actually ran
    val vs = SnapshotStore.versions(spark, dir)
    vs shouldBe (1 to vs.max) // gapless despite the races
    // every attempted delete landed exactly once
    val deleted = (1 to round).flatMap(r => Seq(r.toLong, r + 100L))
    SnapshotStore.read(spark, dir).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq shouldBe
      (1L to 400L).filterNot(deleted.contains)
    // CDC hygiene: cdc files are GLOB-VISIBLE to streamChanges, so a
    // conflict loser must have deleted its preimages — exactly one
    // cdc dir per COMMITTED delete version survives
    val fs = new java.io.File(s"$dir/cdc")
    fs.listFiles().length shouldBe (vs.max - 1)
    // DV orphans (losers' position files) are manifest-invisible to
    // reads — correctness already asserted above — and the vacuum
    // sweep collects them like any crashed-commit leftover
    val swept = SnapshotStore.vacuum(spark, dir, keepFrom = 1)
    SnapshotStore.read(spark, dir).count() shouldBe
      400L - deleted.size
    swept.filter(_.startsWith("dv/")).foreach { d =>
      new java.io.File(s"$dir/$d").exists() shouldBe false
    }
  }

  test("type widening: int->long/float->double commits are metadata-level, narrow files read wide, stats faces refuse until compact materializes") {
    import org.apache.spark.sql.types._
    val dir = freshDir("widen")
    SnapshotStore.commitAppend(
      (1 to 10).map(i => (i.toLong, i * 10, i * 1.5f))
        .toDF("doc_id", "n", "score"), dir,
      statsCols = Seq("doc_id"))
    val segsBefore = new java.io.File(s"$dir/seg").listFiles().length
    // a LONG value no int can hold, and a double no float can
    SnapshotStore.commitAppend(
      Seq((11L, 5000000000L, 2.5d)).toDF("doc_id", "n", "score"), dir,
      mergeSchema = true)
    // the widening touched no pre-existing data file
    new java.io.File(s"$dir/seg").listFiles().length shouldBe
      segsBefore + 1
    val wide = SnapshotStore.read(spark, dir)
    wide.schema("n").dataType shouldBe LongType
    wide.schema("score").dataType shouldBe DoubleType
    // narrow-file rows surface widened, values exact
    wide.where(col("doc_id") === 3L).select("n", "score").head() match {
      case r => r.getLong(0) shouldBe 30L; r.getDouble(1) shouldBe 4.5d
    }
    wide.where(col("n") === 5000000000L).count() shouldBe 1L
    // time travel below the widening keeps the narrow types
    SnapshotStore.read(spark, dir, Some(1))
      .schema("n").dataType shouldBe IntegerType
    // NARROWING and cross-kind flips still refuse
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitAppend(
        Seq((12L, 1, 1.0f)).toDF("doc_id", "n", "score"), dir,
        mergeSchema = true)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitAppend(
        Seq((12L, "x", 1.0d)).toDF("doc_id", "n", "score"), dir,
        mergeSchema = true)
    // stats-driven faces refuse the mixed-physical-type store loudly
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.countPrunedRange(spark, dir,
        Seq(graft.ops.LayoutOps.ColRange("doc_id", 1L, 5L)))
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.commitDeleteWhere(spark, dir,
        Seq(graft.ops.LayoutOps.ColRange("doc_id", 1L, 5L)), "doc_id")
    // tombstone deletes and upserts keep working across the widening
    SnapshotStore.commitDelete(Seq(4L).toDF("doc_id"), "doc_id", dir)
    SnapshotStore.commitUpsert(
      Seq((5L, 6000000000L, 9.25d)).toDF("doc_id", "n", "score"),
      "doc_id", dir)
    // CDC across the widening range renders at the wide types
    val feed = SnapshotStore.readChanges(spark, dir, 1,
      SnapshotStore.versions(spark, dir).max)
    feed.schema("n").dataType shouldBe LongType
    // compact MATERIALIZES the widest type and re-arms the stats faces
    SnapshotStore.compact(spark, dir)
    val recommit = SnapshotStore.commitAppend(
      SnapshotStore.read(spark, dir).limit(0), dir,
      statsCols = Seq("doc_id"))
    recommit should be > 0
    val mat = SnapshotStore.read(spark, dir)
    mat.schema("n").dataType shouldBe LongType
    mat.count() shouldBe 10L // 11 − 1 deleted (upsert replaced id 5)
    mat.where(col("doc_id") === 5L).select("n").head()
      .getLong(0) shouldBe 6000000000L
    // a widened store CLONES with its sch row
    val dst = freshDir("widenclone")
    SnapshotStore.clone(spark, dir, dst)
    SnapshotStore.read(spark, dst).schema("n").dataType shouldBe LongType
    // widening composes with column mapping: rename the widened col
    SnapshotStore.renameColumn(spark, dir, "n", "tokens")
    SnapshotStore.read(spark, dir).schema("tokens")
      .dataType shouldBe LongType
    // the mapped read is PROJECTION-ONLY on the same scan: no
    // exchange, no join rides the logical rename
    val plan = SnapshotStore.read(spark, dir)
      .queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should not include "Join"
  }

  test("a MATERIALIZED rename refuses glob streams and spanning change feeds (mixed physical vocabularies); live maps and widening stay stream-safe") {
    val dir = freshDir("vocab")
    SnapshotStore.commitAppend(docs(1 to 10), dir)
    SnapshotStore.renameColumn(spark, dir, "n", "tokens")
    // LIVE map: streams and feeds work (all files share the original
    // physical names the projection expects)
    SnapshotStore.streamInserts(spark, dir).schema.fieldNames should
      contain("tokens")
    SnapshotStore.readChanges(spark, dir, 1, 2).columns should
      contain("tokens")
    // compact MATERIALIZES the rename: pre-compaction seg/s* files
    // still store `n` — a pinned schema would silently null-fill, so
    // the glob faces refuse until that history is vacuumed
    SnapshotStore.compact(spark, dir)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.streamInserts(spark, dir)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.streamChanges(spark, dir)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.readChanges(spark, dir, 1, 3)
    // a post-materialization range is vocabulary-uniform: allowed
    SnapshotStore.commitDelete(Seq(2L).toDF("doc_id"), "doc_id", dir,
      cdf = true)
    SnapshotStore.readChanges(spark, dir, 3, 4)
      .where(col("_change") === "delete").count() shouldBe 1L
    // vacuuming the pre-materialization history re-arms the streams
    SnapshotStore.vacuum(spark, dir, keepFrom = 3)
    SnapshotStore.streamInserts(spark, dir).schema.fieldNames should
      contain("tokens")
    // WIDENING is glob-safe throughout: names never change and the
    // reader upcasts narrow files in place
    val wdir = freshDir("vocabwide")
    SnapshotStore.commitAppend(
      (1 to 5).map(i => (i.toLong, i)).toDF("doc_id", "n"), wdir)
    SnapshotStore.commitAppend(
      Seq((6L, 5000000000L)).toDF("doc_id", "n"), wdir,
      mergeSchema = true)
    SnapshotStore.streamInserts(spark, wdir)
      .schema("n").dataType shouldBe
      org.apache.spark.sql.types.LongType
    SnapshotStore.compact(spark, wdir)
    SnapshotStore.streamInserts(spark, wdir)
      .schema("n").dataType shouldBe
      org.apache.spark.sql.types.LongType
  }

  /** The max retained job id — ids are monotonic, so it moves only
    * when a job ran (PlanAuditSpec's probe; a job COUNT can shrink as
    * the status tracker evicts old jobs). */
  private def lastJob: Int = spark.sparkContext.statusTracker
    .getJobIdsForGroup(null).maxOption.getOrElse(-1)

  test("footer helper: schemas and row counts equal Spark's inference on every store directory shape") {
    import graft.io.DriverParquet
    import graft.ops.LayoutOps
    val dir = freshDir("footers")
    // sums (integral stats columns) and blooms in one sidecar
    SnapshotStore.commitAppend(docs(1 to 40).repartition(2), dir,
      statsCols = Seq("doc_id", "text"), bloomCols = Seq("n"))
    SnapshotStore.commitAppend(docs(41 to 60), dir, statsCols = Seq("doc_id"))
    SnapshotStore.commitAppend(docs(1 to 0), dir) // a zero-row segment
    SnapshotStore.commitDelete(Seq(3L, 4L).toDF("doc_id"), "doc_id", dir,
      cdf = true)
    SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 50L, 52L)), "doc_id", dv = true)
    val pdir = freshDir("footersp")
    SnapshotStore.commitAppend(langPop(30), pdir, statsCols = Seq("doc_id"),
      partitionBy = Seq("lang"))
    def subdirs(root: String, kind: String): Seq[String] =
      Option(new java.io.File(s"$root/$kind").listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(_.getAbsolutePath).sorted
    val segs = subdirs(dir, "seg")
    val sidecars = segs.map(s => s"$s/_stats")
      .filter(s => new java.io.File(s).isDirectory)
    val roots = subdirs(pdir, "seg")
    val leaves = roots.flatMap(r => subdirs(r, "").filter(_.contains("__p_lang=")))
    val shapes = Map("segment" -> segs, "tombstone" -> subdirs(dir, "tomb"),
      "dv" -> subdirs(dir, "dv"), "cdc" -> subdirs(dir, "cdc"),
      "sidecar" -> sidecars, "leaf" -> leaves, "root" -> roots)
    shapes.foreach { case (shape, ps) => withClue(shape) { ps should not be empty } }
    sidecars.size shouldBe 2
    leaves.size shouldBe 3
    shapes.values.flatten.foreach { p =>
      withClue(p) {
        val spk = spark.read.parquet(p)
        val footer = DriverParquet.schema(spark, Seq(p))
        // a partition root's columns come from its directory names —
        // the read adds them to the footer schema exactly as inference does
        spark.read.schema(footer).parquet(p).schema shouldBe spk.schema
        if (!roots.contains(p)) footer shouldBe spk.schema
        DriverParquet.rowCount(spark, Seq(p)) shouldBe spk.count()
      }
    }
    // the zero-row segment and the bloom sidecar are among them
    segs.map(s => DriverParquet.rowCount(spark, Seq(s))) should contain (0L)
    sidecars.map(s => DriverParquet.schema(spark, Seq(s)).fieldNames.toSeq)
      .flatten should contain allOf ("sum_doc_id", "bloom_n")
    // several paths at once: the first file in path order decides
    DriverParquet.schema(spark, leaves) shouldBe spark.read.parquet(leaves: _*).schema
    DriverParquet.rowCount(spark, leaves) shouldBe 30L
    an[IllegalArgumentException] should be thrownBy
      DriverParquet.schema(spark, Seq(freshDir("footers_empty")))
  }

  test("store metadata runs no job: building a read frame, and history's tombstone/DV counts") {
    import graft.ops.LayoutOps
    val dir = freshDir("nojob")
    SnapshotStore.commitAppend(docs(1 to 20), dir)
    SnapshotStore.commitAppend(docs(21 to 40), dir)
    SnapshotStore.commitDelete(Seq(2L, 3L, 30L).toDF("doc_id"), "doc_id", dir)
    SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(LayoutOps.ColRange("doc_id", 10L, 14L)), "doc_id", dv = true)
    // a fresh store: every path is a schema-memo miss, so the footers
    // are read here — on the driver, not as inference jobs
    val before = lastJob
    val df = SnapshotStore.read(spark, dir)
    lastJob shouldBe before
    df.count() shouldBe 32L // 40 - 3 tombstoned - 5 dv-deleted
    // no statsCols, so history has no sidecar to collect: the
    // tombstone and DV cardinalities come from footer row counts
    val hBefore = lastJob
    val h = SnapshotStore.history(spark, dir)
    lastJob shouldBe hBefore
    val rows = h.orderBy(col("version")).collect()
    rows.map(_.getLong(6)).toSeq shouldBe Seq(0L, 0L, 3L, 0L)
    rows.map(_.getLong(7)).toSeq shouldBe Seq(0L, 0L, 0L, 5L)
  }

  test("commitMerge counts from one aggregate: a target with duplicate ids counts every claimed row, inserts once") {
    val dir = freshDir("mergedup")
    // ids 1 and 2 appear twice in the target (commitAppend does not
    // enforce a key); the source updates 1, deletes 2, inserts 9
    val target = Seq((1L, "a", 1L), (1L, "b", 1L), (2L, "c", 2L),
      (2L, "d", 2L), (3L, "e", 3L)).toDF("doc_id", "text", "n")
    SnapshotStore.commitAppend(target, dir)
    val src = Seq((1L, "U1", 10L), (2L, "D2", 20L), (9L, "I9", 90L))
      .toDF("doc_id", "text", "n")
    val res = SnapshotStore.commitMerge(src, "doc_id", dir,
      deleteWhen = Some(col("src_text") === "D2")).get
    res.updated shouldBe 2 // both target rows of id 1
    res.deleted shouldBe 2 // both target rows of id 2
    res.inserted shouldBe 1 // id 9 only; id 1's two matches are one source row
    // each claimed target row is replaced (Delta's per-target-row
    // MERGE semantics), so id 1 keeps its two rows, both updated
    SnapshotStore.read(spark, dir).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq shouldBe
      Seq((1L, "U1"), (1L, "U1"), (3L, "e"), (9L, "I9"))
    // the same counts with inserts switched off
    val dir2 = freshDir("mergedup2")
    SnapshotStore.commitAppend(target, dir2)
    val res2 = SnapshotStore.commitMerge(src, "doc_id", dir2,
      deleteWhen = Some(col("src_text") === "D2"),
      insertNotMatched = false).get
    (res2.updated, res2.deleted, res2.inserted) shouldBe ((2L, 2L, 0L))
  }

  test("commitDeleteWhere reads only the sidecars of commits its partition predicate keeps") {
    val dir = freshDir("delpartside")
    val pop = langPop(60)
    SnapshotStore.commitAppend(pop.filter(col("lang") === "en"), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang")) // v1: en only
    SnapshotStore.commitAppend(pop.filter(col("lang") =!= "en"), dir,
      statsCols = Seq("doc_id"), partitionBy = Seq("lang")) // v2: fr, de
    // the en-only commit's sidecar goes missing: a delete scoped to fr
    // never touches that commit, so it must never need its sidecar
    val enRoot = new java.io.File(s"$dir/seg").listFiles().filter(r =>
      new java.io.File(r, "__p_lang=en").isDirectory).toSeq
    enRoot.size shouldBe 1
    val sidecar = new java.io.File(enRoot.head, "_stats")
    sidecar.isDirectory shouldBe true
    org.apache.commons.io.FileUtils.deleteDirectory(sidecar)
    val res = SnapshotStore.commitDeleteWhere(spark, dir, Nil, "doc_id",
      parts = Map("lang" -> Set("fr"))).get
    res.rowsDeleted shouldBe 20L
    SnapshotStore.read(spark, dir).select("doc_id").as[Long].collect()
      .sorted.toSeq shouldBe (1L to 60L).filter(_ % 3 != 1)
  }

  test("evolved store: a pruned read keeps every snapshot column; a delete on an added column never touches segments that lack it") {
    import graft.ops.LayoutOps.ColRange
    val dir = freshDir("evoprune")
    SnapshotStore.commitAppend((1L to 20L).map(i => (i, i % 3)).toDF("doc_id", "n"),
      dir, statsCols = Seq("doc_id"))
    SnapshotStore.commitAppend(
      (21L to 30L).map(i => (i, i % 3, i * 10)).toDF("doc_id", "n", "x"), dir,
      mergeSchema = true, statsCols = Seq("doc_id", "x"))
    // the probe keeps only the first segment, which predates x
    val scan = SnapshotStore.readPrunedRange(spark, dir,
      Seq(ColRange("doc_id", 1L, 5L)))
    scan.df.columns.toSeq shouldBe SnapshotStore.read(spark, dir).columns.toSeq
    scan.df.where(col("x").isNull).count() shouldBe 5L
    // x's stats prune the segment that carries it; the other one has no
    // x at all, so no row can match and nothing is touched
    SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(ColRange("x", 1000L, 2000L)), "doc_id") shouldBe None
    SnapshotStore.commitDeleteWhere(spark, dir,
      Seq(ColRange("x", 250L, 260L)), "doc_id").get.rowsDeleted shouldBe 2L
    SnapshotStore.read(spark, dir).count() shouldBe 28L
  }

  test("pruned faces agree with read().where(residual) on every drawn probe: one store with stats, no-stats, partitioned, evolved and bloom segments") {
    import graft.ops.LayoutOps.{ColEq, ColRange}
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    val dir = freshDir("crossface")
    def pop(ids: Seq[Long]) = ids.map(i =>
        (i, i % 17, i % 50, Seq("en", "fr", "de")((i % 3).toInt)))
      .toDF("doc_id", "n", "k", "lang")
    // v1 stats + bloom, v2 no stats, v3 partitioned, v4 evolved (adds x)
    SnapshotStore.commitAppend(
      pop(1L to 200L).repartitionByRange(3, col("doc_id")), dir,
      statsCols = Seq("doc_id", "n"), bloomCols = Seq("k"),
      bloomExpectedItems = 200L)
    SnapshotStore.commitAppend(pop(201L to 300L).repartition(2), dir)
    SnapshotStore.commitAppend(pop(301L to 450L).filter(col("lang") =!= "de"),
      dir, statsCols = Seq("doc_id", "n"), partitionBy = Seq("lang"))
    SnapshotStore.commitAppend(
      pop(451L to 550L).withColumn("x", col("doc_id") * 3)
        .repartitionByRange(2, col("doc_id")), dir,
      mergeSchema = true, statsCols = Seq("doc_id", "n", "x"))
    val cols = Seq("doc_id", "n", "k", "lang", "x")
    // the store-relative tail of a file path: Spark's URI renderings
    // and the planner's decoded paths agree on it
    def rel(f: String): String = f.substring(f.lastIndexOf("/seg/") + 1)
    val allFiles = SnapshotStore.read(spark, dir).inputFiles.map(rel).toSet

    def range(c: String, lo: Long, hi: Long): Gen[ColRange] =
      Gen.zip(Gen.chooseNum(lo, hi), Gen.chooseNum(lo, hi))
        .map { case (a, b) => ColRange(c, math.min(a, b), math.max(a, b)) }
    // mostly narrow doc_id bands: the segments are doc_id-banded, so a
    // band prunes most of them and keeps each probe's scans few
    val band = for {
      lo <- Gen.chooseNum(-20L, 600L)
      w <- Gen.chooseNum(0L, 120L)
    } yield ColRange("doc_id", lo, lo + w)
    val probes = for {
      d <- Gen.frequency(3 -> band.map(Some(_)), 1 -> Gen.const(None),
        1 -> range("doc_id", -20L, 620L).map(Some(_)))
      n <- Gen.option(range("n", -1L, 17L))
      x <- Gen.frequency(4 -> Gen.const(None),
        1 -> range("x", 1300L, 1700L).map(Some(_)))
      langs <- Gen.frequency(3 -> Gen.const(Set.empty[String]),
        1 -> Gen.nonEmptyContainerOf[Set, String](Gen.oneOf("en", "fr", "de")))
      eqs <- Gen.frequency(3 -> Gen.const(Seq.empty[ColEq]),
        1 -> Gen.chooseNum(0L, 60L).map(v => Seq(ColEq("k", v))))
    } yield {
      val rs = (d ++ n ++ x).toSeq
      (if (rs.isEmpty && langs.isEmpty) Seq(ColRange("doc_id", 1L, 550L))
       else rs, if (langs.isEmpty) Map.empty[String, Set[String]]
       else Map("lang" -> langs), eqs)
    }
    var drawn = 0
    val prop = Prop.forAllNoShrink(probes) { case (ranges, parts, eqs) =>
      drawn += 1
      val rp = (ranges.map(r => col(r.col).between(r.lo, r.hi)) ++
        parts.map { case (c, a) => col(c).cast("string").isin(a.toSeq: _*) })
      val full = (rp ++ eqs.map(e => col(e.col) === e.value)).reduce(_ && _)
      def expect(pred: org.apache.spark.sql.Column) = SnapshotStore
        .read(spark, dir).where(pred)
        .select((cols.map(col) :+ input_file_name()): _*).collect().toSeq
      val exp = expect(full)
      val expRp = if (eqs.isEmpty) exp else expect(rp.reduce(_ && _))
      def ids(rs: Seq[org.apache.spark.sql.Row]) = rs.map(_.getLong(0))
      // the row face: the same multiset, and no matching row sits in a
      // file the planner skipped
      val scan = SnapshotStore.readPrunedRange(spark, dir, ranges,
        parts = parts, eqs = eqs)
      sortedRows(scan.df.select(cols.map(col): _*)) shouldBe
        exp.map(_.toSeq.init).sortBy(_.mkString("|"))
      val read = if (scan.filesRead == 0) Set.empty[String]
        else scan.df.inputFiles.map(rel).toSet
      read.size shouldBe scan.filesRead
      exp.map(r => rel(r.getString(5))).toSet.subsetOf(read) shouldBe true
      val live = allFiles.filter(f => parts.get("lang").forall(a =>
        !f.contains("/__p_lang=") || a.exists(l => f.contains(s"/__p_lang=$l/"))))
      val skipped = (live -- read).size
      scan.filesRead + skipped shouldBe scan.filesTotal
      // the metadata faces: count, extremes and sum of the same frame
      val cs = SnapshotStore.countPrunedRange(spark, dir, ranges,
        parts = parts, eqs = eqs)
      cs.count shouldBe exp.size.toLong
      cs.filesTotal shouldBe scan.filesTotal
      (cs.filesScanned + cs.filesMetaAnswered) should be <= cs.filesTotal
      val mm = SnapshotStore.minMaxPrunedRange(spark, dir, "doc_id", ranges,
        parts = parts)
      (mm.min, mm.max) shouldBe (if (expRp.isEmpty) (null, null)
        else (ids(expRp).min, ids(expRp).max))
      val ss = SnapshotStore.sumPrunedRange(spark, dir, "doc_id", ranges,
        parts = parts)
      (Option(ss.sum).map(_.longValueExact), ss.count) shouldBe
        ((if (expRp.isEmpty) None else Some(ids(expRp).sum), expRp.size.toLong))
      // the write face: the same rows deleted, on a clone
      val cl = freshDir("crossface_clone")
      SnapshotStore.clone(spark, dir, cl)
      SnapshotStore.commitDeleteWhere(spark, cl, ranges, "doc_id",
          parts = parts, dv = drawn % 2 == 0)
        .map(_.rowsDeleted).getOrElse(0L) shouldBe expRp.size.toLong
      true
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
      .withInitialSeed(Seed(20261019L)).withWorkers(1), prop)
    withClue(res.status) { res.passed shouldBe true }
    drawn should be >= 40
  }

  test("pruned faces keep their job budget: one sidecar collect per stats column set plus the scan") {
    import graft.ops.LayoutOps.ColRange
    val dir = freshDir("jobbudget")
    (0 until 3).foreach { b =>
      SnapshotStore.commitAppend(
        docs(b * 100 + 1 to b * 100 + 100).repartitionByRange(2, col("doc_id")),
        dir, statsCols = Seq("doc_id"))
    }
    // contained files, boundary files and disjoint files all present
    val probe = Seq(ColRange("doc_id", 30L, 170L))
    def jobs(f: => Any): Int = { val b = lastJob; f; lastJob - b }
    val budget = Seq(
      "readPrunedRange" -> jobs(SnapshotStore.readPrunedRange(spark, dir, probe)),
      "readPrunedRange.count" -> jobs(
        SnapshotStore.readPrunedRange(spark, dir, probe).df.count()),
      "countPrunedRange" -> jobs(SnapshotStore.countPrunedRange(spark, dir, probe)),
      "minMaxPrunedRange" -> jobs(
        SnapshotStore.minMaxPrunedRange(spark, dir, "doc_id", probe)),
      "sumPrunedRange" -> jobs(
        SnapshotStore.sumPrunedRange(spark, dir, "doc_id", probe)),
      "commitDeleteWhere" -> jobs(
        SnapshotStore.commitDeleteWhere(spark, dir, probe, "doc_id")))
    // bloom-free sidecars are read on the driver: building a pruned
    // read runs no job, and each face runs only its own scan/fold
    budget shouldBe Seq("readPrunedRange" -> 0, "readPrunedRange.count" -> 2,
      "countPrunedRange" -> 2, "minMaxPrunedRange" -> 2,
      "sumPrunedRange" -> 2, "commitDeleteWhere" -> 6)
  }

  test("commit faces keep their job budget: the shared opener, gate, rewrite and publish run no Spark job of their own") {
    import graft.ops.LayoutOps.ColRange
    val dir = freshDir("commitbudget")
    def jobs(f: => Any): Int = { val b = lastJob; f; lastJob - b }
    SnapshotStore.commitAppend(docs(1 to 100), dir, statsCols = Seq("doc_id"))
    val budget = Seq(
      "append" -> jobs(SnapshotStore.commitAppend(docs(101 to 150), dir,
        statsCols = Seq("doc_id"))),
      "streamBatch" -> jobs(SnapshotStore.commitStreamBatch(docs(151 to 170),
        dir, batchId = 1L, statsCols = Seq("doc_id"))),
      "upsert" -> jobs(SnapshotStore.commitUpsert(
        docs(5 to 8).withColumn("text", lit("up")), "doc_id", dir)),
      "merge" -> jobs(SnapshotStore.commitMerge(
        docs(9 to 12).withColumn("text", lit("mg")), "doc_id", dir)),
      "delete" -> jobs(SnapshotStore.commitDelete(
        Seq(1L, 2L).toDF("doc_id"), "doc_id", dir)),
      "delete.dv" -> jobs(SnapshotStore.commitDelete(
        Seq(3L).toDF("doc_id"), "doc_id", dir, dv = true)),
      "deleteWhere" -> jobs(SnapshotStore.commitDeleteWhere(spark, dir,
        Seq(ColRange("doc_id", 20L, 24L)), "doc_id")),
      "deleteWhere.dv" -> jobs(SnapshotStore.commitDeleteWhere(spark, dir,
        Seq(ColRange("doc_id", 120L, 124L)), "doc_id", dv = true)),
      // the perfbench shape: merge and predicate delete with stats
      "merge.stats" -> jobs(SnapshotStore.commitMerge(
        docs(160 to 175).withColumn("text", lit("ms")), "doc_id", dir,
        statsCols = Seq("doc_id"))),
      "deleteWhere.stats" -> jobs(SnapshotStore.commitDeleteWhere(spark, dir,
        Seq(ColRange("doc_id", 140L, 145L)), "doc_id",
        statsCols = Seq("doc_id"))),
      "restore" -> jobs(SnapshotStore.restore(spark, dir, 3)),
      "rename" -> jobs(SnapshotStore.renameColumn(spark, dir, "text", "body")),
      "compactSmall" -> jobs(SnapshotStore.compactSmall(spark, dir,
        maxSegBytes = 1L << 30, statsCols = Seq("doc_id"))),
      "compact" -> jobs(SnapshotStore.compact(spark, dir)),
      "compactPartitioned" -> jobs(SnapshotStore.compactPartitioned(spark,
        dir, Seq("n"), statsCols = Seq("doc_id"))),
      "compactZordered.scoped" -> jobs(SnapshotStore.compactZordered(spark,
        dir, Seq("doc_id"), 2, Seq("doc_id"), scope = Map("n" -> Set("3")))),
      "compactZordered" -> jobs(SnapshotStore.compactZordered(spark, dir,
        Seq("doc_id"), 2, Seq("doc_id"))))
    // pinned per face: the shared opener, gate, rewrite and publish
    // run no job of their own, so these are the faces' own jobs
    // a bloom-free stats sidecar rides the data write's own job, and a
    // pruned delete reads its sidecars on the driver
    budget shouldBe Seq("append" -> 1, "streamBatch" -> 1, "upsert" -> 5,
      "merge" -> 15, "delete" -> 3, "delete.dv" -> 11, "deleteWhere" -> 14,
      "deleteWhere.dv" -> 10, "merge.stats" -> 23, "deleteWhere.stats" -> 18,
      "restore" -> 0, "rename" -> 0, "compactSmall" -> 1, "compact" -> 1,
      "compactPartitioned" -> 1, "compactZordered.scoped" -> 5,
      "compactZordered" -> 5)
  }
}
