package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamJob
import scala.collection.mutable

/** Streaming semantics tests (SURVEY.md §2.8): per-batch partial window
  * rows keyed by batch_id, three-sink fan-out, and the idiomatic
  * watermarked alternative. Batch boundaries are controlled via
  * MemoryStream.addData + processAllAvailable — never wall clock.
  */
class StreamJobSpec extends SparkSpec {
  import spark.implicits._

  private def tootJson(id: Long, ts: String, user: String, text: String) =
    s"""{"id": $id, "created_at": "$ts", "language": "en", "text": "$text",
       |"hashtags": [], "user_id": 1, "username": "$user",
       |"display_name": null, "favourites": 0, "reblogs": 0, "replies": 0,
       |"url": "u"}""".stripMargin.replaceAll("\n", " ")

  test("foreachBatch fan-out preserves per-batch append semantics") {
    val input = MemoryStream[String](spark)
    val parsed = ops.TootOps.parseJsonLines(input.toDF().withColumnRenamed("value", "value"))
    val prepared = StreamJob.prepare(parsed)

    val sunk = mutable.Map[String, mutable.Buffer[DataFrame]]()
    val appender: StreamJob.Appender = (table, df) => sunk.synchronized {
      sunk.getOrElseUpdate(table, mutable.Buffer()) += df.cache()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val q = StreamJob.start(prepared, appender, ckpt)
    try {
      // batch 0: two toots in the same minute, one in another
      input.addData(
        tootJson(1, "2025-10-03 10:00:05", "leo", "first"),
        tootJson(2, "2025-10-03 10:00:40", "leo", "second"),
        tootJson(3, "2025-10-03 10:02:10", "demo", "third"))
      q.processAllAvailable()
      // batch 1: a LATE toot for the 10:00 window — must append a
      // SECOND partial row for that window (the reference's contract).
      input.addData(tootJson(4, "2025-10-03 10:00:55", "demo", "late arrival"))
      q.processAllAvailable()
    } finally q.stop()

    val posts = sunk("mastodon_posts").map(_.count()).sum
    assert(posts == 4)

    val windows = sunk("streamed_toot_counts")
      .reduce(_ union _)
      .select(col("batch_id"),
        date_format(col("window_start"), "HH:mm").as("w"), col("cnt"))
      .as[(Long, String, Long)].collect().toSet
    // 10:00 window appears TWICE: cnt=2 in batch 0, cnt=1 in batch 1.
    assert(windows.contains((0L, "10:00", 2L)), s"got $windows")
    assert(windows.contains((0L, "10:02", 1L)))
    assert(windows.contains((1L, "10:00", 1L)), "late row must be a new partial")

    val avg = sunk("avg_toot_length_by_user").reduce(_ union _)
      .filter(col("batch_id") === 0 && col("username") === "leo")
      .select("avg_length").as[Double].head()
    assert(avg == 5.5) // "first"(5) + "second"(6)
  }

  test("drift monitor: per-batch PSI vs the reference; unseen categories counted") {
    val input = MemoryStream[(Long, String)](spark)
    val prepared = input.toDF().toDF("id", "lang")
    val reference = Seq(("a", 3L), ("b", 1L)).toDF("category", "n")
    val sunk = mutable.Buffer[DataFrame]()
    val appender: StreamJob.Appender = (_, df) => sunk.synchronized {
      sunk += df.cache(); ()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val q = StreamJob.startDriftMonitor(prepared, "lang", reference,
      appender, ckpt)
    try {
      // batch 0 matches the reference mix exactly -> PSI 0
      input.addData((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
      q.processAllAvailable()
      // batch 1 inverts the mix -> PSI = ln 3 (both terms 0.5·ln 3)
      input.addData((5L, "a"), (6L, "b"), (7L, "b"), (8L, "b"))
      q.processAllAvailable()
      // batch 2 is all-new vocabulary -> no finite terms, n_unseen = 1
      input.addData((9L, "c"), (10L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = sunk.reduce(_ union _)
      .select("batch_id", "n_rows", "psi", "n_unseen")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(rows.length == 3, rows.toSeq)
    assert(rows(0) == ((0L, 4L, 0.0, 0L)), rows(0))
    assert(rows(1)._2 == 4L && rows(1)._4 == 0L, rows(1))
    assert(math.abs(rows(1)._3 - math.log(3.0)) < 1e-12, rows(1))
    assert(rows(2) == ((2L, 2L, 0.0, 1L)), rows(2))
  }

  test("incremental daily rollup: merged store ≡ from-scratch recompute") {
    val input = MemoryStream[String](spark)
    val prepared = StreamJob.prepare(
      ops.TootOps.parseJsonLines(input.toDF()))
    val dir = java.nio.file.Files.createTempDirectory("rollup").toString
    val store = new StreamJob.DeltaStore(spark, dir, Seq("daily"))
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val batches = Seq(
      // batch 0: two days
      Seq(tootJson(1, "2025-10-07 10:00:05", "leo", "first"),
        tootJson(2, "2025-10-07 11:30:00", "leo", "second"),
        tootJson(3, "2025-10-08 09:00:00", "demo", "third")),
      // batch 1: a LATE row for day 07 (must merge into the stored
      // partial, not append a second row) + a new day
      Seq(tootJson(4, "2025-10-07 23:59:59", "demo", "late arrival"),
        tootJson(5, "2025-10-09 08:00:00", "leo", "fresh day")),
      // batch 2: more mass on the middle day
      Seq(tootJson(6, "2025-10-08 12:00:00", "leo", "midday post")))
    val q = StreamJob.startIncrementalDaily(prepared, store, ckpt)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def rows(df: DataFrame) = df
      .select(col("day").cast("string"), col("toots"), col("chars"))
      .as[(String, Long, Long)].collect().toSet
    val got = rows(StreamJob.dailyRollup(store).get)
    // from-scratch recompute over ALL input as one batch — the merge
    // must be indistinguishable from never having been incremental
    val scratch = rows(StreamJob.dailyDelta(StreamJob.prepare(
      ops.TootOps.parseJsonLines(batches.flatten.toDF("value")))))
    assert(got == scratch, s"got $got\nscratch $scratch")
    assert(got.map(_._1) == Set("2025-10-07", "2025-10-08", "2025-10-09"))
    assert(got.find(_._1 == "2025-10-07").get._2 == 3L) // late row merged
    assert(store.lastBatchId() == 2L)

    // restart from the same checkpoint with no new data: no batch
    // replays past the guard, the snapshot is untouched
    val q2 = StreamJob.startIncrementalDaily(prepared, store, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(store.lastBatchId() == 2L &&
      rows(StreamJob.dailyRollup(store).get) == scratch)

    // retention: compaction folds the 3 deltas into one c2 base, and
    // only that base remains — the rollup read from it is unchanged
    store.compact()
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("c2"), dirs.toString)
    assert(rows(StreamJob.dailyRollup(store).get) == scratch)
  }

  test("sketch-blob sink: stored-blob distincts ≡ exact, replay-safe") {
    val input = MemoryStream[String](spark)
    val prepared = StreamJob.prepare(
      ops.TootOps.parseJsonLines(input.toDF()))
    val dir = java.nio.file.Files.createTempDirectory("sketches").toString
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val batches = Seq(
      // day 07 users {leo, demo}; day 08 {demo}
      Seq(tootJson(1, "2025-10-07 10:00:05", "leo", "a"),
        tootJson(2, "2025-10-07 11:30:00", "leo", "b"),
        tootJson(3, "2025-10-07 12:00:00", "demo", "c"),
        tootJson(4, "2025-10-08 09:00:00", "demo", "d")),
      // day 07 gains {ana}, repeats leo across the BATCH boundary —
      // the case exact partials cannot merge; day 08 repeats demo
      Seq(tootJson(5, "2025-10-07 23:59:59", "ana", "e"),
        tootJson(6, "2025-10-07 23:00:00", "leo", "f"),
        tootJson(7, "2025-10-08 12:00:00", "demo", "g")))
    val q = StreamJob.startDistinctDailySketches(prepared, dir, ckpt)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    def readBack() = StreamJob.distinctDailyFromSketches(spark, dir)
      .select(col("day").cast("string"), col("n_users"))
      .as[(String, Long)].collect().toMap
    // exact-mode sketches: union across batch blobs == true distincts
    assert(readBack() == Map("2025-10-07" -> 3L, "2025-10-08" -> 1L),
      readBack().toString)
    // replay safety: restart on the same checkpoint adds no data and
    // leaves exactly one blob dir per batch (idempotence by path)
    val q2 = StreamJob.startDistinctDailySketches(prepared, dir, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(readBack() == Map("2025-10-07" -> 3L, "2025-10-08" -> 1L))
    val blobDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b")).map(_.getName)
    assert(blobDirs.sorted.toSeq == Seq("b0", "b1"), blobDirs.mkString(","))

    // fault injection over a compacted base c1 plus a committed delta
    // b2 (day 09 gains leo). Each fault holds an extra day-07 user
    // that readers must never see: a crashed compaction's stray c2
    // base (the `compacted` pointer never moved), and a crashed batch
    // b3 whose delta landed but whose commit did not (emulated by
    // moving `latest` back after the sink wrote it)
    new StreamJob.DeltaStore(spark, dir, Seq("blob")).compact()
    val zed = tootJson(9, "2025-10-07 09:00:00", "zed", "z")
    def sink(rows: String*): Unit = {
      val q3 = StreamJob.startDistinctDailySketches(prepared, dir, ckpt)
      try { input.addData(rows: _*); q3.processAllAvailable() }
      finally q3.stop()
    }
    sink(tootJson(8, "2025-10-09 10:00:00", "leo", "h"))
    val committed =
      Map("2025-10-07" -> 3L, "2025-10-08" -> 1L, "2025-10-09" -> 1L)
    assert(readBack() == committed, readBack().toString)
    val faults = Seq[(String, () => Unit)](
      "stray c2 base" -> (() => StreamJob.sketchDelta(StreamJob.prepare(
        ops.TootOps.parseJsonLines(Seq(zed).toDF("value"))))
        .write.parquet(s"$dir/c2/blob")),
      "uncommitted b3 delta" -> { () =>
        sink(zed)
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, "latest"),
          "2\n".getBytes("UTF-8"))
      })
    for ((fault, inject) <- faults) {
      inject()
      assert(readBack() == committed, s"$fault: ${readBack()}")
    }
    assert(new java.io.File(s"$dir/b3").isDirectory)
  }

  test("atomic pointer commit: no temp file survives a commit, and a " +
      "torn latest.tmp is ignored, then overwritten") {
    val dir = java.nio.file.Files.createTempDirectory("ptr").toString
    val store = new StreamJob.DeltaStore(spark, dir, Seq("x"))
    def commit(id: Long): Unit = store.writeDelta(Seq(Seq(id).toDF("x")), id)
    def tmps() = new java.io.File(dir).list().filter(_.endsWith(".tmp")).toSeq
    def ids() = store.readSub("x").get.as[Long].collect().sorted.toSeq
    (0L to 2L).foreach(commit)
    store.compact()
    commit(3L)
    assert(tmps().isEmpty, tmps().toString)
    assert(store.lastBatchId() == 3L && store.compactedId() == 2L)
    // a crash mid pointer write: the torn bytes sit in latest.tmp,
    // never in latest, so the committed id survives a restart
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "latest.tmp"),
      "4-to".getBytes("UTF-8"))
    assert(store.lastBatchId() == 3L && ids() == (0L to 3L))
    // the next batch commits straight over the stale temp file
    commit(4L)
    assert(store.lastBatchId() == 4L && tmps().isEmpty, tmps().toString)
    assert(ids() == (0L to 4L))
  }

  test("bitmap-blob sink: stored-blob distincts are EXACT, replay-safe") {
    val input = MemoryStream[(Long, String)](spark)
    val prepared = input.toDF().toDF("user_id", "t")
      .withColumn("created_at", col("t").cast("timestamp")).drop("t")
    val dir = java.nio.file.Files.createTempDirectory("bitmaps").toString
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val batches = Seq(
      // day 07 users {1, 2} (user 1 twice); day 08 {2}
      Seq((1L, "2025-10-07 10:00:00"), (1L, "2025-10-07 11:00:00"),
        (2L, "2025-10-07 12:00:00"), (2L, "2025-10-08 09:00:00")),
      // day 07 gains {3} and repeats user 1 ACROSS the batch
      // boundary — the overlap exact count-partials cannot merge but
      // the blob OR absorbs; day 08 repeats user 2
      Seq((3L, "2025-10-07 23:00:00"), (1L, "2025-10-07 23:30:00"),
        (2L, "2025-10-08 12:00:00")))
    val q = StreamJob.startDistinctDailyBitmaps(
      prepared, dir, ckpt, "user_id", "created_at", maxId = 64)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    def readBack() = StreamJob.distinctDailyFromBitmaps(spark, dir, 64)
      .select(col("day").cast("string"), col("n_users"))
      .as[(String, Long)].collect().toMap
    // bitmaps are EXACT (not within-tolerance): blob-OR == distincts
    assert(readBack() == Map("2025-10-07" -> 3L, "2025-10-08" -> 1L),
      readBack().toString)
    // replay safety: restart on the same checkpoint adds no data,
    // one blob dir per batch survives (idempotence by path)
    val q2 = StreamJob.startDistinctDailyBitmaps(
      prepared, dir, ckpt, "user_id", "created_at", maxId = 64)
    try q2.processAllAvailable() finally q2.stop()
    assert(readBack() == Map("2025-10-07" -> 3L, "2025-10-08" -> 1L))
    val blobDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b")).map(_.getName)
    assert(blobDirs.sorted.toSeq == Seq("b0", "b1"), blobDirs.mkString(","))
  }

  test("histogram-blob sink: stored-blob quantiles ≡ direct binned " +
    "quantiles, replay-safe") {
    val input = MemoryStream[(Double, String)](spark)
    val prepared = input.toDF().toDF("value", "t")
      .withColumn("created_at", col("t").cast("timestamp")).drop("t")
    val dir = java.nio.file.Files.createTempDirectory("hist").toString
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    // 10 values split ACROSS batches (partials per batch can't answer
    // a global quantile; the blob union must): bins 0..9, one each
    val batches = Seq(
      Seq(0.5, 1.5, 2.5, 3.5).map(v => (v, "2025-10-07 10:00:00")),
      Seq(4.5, 5.5, 6.5).map(v => (v, "2025-10-07 23:00:00")),
      Seq(7.5, 8.5, 9.5).map(v => (v, "2025-10-08 09:00:00")))
    val q = StreamJob.startValueHistogramBlobs(prepared, dir, ckpt)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // n=10: q=.5 -> ceil(5) at cum 5 = bin 4; q=.9 -> cum 9 = bin 8
    val got = StreamJob.quantilesFromHistogramBlobs(spark, dir, Seq(0.5, 0.9))
      .collect().map(r => r.getAs[Long]("q_ppm") ->
        ((r.getAs[Long]("n_total"), r.getAs[Long]("bin_at_q")))).toMap
    assert(got == Map(500000L -> ((10L, 4L)), 900000L -> ((10L, 8L))), got)
    // replay safety: restart on the same checkpoint adds nothing
    val q2 = StreamJob.startValueHistogramBlobs(prepared, dir, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val again = StreamJob.quantilesFromHistogramBlobs(spark, dir, Seq(0.5, 0.9))
      .collect().map(r => r.getAs[Long]("q_ppm") ->
        ((r.getAs[Long]("n_total"), r.getAs[Long]("bin_at_q")))).toMap
    assert(again == got, again)
    val blobDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b")).map(_.getName)
    assert(blobDirs.sorted.toSeq == Seq("b0", "b1", "b2"),
      blobDirs.mkString(","))
  }

  test("incremental near-dup sink: streamed ≡ batch recompute, replay-safe") {
    val base = "the quick brown fox jumps over the lazy dog " +
      "while the rain in spain falls mainly on the plain every day"
    val nearDup = base.replace("every day", "each morning")
    val nearDup2 = base.replace("quick brown", "swift brown")
    val unrelated =
      "completely different content about database engines and query " +
        "optimization with columnar storage and vectorized execution"
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val store = new StreamJob.NearDupStore(spark, dir)
    val b0 = Seq((0L, base), (2L, unrelated), (3L, base))
    val b1 = Seq((10L, nearDup),
      (11L, "fresh shard content with nothing in common at all here"))
    // batch 2 re-delivers doc 3 (at-least-once) + one genuinely new doc
    val b2 = Seq((3L, base), (20L, nearDup2))
    def snapshot(names: Seq[String]): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
            .toSeq.flatMap(walk)
        else Seq(f)
      names.flatMap(v => walk(new java.io.File(s"$dir/$v")))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val q = StreamJob.startIncrementalNearDups(docs, store, ckpt)
    val before = try {
      Seq(b0, b1).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
      // the append-only contract: processing batch 2 writes ONLY its
      // own b2 delta — the committed b0/b1 files stay byte-untouched
      val snap = snapshot(Seq("b0", "b1"))
      input.addData(b2: _*); q.processAllAvailable()
      snap
    } finally q.stop()
    assert(snapshot(Seq("b0", "b1")) == before,
      "batch 2 rewrote earlier deltas — the store is not append-only")

    def pairs(df: DataFrame) = df
      .select("a_id", "b_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val got = pairs(store.readPairs().get)
    // the known old↔new pairs are present, and doc 3's re-delivery did
    // not pair it against its own first copy
    assert(got.exists(p => (p._1, p._2) == ((0L, 10L))) &&
      got.exists(p => (p._1, p._2) == ((3L, 10L))), got.toString)
    // streamed accumulation ≡ the same splits replayed in batch mode
    // (re-sent doc 3 removed from batch 2, as the sink's anti-join does)
    def df(s: Seq[(Long, String)]) = s.toDF("doc_id", "text")
    val batchLoop =
      pairs(ops.DedupOps.incrementalNearDups(df(b0).limit(0), df(b0))) ++
        pairs(ops.DedupOps.incrementalNearDups(df(b0), df(b1))) ++
        pairs(ops.DedupOps.incrementalNearDups(df(b0 ++ b1),
          df(Seq((20L, nearDup2)))))
    assert(got == batchLoop, s"got $got\nbatch $batchLoop")
    // and ≡ one full from-scratch recompute over every distinct doc
    val full = pairs(ops.DedupOps.minhashNearDups(df(b0 ++ b1 :+
      ((20L, nearDup2)))))
    assert(got == full, s"got $got\nfull $full")
    // the stored corpus holds each doc once despite the re-delivery
    val ids = store.readDocs().get.select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(0L, 2L, 3L, 10L, 11L, 20L), ids.toString)
    assert(store.lastBatchId() == 2L)

    // checkpoint replay: restart with no new data — guard holds, the
    // snapshot is untouched, retention keeps current + superseded only
    val q2 = StreamJob.startIncrementalNearDups(docs, store, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(store.lastBatchId() == 2L && pairs(store.readPairs().get) == got)
    val deltas = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory)
      .map(_.getName).toSet
    assert(deltas == Set("b0", "b1", "b2"), deltas.toString)

    // compaction: one c2 base, identical reads, deltas dropped
    store.compact()
    assert(store.compactedId() == 2L && store.lastBatchId() == 2L)
    assert(pairs(store.readPairs().get) == got)
    assert(store.readDocs().get.select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(0L, 2L, 3L, 10L, 11L, 20L))
    val afterCompact = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(afterCompact == Set("c2"), afterCompact.toString)

    // ingestion over the compacted base still matches a from-scratch
    // recompute (the reader unions base + post-compaction deltas)
    val nearDup3 = base.replace("rain in spain", "snow in spain")
    val q3 = StreamJob.startIncrementalNearDups(docs, store, ckpt)
    try {
      input.addData((30L, nearDup3)); q3.processAllAvailable()
    } finally q3.stop()
    val full3 = pairs(ops.DedupOps.minhashNearDups(
      df(b0 ++ b1 ++ Seq((20L, nearDup2), (30L, nearDup3)))))
    assert(pairs(store.readPairs().get) == full3,
      s"post-compaction ingestion diverged from full recompute")
    val afterB3 = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(afterB3 == Set("c2", "b3"), afterB3.toString)
  }

  test("incremental join view: streamed deltas ≡ full equi-join, " +
      "re-delivery safe, compaction read-equivalent") {
    val input = MemoryStream[(String, Long, Long)](spark)
    val changes = input.toDF().toDF("tbl", "k", "id")
    val dir = java.nio.file.Files.createTempDirectory("ivm").toString
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val store = new StreamJob.DeltaStore(spark, dir, Seq("a", "b", "v"))
    val b0 = Seq(("a", 1L, 101L), ("a", 2L, 102L), ("b", 1L, 201L))
    val b1 = Seq(("b", 1L, 202L), ("a", 1L, 103L), ("a", 1L, 101L)) // 101 re-sent
    val b2 = Seq(("b", 2L, 203L))
    val q = StreamJob.startIncrementalJoin(changes, store, ckpt)
    try {
      Seq(b0, b1, b2).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()
    def view() = store.readSub("v").get
      .select("k", "a_id", "b_id")
      .as[(Long, Long, Long)].collect().toSet
    // full recompute: k=1 has a{101,103} × b{201,202}; k=2 {102}×{203}
    val expected = Set(
      (1L, 101L, 201L), (1L, 101L, 202L),
      (1L, 103L, 201L), (1L, 103L, 202L),
      (2L, 102L, 203L))
    assert(view() == expected, view().toString)
    // the re-sent (a, 101) did not duplicate its side either
    assert(store.readSub("a").get.count() == 3L)
    // checkpoint replay: guard holds, view unchanged
    val q2 = StreamJob.startIncrementalJoin(changes, store, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(store.lastBatchId() == 2L && view() == expected)
    // compaction folds the deltas, reads unchanged, then new batches
    // keep maintaining over the compacted base
    store.compact()
    assert(view() == expected)
    val q3 = StreamJob.startIncrementalJoin(changes, store, ckpt)
    try {
      input.addData(("a", 2L, 104L)); q3.processAllAvailable()
    } finally q3.stop()
    assert(view() == expected + ((2L, 104L, 203L)), view().toString)
  }

  test("auto-compaction policy: the sink folds deltas mid-stream at " +
      "the compactEvery threshold, reads unchanged (judge task r15#6)") {
    val base = "the quick brown fox jumps over the lazy dog " +
      "while the rain in spain falls mainly on the plain every day"
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("neardupac").toString
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val store = new StreamJob.NearDupStore(spark, dir)
    val batches = Seq(
      Seq((0L, base), (1L, "unrelated text about database engines")),
      Seq((10L, base.replace("every day", "each morning"))),
      Seq((20L, base.replace("quick brown", "swift brown"))),
      Seq((30L, "another unrelated doc about vectorized execution")),
      Seq((40L, base.replace("rain in spain", "snow in spain"))))
    val q = StreamJob.startIncrementalNearDups(docs, store, ckpt,
      compactEvery = 2)
    val midStreamCompacted = try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      // the fold happened WHILE the stream was live — no explicit
      // compact() call anywhere in this test
      store.compactedId()
    } finally q.stop()
    // deltas fold every 2 batches: c1 after b1, c3 after b3; b4
    // remains a delta (1 < compactEvery)
    assert(midStreamCompacted == 3L, s"compacted=$midStreamCompacted")
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("c3", "b4"), dirs.toString)
    // reads over the folded store ≡ a from-scratch recompute
    def pairs(df: DataFrame) = df.select("a_id", "b_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val full = pairs(ops.DedupOps.minhashNearDups(
      batches.flatten.toDF("doc_id", "text")))
    assert(pairs(store.readPairs().get) == full)
    assert(store.readDocs().get.count() == 6L &&
      store.lastBatchId() == 4L)
  }

  test("binary Hamming tier: identical pair output with the tier " +
      "on/off, strictly fewer verified candidates (judge task r16#5)") {
    // mechanism, unit level: two band collisions, one with codes at
    // Hamming 64 (dropped BEFORE verification), one at Hamming 1
    // (kept) — the tier strictly prunes the verified candidate set
    val oldIdx = Seq((1L, 0, 42L), (3L, 0, 7L))
      .toDF("doc_id", "band_id", "bucket")
    val newIdx = Seq((2L, 0, 42L), (4L, 0, 7L))
      .toDF("doc_id", "band_id", "bucket")
    val codes = Seq((1L, 0L), (2L, -1L), (3L, 12L), (4L, 8L))
      .toDF("doc_id", "simhash")
    val freshDocs = Seq((2L, "x"), (4L, "y")).toDF("doc_id", "text")
    val nPlain = ops.DedupOps.incrementalCandidates(
      oldIdx, freshDocs, newIdx, 500, None).count()
    val nTier = ops.DedupOps.incrementalCandidates(
      oldIdx, freshDocs, newIdx, 500, Some((codes, 26))).count()
    assert(nPlain == 2L && nTier == 1L,
      s"tier should strictly prune: plain=$nPlain tier=$nTier")
    // maxHamming ≥ 64 is the documented parity escape hatch
    assert(ops.DedupOps.incrementalCandidates(
      oldIdx, freshDocs, newIdx, 500, Some((codes, 64))).count() == nPlain)

    // end-to-end: the SAME batches streamed through two sinks, tier
    // on (26, the default) vs off (64) — stored pairs identical
    val base = "the quick brown fox jumps over the lazy dog " +
      "while the rain in spain falls mainly on the plain every day"
    val batches = Seq(
      Seq((0L, base), (1L, "unrelated text about database engines")),
      Seq((10L, base.replace("every day", "each morning"))),
      Seq((20L, base.replace("quick brown", "swift brown"))))
    def run(maxHamming: Int): Set[(Long, Long, Double)] = {
      val input = MemoryStream[(Long, String)](spark)
      val docs = input.toDF().toDF("doc_id", "text")
      val dir = java.nio.file.Files.createTempDirectory("ndtier").toString
      val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
      val store = new StreamJob.NearDupStore(spark, dir)
      val q = StreamJob.startIncrementalNearDups(docs, store, ckpt,
        maxHamming = maxHamming)
      try batches.foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      } finally q.stop()
      store.readPairs().get.select("a_id", "b_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    }
    val on = run(26)
    val off = run(64)
    assert(on.nonEmpty && on == off,
      s"tier changed the pair output: on=$on off=$off")
  }

  test("embedding drift monitor: per-batch centroid cosine/shift vs " +
      "the reference") {
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val vecs = input.toDF().toDF("vec_id", "embedding")
    val sunk = mutable.Buffer[DataFrame]()
    val appender: StreamJob.Appender = (_, df) => sunk.synchronized {
      sunk += df.cache(); ()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val q = StreamJob.startEmbeddingDriftMonitor(vecs,
      Array(1.0, 0.0), appender, ckpt)
    try {
      // batch 0: mean = (2, 0) — same direction as the reference
      input.addData((1L, Seq(1f, 0f)), (2L, Seq(3f, 0f)))
      q.processAllAvailable()
      // batch 1: mean = (-1, 0) — inverted: cosine -1, shift 2
      input.addData((3L, Seq(-1f, 0f)))
      q.processAllAvailable()
      // batch 2: mean = (0, 1) — orthogonal: cosine 0, shift sqrt(2)
      input.addData((4L, Seq(0f, 2f)), (5L, Seq(0f, 0f)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = sunk.reduce(_ union _)
      .select("batch_id", "n_rows", "cosine_to_ref", "l2_shift")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(rows.length == 3, rows.toSeq)
    assert(rows(0) == ((0L, 2L, 1.0, 1.0)), rows(0))   // mean (2,0): shift |2-1|
    assert(rows(1) == ((1L, 1L, -1.0, 2.0)), rows(1))
    assert(rows(2)._3 == 0.0 &&
      math.abs(rows(2)._4 - math.sqrt(2.0)) < 1e-12, rows(2))
  }

  test("heavy-hitter sketch sink: merged blobs guarantee containment " +
      "and count bounds, replay-safe") {
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mg").toString
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val k = 3
    val b0 = Seq((1L, "apple apple apple banana"), (2L, "apple cherry"))
    val b1 = Seq((3L, "apple banana banana"), (4L, "date egg fig grape"))
    // exact: apple 5, banana 3, cherry/date/egg/fig/grape 1; N = 13.
    // true heavy hitters (cnt > N/k = 4.33): apple only.
    val q = StreamJob.startHeavyHitterSketches(docs, dir, ckpt, k = k)
    try {
      Seq(b0, b1).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    def answer() = StreamJob.heavyHittersFromSketches(spark, dir, k)
      .collect().map(r => r.getAs[String]("term") ->
        ((r.getAs[Long]("c_lb"), r.getAs[Long]("c_ub")))).toMap
    val got = answer()
    val exact = Map("apple" -> 5L, "banana" -> 3L, "cherry" -> 1L,
      "date" -> 1L, "egg" -> 1L, "fig" -> 1L, "grape" -> 1L)
    // containment: the one true heavy hitter must be present
    assert(got.contains("apple"), got.toString)
    // soundness: every reported term's exact count within its bounds,
    // and the summary respects the k-row budget
    assert(got.size <= k, got.toString)
    got.foreach { case (t, (lb, ub)) =>
      assert(lb <= exact(t) && exact(t) <= ub, s"$t: $lb..$ub vs ${exact(t)}")
    }
    // at-least-once replay: a restarted query re-delivers nothing new
    // and the per-path overwrite leaves the answer unchanged
    val q2 = StreamJob.startHeavyHitterSketches(docs, dir, ckpt, k = k)
    try q2.processAllAvailable() finally q2.stop()
    assert(answer() == got)
  }

  test("sessionizedStats: append emits only watermark-CLOSED sessions, " +
      "≡ the batch session_window twin") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    val events = input.toDF().toDF("user_id", "ts", "value")
    val agg = StreamJob.sessionizedStats(events, gapMinutes = 30,
      watermark = "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess").start()
    val early = Seq(
      (1L, ts("2025-10-03 10:00:00"), 2.0),
      (1L, ts("2025-10-03 10:10:00"), 3.0),   // merges: gap < 30 min
      (2L, ts("2025-10-03 10:05:00"), 1.0))
    try {
      input.addData(early: _*)
      q.processAllAvailable()
      // watermark still behind both session ends — nothing is final
      assert(spark.table("sess").count() == 0L)
      // events far ahead advance the watermark past 10:40/10:35
      input.addData((3L, ts("2025-10-03 13:00:00"), 1.0))
      q.processAllAvailable()
      input.addData((3L, ts("2025-10-03 13:05:00"), 1.0))
      q.processAllAvailable()
      val got = spark.table("sess").collect().map(r =>
        (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("session_start").toString,
          r.getAs[java.sql.Timestamp]("session_end").toString,
          r.getAs[Long]("n_events"),
          r.getAs[Double]("session_value"))).toSet
      // user 3's session is still OPEN — emitted sessions are exactly
      // the closed ones, and they match the batch twin on those rows
      val batch = ops.EventOps.sessionWindowStats(
        early.toDF("user_id", "ts", "value"), 30)
        .collect().map(r =>
          (r.getAs[Long]("user_id"),
            r.getAs[java.sql.Timestamp]("session_start").toString,
            r.getAs[java.sql.Timestamp]("session_end").toString,
            r.getAs[Long]("n_events"),
            r.getAs[Double]("session_value"))).toSet
      assert(got == batch, s"got $got\nbatch $batch")
      assert(got.map(_._1) == Set(1L, 2L), got.toString)
    } finally q.stop()
  }

  test("windowedCountsNative: watermarked update-mode totals") {
    val input = MemoryStream[String](spark)
    val prepared = StreamJob.prepare(
      ops.TootOps.parseJsonLines(input.toDF()))
    val agg = StreamJob.windowedCountsNative(prepared, "2 minutes")
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("native_counts").start()
    try {
      input.addData(
        tootJson(1, "2025-10-03 10:00:05", "leo", "a"),
        tootJson(2, "2025-10-03 10:00:40", "leo", "b"))
      q.processAllAvailable()
      val rows = spark.table("native_counts")
        .select(date_format(col("window_start"), "HH:mm").as("w"), col("cnt"))
        .as[(String, Long)].collect().toSet
      assert(rows.contains(("10:00", 2L)), s"got $rows")
    } finally q.stop()
  }

  test("stream-stream join matches rows within the time bound only") {
    val clicks = MemoryStream[(Long, String)](spark)
    val views = MemoryStream[(Long, String)](spark)
    def ts(s: String) = s"2025-10-03 $s"
    val l = clicks.toDF().toDF("user", "t")
      .withColumn("click_ts", col("t").cast("timestamp")).drop("t")
    val r = views.toDF().toDF("user", "t")
      .withColumn("view_ts", col("t").cast("timestamp")).drop("t")
      .withColumnRenamed("user", "vuser")
    val joined = graft.streaming.StreamJob.streamStreamJoin(
      l.withColumnRenamed("user", "juser"),
      r.withColumnRenamed("vuser", "juser"),
      "juser", "click_ts", "view_ts")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    try {
      clicks.addData((1L, ts("10:00:00")), (2L, ts("10:00:00")))
      views.addData(
        (1L, ts("10:02:00")),  // within 5 min of user 1's click → match
        (2L, ts("10:30:00")),  // far outside the range → no match
        (3L, ts("10:01:00")))  // no matching click
      q.processAllAvailable()
      val got = spark.table("ss_join").select("juser").as[Long].collect().toSeq
      assert(got == Seq(1L), s"got $got")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join null-pads unmatched rows only " +
    "after the watermark passes their window") {
    val clicks = MemoryStream[(Long, String)](spark)
    val views = MemoryStream[(Long, String)](spark)
    def ts(s: String) = s"2025-10-03 $s"
    val l = clicks.toDF().toDF("user", "t")
      .withColumn("click_ts", col("t").cast("timestamp")).drop("t")
      .withColumnRenamed("user", "juser")
    val r = views.toDF().toDF("user", "t")
      .withColumn("view_ts", col("t").cast("timestamp")).drop("t")
      .withColumnRenamed("user", "juser")
    val joined = graft.streaming.StreamJob.streamStreamJoinOuter(
      l, r, "juser", "click_ts", "view_ts",
      watermark = "2 minutes", within = "5 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_outer").start()
    try {
      clicks.addData((1L, ts("10:00:00")), (2L, ts("10:00:00")))
      views.addData((1L, ts("10:02:00"))) // user 1 matches; user 2 never will
      q.processAllAvailable()
      def rows() = spark.table("ss_outer")
        .select("juser", "view_ts").collect()
        .map(x => x.getLong(0) -> Option(x.get(1))).toSet
      // watermark has not passed user 2's window end → only the match
      assert(rows().map(_._1) == Set(1L), rows().toString)
      // a late batch on BOTH streams drags both watermarks far past
      // every open window → user 2 must surface null-padded
      clicks.addData((9L, ts("11:00:00")))
      views.addData((9L, ts("11:00:00")))
      q.processAllAvailable()
      // one more empty-ish microbatch lets the state-eviction result
      // commit (watermark updates take effect at the NEXT batch)
      clicks.addData((10L, ts("11:30:00")))
      views.addData((10L, ts("11:30:00")))
      q.processAllAvailable()
      val got = rows()
      assert(got.contains(2L -> None),
        s"unmatched left row never surfaced: $got")
      assert(got.filter(_._1 == 1L).forall(_._2.nonEmpty))
    } finally q.stop()
  }

  test("stream-stream FULL OUTER join null-pads BOTH sides' unmatched " +
    "rows after the watermark, with the key coalesced") {
    val clicks = MemoryStream[(Long, String)](spark)
    val views = MemoryStream[(Long, String)](spark)
    def ts(s: String) = s"2025-10-03 $s"
    val l = clicks.toDF().toDF("user", "t")
      .withColumn("click_ts", col("t").cast("timestamp")).drop("t")
      .withColumnRenamed("user", "juser")
    val r = views.toDF().toDF("user", "t")
      .withColumn("view_ts", col("t").cast("timestamp")).drop("t")
      .withColumnRenamed("user", "juser")
    val joined = graft.streaming.StreamJob.streamStreamJoinFullOuter(
      l, r, "juser", "click_ts", "view_ts",
      watermark = "2 minutes", within = "5 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_full").start()
    try {
      // user 1 matches; user 2 is left-only; user 3 is right-only
      clicks.addData((1L, ts("10:00:00")), (2L, ts("10:00:00")))
      views.addData((1L, ts("10:02:00")), (3L, ts("10:00:00")))
      q.processAllAvailable()
      // drag both watermarks past every open window, then one more
      // batch so the eviction result commits
      clicks.addData((9L, ts("11:00:00")))
      views.addData((9L, ts("11:00:00")))
      q.processAllAvailable()
      clicks.addData((10L, ts("11:30:00")))
      views.addData((10L, ts("11:30:00")))
      q.processAllAvailable()
      val got = spark.table("ss_full")
        .select("juser", "click_ts", "view_ts").collect()
        .map(x => (x.getLong(0), Option(x.get(1)), Option(x.get(2))))
        .toSet
      // the match carries both timestamps; each unmatched side
      // surfaces with ITS timestamp and a null other side — and the
      // coalesced key is never null
      assert(got.exists(g => g._1 == 1L && g._2.nonEmpty && g._3.nonEmpty),
        got.toString)
      assert(got.exists(g => g._1 == 2L && g._2.nonEmpty && g._3.isEmpty),
        s"left-only row missing: $got")
      assert(got.exists(g => g._1 == 3L && g._2.isEmpty && g._3.nonEmpty),
        s"right-only row missing: $got")
    } finally q.stop()
  }

  test("batchOutputs drops null-text rows (P7 validity)") {
    val df = Seq(
      ("leo", Some("hello"), "2025-10-03 10:00:00"),
      ("demo", None: Option[String], "2025-10-03 10:00:00"),
    ).toDF("username", "text", "created_at")
      .withColumn("created_at", col("created_at").cast("timestamp"))
    val outs = StreamJob.batchOutputs(df, 7L)
    assert(outs("mastodon_posts").count() == 1)
    assert(outs("streamed_toot_counts").select("batch_id")
      .as[Long].head() == 7L)
  }

  test("Page-Hinkley monitor: per-batch cent-sum log + pure reader; " +
    "exact micro PH flags the mean up-shift; replays collapse") {
    val input = MemoryStream[(Long, Double)](spark)
    val prepared = input.toDF().toDF("user_id", "value")
    val sunk = mutable.Buffer[DataFrame]()
    val appender: StreamJob.Appender = (_, df) => sunk.synchronized {
      sunk += df.cache(); ()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val q = StreamJob.startPhCounts(prepared, appender, ckpt)
    try {
      input.addData((1L, 0.01))                 // batch 0: mean 1 cent
      q.processAllAvailable()
      input.addData((2L, 0.01))                 // batch 1: mean 1 cent
      q.processAllAvailable()
      input.addData((3L, 0.03), (4L, 0.05))     // batch 2: mean 4 cents
      q.processAllAvailable()
    } finally q.stop()
    val log = sunk.reduce(_ union _)
    val raw = log.select("batch_id", "n", "s")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(raw.toSeq == Seq((0L, 1L, 1L), (1L, 1L, 1L), (2L, 2L, 8L)),
      raw.toSeq)
    // batch-mean micro-cents [1e6, 1e6, 4e6]: q = [1e6, 1e6, 2e6],
    // m = [0, 0, 2e6] -> ph_inc = [0, 0, 0.02 value units], ph_dec 0
    val ph = StreamJob.pageHinkleyFromCounts(log).collect()
      .sortBy(_.getAs[Long]("batch_id"))
    assert(ph.map(r => (r.getAs[Double]("mean_value"),
      r.getAs[Double]("ph_inc"), r.getAs[Double]("ph_dec"))).toSeq ==
      Seq((0.01, 0.0, 0.0), (0.01, 0.0, 0.0), (0.04, 0.02, 0.0)),
      ph.mkString(";"))
    // at-least-once re-delivery: duplicating a batch row changes nothing
    val replayed = StreamJob.pageHinkleyFromCounts(log.union(log.limit(1)))
      .collect().sortBy(_.getAs[Long]("batch_id"))
    assert(replayed.map(_.getAs[Double]("ph_inc")).toSeq ==
      ph.map(_.getAs[Double]("ph_inc")).toSeq)
  }

  test("SPRT monitor: per-batch count log + pure decision reader; " +
    "re-delivered batches collapse; crosses H1 at the computed step") {
    val input = MemoryStream[(Long, Boolean)](spark)
    val prepared = input.toDF().toDF("user_id", "converted")
    val sunk = mutable.Buffer[DataFrame]()
    val appender: StreamJob.Appender = (_, df) => sunk.synchronized {
      sunk += df.cache(); ()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    val q = StreamJob.startSprtCounts(prepared, appender, ckpt)
    try {
      input.addData((1L, true), (2L, false))   // batch 0: n=2 x=1
      q.processAllAvailable()
      input.addData((3L, true), (4L, true))    // batch 1: n=2 x=2
      q.processAllAvailable()
      input.addData((5L, true), (6L, true))    // batch 2: n=2 x=2
      q.processAllAvailable()
    } finally q.stop()
    val log = sunk.reduce(_ union _)
    // the sink appended exact per-batch counts
    val raw = log.select("batch_id", "n", "x")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(raw.toSeq == Seq((0L, 2L, 1L), (1L, 2L, 2L), (2L, 2L, 2L)), raw.toSeq)
    // decisions: llr(k) = cum_x·ln2 + (cum_n−cum_x)·ln(.96/.98);
    // cum_x = 1,3,5; cum_n−cum_x = 1,1,1 -> crosses ln 19 at batch 2
    val dec = StreamJob.sprtFromCounts(log).collect()
      .sortBy(_.getAs[Long]("batch_id"))
    val lWin = math.log(0.04 / 0.02)
    val lLose = math.log(0.96 / 0.98)
    val expLlr = Seq(1, 3, 5).zip(Seq(1, 1, 1)).map { case (x, f) =>
      BigDecimal(x * lWin + f * lLose).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(dec.map(_.getAs[Double]("llr")).toSeq == expLlr, dec.mkString(";"))
    assert(dec.map(_.getAs[String]("decision")).toSeq ==
      Seq("continue", "continue", "accept_h1"), dec.mkString(";"))
    // at-least-once re-delivery: duplicating a batch row changes nothing
    val replayed = StreamJob.sprtFromCounts(log.union(log.limit(1)))
      .collect().sortBy(_.getAs[Long]("batch_id"))
    assert(replayed.map(r => (r.getAs[Long]("batch_id"),
      r.getAs[Double]("llr"), r.getAs[String]("decision"))).toSeq ==
      dec.map(r => (r.getAs[Long]("batch_id"), r.getAs[Double]("llr"),
        r.getAs[String]("decision"))).toSeq)
    // streamed grain ≡ the batch-side shared chain over the same log
    val direct = graft.ops.EventOps.sprtOverLog(
      Seq((0L, 2L, 1L), (1L, 2L, 2L), (2L, 2L, 2L))
        .toDF("batch_id", "n", "x"),
      "batch_id", 0.02, 0.04, 0.05, 0.05).collect()
      .sortBy(_.getAs[Long]("batch_id"))
    assert(direct.map(_.getAs[Double]("llr")).toSeq ==
      dec.map(_.getAs[Double]("llr")).toSeq)
  }

  test("near-dup sink resumes onto a PRE-TIER store (no codes " +
      "sub-frame): no throw, pairs ≡ full recompute, and the mixed " +
      "store stays partial-code-safe (advice r16)") {
    val base = "the quick brown fox jumps over the lazy dog " +
      "while the rain in spain falls mainly on the plain every day"
    val nearDup = base.replace("every day", "each morning")
    val nearDup2 = base.replace("quick brown", "swift brown")
    val dir = java.nio.file.Files.createTempDirectory("neardupleg").toString
    val ckpt = java.nio.file.Files.createTempDirectory("chk").toString
    // hand-write batch 0 in the r15 layout: docs/index/pairs, NO codes
    val d0 = Seq((0L, base),
      (2L, "unrelated text about database engines")).toDF("doc_id", "text")
    val legacy = new StreamJob.DeltaStore(spark, dir,
      Seq("docs", "index", "pairs"))
    legacy.writeDelta(Seq(d0, ops.DedupOps.minhashBands(d0, 32, 8, 3),
      ops.DedupOps.incrementalNearDups(d0.limit(0), d0)
        .select("a_id", "b_id", "jaccard")), 0L)
    val store = new StreamJob.NearDupStore(spark, dir)
    // the layout reads as index-without-codes, not a PATH_NOT_FOUND
    assert(store.readIndex().isDefined && store.readCodes().isEmpty)
    val input = MemoryStream[(Long, String)](spark)
    val docs = input.toDF().toDF("doc_id", "text")
    def pairs(df: DataFrame) = df.select("a_id", "b_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    def full(ds: Seq[(Long, String)]) =
      pairs(ops.DedupOps.minhashNearDups(ds.toDF("doc_id", "text")))
    // resume onto the legacy store: stream batch 0 re-delivers the
    // store's own batch (at-least-once across the upgrade) and the
    // exactly-once guard skips it; batch 1 is genuinely new and its
    // old-side codes are recomputed from the stored docs (simhash is
    // a pure per-doc function)
    val q = StreamJob.startIncrementalNearDups(docs, store, ckpt)
    try {
      input.addData((0L, base),
        (2L, "unrelated text about database engines"))
      q.processAllAvailable()
      assert(store.lastBatchId() == 0L &&
        pairs(store.readPairs().get).isEmpty)
      input.addData((10L, nearDup)); q.processAllAvailable()
      assert(pairs(store.readPairs().get) ==
        full(Seq((0L, base), (2L, "unrelated text about database engines"),
          (10L, nearDup))))
      // the store is now MIXED: b0 has no codes, b1 does — readCodes()
      // is partial, and the tier's left-join null-pass must still
      // verify legacy-doc candidates instead of dropping them
      assert(store.readCodes().get.count() == 1L)
      input.addData((20L, nearDup2)); q.processAllAvailable()
    } finally q.stop()
    val got = pairs(store.readPairs().get)
    val expect = full(Seq((0L, base),
      (2L, "unrelated text about database engines"),
      (10L, nearDup), (20L, nearDup2)))
    // the (0, 20) pair straddles the legacy/tiered boundary: doc 0
    // has no stored code, so only the null-pass keeps its candidacy
    assert(got.exists(p => (p._1, p._2) == ((0L, 20L))), got.toString)
    assert(got == expect, s"got $got\nexpect $expect")
  }
}
