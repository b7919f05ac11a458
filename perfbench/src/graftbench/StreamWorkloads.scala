package graftbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.ops.{DedupOps, TootOps}
import graft.streaming.{Monitoring, StreamJob}

/** `stream_ingest` and `stream_neardup`: one streaming query in flight,
  * triggers back to back (a closed loop: each trigger gets a fixed number
  * of rows whatever the last trigger took). */
object StreamWorkloads {

  /** Rows per trigger of `stream_ingest`: a tenth of the 500,000 at which
    * `graft.Bench`'s streaming figure was calibrated, the largest round
    * size whose run fits the benchmark's time budget (README). */
  val TootsPerTrigger = 50000L

  /** The `Appender` around `parquetAppender`: times each table write and,
    * once `stopping` is set, parks the first write of the next trigger
    * until `query.stop()` interrupts it, so a stop never leaves a trigger
    * half-written across the three tables. */
  final class GatedAppender(inner: StreamJob.Appender, spark: SparkSession,
      tr: Option[Tracer]) extends StreamJob.Appender {
    @volatile var stopping = false
    val parked = new CountDownLatch(1)
    private val writes = mutable.Map.empty[Long, mutable.Set[String]]
    private def batchId: Long = Option(spark.sparkContext
      .getLocalProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)

    def apply(table: String, df: DataFrame): Unit = {
      val b = batchId
      if (stopping && !writes.synchronized(writes.contains(b))) {
        parked.countDown()
        while (true) Thread.sleep(1000)
      }
      writes.synchronized(writes.getOrElseUpdate(b, mutable.Set.empty))
      tr match {
        case Some(t) => t.timed(s"trigger:$b", s"sink:$table", "sink",
          Map("table" -> table))(inner(table, df))
        case None => inner(table, df)
      }
      writes.synchronized(writes(b) += table)
      ()
    }
    /** Batch ids by the tables they wrote. */
    def written: Map[Long, Set[String]] =
      writes.synchronized(writes.map { case (k, v) => k -> v.toSet }.toMap)
  }

  /** `NearDupStore` that records which triggers compacted and, with a
    * tracer, times each read, delta write and compaction. */
  final class TimedStore(spark: SparkSession, dir: String,
      tr: Option[Tracer]) extends StreamJob.NearDupStore(spark, dir) {
    private val compacting = mutable.Set.empty[Long]
    private def batchId = Option(spark.sparkContext
      .getLocalProperty("streaming.sql.batchId"))
    private def timed[T](name: String, attrs: Map[String, Any] = Map.empty)(
        body: => T): T = tr match {
      case Some(t) =>
        t.timed(batchId.fold("")("trigger:" + _), name, "store", attrs)(body)
      case None => body
    }
    override def readSub(sub: String): Option[DataFrame] =
      timed("store.read", Map("sub" -> sub))(super.readSub(sub))
    override def writeDelta(frames: Seq[DataFrame], batchId: Long): Unit =
      timed("store.write")(super.writeDelta(frames, batchId))
    override def compact(): Unit = {
      val before = compactedId()
      timed("store.compact")(super.compact())
      if (compactedId() != before) compacting ++= batchId.map(_.toLong)
    }
    /** Ids of the triggers that folded the deltas into a new base. */
    def compacted: Set[Long] = compacting.toSet
  }

  /** Triggers of one query that count as warm-up (set-up): the first
    * starts the query, the second still compiles code. */
  val WarmTriggers = 2

  /** Nominal seconds of a `stream_ingest` trigger at `local[4]` (2.1
    * measured), which turns `--seconds` into a trigger count. */
  val NominalTriggerS = 2.0
  /** Timed triggers a run makes at least, so the median has samples. */
  val MinTimedTriggers = 3

  private def ingestTimed(o: Opts): Int =
    Main.timedOps(o, NominalTriggerS, MinTimedTriggers)

  /** Let `q` run its warm-up triggers, then `timed` more, then stop it
    * between triggers. Returns the seconds the warm-up took. */
  private def drive(q: StreamingQuery, timed: Int,
      gate: GatedAppender): Double = {
    val t0 = System.nanoTime()
    val hardStop = t0 + 120L * 1000000000L
    while (q.isActive && System.nanoTime() < hardStop &&
        q.recentProgress.length < WarmTriggers) q.awaitTermination(10)
    val warm = Main.secsSince(t0)
    while (q.isActive && System.nanoTime() < hardStop &&
        q.recentProgress.length < WarmTriggers + timed)
      q.awaitTermination(10)
    gate.stopping = true
    while (q.isActive && !gate.parked.await(10, TimeUnit.MILLISECONDS)) ()
    q.stop()
    warm
  }

  /** The timed triggers: the `timed` triggers after the warm-up ones (one
    * more may have committed while the query was stopping). */
  private def ops(progress: Seq[StreamingQueryProgress],
      timed: Int): Seq[Map[String, Any]] =
    progress.filter(p => p.batchId >= WarmTriggers &&
        p.batchId < WarmTriggers + timed).map { p =>
      Map("id" -> p.batchId, "wall_s" -> p.durationMs.get("triggerExecution") / 1000.0,
        "rows" -> p.numInputRows)
    }

  /** Trigger spans and their phases, laid out in the order a micro-batch
    * runs them, from `StreamingQueryProgress.durationMs`. */
  private def triggerSpans(tr: Tracer, progress: Seq[StreamingQueryProgress]): Unit =
    progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val trace = s"trigger:${p.batchId}"
      val tid = tr.nextId()
      var at = start
      for ((phase, layerName) <- Seq("latestOffset" -> "source",
          "walCommit" -> "commit", "getBatch" -> "source",
          "queryPlanning" -> "planning", "addBatch" -> "addBatch",
          "commitOffsets" -> "commit")) {
        val us = d.getOrElse(phase, 0L) * 1000L
        tr.add(tid, trace, phase, s"stream.$layerName", at, at + us)
        at += us
      }
      tr.put(tid, -1, trace, "trigger", "stream.trigger", start,
        start + d.getOrElse("triggerExecution", 0L) * 1000L,
        Map("rows" -> p.numInputRows))
    }

  def run(spark: SparkSession, o: Opts, res: mutable.Map[String, Any],
      tally: Tally): Unit =
    if (o.workload == "stream_ingest") ingest(spark, o, res, tally)
    else neardup(spark, o, res, tally)

  // ------------------------------------------------------------- ingest

  private final case class IngestRun(progress: Seq[StreamingQueryProgress],
      gate: GatedAppender, sink: String, error: Option[String], warm: Double)

  private def ingestOnce(spark: SparkSession, o: Opts, cores: Int,
      dir: String, tr: Option[Tracer]): IngestRun = {
    val shape = Gen.tootShape(o.seed, TootsPerTrigger)
    val gate = new GatedAppender(StreamJob.parquetAppender(s"$dir/sink"),
      spark, tr)
    val prepared = StreamJob.prepare(TootOps.parseJsonLines(
      Gen.tootStream(spark, shape, TootsPerTrigger, cores)))
    val q = StreamJob.start(prepared, gate, s"$dir/checkpoint")
    val warm = drive(q, ingestTimed(o), gate)
    IngestRun(q.recentProgress.toSeq, gate, s"$dir/sink",
      q.exception.map(_.getMessage), warm)
  }

  private def ingest(spark: SparkSession, o: Opts,
      res: mutable.Map[String, Any], tally: Tally): Unit = {
    val shape = Gen.tootShape(o.seed, TootsPerTrigger)
    res("input_rows_per_op") = TootsPerTrigger
    // input generation: one trigger's worth of rows, generated statically
    res("prep_s") = (1 to 3).map(_ => Main.time(Main.noop(
      Gen.tootRange(spark, shape, 0, TootsPerTrigger, o.cores))))
    val run = ingestOnce(spark, o, o.cores, s"${o.work}/timed", None)
    res("warm_s") = run.warm
    val timed = ingestTimed(o)
    res("ops") = ops(run.progress, timed)
    res("retained_heap_mb") = Main.retainedHeapMb()
    tally.attempted += run.progress.size
    run.error.foreach(e => tally.check("stream", ok = false, e))
    res("check_s") = Main.time(reconcile(spark, o, run, tally, res))
    val (bytes, files) = Main.diskUsage(run.sink)
    res("sink_bytes") = bytes
    res("sink_files") = files
    res("sink_triggers") = run.progress.size

    if (o.trace) {
      val sc = spark.sparkContext
      val tr = new Tracer
      val jobs = new JobListener(tr)
      sc.addSparkListener(jobs)
      val recorder = Monitoring.attach(spark)
      Main.resetHeapPeak()
      val gc0 = Main.gcSeconds()
      val t1 = System.nanoTime()
      val traced = ingestOnce(spark, o, o.cores, s"${o.work}/traced",
        Some(tr))
      val wall = Main.secsSince(t1) - traced.warm
      BenchBus.drain(sc)
      sc.removeSparkListener(jobs)
      Monitoring.detach(spark, recorder)
      triggerSpans(tr, traced.progress)
      // parse cost alone: parseJsonLines + prepare over one generated
      // trigger's rows as a static, cached frame
      val batch = Gen.tootRange(spark, shape, 0, TootsPerTrigger, o.cores)
        .select("value").cache()
      batch.count()
      val parseS = (1 to 3).map(_ => tr.timed("parse", "parse", "parse")(
        Main.time(Main.noop(StreamJob.prepare(TootOps.parseJsonLines(batch))))))
      batch.unpersist()
      tr.write(s"${o.traceDir}/spans.jsonl")
      val (tb, tf) = Main.diskUsage(traced.sink)
      val batches = recorder.batches
      // the tracing overhead's reference: an untraced phase of the same
      // length right after the traced one
      val ref = ingestOnce(spark, o, o.cores, s"${o.work}/ref", None)
      res("traced") = Map("ops" -> ops(traced.progress, timed),
        "wall_s" -> wall,
        "warm_triggers" -> WarmTriggers,
        "ref_ops" -> ops(ref.progress, timed),
        "jvm_gc_s" -> (Main.gcSeconds() - gc0),
        "heap_peak_mb" -> Main.heapPeakMb(),
        "block_bytes_peak" -> jobs.blockBytesPeak,
        "sink_bytes" -> tb, "sink_files" -> tf,
        "nonempty_frac" -> batches.count(_.numInputRows > 0).toDouble /
          math.max(1, batches.size),
        "parse_s" -> parseS,
        "spans_file" -> s"${o.traceDir}/spans.jsonl")
      // single-thread baseline: the same stream in a fresh local[1] session
      spark.stop()
      val one = Main.session(1, o.work)
      val base = ingestOnce(one, o, 1, s"${o.work}/base1", None)
      res("baseline") = Map("cores" -> 1, "ops" -> ops(base.progress, timed),
        "input_rows_per_op" -> TootsPerTrigger)
    }
  }

  /** The sink against the generator: over the triggers that wrote, the
    * posts equal the valid rows, Σ cnt of the window counts equals them
    * too, and the per-user averages number the distinct users of each
    * trigger. */
  private def reconcile(spark: SparkSession, o: Opts, run: IngestRun,
      tally: Tally, res: mutable.Map[String, Any]): Unit = {
    val written = run.gate.written
    val tables = written.values.flatten.toSet
    val complete = written.collect { case (b, ts) if ts == tables => b }
      .toSeq.sorted
    tally.check("sink: every trigger wrote every table",
      complete.size == written.size && complete == complete.indices.map(_.toLong),
      s"batches by tables written: $written")
    val n = complete.size.toLong
    val gen = Gen.tootRange(spark, Gen.tootShape(o.seed, TootsPerTrigger), 0,
      n * TootsPerTrigger, o.cores).filter(col("g_valid"))
    val truth = gen.groupBy(floor(col("id") / TootsPerTrigger))
      .agg(count(lit(1)).as("n"), countDistinct(col("g_username")).as("u"))
      .agg(sum("n"), sum("u")).head()
    val (valid, users) = (truth.getLong(0), truth.getLong(1))
    def read(t: String) = spark.read.parquet(s"${run.sink}/$t")
    val posts = read("mastodon_posts").count()
    val cnt = read("streamed_toot_counts").agg(sum("cnt")).head().getLong(0)
    val avgRows = read("avg_toot_length_by_user").count()
    tally.check("mastodon_posts rows = valid rows", posts == valid,
      s"$posts vs $valid")
    tally.check("sum(cnt) of streamed_toot_counts = valid rows", cnt == valid,
      s"$cnt vs $valid")
    tally.check("avg_toot_length_by_user rows = distinct users per trigger",
      avgRows == users, s"$avgRows vs $users")
    res("reconcile") = Map("triggers" -> n, "valid_rows" -> valid,
      "posts" -> posts, "sum_cnt" -> cnt, "avg_rows" -> avgRows,
      "distinct_users" -> users)
  }

  // ------------------------------------------------------------ neardup

  /** Deltas folded into a new base every this many triggers, as in
    * `StreamJobSpec`'s auto-compaction test: the sink compacts after
    * triggers 1, 3, 5, ... */
  val CompactEvery = 2
  /** Timed triggers of `stream_neardup`, whatever their speed: triggers
    * 2 to 5, two whole compaction cycles, so the timed mix of compacting
    * and plain triggers, and the store size each sees, never change. */
  val NearDupTimed = 2 * CompactEvery
  /** The replay's triggers: the sf0.1 `documents` table (5,000 rows) is
    * replayed once, in equal slices, over the warm-up and timed triggers. */
  val NearDupTriggers = WarmTriggers + NearDupTimed

  private final case class NearDupRun(store: TimedStore,
      progress: Seq[StreamingQueryProgress], error: Option[String],
      warm: Double)

  /** One replay: each slice is added to a `MemoryStream` once the previous
    * trigger has committed, so every slice is one trigger (a closed
    * loop). */
  private def neardupOnce(spark: SparkSession, docs: Seq[(Long, String)],
      dir: String, tr: Option[Tracer]): NearDupRun = {
    import spark.implicits._
    val store = new TimedStore(spark, s"$dir/store", tr)
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamJob.startIncrementalNearDups(
      input.toDF().toDF("doc_id", "text"), store, s"$dir/checkpoint",
      compactEvery = CompactEvery)
    val per = math.ceil(docs.size.toDouble / NearDupTriggers).toInt
    val t0 = System.nanoTime()
    var warm = 0.0
    val error = try {
      docs.grouped(per).zipWithIndex.foreach { case (slice, i) =>
        if (i == WarmTriggers) warm = Main.secsSince(t0)
        input.addData(slice: _*)
        q.processAllAvailable()
      }
      None
    } catch {
      case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally q.stop()
    NearDupRun(store, q.recentProgress.toSeq.filter(_.numInputRows > 0),
      error, warm)
  }

  private def neardup(spark: SparkSession, o: Opts,
      res: mutable.Map[String, Any], tally: Tally): Unit = {
    // input set-up: read the documents and put them in replay order
    var docs = Seq.empty[(Long, String)]
    res("prep_s") = (1 to 3).map(_ => Main.time {
      docs = Gen.docReplay(spark, o.data, o.seed)
    })
    res("input_rows_per_op") = docs.size / NearDupTriggers
    val run = neardupOnce(spark, docs, s"${o.work}/timed", None)
    res("warm_s") = run.warm
    res("ops") = ops(run.progress, NearDupTimed)
    res("compacting_ops") = run.store.compacted.toSeq.sorted
    res("retained_heap_mb") = Main.retainedHeapMb()
    tally.attempted += run.progress.size
    run.error.foreach(e => tally.check("stream", ok = false, e))
    val store = run.store

    // the maintained pair view, read back from the store
    res("read_view_s") = (1 to 3).map(_ =>
      Main.time(Main.noop(store.readPairs().get)))
    val c0 = System.nanoTime()
    // the invariant StreamJobSpec proves: the stored pairs equal a
    // from-scratch minhashNearDups over every ingested document
    val stored = store.readDocs().get
    val nDocs = stored.count()
    tally.check("store docs = replayed docs", nDocs == docs.size,
      s"$nDocs stored, ${docs.size} replayed")
    tally.check("one trigger per slice",
      run.progress.size == NearDupTriggers && store.lastBatchId() ==
        NearDupTriggers - 1,
      s"${run.progress.size} triggers, last batch ${store.lastBatchId()}")
    // both sides as multisets of (a_id, b_id, jaccard): a pair stored
    // twice is a mismatch too
    def pairs(df: DataFrame): Map[(Long, Long, Double), Int] =
      df.select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .groupBy(identity).map { case (k, v) => k -> v.size }
    val got = pairs(store.readPairs().get)
    val exp = pairs(DedupOps.minhashNearDups(stored))
    val extra = got.keySet.diff(exp.keySet).size
    val missing = exp.keySet.diff(got.keySet).size
    val nPairs = got.values.sum
    tally.check("stored pairs = minhashNearDups(all docs)", got == exp,
      s"$extra stored pairs not in the recompute, $missing missing, " +
        s"${got.size} distinct of $nPairs stored")
    res("check_s") = Main.secsSince(c0)
    val (bytes, files) = Main.diskUsage(s"${o.work}/timed/store")
    res("store") = Map("docs" -> nDocs, "pairs" -> nPairs,
      "triggers" -> (store.lastBatchId() + 1), "bytes" -> bytes,
      "files" -> files)

    if (o.trace) {
      val sc = spark.sparkContext
      val tr = new Tracer
      val jobs = new JobListener(tr)
      sc.addSparkListener(jobs)
      val recorder = Monitoring.attach(spark)
      Main.resetHeapPeak()
      val gc0 = Main.gcSeconds()
      val t1 = System.nanoTime()
      val traced = neardupOnce(spark, docs, s"${o.work}/traced", Some(tr))
      val wall = Main.secsSince(t1) - traced.warm
      BenchBus.drain(sc)
      sc.removeSparkListener(jobs)
      Monitoring.detach(spark, recorder)
      triggerSpans(tr, traced.progress)
      val readS = (1 to 3).map(_ => tr.timed("read", "view.read", "store")(
        Main.time(Main.noop(traced.store.readPairs().get))))
      tr.write(s"${o.traceDir}/spans.jsonl")
      val (tb, tf) = Main.diskUsage(s"${o.work}/traced/store")
      val batches = recorder.batches
      // the tracing overhead's reference: an untraced replay right after
      // the traced one
      val ref = neardupOnce(spark, docs, s"${o.work}/ref", None)
      res("traced") = Map("ops" -> ops(traced.progress, NearDupTimed),
        "wall_s" -> wall,
        "warm_triggers" -> WarmTriggers,
        "ref_ops" -> ops(ref.progress, NearDupTimed),
        "compacting_ops" -> traced.store.compacted.toSeq.sorted,
        "jvm_gc_s" -> (Main.gcSeconds() - gc0),
        "heap_peak_mb" -> Main.heapPeakMb(),
        "block_bytes_peak" -> jobs.blockBytesPeak,
        "store_bytes" -> tb, "store_files" -> tf,
        "store_docs" -> docs.size,
        "compactions" -> traced.store.compacted.size,
        "read_view_s" -> readS,
        "nonempty_frac" -> batches.count(_.numInputRows > 0).toDouble /
          math.max(1, batches.size),
        "spans_file" -> s"${o.traceDir}/spans.jsonl")
    }
  }
}
