package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.TootOps

/** The reference's main streaming job re-expressed on Structured
  * Streaming (`/root/reference/src/spark_stream.py` end-to-end):
  * source → parse → normalize → optional filters → `foreachBatch` fan-out
  * to three append sinks, preserving the observable per-batch semantics
  * (SURVEY.md §2.8):
  *
  *  - `mastodon_posts`:  (username, content, ts) projection, appended;
  *  - `streamed_toot_counts`: 1-minute tumbling window counts computed
  *    WITHIN each micro-batch, appended with `batch_id` — the same
  *    event-time window arriving across batches yields multiple partial
  *    rows (the reference's contract; totals are a downstream
  *    SUM GROUP BY);
  *  - `avg_toot_length_by_user`: per-batch per-user average length with
  *    `batch_id`.
  *
  * Sinks are abstracted as a `(table, DataFrame) => Unit` appender so
  * tests drive the job with `MemoryStream` + in-memory sinks and
  * production uses JDBC/parquet appenders — the reference hard-wires
  * JDBC (`spark_stream.py:117,131,144`).
  */
object StreamJob {

  type Appender = (String, DataFrame) => Unit

  /** Kafka source with the reference's options
    * (`src/spark_stream.py:65-72`). */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", "false")
      .load()

  /** Bounded Kafka replay for backfill
    * (`src/batch_load_raw_fix.py:35-43`). */
  def kafkaBatchSource(spark: SparkSession, bootstrap: String,
      topic: String): DataFrame =
    spark.read
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("endingOffsets", "latest")
      .load()

  /** The transform chain applied to parsed toots before sinking
    * (`spark_stream.py:82-104`). */
  def prepare(parsed: DataFrame, language: Option[String] = None,
      keywords: Seq[String] = Nil): DataFrame =
    TootOps.applyFilters(
      TootOps.normalizeTimestamps(parsed), language, keywords)

  /** The three per-batch outputs (`spark_stream.py:107-144`). Exposed
    * for direct testing. */
  def batchOutputs(df: DataFrame, batchId: Long): Map[String, DataFrame] = {
    val valid = df.filter(col("text").isNotNull && col("username").isNotNull)
    val posts = valid.select(
      col("username"),
      col("text").as("content"),
      col("created_at").as("ts"))
    val windowCounts = valid
      .groupBy(window(col("created_at"), "1 minute").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        lit(batchId).as("batch_id"),
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("cnt"))
    val avgLen = valid
      .withColumn("length", length(col("text")))
      .groupBy("username")
      .agg(avg("length").as("avg_length"))
      .select(lit(batchId).as("batch_id"), col("username"), col("avg_length"))
    Map(
      "mastodon_posts" -> posts,
      "streamed_toot_counts" -> windowCounts,
      "avg_toot_length_by_user" -> avgLen)
  }

  /** Start the streaming query: parsed-toot stream → foreachBatch →
    * three appends. `checkpointDir` gives the reference's at-least-once
    * offset tracking (`spark_stream.py:150`). */
  def start(prepared: DataFrame, appender: Appender,
      checkpointDir: String): StreamingQuery =
    prepared.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Cache FIRST, then probe: the three outputs each trigger a job
        // over this batch, and persisting before the empty-batch guard
        // (P16, `5SPAR.ipynb` cell 24) means the isEmpty take(1) WARMS
        // the cache instead of paying an extra source scan on every
        // non-empty microbatch.
        batch.persist()
        try {
          if (!batch.isEmpty) {
            batchOutputs(batch, batchId).foreach { case (table, out) =>
              appender(table, out)
            }
          }
        } finally batch.unpersist()
        ()
      }
      .start()

  /** Parquet appender — the durable-store stand-in for the reference's
    * JDBC appends. */
  def parquetAppender(baseDir: String): Appender =
    (table, df) => df.write.mode("append").parquet(s"$baseDir/$table")

  // ---------- streaming state: one store, one commit protocol ----------
  //
  // Every incremental sink below persists through [[DeltaStore]] and is
  // driven by the one `foreachBatch` body in [[startDeltaSink]] — the
  // Structured Streaming exactly-once recipe: a replayable source, a
  // sink idempotent by path, and one commit log (the store's `latest`
  // pointer). foreachBatch is at-least-once (a batch REPLAYS after
  // checkpoint recovery); a replayed id the store already committed is
  // a no-op, and a crashed, uncommitted batch rewrites its own paths.

  /** Append-only per-batch delta store — the ONE streaming store. Each
    * batch overwrites only its own `b<batchId>/<sub>` parquet dirs (one
    * per registered sub-frame), then the `latest` pointer commits it.
    * Readers union the `compacted` base with every committed delta not
    * folded into it, so a crashed batch's half-written dirs and a stray
    * `c<id>` base whose pointer never flipped are never read. Appends of
    * distinct batch ids commute, so the per-batch write is O(batch).
    *
    * Pointers are replaced by atomic rename (`<name>.tmp`, then move):
    * a crash mid-commit leaves the previous id, never an empty file.
    * [[compact]] is the one explicit O(state) fold. */
  class DeltaStore(spark: SparkSession, dir: String, subs: Seq[String]) {
    require(subs.nonEmpty && subs.distinct == subs)
    private val root = Paths.get(dir)
    private def readPtr(name: String): Long = {
      val p = root.resolve(name)
      if (Files.exists(p)) new String(Files.readAllBytes(p), UTF_8).trim.toLong
      else -1L
    }
    /** The one pointer writer: a stale `<name>.tmp` left by a crash is
      * overwritten, then renamed over `<name>` in one step. */
    private def writePtr(name: String, id: Long): Unit = {
      val tmp = root.resolve(s"$name.tmp")
      Files.write(tmp, s"$id\n".getBytes(UTF_8))
      Files.move(tmp, root.resolve(name), ATOMIC_MOVE, REPLACE_EXISTING)
    }
    private def rm(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
      f.delete(); ()
    }
    /** Ids of every `b<id>` dir on disk, committed or not. */
    private def deltaIds(): Seq[Long] =
      Option(root.toFile.listFiles()).getOrElse(Array.empty[File]).toSeq
        .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
        .map(_.getName.drop(1).toLong)
    /** Committed deltas the base `c<comp>` does not cover, in order. */
    private def liveDeltaIds(comp: Long): Seq[Long] = {
      val last = lastBatchId()
      deltaIds().filter(id => id > comp && id <= last).sorted
    }
    def lastBatchId(): Long = readPtr("latest")
    def compactedId(): Long = readPtr("compacted")
    /** Committed delta dirs not yet folded into a compacted base — the
      * small-file pressure gauge the `compactEvery` policy triggers on.
      * Driver-side name listing only. */
    def deltaCount(): Int = liveDeltaIds(compactedId()).size
    /** The every-N-batches policy: fold when the uncompacted delta
      * count reaches `every` (0 disables), so a long-running stream's
      * `b<id>` dir count stays bounded by `every`. */
    def maybeCompact(every: Int): Unit =
      if (every > 0 && deltaCount() >= every) compact()
    /** Committed storage paths for one sub-frame: the compacted base
      * (if any) plus every live delta. */
    private def parts(sub: String): Seq[String] = {
      val comp = compactedId()
      (if (comp >= 0L) Seq(s"$dir/c$comp/$sub") else Seq.empty) ++
        liveDeltaIds(comp).map(id => s"$dir/b$id/$sub")
    }
    def readSub(sub: String): Option[DataFrame] = {
      require(subs.contains(sub), s"unknown sub-frame $sub")
      // keep only paths that exist: a sub-frame ADDED to the layout
      // after a store was first written (the r16 "codes" addition) is
      // absent from older batch dirs — those batches contribute no
      // rows rather than a PATH_NOT_FOUND throw
      val ps = parts(sub).filter(p => Files.exists(Paths.get(p)))
      if (ps.isEmpty) None else Some(spark.read.parquet(ps: _*))
    }
    /** [[readSub]] for readers that need rows: fails when no committed
      * batch holds `sub`. */
    def read(sub: String): DataFrame = readSub(sub).getOrElse(
      throw new IllegalStateException(s"no committed $sub under $dir"))
    /** Write one batch's deltas (every registered sub, in `subs`
      * order), then commit them by moving the `latest` pointer. */
    def writeDelta(frames: Seq[DataFrame], batchId: Long): Unit = {
      require(frames.length == subs.length,
        s"expected ${subs.length} frames, got ${frames.length}")
      subs.zip(frames).foreach { case (sub, df) =>
        df.write.mode("overwrite").parquet(s"$dir/b$batchId/$sub")
      }
      writePtr("latest", batchId)
    }
    /** Fold base + deltas into one `c<lastBatchId>` dir and drop the
      * folded sources. Crash-safe like the deltas: the new base is
      * written fully, the `compacted` pointer moves, THEN the
      * superseded dirs are removed. */
    def compact(): Unit = {
      val last = lastBatchId()
      if (last < 0L || parts(subs.head).size <= 1) return
      val prevComp = compactedId()
      for (sub <- subs)
        readSub(sub).get.write.mode("overwrite").parquet(s"$dir/c$last/$sub")
      writePtr("compacted", last)
      deltaIds().filter(_ <= last)
        .foreach(id => rm(root.resolve(s"b$id").toFile))
      if (prevComp >= 0L) rm(root.resolve(s"c$prevComp").toFile)
    }
  }

  /** Delta-store compaction cadence of the state sinks. */
  private val DefaultCompactEvery = 16

  /** The one `foreachBatch` body of every state sink: a batch id the
    * store already committed is a replay and a no-op; otherwise the
    * batch's delta frames (one per store sub, in order) are written
    * and committed, then the every-N fold runs. */
  private def startDeltaSink(df: DataFrame, store: DeltaStore,
      checkpointDir: String, compactEvery: Int = DefaultCompactEvery)(
      delta: DataFrame => Seq[DataFrame]): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > store.lastBatchId()) {
          store.writeDelta(delta(batch), batchId)
          store.maybeCompact(compactEvery)
        }
        ()
      }
      .start()

  // ---------- incremental daily rollup sink ----------
  //
  // EventOps.incrementalDailyStats lifted into the stream: the
  // reference appends per-batch PARTIAL rows and defers the merge to
  // every reader (`streamed_toot_counts`, src/spark_stream.py:119-131
  // — totals need a downstream SUM GROUP BY); here the store holds the
  // exact partials and [[dailyRollup]] merges them.

  /** Daily delta partials of one micro-batch of prepared toots:
    * (day, toots, chars). Counts and Long char sums merge EXACTLY, so
    * incremental maintenance ≡ from-scratch recompute bit-for-bit —
    * the invariant StreamJobSpec asserts across batch boundaries. */
  def dailyDelta(batch: DataFrame): DataFrame = batch
    .filter(col("created_at").isNotNull && col("text").isNotNull)
    .groupBy(to_date(col("created_at")).as("day"))
    .agg(count(lit(1)).as("toots"), sum(length(col("text"))).as("chars"))

  /** Associative partial merge — the same union-then-reaggregate shape
    * as `EventOps.incrementalDailyStats`: any union of daily partials
    * collapses to one row per day. */
  def mergeDaily(partials: DataFrame): DataFrame =
    partials.groupBy("day")
      .agg(sum("toots").as("toots"), sum("chars").as("chars"))

  /** Streaming maintenance of the daily rollup: each micro-batch
    * appends its delta partials to `store`, a [[DeltaStore]] with the
    * one sub-frame `daily`. History is NEVER rescanned: the per-batch
    * write is ≤ |days in the batch| rows. */
  def startIncrementalDaily(prepared: DataFrame, store: DeltaStore,
      checkpointDir: String): StreamingQuery =
    startDeltaSink(prepared, store, checkpointDir)(b => Seq(dailyDelta(b)))

  /** The rollup of a [[startIncrementalDaily]] store: [[mergeDaily]]
    * over the committed partials; None before the first commit. */
  def dailyRollup(store: DeltaStore): Option[DataFrame] =
    store.readSub("daily").map(mergeDaily)

  // ---------- incremental near-dup maintenance sink ----------
  //
  // DedupOps.incrementalNearDups driven by the stream: each
  // micro-batch of documents is paired against the persisted corpus
  // (and itself) WITHOUT ever re-pairing old-vs-old — the
  // continual-ingestion dedup story end-to-end.

  /** Durable state for [[startIncrementalNearDups]]: per-batch
    * `b<batchId>/{docs,index,codes,pairs}` deltas. Each batch writes
    * only its OWN delta (docs genuinely new in the batch, their banded
    * signature index rows, their codes, the pairs they introduced), so
    * the per-batch write is O(batch), never O(corpus). Pairs are
    * disjoint across batches (each touches ≥1 doc new in its batch),
    * docs/index rows are disjoint by the re-delivery anti-join — so
    * readers simply union the deltas. The INDEX is the production
    * artifact ([[graft.ops.DedupOps.incrementalNearDupsIndexed]]):
    * the per-batch anti-join and the pairing probe it — narrow rows,
    * a key plus two longs — and the stored TEXT is only read through
    * the candidate-id semi-join of the verification pass. */
  class NearDupStore(spark: SparkSession, dir: String)
      extends DeltaStore(spark, dir,
        Seq("docs", "index", "codes", "pairs")) {
    def readDocs(): Option[DataFrame] = readSub("docs")
    def readIndex(): Option[DataFrame] = readSub("index")
    /** Per-doc 64-bit SimHash codes — the binary pre-filter tier's
      * stored artifact (8 bytes/doc beside the band index). */
    def readCodes(): Option[DataFrame] = readSub("codes")
    def readPairs(): Option[DataFrame] = readSub("pairs")
  }

  /** Streaming near-dup maintenance: every micro-batch's genuinely-new
    * docs (re-sent doc_ids are anti-joined away — at-least-once
    * DELIVERY must not make a doc its own near-duplicate) run through
    * [[graft.ops.DedupOps.incrementalNearDups]] against the stored
    * corpus, and the new pairs append to the stored pair set.
    *
    * No distinct() on the pair union: a pair emitted at batch i
    * touches ≥1 doc NEW at i, and later batches only emit pairs
    * touching their own new docs (disjoint by the anti-join), so the
    * same pair cannot be emitted twice — appends commute, exactly the
    * sketch-blob argument. That disjointness is what makes the
    * delta store sound: readers union the per-batch pair deltas and
    * get precisely the accumulated set.
    *
    * 100 TB shape: per-batch WRITE is O(batch) — the batch's new docs,
    * their index rows, their pairs, nothing else rewritten. Per-batch
    * READ is the narrow signature index (anti-join + bucket pairing,
    * Σ (new-in-bucket × bucket)) plus candidate-bounded text via the
    * verification semi-join — the raw corpus text is never scanned
    * into the pairing. Exactly-once: a replayed batch id ≤ the store's
    * `latest` pointer is a no-op, and a crashed batch replays onto its
    * own paths.
    *
    * Binary tier (`maxHamming` < 64, default 26): each doc's 64-bit
    * SimHash is stored beside its band rows, and candidate pairs are
    * pre-filtered by XOR+popcount Hamming distance BEFORE the exact-
    * Jaccard verification touches text — per-batch latency drops
    * because the expensive stage (candidate-bounded shingling + set
    * intersection) sees only code-close pairs, for one long-XOR per
    * candidate against an 8-byte/doc artifact. 64 disables the tier
    * (exact parity with the untiered path — StreamJobSpec gates
    * pair-for-pair equivalence on/off and that the tier strictly
    * prunes the verified candidate set).
    *
    * CONTRACT NOTE (recall): the default `maxHamming = 26` is a
    * recall TRADE, not an optimization — a true Jaccard ≥ threshold
    * pair whose 64-bit SimHashes land > 26 apart (the ~2.5-sigma
    * tail, likelier on short or token-permuted docs) is pruned before
    * verification and never emitted. Callers that need the exact
    * MinHash-band recall of the untiered path must pass
    * `maxHamming = 64` explicitly; the default favors per-batch
    * latency on long-document corpora where the tail is negligible. */
  def startIncrementalNearDups(docs: DataFrame, store: NearDupStore,
      checkpointDir: String, threshold: Double = 0.5,
      numHashes: Int = 32, bands: Int = 8, k: Int = 3,
      compactEvery: Int = DefaultCompactEvery,
      maxHamming: Int = 26): StreamingQuery =
    startDeltaSink(docs, store, checkpointDir, compactEvery) { batch =>
      val incoming = batch.select(col("doc_id"), col("text"))
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .dropDuplicates("doc_id")
      // fresh and its index feed both the pairing and the delta
      // write — checkpoint each once (batch-sized frames)
      val fresh = (store.readIndex() match {
        case Some(oldIdx) => incoming.join(
          oldIdx.select("doc_id"), Seq("doc_id"), "left_anti")
        case None => incoming
      }).localCheckpoint()
      val idx = graft.ops.DedupOps
        .minhashBands(fresh, numHashes, bands, k).localCheckpoint()
      val codes = graft.ops.DedupOps.simhashes(fresh)
        .localCheckpoint()
      val newPairs = store.readIndex() match {
        case Some(oldIdx) =>
          // Pre-tier store layouts (docs/index/pairs, no "codes"
          // sub-frame) resume gracefully: SimHash is a pure
          // per-doc function of text, so missing codes are
          // recomputed from the stored docs instead of throwing.
          // A MIXED store (legacy batches + tiered batches) reads
          // as partial codes — the tier's left-join null-pass
          // (DedupOps.candsOf) sends code-less candidates to
          // exact verification unpruned, so coverage gaps cost
          // pruning, never recall.
          val oldDocs = store.readDocs().get
          val oldCodes = store.readCodes()
            .getOrElse(graft.ops.DedupOps.simhashes(oldDocs))
          graft.ops.DedupOps.incrementalNearDupsHammingTier(
            oldIdx, oldCodes, oldDocs,
            fresh, idx, codes, threshold, maxBucket = 500, k = k,
            maxHamming = maxHamming)
        case None =>
          graft.ops.DedupOps.incrementalNearDupsHammingTier(
            idx.limit(0), codes.limit(0), fresh.limit(0), fresh,
            idx, codes, threshold, maxBucket = 500, k = k,
            maxHamming = maxHamming)
      }
      Seq(fresh, idx, codes, newPairs)
    }

  /** Incremental equi-JOIN view maintenance — classic IVM (the delta
    * rule every materialized-view engine implements): the view
    * V = A ⋈_k B is kept current under INSERT streams by joining only
    * deltas against snapshots,
    *
    *   ΔV = ΔA ⋈ (B ∪ ΔB)  ∪  A ⋈ ΔB
    *
    * (A, B = pre-batch snapshots). Every V-pair with both sides old
    * existed before the batch; a pair with a new A side lands in the
    * first term (including ΔA⋈ΔB), new-B-only pairs in the second —
    * each new pair exactly once, so V-deltas only ever APPEND, the
    * [[NearDupStore]] pairs argument generalized to arbitrary
    * equi-joins. Changes arrive as ONE tagged CDC stream
    * (tbl ∈ {a, b}, k = join key, id = row id); re-deliveries drop
    * out via id anti-joins against the stored sides.
    *
    * 100 TB shape: per-batch work is two delta-vs-snapshot equi-joins
    * (shuffle ∝ batch + matching snapshot partitions under AQE) and
    * O(batch + ΔV) writes — the view is never recomputed, never
    * rewritten. Stream-stream joins solve the WINDOWED flavor of this
    * ([[streamStreamJoin]]); this sink is the UNWINDOWED one their
    * state store cannot hold (joining today's rows against ALL
    * history). */
  def startIncrementalJoin(changes: DataFrame, store: DeltaStore,
      checkpointDir: String,
      compactEvery: Int = DefaultCompactEvery): StreamingQuery =
    startDeltaSink(changes, store, checkpointDir, compactEvery) { batch =>
      val in = batch.select(col("tbl"), col("k"), col("id"))
        .filter(col("tbl").isin("a", "b") &&
          col("k").isNotNull && col("id").isNotNull)
        .dropDuplicates("tbl", "id")
      def side(tag: String, idName: String): DataFrame = {
        val d = in.filter(col("tbl") === tag)
          .select(col("k"), col("id").as(idName))
        (store.readSub(tag) match {
          case Some(old) =>
            d.join(old.select(idName), Seq(idName), "left_anti")
          case None => d
        }).localCheckpoint()
      }
      val dA = side("a", "a_id")
      val dB = side("b", "b_id")
      val aOld = store.readSub("a").getOrElse(dA.limit(0))
      val bOld = store.readSub("b").getOrElse(dB.limit(0))
      val dV = dA.join(bOld.unionByName(dB), Seq("k"))
        .unionByName(aOld.join(dB, Seq("k")))
        .select(col("k"), col("a_id"), col("b_id"))
      Seq(dA, dB, dV)
    }

  // ---------- distinct-count sketch-blob sink ----------
  //
  // The one aggregate [[startIncrementalDaily]]'s exact partials CANNOT
  // maintain: distinct counts don't merge (|A ∪ B| ≠ |A| + |B|), so an
  // incremental rollup of daily-distinct users would need the full
  // history rescanned every batch. Theta sketch BLOBS close the gap:
  // each micro-batch appends its per-day sketch rows, and any reader
  // answers distinct questions by sketch union over the stored blobs —
  // a mergeable, append-only architecture (no read-modify-write at
  // all), the streaming face of EventOps.thetaOverlapAudit's store.

  /** Per-day Theta sketch of one micro-batch's distinct usernames. */
  def sketchDelta(batch: DataFrame): DataFrame = batch
    .filter(col("created_at").isNotNull && col("username").isNotNull)
    .groupBy(to_date(col("created_at")).as("day"))
    .agg(expr("theta_sketch_agg(username)").as("sk"))

  /** The one-sub [[DeltaStore]] behind each single-blob sink: every
    * micro-batch appends its blob frame as a committed delta, and
    * readers merge only committed blobs. */
  private def blobStore(spark: SparkSession, dir: String): DeltaStore =
    new DeltaStore(spark, dir, Seq("blob"))

  private def blobs(spark: SparkSession, dir: String): DataFrame =
    blobStore(spark, dir).read("blob")

  /** Append-only sketch sink under `dir` ([[blobStore]]). */
  def startDistinctDailySketches(prepared: DataFrame, dir: String,
      checkpointDir: String): StreamingQuery =
    startDeltaSink(prepared, blobStore(prepared.sparkSession, dir),
      checkpointDir)(b => Seq(sketchDelta(b)))

  /** Distinct usernames per day answered from the STORED blobs only —
    * no raw-row rescan, any date grain (regroup `day` coarser and the
    * same union still holds: sketches are associative). */
  def distinctDailyFromSketches(spark: SparkSession, dir: String): DataFrame =
    blobs(spark, dir)
      .groupBy("day")
      .agg(expr("CAST(theta_sketch_estimate(theta_union_agg(sk)) AS BIGINT)")
        .as("n_users"))

  /** EXACT-distinct variant of the sketch-blob store: per-batch
    * per-day dense BITMAP blobs ([[graft.functions.BitmapBuild]]) in
    * the same kind of [[blobStore]]. Where the Theta store answers
    * any-grain distincts within sketch tolerance, the bitmap store's
    * blob-OR is lossless — the stored partials reproduce
    * `count(DISTINCT)` exactly at any regrouping, which is the
    * warehouse-grade guarantee for billing/compliance counts. Needs
    * the dense-integral-id premise the aggregate enforces (maxId
    * bits per blob); id spaces that can't promise it stay on the
    * sketch path. */
  def bitmapDelta(batch: DataFrame, idCol: String, tsCol: String,
      maxId: Int): DataFrame = batch
    .filter(col(tsCol).isNotNull && col(idCol).isNotNull)
    .groupBy(to_date(col(tsCol)).as("day"))
    .agg(graft.functions.BitmapAgg.bitmapBuild(col(idCol), maxId).as("bm"))

  def startDistinctDailyBitmaps(prepared: DataFrame, dir: String,
      checkpointDir: String, idCol: String, tsCol: String,
      maxId: Int): StreamingQuery =
    startDeltaSink(prepared, blobStore(prepared.sparkSession, dir),
      checkpointDir)(b => Seq(bitmapDelta(b, idCol, tsCol, maxId)))

  /** Exact distinct ids per day from the STORED blobs only — no raw
    * rescan; regroup coarser (week, month, all-time) and the same
    * OR-merge still answers exactly. */
  def distinctDailyFromBitmaps(spark: SparkSession, dir: String,
      maxId: Int): DataFrame =
    blobs(spark, dir)
      .groupBy("day")
      .agg(graft.functions.BitmapAgg.bitmapCardinality(col("bm"), maxId)
        .as("n_users"))

  /** Per-batch EXACT binned-value histogram blobs — the QUANTILE face
    * of the store-once/union-any-grain family (Theta for distincts,
    * bitmap for exact distincts, Misra–Gries for heavy hitters, this
    * for percentiles): each micro-batch appends its own (day, bin)
    * count frame to a [[blobStore]]. Integer-width bins make the partials EXACT and trivially
    * mergeable — readers re-collapse the stored blobs at ANY grain
    * (day, week, all-time) and answer binned quantiles with no raw-row
    * rescan and no sketch tolerance, the [[graft.ops.EventOps
    * .ksValueDrift]] bounded-support argument applied to storage.
    * Per-batch cost: one grouped pass + a ≤|bins|·|days| row write. */
  def histogramDelta(batch: DataFrame, valueCol: String,
      tsCol: String): DataFrame = batch
    .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
    .groupBy(to_date(col(tsCol)).as("day"),
      floor(col(valueCol)).cast("long").as("bin"))
    .agg(count(lit(1)).as("cnt"))

  def startValueHistogramBlobs(prepared: DataFrame, dir: String,
      checkpointDir: String, valueCol: String = "value",
      tsCol: String = "created_at"): StreamingQuery =
    startDeltaSink(prepared, blobStore(prepared.sparkSession, dir),
      checkpointDir)(b => Seq(histogramDelta(b, valueCol, tsCol)))

  /** Exact binned quantiles from the STORED histogram blobs only —
    * for each requested q, the smallest bin whose cumulative count
    * reaches ⌈q·n⌉, decided by integer cross-multiplication
    * (cum·10⁶ ≥ q_ppm·n — no float rank arithmetic). The one serial
    * window orders the value-range-bounded bin grid. Regroup the
    * blobs by day/week first and the same arithmetic answers
    * per-grain quantiles. */
  def quantilesFromHistogramBlobs(spark: SparkSession, dir: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val h = blobs(spark, dir)
      .groupBy("bin").agg(sum("cnt").as("cnt"))
    val w = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(h.agg(sum("cnt").as("n"))))
    val qdf = qs.map(q => math.round(q * 1e6)).toDF("q_ppm")
    cum.join(broadcast(qdf),
        col("cum") * lit(1000000L) >= col("q_ppm") * col("n"))
      .groupBy("q_ppm")
      .agg(min("bin").as("bin_at_q"), max("n").as("n_total"))
      .select(col("q_ppm"), col("n_total"), col("bin_at_q"))
  }

  /** Mergeable-QUANTILE blob store — the continuous-domain companion
    * of [[histogramDelta]] (whose exact bins need an integer-width
    * grid): each micro-batch appends one per-day KLL sketch blob
    * ([[graft.functions.KllBuild]], see [[graft.functions.KllSketch]]
    * for the worst-case-rank-error contract) to a [[blobStore]].
    * Readers merge blobs at ANY grain (day, week, all-time) with
    * [[graft.functions.KllMerge]] — error bounds ADD across merges, so the answer ships with its
    * own validity certificate and no raw row is ever rescanned. */
  def kllDelta(batch: DataFrame, valueCol: String, tsCol: String,
      k: Int = 200): DataFrame = batch
    .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
    .groupBy(to_date(col(tsCol)).as("day"))
    .agg(graft.functions.KllSketch
      .kllBuild(col(valueCol).cast("double"), k).as("kll"))

  def startValueKllBlobs(prepared: DataFrame, dir: String,
      checkpointDir: String, valueCol: String = "value",
      tsCol: String = "created_at", k: Int = 200): StreamingQuery =
    startDeltaSink(prepared, blobStore(prepared.sparkSession, dir),
      checkpointDir)(b => Seq(kllDelta(b, valueCol, tsCol, k)))

  /** Quantiles per day from the STORED KLL blobs only — one
    * blob-merge per day plus scalar quantile reads, each row carrying
    * n and the accumulated worst-case rank-error bound. Regroup
    * coarser and the same merge answers any grain. */
  def quantilesDailyFromKllBlobs(spark: SparkSession, dir: String,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99), k: Int = 200): DataFrame = {
    import graft.functions.KllSketch._
    val merged = blobs(spark, dir)
      .groupBy("day")
      .agg(kllMerge(col("kll"), k).as("kb"))
    val qCols = qs.map(q =>
      round(kllQuantile(col("kb"), lit(q)), 6).as(s"q_${(q * 100).toInt}"))
    merged.select(Seq(col("day"), kllN(col("kb")).as("n"),
      kllErrBound(col("kb")).as("rank_err_bound")) ++ qCols: _*)
  }

  private def mgStore(spark: SparkSession, dir: String): DeltaStore =
    new DeltaStore(spark, dir, Seq("summary", "meta"))

  /** Streaming heavy-hitter maintenance — the MERGEABLE face of
    * [[graft.ops.DocOps.heavyHitterTerms]] (whose exact-recount second
    * pass a stream cannot make): each micro-batch appends its own
    * Misra–Gries summary blob (≤ k narrow rows, sub `summary`) and a
    * 1-row token total (sub `meta`) as one committed delta. Readers
    * merge the stored summaries — per-term sums + one reduction cut — and answer with
    * lower/upper count bounds; the merged under-count stays ≤
    * N/(k+1) (Agarwal et al., mergeable summaries), so every term
    * with true frequency above N/k is guaranteed present no matter
    * how the stream was batched or partitioned. Per-batch cost:
    * one token pass + a ≤ k-row write; no history rescan, ever. */
  def startHeavyHitterSketches(docs: DataFrame, dir: String,
      checkpointDir: String, k: Int = 200): StreamingQuery =
    startDeltaSink(docs, mgStore(docs.sparkSession, dir), checkpointDir) {
      batch =>
        val toks = batch
          .filter(col("text").isNotNull)
          .select(explode(graft.ops.DedupOps.tokens(col("text")))
            .as("term"))
        Seq(graft.ops.DocOps.mgSummary(toks, k),
          toks.agg(count(lit(1)).as("n_tokens")))
    }

  /** Heavy hitters answered from the STORED summary blobs only: merged
    * lower bounds plus the ceil(N/k) upper-bound cushion. Contains
    * every term with true count > N/k; each reported term's true count
    * lies in [c_lb, c_ub]. */
  def heavyHittersFromSketches(spark: SparkSession, dir: String,
      k: Int = 200): DataFrame = {
    val store = mgStore(spark, dir)
    val merged = graft.ops.DocOps.mgReduce(store.read("summary"), k)
    val n = store.read("meta")
      .agg(sum(col("n_tokens")).as("n_total"))
    merged.crossJoin(broadcast(n))
      .select(col("term"), col("c_lb"),
        (col("c_lb") + expr("(n_total + " + k + " - 1) div " + k))
          .as("c_ub"))
  }

  /** Stream-stream inner join with watermarks and a time-range bound —
    * the remaining Structured Streaming category (the reference joins
    * nothing, SURVEY.md §2.3). Both sides carry watermarks so the state
    * store can evict rows once the range condition can no longer match;
    * without the bound the join state would grow forever. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      watermark: String = "10 minutes",
      within: String = "5 minutes",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
        l(key) === r(key) &&
          r(rightTs) >= l(leftTs) &&
          r(rightTs) <= l(leftTs) + org.apache.spark.sql.functions
            .expr(s"INTERVAL $within"),
        joinType)
      .drop(r(key)) // keep one unambiguous copy of the join key
  }

  /** LEFT OUTER stream-stream join: unmatched left rows surface
    * null-padded — but only once the right-side WATERMARK passes the
    * end of their match window (before that, a match could still
    * arrive; the state store must hold the row). The time-range bound
    * is what makes the outer semantics finite: without it an
    * unmatched row could never be declared unmatched and its state
    * never evicted. Emission latency for the null-padded rows is
    * therefore governed by the watermark delay, not the trigger —
    * the contract StreamJobSpec pins with a late watermark-advancing
    * batch. */
  def streamStreamJoinOuter(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      watermark: String = "10 minutes",
      within: String = "5 minutes"): DataFrame =
    streamStreamJoin(left, right, key, leftTs, rightTs, watermark,
      within, "left_outer")

  /** FULL OUTER stream-stream join — [[streamStreamJoinOuter]]'s
    * both-sides completion (supported since Spark 3.1 under the same
    * watermark + time-bound contract): unmatched LEFT rows null-pad
    * once the right watermark passes their window, unmatched RIGHT
    * rows symmetrically. The key must be COALESCED across sides (a
    * right-only row has a null left key — the plain `drop(r(key))`
    * of the inner form would blank its key entirely). */
  def streamStreamJoinFullOuter(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      watermark: String = "10 minutes",
      within: String = "5 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
        l(key) === r(key) &&
          r(rightTs) >= l(leftTs) &&
          r(rightTs) <= l(leftTs) + org.apache.spark.sql.functions
            .expr(s"INTERVAL $within"),
        "full_outer")
      .withColumn("__k", coalesce(l(key), r(key)))
      .drop(l(key)).drop(r(key))
      .withColumnRenamed("__k", key)
  }

  /** The idiomatic Spark-native alternative the reference lacks
    * (SURVEY.md §2.8): true streaming windowed aggregation with a
    * watermark — one row per window in update mode, late data beyond
    * the watermark dropped. */
  def windowedCountsNative(prepared: DataFrame,
      watermark: String = "2 minutes"): DataFrame =
    prepared
      .withWatermark("created_at", watermark)
      .groupBy(window(col("created_at"), "1 minute").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("cnt"))

  /** TRUE streaming gap-sessionization — the native `session_window`
    * aggregate under a watermark, the one Structured Streaming
    * aggregation class the engine didn't yet run streaming (batch twin:
    * [[graft.ops.EventOps.sessionWindowStats]], oracle-gated as
    * `session_window_stats`). State: one open session per (user,
    * window) in the state store; gap-mergeable, so partial sessions
    * combine as events arrive out of order WITHIN the watermark.
    * Append mode emits a session exactly once — when the watermark
    * passes `end` (last event + gap) and no event can extend it — so
    * downstream consumers see only FINAL sessions: the streaming
    * contract batch gaps-and-islands can't give without reprocessing.
    *
    * 100 TB shape: state is keyed by (user_id, session), evicted at
    * watermark — memory ∝ concurrently-OPEN sessions, never history.
    * Input needs (user_id, ts TIMESTAMP, value). */
  def sessionizedStats(events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(graft.ops.Num.dec2(col("value"))), 4).cast("double")
          .as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"),
        col("session_value"))

  // ---------- streaming distribution-drift monitor ----------

  /** Per-micro-batch categorical drift monitor —
    * `EventOps.psiTypeDrift` lifted into the stream: every batch's mix
    * over `column` is scored against a FIXED reference distribution
    * (`reference`: one (category, n) row per category) with the
    * population-stability index, and one row per batch lands in the
    * `drift_scores` table: (batch_id, n_rows, psi, n_unseen) — the
    * alert feed a streaming data-quality dashboard tails (rule of
    * thumb: psi > 0.2 = significant drift).
    *
    * PSI terms need BOTH shares > 0. Batch categories the reference
    * never saw have no finite term and are counted in `n_unseen`
    * instead — at real drift severity that count IS the alert.
    * Reference categories absent from the batch contribute nothing
    * (their batch share is 0); wholesale disappearance surfaces as
    * PSI from the remaining mass plus a shrunken n_rows.
    *
    * Scale: the batch collapses to |categories| rows before the
    * broadcast-joined scoring; the reference total is one bounded
    * driver scalar computed at start; the appended row is O(1).
    * Appends carry batch_id, so at-least-once replays dedupe
    * downstream (the same contract as every other append sink
    * here). */
  /** Mean embedding of a vector column as a plain array — ONE per-dim
    * aggregation; the collect is dim-sized (a model constant, e.g. 64
    * floats), the bounded-artifact class the IVF centroid cache
    * established, never data-proportional. */
  def meanVector(df: DataFrame, vecCol: String = "embedding"): Array[Double] = {
    val rows = df
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("dim").agg(avg(col("v").cast("double")).as("m"))
      .orderBy("dim").collect()
    rows.map(_.getAs[Double]("m"))
  }

  /** Streaming EMBEDDING drift monitor — [[startDriftMonitor]]'s
    * vector-space sibling: each micro-batch's mean embedding is scored
    * against a fixed reference centroid (take it from
    * [[meanVector]] over the training corpus) with cosine similarity
    * and the L2 centroid shift, one (batch_id, n_rows, cosine_to_ref,
    * l2_shift) row per batch. The alert feed for "this week's crawl
    * embeds somewhere else than the corpus we trained on" — semantic
    * drift that categorical PSI over metadata cannot see.
    *
    * Per batch: one per-dim aggregation over the batch (map-side
    * combinable), then dim-sized driver arithmetic — O(batch) work,
    * O(dim) state, nothing replayed. Degenerate all-zero means score
    * cosine 0 rather than NaN (stated). */
  def startEmbeddingDriftMonitor(vecs: DataFrame, reference: Array[Double],
      appender: Appender, checkpointDir: String): StreamingQuery = {
    require(reference.nonEmpty, "reference centroid must be non-empty")
    val refNorm = math.sqrt(reference.map(x => x * x).sum)
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val nRows = batch.count()
        if (nRows > 0L) {
          val m = meanVector(batch)
          require(m.length == reference.length,
            s"dimension mismatch: batch ${m.length} vs reference " +
              s"${reference.length}")
          val dot = m.zip(reference).map { case (a, b) => a * b }.sum
          val mNorm = math.sqrt(m.map(x => x * x).sum)
          val cos =
            if (mNorm == 0.0 || refNorm == 0.0) 0.0 else dot / (mNorm * refNorm)
          val shift = math.sqrt(
            m.zip(reference).map { case (a, b) => (a - b) * (a - b) }.sum)
          appender("embedding_drift",
            Seq((batchId, nRows, cos, shift))
              .toDF("batch_id", "n_rows", "cosine_to_ref", "l2_shift"))
        }
        ()
      }
      .start()
  }

  def startDriftMonitor(prepared: DataFrame, column: String,
      reference: DataFrame, appender: Appender,
      checkpointDir: String): StreamingQuery = {
    val refCounts = reference
      .select(col("category"), col("n").cast("long").as("rn"))
    val refTotal = refCounts.agg(sum("rn")).head.getLong(0)
    require(refTotal > 0L, "drift reference must be non-empty")
    prepared.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val bc = batch.groupBy(col(column).as("category"))
          .agg(count(lit(1)).as("bn"))
        val nRows = bc.agg(coalesce(sum("bn"), lit(0L))).head.getLong(0)
        if (nRows > 0L) {
          val pb = col("bn").cast("double") / lit(nRows.toDouble)
          val pr = col("rn").cast("double") / lit(refTotal.toDouble)
          val scored = bc.join(broadcast(refCounts), Seq("category"), "left")
            .agg(
              coalesce(sum(when(col("rn").isNotNull,
                (pb - pr) * log((col("bn").cast("double") *
                  lit(refTotal.toDouble)) /
                  (col("rn").cast("double") * lit(nRows.toDouble))))),
                lit(0.0)).as("psi"),
              sum(when(col("rn").isNull, 1L).otherwise(0L)).as("n_unseen"))
            .head
          appender("drift_scores",
            Seq((batchId, nRows, scored.getAs[Double]("psi"),
              scored.getAs[Long]("n_unseen")))
              .toDF("batch_id", "n_rows", "psi", "n_unseen"))
        }
        ()
      }
      .start()
  }

  // ---------- streaming sequential experimentation monitor ----------

  /** Streaming arm of the Wald SPRT — the "peek every BATCH without
    * inflating α" monitor pairing `EventOps.sprtDailyAb`: each
    * micro-batch of trials (rows with a boolean `converted`) appends
    * ONE exact (batch_id, n, x) count row; the sink itself is
    * stateless and idempotent (a replayed batch re-appends the same
    * batch_id row — [[sprtFromCounts]] collapses duplicates), the
    * store-once/derive-any-decision contract of the sketch-blob
    * family. No O(corpus) state, no cumulative mutation in the sink:
    * the DECISION is a pure reader over the log. */
  def startSprtCounts(prepared: DataFrame, appender: Appender,
      checkpointDir: String): StreamingQuery =
    prepared.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val r = batch.agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("converted"), 1L).otherwise(0L)),
            lit(0L)).as("x")).head
        val n = r.getLong(0)
        if (n > 0L)
          appender("sprt_counts",
            Seq((batchId, n, r.getLong(1))).toDF("batch_id", "n", "x"))
        ()
      }
      .start()

  /** Decision reader over a [[startSprtCounts]] log: duplicates from
    * at-least-once re-delivery collapse by batch_id (a replayed batch
    * carries identical counts, so max ≡ the original), then the shared
    * `EventOps.sprtOverLog` chain emits the cumulative LLR and Wald
    * decision per batch — (batch_id, n, x, cum_n, cum_x, llr,
    * decision). */
  def sprtFromCounts(log: DataFrame, p0: Double = 0.02,
      p1: Double = 0.04, alpha: Double = 0.05,
      beta: Double = 0.05): DataFrame =
    graft.ops.EventOps.sprtOverLog(
      log.groupBy("batch_id")
        .agg(max(col("n")).as("n"), max(col("x")).as("x")),
      "batch_id", p0, p1, alpha, beta)

  // ---------- streaming mean-shift (Page–Hinkley) monitor ----------

  /** Streaming arm of the Page–Hinkley detector pairing
    * `EventOps.pageHinkleyByType`: each micro-batch of valued rows
    * appends ONE exact (batch_id, n, s) count/cent-sum row — the same
    * stateless, idempotent, store-once contract as
    * [[startSprtCounts]] (a replayed batch re-appends an identical
    * batch_id row; [[pageHinkleyFromCounts]] collapses duplicates).
    * No O(corpus) state, no cumulative mutation in the sink: the
    * DETECTION is a pure reader over the log. */
  def startPhCounts(prepared: DataFrame, appender: Appender,
      checkpointDir: String): StreamingQuery =
    prepared.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val r = batch.agg(count(lit(1)).as("n"),
          coalesce(sum((col("value").cast("decimal(12,2)") * lit(100))
            .cast("bigint")), lit(0L)).as("s")).head
        val n = r.getLong(0)
        if (n > 0L)
          appender("ph_counts",
            Seq((batchId, n, r.getLong(1))).toDF("batch_id", "n", "s"))
        ()
      }
      .start()

  /** Detection reader over a [[startPhCounts]] log: duplicates from
    * at-least-once re-delivery collapse by batch_id (identical
    * counts, so max ≡ original), then the micro-pinned Page–Hinkley
    * chain of `EventOps.pageHinkleyByType` runs over the BATCH-MEAN
    * series — each batch's mean value is one pinned division
    * re-pinned to BIGINT micro-cents, so mₜ and both PH statistics
    * are exact integer arithmetic over the ≤ #batches-row frame.
    * Emits (batch_id, n, mean_value, ph_inc, ph_dec) in value
    * units. */
  def pageHinkleyFromCounts(log: DataFrame): DataFrame = {
    val batches = log.groupBy("batch_id")
      .agg(max(col("n")).as("n"), max(col("s")).as("s"))
    val w = Window.orderBy(col("batch_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val xm = round((col("s").cast("double") / col("n").cast("double")) *
      lit(1000000.0), 0).cast("long")
    val run = batches.withColumn("xm", xm)
      .withColumn("cum_x", sum(col("xm")).over(w))
      .withColumn("k", row_number().over(
        Window.orderBy(col("batch_id").asc)).cast("long"))
    val q = round((col("cum_x").cast("double") / col("k").cast("double")),
      0).cast("long")
    val withM = run.withColumn("q", q)
      .withColumn("m", col("cum_x") - sum(col("q")).over(w))
    withM
      .withColumn("ph_inc_m", col("m") - min(col("m")).over(w))
      .withColumn("ph_dec_m", max(col("m")).over(w) - col("m"))
      .select(col("batch_id"), col("n"),
        round(col("s").cast("double") / lit(100.0) /
          col("n").cast("double"), 6).as("mean_value"),
        round(col("ph_inc_m").cast("double") / lit(1000000.0) /
          lit(100.0), 6).as("ph_inc"),
        round(col("ph_dec_m").cast("double") / lit(1000000.0) /
          lit(100.0), 6).as("ph_dec"))
  }
}
