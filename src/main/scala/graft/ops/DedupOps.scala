package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication at corpus scale — the training-data-pipeline operators
  * (exact, MinHash+LSH, SimHash, n-gram Jaccard), built as relational
  * plans: explode the shingles ONCE, then hash-aggregate signatures.
  *
  * Why not nested higher-order-function expressions (transform/
  * aggregate lambdas)? They are interpreted (no whole-stage codegen, no
  * common-subexpression elimination), and `CollapseProject` happily
  * inlines a shingle-array subexpression into every one of 32×8
  * consumers — measured 250+ s at sf0.1 vs ~5 s for this formulation.
  * The explode is a `Generate` barrier: shingling runs exactly once per
  * document, signatures are codegen'd partial+final aggregates, and
  * every downstream reference is a cheap attribute read. The same plan
  * shape distributes to any cluster size (shuffle keys: doc_id, then
  * LSH bucket).
  *
  * The exact-dedup shape generalizes the reference's row_number dedup
  * (`/root/reference/src/batch_clean_historical.py:34-37`); the
  * near-dup stack follows Broder '97 (MinHash banding) and
  * Charikar '02 (SimHash) — see PAPERS.md.
  */
object DedupOps {

  /** File-local shadow of `functions.round` — every round here pins a
    * DOUBLE (Jaccard/containment scores, several inside per-candidate
    * verify loops). Bit-identical fast round; loud type failure on any
    * non-double input. See the [[VectorOps]] shadow for the full
    * rationale (r17, guide §4). */
  private def round(c: Column, scale: Int): Column =
    graft.functions.RoundHalfUp.roundFused(c, scale)

  // ---------- shared text normalization / shingling ----------

  /** Whitespace-tokenized, lowercased tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct word k-shingles ("k-grams of tokens"). Empty array when
    * the doc has fewer than k tokens (sequence() would otherwise count
    * DOWN for a negative span — a real Spark footgun). */
  def shingles(text: Column, k: Int = 3): Column = {
    val t = tokens(text)
    val idx = sequence(lit(0), size(t) - k)
    val grams = transform(idx, i =>
      concat_ws(" ", (0 until k).map(o => element_at(t, i + o + 1)): _*))
    when(size(t) >= k, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** k-shingles from an already-materialized token ARRAY COLUMN (an
    * attribute, not an expression): every `element_at` reference is a
    * cheap column read. Passing `tokens(text)` directly instead would
    * let Catalyst inline the split() into each of the 3k references per
    * shingle — measured ~9 s of pure re-tokenization at sf0.1. */
  def shinglesFromTokens(t: Column, k: Int): Column = {
    val idx = sequence(lit(0), size(t) - k)
    val grams = transform(idx, i =>
      concat_ws(" ", (0 until k).map(o => element_at(t, i + o + 1)): _*))
    when(size(t) >= k, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** (doc_id, shingle) inverted-index rows — the single place shingling
    * is computed; everything downstream aggregates/joins these rows.
    *
    * The `repartition(doc_id)` is a deliberate materialization barrier:
    * it pins the token array as a concrete column (CollapseProject
    * cannot inline through an Exchange), and the downstream
    * `groupBy(doc_id)` stages reuse the partitioning, so the shuffle is
    * not an extra exchange for the signature/set paths. */
  def shingleRows(docs: DataFrame, k: Int = 3): DataFrame =
    docs
      // explicit isnotnull(doc_id) (r18): downstream consumers that
      // JOIN on doc_id get this filter inferred onto their copy of the
      // scan (InferFiltersFromConstraints) while pure-aggregation
      // consumers (df counts) do not — the two canonical forms then
      // differ and exchange reuse cannot collapse them, so the whole
      // tokenize+shingle+explode pipeline executed once per class.
      // Stating the (vacuous — doc_id is the table key) filter at the
      // source makes every branch identical. Semantics: a null-doc_id
      // row could previously contribute shingles to df counts but can
      // never reach any output (all outputs join on doc_id); no keyed
      // table has null keys, and the oracle agrees on all SFs.
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      // coalescible repartition kept deliberately (r18): an explicit-N
      // pin here parallelizes the shingle stage (0.59 → 0.32 s) but
      // that stage is the MAP side of the downstream exchange, and N
      // shuffle-writing map tasks pay ~12 ms each in fixed costs —
      // measured net +0.5 s on the full pair pipeline. AQE's
      // byte-based coalescing is the right policy for shuffle-feeding
      // stages; see Par's scaladoc for where the explicit pin DOES pay.
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(shinglesFromTokens(col("t"), k)).as("sh"))

  /** Boilerplate-phrase detector (the C4/RefinedWeb "repeated span"
    * family at phrase granularity): word k-grams occurring in at least
    * `minDocs` DISTINCT documents, with the document count. Each doc
    * contributes a shingle at most once ([[shingles]] is per-doc
    * distinct), so a plain `count` IS the distinct-doc count — no
    * count-distinct expand. One explode + one hash agg keyed by
    * phrase; map-side partials absorb hot-phrase skew, and the 32-byte
    * phrase rows are all that shuffles — the same posture as
    * [[exactDupGroups]] one level down. */
  def boilerplatePhrases(docs: DataFrame, k: Int = 5,
      minDocs: Int = 2): DataFrame =
    shingleRows(docs, k)
      .groupBy(col("sh").as("phrase"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  // ---------- exact dedup ----------

  /** Exact-duplicate groups by content hash: one hash-shuffle groupBy.
    * At 100 TB this is the cheapest possible dedup — the md5 collapses
    * each doc to 32 bytes before the shuffle. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Per-source duplication audit: how much of each source is exact
    * duplicate mass (same normalized fingerprint as [[dedupExact]]) —
    * the first number a corpus report leads with, per source so the
    * offending feed is identifiable. `n_dup_docs` counts every doc in
    * a >1 group (keeper included: it measures duplicated MASS, the
    * docs whose fingerprint is not unique). One fingerprint groupBy,
    * then a join back that is fp-CO-PARTITIONED with it (group sizes
    * are ~one row per distinct fingerprint — corpus-scale, NOT
    * broadcast-size; the planner reuses the fp hash partitioning so
    * the join adds no third exchange). The md5 collapses docs to 32
    * bytes before the wide shuffles, same 100 TB shape as
    * [[exactDupGroups]]. */
  def dupStatsBySource(docs: DataFrame): DataFrame = {
    val fps = docs.select(col("doc_id"), col("source"),
      DocOps.fingerprint(col("text")).as("fp"))
    val groupSizes = fps.groupBy("fp").agg(count(lit(1)).as("grp"))
    fps.join(groupSizes, "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("grp") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        countDistinct(col("fp")).as("n_unique_texts"))
  }

  /** Exact dedup keeping the smallest doc_id per normalized fingerprint
    * (whitespace-collapsed, lowercased — DocOps.fingerprint). */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .groupBy(DocOps.fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup with the quality-aware keep policy: the LONGEST
    * raw text per normalized fingerprint wins (doc_id breaks exact-
    * length ties) — the "keep the most complete copy" rule real
    * pipelines prefer over min-id when near-layout variants differ in
    * trailing content. An argmax per group: row_number over
    * (n_chars DESC, doc_id ASC), auto-rewritten by TopKRewrite into
    * the capped-heap TopKPerGroup — one fp-keyed exchange, no
    * full-group sort. */
  def dedupKeepLongest(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"), DocOps.fingerprint(col("text")).as("fp"),
        length(col("text")).as("n_chars"))
      .withColumn("rn", row_number().over(Window.partitionBy("fp")
        .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .filter(col("rn") === 1)
      .select(col("fp"), col("doc_id").as("keep_id"),
        col("n_chars").cast("long").as("n_chars"))
  }

  // ---------- n-gram Jaccard (exact near-dup baseline) ----------

  /** Exact pairwise Jaccard over word-shingle sets via the inverted
    * index: self-join on the (hashed) shingle, count shared,
    * |A∪B| = |A|+|B|-shared. The join key is the 64-bit shingle hash —
    * same result as string keys (collision odds ~2⁻⁴⁸ per corpus) at a
    * fraction of the shuffle width. Quadratic in per-shingle document
    * frequency — the exact baseline; [[minhashNearDups]] is the scale
    * path. `maxDf` prunes degenerate stopword-shingles (standard
    * inverted-index pruning). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
      k: Int = 3, maxDf: Long = 1000): DataFrame = {
    // The hashed inverted index is pinned behind ONE repartition(h)
    // exchange, and every consumer aggregates a COLUMN rather than
    // lit(1) (r18): column pruning used to narrow each branch's copy
    // of the exchange (sizes kept doc_id only, dfCounts kept h only),
    // the canonical forms diverged, exchange reuse could not fire, and
    // the tokenize + shingle + explode pipeline executed once per
    // divergent copy (plan dump: 12 parquet scans / 15 Exchanges; 2
    // copies survived to runtime). count(h) ≡ count(1) per doc and
    // count(doc_id) ≡ count(1) per shingle — both columns are
    // non-null by construction (xxhash64 / table key) — but they force
    // every consumer to require the SAME (doc_id, h) schema, so all
    // four branches reuse one exchange (ReusedExchange in the plan;
    // asserted in DedupOpsSpec). Measured equal-or-better than a
    // localCheckpoint of the index with none of its storage.
    val inv = shingleRows(docs, k)
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .repartition(col("h"))
    val sizes = inv.groupBy("doc_id").agg(count(col("h")).as("n"))
    // df via aggregate + join, NOT a count window: the partial
    // aggregation collapses each shingle to one row per map task
    // before the shuffle and nothing gets sorted, where the window
    // form shuffles AND sorts the entire inverted index; the join is
    // co-partitioned on `h` with the self-join that follows.
    val dfCounts = inv.groupBy("h").agg(count(col("doc_id")).as("df"))
      .filter(col("df") <= maxDf)
    val pruned = inv.join(dfCounts, "h").drop("df")
    val shared = pruned.as("a")
      .join(pruned.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "n_b"), "b_id")
      .withColumn("jaccard",
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Near-dup threshold sweep: how many candidate pairs a dedup run
    * would keep at each Jaccard cut τ ∈ {0.30 .. 0.90} — the
    * sensitivity table an operator reads BEFORE committing a threshold
    * (a cliff between rungs means the corpus has a near-dup band right
    * there; a flat ladder means the choice barely matters). Rides the
    * [[ngramJaccardPairs]] candidate generator once at the lowest rung
    * and re-buckets in ten-thousandths (exact integer compares — no
    * double-literal threshold ambiguity between engines).
    *
    * Empty rungs stay visible with n_pairs = 0 (a left join from the
    * ladder — a dropped rung reads as "forgot to measure", not "no
    * pairs"). Shape: the pair frame materializes once and the 7-rung
    * explode scans it once; everything else is ladder-sized. */
  def neardupThresholdSweep(docs: DataFrame,
      minTau: Double = 0.3): DataFrame = {
    val pairs = ngramJaccardPairs(docs, minTau)
      .select(round(col("jaccard") * lit(10000.0), 0).cast("long").as("jbp"))
      .localCheckpoint() // base count + the ladder scan share it
    val total = pairs.agg(count(lit(1)).as("n_base"))
    val ladder = (3 to 9).map(t => lit(t * 1000L))
    val rungs = total.select(
      explode(array(ladder: _*)).as("tau_x10000"), col("n_base"))
    val counts = pairs
      .select(explode(array(ladder: _*)).as("tau_x10000"), col("jbp"))
      .filter(col("jbp") >= col("tau_x10000"))
      .groupBy("tau_x10000").agg(count(lit(1)).as("n_pairs"))
    rungs.join(counts, Seq("tau_x10000"), "left")
      .select(col("tau_x10000"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("n_base"),
        when(col("n_base") > 0L,
          round(coalesce(col("n_pairs"), lit(0L)).cast("double") /
            col("n_base").cast("double"), 6)).as("retained_share"))
  }

  /** EXACT Jaccard similarity join via PREFIX FILTERING (SSJoin /
    * PPJoin — Chaudhuri et al. ICDE '06, Xiao et al. WWW '08): the
    * same output contract as [[ngramJaccardPairs]] but with a
    * provably-lossless candidate generator in place of the df cap.
    *
    * The df-capped inverted index has two scale weaknesses: a shingle
    * just UNDER the cap still generates df² candidate rows, and a
    * shared shingle just OVER it silently vanishes from `shared`
    * (sound only while no cross-doc-repeated shingle exceeds the
    * cap). Prefix filtering removes both. Order the universe of
    * shingles by (df ASC, hash ASC) — rarest first. For Jaccard ≥ t,
    * any qualifying pair has |A∩B| ≥ ⌈t·|A|⌉ and ≥ ⌈t·|B|⌉ (from
    * J ≤ |A|/|B| and I ≥ t(|A|+|B|)/(1+t)), so by pigeonhole each
    * doc's first |X| − ⌈t·|X|⌉ + 1 shingles IN THAT GLOBAL ORDER —
    * its "prefix" — must hit the intersection: every qualifying pair
    * shares a PREFIX shingle. Candidates therefore come from the
    * prefix-only index (half the posting rows at t=0.5, and skewed
    * toward the RAREST shingles — the ordering exists precisely so
    * hot shingles land in suffixes), a size band |B| ≥ t·|A| prunes
    * inside the candidate join, and each candidate pair is verified
    * with its exact intersection over the FULL index. No cap, no
    * soundness precondition — exact at any df distribution.
    *
    * Plan shape: the posting frame is checkpointed once and feeds the
    * df agg, the prefix ranking (one window sorted by doc), both
    * candidate-join sides, and the verify joins; the verify is two
    * hash joins keyed on doc_id against the candidate pair list,
    * linear in candidate count. */
  def jaccardPrefixPairs(docs: DataFrame, threshold: Double = 0.5,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = shingleRows(docs, k)
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .localCheckpoint()
    val dfCounts = inv.groupBy("h").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id")
    val wRank = wDoc.orderBy(col("df").asc, col("h").asc)
    val ranked = inv.join(dfCounts, "h")
      .select(col("doc_id"), col("h"),
        row_number().over(wRank).cast("long").as("r"),
        count(lit(1)).over(wDoc).as("n"))
    val prefix = ranked
      .filter(col("r") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("doc_id"), col("h"), col("n"))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n").cast("double") >= lit(threshold) * col("a.n") &&
          col("a.n").cast("double") >= lit(threshold) * col("b.n"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .distinct()
      .localCheckpoint() // candIds + the two set joins read it
    // Verification rewritten (r18): the two full-inverted-index joins +
    // per-pair re-aggregation shuffled |cands|·|doc| intersection rows
    // and sort-merge-joined them on (b_id, h) — profiled as the
    // query's dominant stage (9.6 CPU-s on 3 AQE-coalesced tasks).
    // Now: candidate-bounded SORTED hash sets (one collect per doc,
    // the minhashNearDups posture) + the native graft_overlap
    // merge-scan per pair. shared = |A∩B| is the same integer the join
    // form counted, and n_a/n_b are carried from the prefix stage, so
    // the rounded score divides identical integers.
    val candIds = cands.select(col("a_id").as("doc_id"))
      .unionByName(cands.select(col("b_id").as("doc_id")))
      .distinct()
    val sets = inv.join(candIds, Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("h"))).as("hs"))
    cands
      .join(sets.select(col("doc_id").as("a_id"), col("hs").as("hs_a")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("hs").as("hs_b")), "b_id")
      .withColumn("shared",
        graft.functions.SortedOverlapCount.overlapFused(
          col("hs_a"), col("hs_b")))
      .withColumn("jaccard",
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Cross-source copy matrix — "which sources copy from which":
    * [[jaccardPrefixPairs]]' exact lossless near-dup pairs rolled up
    * to the (source, source) grid with pair counts and the mean
    * similarity. The corpus-provenance readout behind mixture
    * weighting and dedup-budget decisions (a source pair with
    * thousands of ≥0.5 pairs is one crawl mirrored, not two sources).
    *
    * Determinism: pair similarities enter at their published 4dp
    * values and re-pin to BIGINT ten-thousandths before the
    * order-dependent sum; the pair (a, b) orientation canonicalizes
    * by source name. Scale: the pair frame is the expensive part and
    * is the ALREADY-GATED PPJoin; this adds two doc_id-keyed joins
    * and a |sources|²-bounded rollup. */
  def sourceCopyMatrix(docs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val pairs = jaccardPrefixPairs(docs, threshold)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")),
        "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")),
        "b_id")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        round(col("jaccard") * lit(10000.0), 0).cast("long").as("jm"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum(col("jm")).as("sj"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        round(col("sj").cast("double") /
          (col("n_pairs").cast("double") * lit(10000.0)), 6)
          .as("avg_jaccard"))
  }

  /** Exact pairwise shingle CONTAINMENT via the same inverted index:
    * C(A,B) = |A∩B| / min(|A|,|B|) — the asymmetric companion to
    * [[ngramJaccardPairs]]. Jaccard divides by the UNION, so a short
    * document quoted verbatim inside a much longer one scores near
    * |A|/|B| ≈ 0 and survives dedup; containment scores it ≈ 1. This is
    * the quote/superset detector (Broder '97 defines both measures
    * side by side) — the pair class a training corpus most wants
    * flagged, since a contained document adds no novel text.
    *
    * Plan shape is identical to the Jaccard form (one pinned
    * repartition(h) exchange feeding df-prune and both self-join
    * sides); only the final scalar differs, so the same df-cap
    * scaling argument applies. Emits jaccard alongside containment —
    * pairs with high containment but LOW jaccard are precisely the
    * subset-relation pairs Jaccard-only dedup misses. */
  def ngramContainmentPairs(docs: DataFrame, threshold: Double = 0.8,
      k: Int = 3, maxDf: Long = 1000): DataFrame = {
    // same identical-pruning posture as [[ngramJaccardPairs]] (r18):
    // count a column, not lit(1), so every consumer requires the same
    // (doc_id, h) schema and all branches reuse ONE exchange
    val inv = shingleRows(docs, k)
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .repartition(col("h"))
    val sizes = inv.groupBy("doc_id").agg(count(col("h")).as("n"))
    val dfCounts = inv.groupBy("h").agg(count(col("doc_id")).as("df"))
      .filter(col("df") <= maxDf)
    val pruned = inv.join(dfCounts, "h").drop("df")
    val shared = pruned.as("a")
      .join(pruned.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "n_b"), "b_id")
      .withColumn("containment",
        round(col("shared").cast("double") / least(col("n_a"), col("n_b")), 4))
      .filter(col("containment") >= threshold)
      .withColumn("jaccard",
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 4))
      .select("a_id", "b_id", "containment", "jaccard")
  }

  // ---------- MinHash + LSH banding (scale path) ----------

  /** Expression form of the k-minhash signature (kept for column-level
    * use on small inputs; the pipeline below uses the aggregate
    * formulation instead — see class doc). */
  def minhashSignature(text: Column, numHashes: Int = 32, k: Int = 3): Column = {
    val sh = shingles(text, k)
    val sig = (0 until numHashes).map { seed =>
      array_min(transform(sh, s => xxhash64(s, lit(seed))))
    }
    array(sig: _*)
  }

  /** Signature table (doc_id, h0..h{n-1}) via the aggregate
    * formulation: one explode, one codegen'd hash aggregation with
    * `numHashes` min() buffers. */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 32,
      k: Int = 3): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(col("sh"), lit(i))).as(s"h$i"))
    shingleRows(docs, k).groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over the signature table: hash each band of
    * `numHashes/bands` signature columns to a bucket key, explode to
    * (doc_id, band_id, bucket). Similar docs collide in ≥1 band w.h.p.
    * (s-curve threshold ≈ (1/b)^(1/r)). */
  def minhashBands(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      k: Int = 3): DataFrame = {
    val rows = numHashes / bands
    val sig = minhashSignatures(docs, numHashes, k)
    val bandKeys = array((0 until bands).map { b =>
      xxhash64((b * rows until (b + 1) * rows).map(i => col(s"h$i")): _*)
    }: _*)
    sig.select(col("doc_id"),
      posexplode(bandKeys).as(Seq("band_id", "bucket")))
  }

  /** Band rows annotated with their bucket size (`bsz`), degenerate
    * buckets (> maxBucket, all-identical spam) dropped — the shared
    * input of the candidate pair join and the candidate-id pruning.
    * The band rows are pinned behind ONE `repartition(band_id, bucket)`
    * exchange that the size aggregation, the size join, and the pair
    * self-join downstream all reuse — bucket sizes come from a hash
    * aggregate on the co-partitioned rows instead of a count window,
    * so nothing is sorted and the band projection is computed once. */
  private def cappedBands(docs: DataFrame, numHashes: Int, bands: Int,
      k: Int, maxBucket: Long): DataFrame = {
    // count(doc_id), not count(1) (r18): the size aggregation used to
    // prune doc_id out of its copy of the exchange while the join side
    // kept it, the canonical forms diverged, and the whole signature
    // pipeline (explode + 32-min aggregate) executed twice; counting
    // the column forces identical schemas so both consumers reuse one
    // exchange (doc_id is the table key — never null)
    val b = minhashBands(docs, numHashes, bands, k)
      .repartition(col("band_id"), col("bucket"))
    val sizes = b.groupBy("band_id", "bucket")
      .agg(count(col("doc_id")).as("bsz"))
      .filter(col("bsz") <= maxBucket)
    b.join(sizes, Seq("band_id", "bucket"))
  }

  /** Candidate near-dup pairs from band-bucket collisions: shuffle on
    * (band_id, bucket) — only docs sharing a bucket are ever paired, so
    * the join cost is Σ bucket_size², not n². The `maxBucket` cap of
    * [[cappedBands]] bounds degenerate buckets (all-identical spam). */
  private def candidatePairs(capped: DataFrame): DataFrame =
    capped.as("a")
      .join(capped.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

  /** Full MinHash near-dup pipeline: LSH candidates, then exact Jaccard
    * verification on just the candidate pairs, via hashed shingle sets
    * (collect_set over the inverted index — long arrays, not strings).
    *
    * The verification sets are CANDIDATE-BOUNDED: the inverted index is
    * left-semi joined against the distinct candidate ids before the
    * `collect_set`, so the heavy set aggregation is O(candidate docs),
    * not O(corpus) — at 100 TB candidates are a tiny fraction of the
    * corpus and the pruned doc→set map stays broadcast-sized. The ids
    * come from the band stage (any doc in a bucket of size ≥ 2 is in
    * some pair), NOT from the pair join, so the semi-join build side is
    * ready one stage earlier and the shared band subtree is
    * materialized once via exchange reuse (asserted in DedupOpsSpec).
    *
    * Measured cost of the pruning at sf0.1: ~0.7 s (1.0 → 1.7 s),
    * because set-building previously OVERLAPPED the candidate pipeline
    * (both branch off `shingleRows`) and now must wait for the
    * candidate ids. That latency is bounded by one small-corpus set
    * aggregation; the alternative — corpus-wide `collect_set` — grows
    * linearly with data and is the path that dies first at 100 TB. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5,
      numHashes: Int = 32, bands: Int = 8, k: Int = 3): DataFrame = {
    val capped = cappedBands(docs, numHashes, bands, k, maxBucket = 500)
    val cands = candidatePairs(capped)
    val candIds = capped.filter(col("bsz") >= 2)
      .select("doc_id").distinct()
    // sets SORTED once per doc; the per-pair verify is then one
    // allocation-free merge-scan (graft_overlap) instead of two hash
    // sets + two result arrays per pair — |A∪B| = |A|+|B|−|A∩B|, so
    // the rounded score divides the same exact integers (r18)
    val sets = shingleRows(docs, k)
      .join(candIds, Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(xxhash64(col("sh")))).as("hs"))
    cands
      .join(sets.select(col("doc_id").as("a_id"), col("hs").as("hs_a")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("hs").as("hs_b")), "b_id")
      .withColumn("shared",
        graft.functions.SortedOverlapCount.overlapFused(
          col("hs_a"), col("hs_b")))
      .withColumn("jaccard", round(col("shared").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Incremental near-dup maintenance — the continual-ingestion shape
    * of MinHash dedup: pair a NEW shard against the existing corpus
    * (and itself) WITHOUT ever re-pairing old-vs-old. At 100 TB the
    * stored artifact is the banded signature index (rows ∝ corpus ×
    * bands, a key plus two longs each); a new shard appends its band
    * rows once and candidates come from the equi-join of the NEW
    * rows against the full index, so the pair stage costs
    * Σ (new-in-bucket × bucket) — proportional to the shard, never
    * corpus². (Here the index is recomputed from the docs because the
    * test flow is docs-in; the join SHAPE is the contract.)
    *
    * Verification is the same candidate-bounded exact-Jaccard pass as
    * [[minhashNearDups]], so precision is 1 and every emitted pair
    * touches ≥1 new doc. Contract (DedupOpsSpec): away from the
    * degenerate-bucket cap, `incrementalNearDups(old, new)` ∪
    * `minhashNearDups(old)` ≡ `minhashNearDups(old ∪ new)` — the
    * incremental path is indistinguishable from a full recompute. */
  def incrementalNearDups(oldDocs: DataFrame, newDocs: DataFrame,
      threshold: Double = 0.5, numHashes: Int = 32, bands: Int = 8,
      k: Int = 3): DataFrame = {
    val all = oldDocs.select(col("doc_id"), col("text"))
      .unionByName(newDocs.select(col("doc_id"), col("text")))
    // both consumers below reference this one frame, so the band
    // pipeline materializes once via exchange reuse (same posture as
    // minhashNearDups's capped subtree)
    val capped = cappedBands(all, numHashes, bands, k, maxBucket = 500)
    val newBands = capped
      .join(newDocs.select("doc_id"), Seq("doc_id"), "left_semi")
    // the pair list is checkpointed: it is referenced three times
    // (both candIds branches + the verification join) and each
    // reference would otherwise duplicate the whole union-of-scans
    // band pipeline in the plan — a few hundred 16-byte rows of state
    // buys a single evaluation of the expensive subtree
    val cands = newBands.as("a")
      .join(capped.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .distinct()
      .localCheckpoint()
    val candIds = cands.select(col("a_id").as("doc_id"))
      .unionByName(cands.select(col("b_id").as("doc_id")))
      .distinct()
    // sorted sets + merge-scan overlap — see [[minhashNearDups]] (r18)
    val sets = shingleRows(all, k)
      .join(candIds, Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(xxhash64(col("sh")))).as("hs"))
    cands
      .join(sets.select(col("doc_id").as("a_id"), col("hs").as("hs_a")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("hs").as("hs_b")), "b_id")
      .withColumn("shared",
        graft.functions.SortedOverlapCount.overlapFused(
          col("hs_a"), col("hs_b")))
      .withColumn("jaccard", round(col("shared").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** [[incrementalNearDups]] with the banded signature INDEX as the
    * stored artifact — the shape the streaming sink persists
    * ([[graft.streaming.StreamJob.NearDupStore]]): the old corpus
    * arrives as its precomputed band rows (`doc_id, band_id, bucket` —
    * a key plus two longs per row), never re-banded, and the old TEXT
    * is touched only through a candidate-id semi-join for the exact
    * verification pass. Per-batch cost is therefore one narrow index
    * scan + Σ (new-in-bucket × bucket) + candidate-bounded shingling —
    * no corpus-wide text read, no corpus re-banding.
    *
    * Contract: `oldIndex`/`newIndex` are [[minhashBands]] rows of
    * `oldDocs`/`newDocs` under ONE (numHashes, bands, k) config; band
    * rows are a deterministic per-doc function, so
    * `bands(old) ∪ bands(new) ≡ bands(old ∪ new)` and this function is
    * pair-for-pair identical to [[incrementalNearDups]] (DedupOpsSpec).
    * Bucket-size capping happens HERE over the unioned index — sizes
    * depend on the full corpus, so they can never be stored. */
  def incrementalNearDupsIndexed(oldIndex: DataFrame, oldDocs: DataFrame,
      newDocs: DataFrame, newIndex: DataFrame, threshold: Double = 0.5,
      maxBucket: Long = 500, k: Int = 3): DataFrame =
    incrementalIndexedCore(oldIndex, oldDocs, newDocs, newIndex,
      threshold, maxBucket, k, codeFilter = None)

  /** [[incrementalNearDupsIndexed]] with a BINARY pre-filter tier: the
    * per-doc 64-bit [[simhashes]] code (8 bytes, stored beside the
    * band index) gates candidates by XOR+popcount Hamming distance
    * BEFORE the exact-Jaccard verification touches any text. Per-batch
    * latency is where this pays: the band join emits its candidate set
    * from narrow index rows either way, but every surviving candidate
    * costs candidate-bounded shingling + a set intersection — the
    * tier drops the random-collision tail (random 64-bit codes center
    * at Hamming 32) for one codegen'd long-XOR per pair.
    *
    * Contract: precision is untouched (exact verification still runs);
    * recall keeps MinHash-LSH's probabilistic shape, now also bounded
    * by the code cut — at `maxHamming` = 26 a true Jaccard-0.5 pair
    * (token-cosine ≈ 0.67, E[Hamming] ≈ 17, σ ≈ 3.5) sits > 2.5σ
    * inside the cut, the same trade class as the banding s-curve.
    * StreamJobSpec gates pair-for-pair equivalence with the tier
    * on/off over the streaming corpus AND strictly fewer verified
    * candidates; `maxHamming` ≥ 64 disables the cut (parity escape
    * hatch). Codes are a deterministic per-doc function, so
    * `codes(old) ∪ codes(new) ≡ codes(old ∪ new)` — same argument as
    * the band rows. */
  def incrementalNearDupsHammingTier(oldIndex: DataFrame,
      oldCodes: DataFrame, oldDocs: DataFrame, newDocs: DataFrame,
      newIndex: DataFrame, newCodes: DataFrame, threshold: Double = 0.5,
      maxBucket: Long = 500, k: Int = 3, maxHamming: Int = 26)
      : DataFrame = {
    val codes = oldCodes.select(col("doc_id"), col("simhash"))
      .unionByName(newCodes.select(col("doc_id"), col("simhash")))
    incrementalIndexedCore(oldIndex, oldDocs, newDocs, newIndex,
      threshold, maxBucket, k, codeFilter = Some((codes, maxHamming)))
  }

  /** Candidate pairs of the indexed incremental pipeline BEFORE exact
    * verification — exposed so StreamJobSpec can gate the Hamming
    * tier's "strictly fewer verified candidates" claim. */
  private[graft] def incrementalCandidates(oldIndex: DataFrame,
      newDocs: DataFrame, newIndex: DataFrame, maxBucket: Long,
      codeFilter: Option[(DataFrame, Int)]): DataFrame =
    candsOf(oldIndex, newDocs, newIndex, maxBucket, codeFilter)

  private def candsOf(oldIndex: DataFrame, newDocs: DataFrame,
      newIndex: DataFrame, maxBucket: Long,
      codeFilter: Option[(DataFrame, Int)]): DataFrame = {
    val unionIdx = oldIndex.select(col("doc_id"), col("band_id"), col("bucket"))
      .unionByName(newIndex.select(col("doc_id"), col("band_id"), col("bucket")))
      .repartition(col("band_id"), col("bucket"))
    // count(doc_id): identical-pruning exchange reuse, see [[cappedBands]]
    val sizes = unionIdx.groupBy("band_id", "bucket")
      .agg(count(col("doc_id")).as("bsz"))
      .filter(col("bsz") <= maxBucket)
    val capped = unionIdx.join(sizes, Seq("band_id", "bucket"))
    val newBands = capped
      .join(newDocs.select("doc_id"), Seq("doc_id"), "left_semi")
    val raw = newBands.as("a")
      .join(capped.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("a_id"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("b_id"))
      .distinct()
    // the binary tier cuts AFTER the dedup of band collisions and
    // BEFORE the checkpoint, so the persisted candidate state is
    // already pruned; the code table is narrow (doc_id + one long).
    // LEFT joins + null-passes: a candidate whose code is missing
    // (a store written before the codes sub-frame existed) goes to
    // exact verification UNPRUNED rather than being dropped — the
    // tier is an optimization and must never cost recall, so partial
    // code coverage degrades pruning, not correctness.
    codeFilter match {
      case Some((codes, maxH)) if maxH < 64 => raw
        .join(codes.select(col("doc_id").as("a_id"),
          col("simhash").as("sh_a")), Seq("a_id"), "left")
        .join(codes.select(col("doc_id").as("b_id"),
          col("simhash").as("sh_b")), Seq("b_id"), "left")
        .filter(col("sh_a").isNull || col("sh_b").isNull ||
          hamming(col("sh_a"), col("sh_b")) <= maxH)
        .select("a_id", "b_id")
      case _ => raw
    }
  }

  private def incrementalIndexedCore(oldIndex: DataFrame,
      oldDocs: DataFrame, newDocs: DataFrame, newIndex: DataFrame,
      threshold: Double, maxBucket: Long, k: Int,
      codeFilter: Option[(DataFrame, Int)]): DataFrame = {
    // checkpointed for the same three-reference reason as
    // incrementalNearDups's pair list
    val cands = candsOf(oldIndex, newDocs, newIndex, maxBucket, codeFilter)
      .localCheckpoint()
    val candIds = cands.select(col("a_id").as("doc_id"))
      .unionByName(cands.select(col("b_id").as("doc_id")))
      .distinct()
    // prune BEFORE shingling: only candidate docs' text is tokenized
    val candTexts = oldDocs.select(col("doc_id"), col("text"))
      .join(candIds, Seq("doc_id"), "left_semi")
      .unionByName(newDocs.select(col("doc_id"), col("text"))
        .join(candIds, Seq("doc_id"), "left_semi"))
    // sorted sets + merge-scan overlap — see [[minhashNearDups]] (r18)
    val sets = shingleRows(candTexts, k)
      .groupBy("doc_id")
      .agg(sort_array(collect_set(xxhash64(col("sh")))).as("hs"))
    cands
      .join(sets.select(col("doc_id").as("a_id"), col("hs").as("hs_a")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("hs").as("hs_b")), "b_id")
      .withColumn("shared",
        graft.functions.SortedOverlapCount.overlapFused(
          col("hs_a"), col("hs_b")))
      .withColumn("jaccard", round(col("shared").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("shared")), 4))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash fingerprints via the aggregate formulation: explode
    * tokens, hash each once, then 64 signed bit-sums in one codegen'd
    * aggregation (the per-bit ±1 votes of Charikar '02); sign → bit,
    * packed into a long. */
  def simhashes(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$b")
    }
    val packed = (0 until 64).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  // ---------- transitive cluster assignment ----------

  /** Connected components over an undirected pair list
    * (`a_id`, `b_id`) → (`doc_id`, `cluster_id`), cluster_id = the
    * minimum doc_id reachable through the pair graph. This is the step
    * every near-dup pipeline needs AFTER pair generation: "A≈B, B≈C"
    * must collapse to ONE keep decision even though (A, C) was never
    * emitted as a pair.
    *
    * Algorithm: distributed min-label propagation — each round joins
    * the edge list to the current labels and takes the per-vertex min
    * over the neighborhood (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC '14 — the baseline their star
    * algorithms refine). Rounds = graph diameter; dedup similarity
    * graphs are dense small clusters (diameter ≤ ~3 in practice), so
    * the loop converges in 2-4 rounds of one edge-keyed shuffle each,
    * with only a per-round scalar metric on the driver (the same
    * bounded control loop as any iterative MLlib algorithm — no data
    * collects). The convergence check rides the SAME job that
    * materializes the round's labels: the checkpoint is LAZY and the
    * `max(changed)` aggregate is its first action, so each round is
    * exactly ONE job — not an eager checkpoint plus a separate
    * `isEmpty` scan (which doubled the per-round driver overhead).
    * `localCheckpoint` truncates lineage so round N's plan
    * does not replay rounds 1..N-1. At 100 TB the edge list (two longs
    * a row) is orders of magnitude smaller than the corpus that
    * produced it; an adversarial long-chain graph would need the
    * O(log n) large-star/small-star variant, which real near-dup
    * graphs don't. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // Both directions, so one join per round sees the full
    // neighborhood. Exploded from ONE subtree, not pairs ∪ pairs.swap:
    // the union form carries two copies of the (expensive) pair
    // pipeline whose post-exchange stages re-execute per branch inside
    // this checkpoint's job — explode duplicates rows, not plans.
    val edges = pairs.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    // No checkpoint on the initial labels: round 1 plans the distinct
    // inline over the cached edges (one tiny stage) and its OWN
    // checkpoint truncates the lineage — a separate init job bought
    // nothing but scheduler latency.
    var labels = edges.select(col("src").as("v_id")).distinct()
      .withColumn("cluster_id", col("v_id"))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbrMin = edges.join(labels, edges("dst") === labels("v_id"))
        .groupBy(col("src")).agg(min("cluster_id").as("nbr_min"))
      // LAZY checkpoint: the convergence aggregate below is the first
      // action, so ONE job both materializes the cached round result
      // and returns max(changed) — no separate isEmpty scan, and no
      // Observation listener-bus wait (measured slower than the job
      // it saved).
      val next = labels.join(nbrMin, labels("v_id") === nbrMin("src"), "left")
        .select(col("v_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"),
          (coalesce(col("nbr_min"), col("cluster_id")) < col("cluster_id"))
            .as("changed"))
        .localCheckpoint(eager = false)
      // max over an empty frame is NULL → converged (only possible on
      // an empty edge list, but guard).
      val anyChanged = next.agg(max(col("changed"))).head.apply(0)
      converged = !Option(anyChanged).exists(_.asInstanceOf[Boolean])
      labels = next.select("v_id", "cluster_id")
      round += 1
    }
    // A graph whose diameter exceeds maxRounds would otherwise publish
    // PARTIAL labels (two docs of one dup cluster under different ids)
    // with no signal — refuse loudly instead. Real near-dup graphs are
    // dense blobs (diameter ≤ a few); hitting this means either raise
    // maxRounds or the adversarial-chain case has arrived and the
    // O(log n) large-star/small-star variant is warranted.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: not converged after $maxRounds rounds " +
        "(graph diameter exceeds the bound); refusing to emit partial " +
        "cluster labels — raise maxRounds or use the O(log n) " +
        "connectedComponentsStar variant")
    labels
  }

  /** Near-duplicate cluster assignment: exact n-gram Jaccard pairs →
    * connected components → (doc_id, cluster_id, cluster_size). Only
    * documents that belong to some near-dup cluster appear; a keep
    * policy is then one `min`/argmax per cluster_id (see
    * [[dedupKeepLongest]] for the quality-aware variant of that step).
    *
    * Labels come from [[connectedComponentsStar]] (r10 default): the
    * O(log n) round bound holds on ANY graph shape, so the cluster
    * queries can never hit the propagation variant's
    * diameter-exceeds-maxRounds refusal. [[connectedComponents]] stays
    * as the comparison baseline — PropertySpec pins the two to
    * identical labels on random graphs. */
  def dupClusters(docs: DataFrame, threshold: Double = 0.5,
      k: Int = 3): DataFrame = {
    val labels = connectedComponentsStar(ngramJaccardPairs(docs, threshold, k))
    // cluster_size via a count window: the groupBy+self-join form
    // evaluated the (unmaterialized) label plan twice
    labels.select(col("v_id").as("doc_id"), col("cluster_id"),
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id")).as("cluster_size"))
  }

  /** Near-dup cluster SIZE distribution — the dedup-telemetry
    * histogram every corpus dashboard tails: how many clusters of
    * each size did [[dupClusters]] find, and how many documents sit
    * in them? A fat tail here (one 10⁴-doc cluster) is boilerplate
    * or a crawler trap; the dedup savings estimate is
    * Σ (size − 1)·n_clusters docs removable under keep-one. Exact
    * counts end-to-end; the frame is ≤ |distinct sizes| rows. */
  def dupClusterSizeHistogram(docs: DataFrame, threshold: Double = 0.5,
      k: Int = 3): DataFrame =
    dupClusters(docs, threshold, k)
      .select(col("cluster_id"), col("cluster_size")).distinct()
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** Fuzzy train→eval decontamination: near-duplicate pairs that CROSS
    * the dataset-split boundary. Exact n-gram containment
    * ([[DocOps.splitContamination]]) catches verbatim leaks; this
    * catches the lightly-edited / re-templated class that survives it —
    * the standard second pass before an eval set is trusted. Same
    * machinery as [[minhashNearDups]] (banded candidates, exact-Jaccard
    * verification — so precision is 1 and every reported leak is real),
    * with the split labels of [[DocOps.datasetSplits]] joined onto the
    * verified pairs and only train↔non-train pairs kept, re-oriented as
    * (eval_id, eval_split, train_id, jaccard).
    *
    * Shape at scale: the split join touches only the (tiny) verified
    * pair list, so this is free when near-dup dedup already runs. A
    * DEDICATED decontamination pass over a corpus that is not being
    * deduped would instead filter candidates to cross-split pairs
    * BEFORE the exact verification (and for an external benchmark
    * suite, build its shingle sets and broadcast them — the
    * splitContamination scaladoc note, same build-side flip). */
  def fuzzyContamination(docs: DataFrame, threshold: Double = 0.5)
      : DataFrame = {
    val splits = DocOps.datasetSplits(docs).select(col("doc_id"), col("split"))
    minhashNearDups(docs, threshold)
      .join(splits.select(col("doc_id").as("a_id"), col("split").as("a_split")),
        "a_id")
      .join(splits.select(col("doc_id").as("b_id"), col("split").as("b_split")),
        "b_id")
      .filter((col("a_split") === "train") =!= (col("b_split") === "train"))
      .select(
        when(col("a_split") === "train", col("b_id")).otherwise(col("a_id"))
          .as("eval_id"),
        when(col("a_split") === "train", col("b_split")).otherwise(col("a_split"))
          .as("eval_split"),
        when(col("a_split") === "train", col("a_id")).otherwise(col("b_id"))
          .as("train_id"),
        col("jaccard"))
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC '14): O(log n) ROUNDS regardless of graph diameter — the
    * variant [[connectedComponents]]'s scaladoc defers to for
    * adversarial long-chain graphs (min-label propagation is
    * O(diameter) and refuses past its round bound; this one converges
    * where it cannot).
    *
    *  - large-star: each node u points every LARGER neighbor at the
    *    minimum of its closed neighborhood — hooks whole subtrees onto
    *    small ids without ever creating an edge that points upward.
    *  - small-star: each node u re-points its smaller-or-equal
    *    neighbors (and itself) at that minimum — flattens chains into
    *    stars.
    *
    * Each round is two self-groupings of the EDGE list (two longs a
    * row, orders of magnitude smaller than the corpus); the edge set
    * is localCheckpointed per round so plans don't replay history, and
    * convergence = the round changed nothing (its output equals its
    * input as a set). Returns the same (v_id, cluster_id) schema
    * and exactly the same labels as [[connectedComponents]].
    *
    * Driver-loop cost (r10): each round is ONE job — the large/small
    * checkpoints are LAZY and materialized by a single
    * (count, sum(xxhash64)) signature aggregate, and the exact
    * `exceptAll` set-equality check runs only on the round where the
    * signature first repeats (a signature match that fails the exact
    * check — a hash-sum collision — just keeps looping, so
    * correctness never rests on the hash). The eager-checkpoint form
    * spent 4 scheduler jobs per round on count + exceptAll +
    * materialization, tripling wall-clock on the dense little graphs
    * real near-dup corpora produce. */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 50)
      : DataFrame = {
    // ONE evaluation of the (potentially expensive) pair pipeline:
    // the raw 2-long projection is checkpointed and every later
    // reference — init, the isolated-vertex branch, and both of the
    // caller's evaluations of the returned labels — reads the
    // checkpoint. Referencing `pairs` directly from the final plan
    // re-ran the whole upstream candidate pipeline up to four times
    // inside dupClusters (~3.5 s of the observed 5.6 s at sf0.1).
    val raw = pairs.select(col("a_id").as("u"), col("b_id").as("v"))
      .localCheckpoint()
    val init = raw
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(eager = false) // materialized by the signature
    // Order-insensitive set signature: equal signatures (count +
    // XOR-folded row hash; bit_xor cannot overflow under ANSI mode)
    // are NECESSARY for set equality, so they gate the expensive
    // exact check; never sufficient on their own.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var edges = init // invariant: u > v, distinct
    var sig = signature(edges)
    var round = 0
    var converged = sig._1 == 0L
    val wX = org.apache.spark.sql.expressions.Window.partitionBy("x")
    val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    while (!converged && round < maxRounds) {
      // large-star: over BOTH directions, m(x) = min of closed
      // neighborhood of x; emit (n, m) for every neighbor n > x.
      // The per-x min rides a WINDOW over the one shuffle on x —
      // the groupBy+join form paid a second exchange (and a distinct)
      // for the same rows. Duplicate (n, m) pairs are left in place:
      // they are bounded by 2|edges| and collapse at the round-end
      // distinct, which the invariant needs anyway.
      val dir = edges.select(explode(array(
          struct(col("u").as("x"), col("v").as("n")),
          struct(col("v").as("x"), col("u").as("n")))).as("e"))
        .select(col("e.x").as("x"), col("e.n").as("n"))
      val large = dir
        .withColumn("m", least(min(col("n")).over(wX), col("x")))
        .filter(col("n") > col("x"))
        .select(col("n").as("u"), col("m").as("v"))
      // small-star: edges already point large→small; emit (n, m) for
      // the ≤-neighbors plus (x, m) — flattens every chain one level.
      // Same window trick on u; `large` has a single consumer, so it
      // needs no checkpoint of its own.
      val small = large
        .withColumn("m", min(col("v")).over(wU))
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(eager = false)
      // fixed point: star edges pass both transforms unchanged. The
      // signature aggregate is the round's one action (materializing
      // the checkpoint); only a repeat triggers the exact check.
      val newSig = signature(small)
      converged = newSig == sig && small.exceptAll(edges).isEmpty
      sig = newSig
      edges = small
      round += 1
    }
    if (!converged && round >= maxRounds) throw new IllegalStateException(
      s"connectedComponentsStar: not converged after $maxRounds rounds " +
        "— maxRounds is far above the O(log n) bound, so this indicates " +
        "a bug or a pathological id space, not a long chain")
    val roots = edges.select(col("v").as("v_id")).distinct()
      .withColumn("cluster_id", col("v_id"))
    // vertices that reached the fixed point with no edge left (nodes of
    // self-loop-only pairs, dropped by init) label themselves
    val isolated = raw.select(col("u").as("x"))
      .unionByName(raw.select(col("v").as("x")))
      .distinct()
      .join(edges.select(col("u").as("x"))
        .unionByName(edges.select(col("v").as("x"))).distinct(),
        Seq("x"), "left_anti")
      .select(col("x").as("v_id"), col("x").as("cluster_id"))
    edges.select(col("u").as("v_id"), col("v").as("cluster_id"))
      .unionByName(roots)
      .unionByName(isolated)
      .distinct()
  }

  /** The keep decision [[dupClusters]] feeds: one keeper per
    * transitive near-dup cluster — longest document wins, smallest
    * doc_id on ties (the quality-aware policy of [[dedupKeepLongest]]
    * lifted from exact-fingerprint groups to NEAR-dup clusters, which
    * is what actually ships: "A≈B, B≈C" must yield ONE kept document
    * even though A and C were never paired). Returns the per-cluster
    * manifest (cluster_id, keep_id, keep_chars, n_docs) — NOTE it
    * covers only documents that belong to some near-dup cluster;
    * singletons (the vast majority of a real corpus) have no row. The
    * dedup itself is therefore an ANTI-join of the corpus against the
    * non-keepers (cluster members minus keep_id) — a left-semi on
    * keep_id would silently drop every clean document. The argmax is a
    * single min(struct) aggregate over the (tiny) labeled frame — no
    * window, no second shuffle beyond the label join. Labels via the
    * star variant, same rationale as [[dupClusters]]. */
  def clusterKeepLongest(docs: DataFrame, threshold: Double = 0.5,
      k: Int = 3): DataFrame = {
    val labels = connectedComponentsStar(ngramJaccardPairs(docs, threshold, k))
    labels
      .join(docs.select(col("doc_id").as("v_id"), col("n_chars")), "v_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        min(struct((-col("n_chars")).as("neg"), col("v_id").as("id"))).as("m"))
      .select(col("cluster_id"), col("m.id").as("keep_id"),
        (-col("m.neg")).as("keep_chars"), col("n_docs"))
  }

  /** SimHash near-dups: band the 64-bit fingerprint into 4×16-bit
    * chunks (two docs within Hamming distance 3 share ≥1 exact chunk —
    * pigeonhole), bucket-join on the chunks, verify with exact Hamming.
    * Same bucketed-join scale shape as MinHash. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val fps = simhashes(docs)
    val chunked = fps.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk_id", "chunk")))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk_id") === col("b.chunk_id") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------- span-level (sub-document) dedup ----------

  /** Span-level exact dedup, C4-style but at token-block granularity:
    * chop each document into consecutive non-overlapping `k`-token
    * spans, dedupe spans across the WHOLE corpus (the first occurrence
    * — smallest (doc_id, span_idx) — owns the span), and report the
    * per-source duplicate mass: how many span instances each source
    * contributes vs how many it actually owns. This is the
    * sub-document counterpart to [[exactDupGroups]] — whole-document
    * dedup misses the boilerplate a source repeats INSIDE otherwise
    * distinct pages; span stats expose it before training data ships.
    *
    * Shape at scale: a SINGLE linear pipeline — one explode (a
    * Generate barrier, same rationale as the header note) to span
    * rows, md5 collapses each span to 32 bytes BEFORE the one wide
    * shuffle (a (hash, source) agg: instance count + the source's
    * best (doc_id, idx)), then a window over the hash marks each
    * span's owning source and one tiny source agg emits both counts.
    * No self-join, no second scan (an earlier two-branch formulation
    * pruned the branches differently, defeating ReuseExchange — this
    * shape cannot fork); hot boilerplate spans fold map-side in the
    * first agg, and the window sorts only the already-collapsed
    * (hash, source) frame. Docs shorter than `k` tokens have no
    * complete span and drop out (the sequence() guard below — and
    * mirrored in the oracle). */
  def spanDedupStats(docs: DataFrame, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      // complete k-token spans only; filter BEFORE sequence() so the
      // n=0 case can never build the descending [0,-1] footgun
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), col("source"), col("t"),
        explode(sequence(lit(0), (size(col("t")) / k).cast("int") - 1))
          .as("idx"))
      .select(col("doc_id"), col("source"), col("idx"),
        md5(concat_ws(" ", slice(col("t"), col("idx") * k + 1, lit(k))))
          .as("h"))
    // the one wide agg: per (span hash, source) instance count + the
    // source's best (doc_id, idx); everything downstream is tiny
    val perSrc = spans
      .groupBy("h", "source")
      .agg(count(lit(1)).as("n_inst"),
        min(struct(col("doc_id"), col("idx"))).as("m"))
    // first occurrence across sources owns the span
    val owned = perSrc.withColumn("owner",
      first(col("source")).over(Window.partitionBy("h")
        .orderBy(col("m.doc_id").asc, col("m.idx").asc)))
    owned
      .groupBy("source")
      .agg(sum(col("n_inst")).as("n_spans"),
        sum(when(col("source") === col("owner"), 1L).otherwise(0L))
          .as("n_owned"))
      .select(col("source"), col("n_spans"), col("n_owned"),
        round(lit(1.0) - col("n_owned").cast("double") /
          col("n_spans").cast("double"), 6).as("dup_ratio"))
  }
}
