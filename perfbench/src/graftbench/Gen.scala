package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Every generated toot column is a pure function of
  * (seed, row index), evaluated by Spark expressions over the `value`
  * column of a rate source or of `spark.range`, so the same seed gives
  * byte-identical inputs regardless of partitioning, and the static
  * re-generation used by the correctness checks sees exactly the rows the
  * stream saw. The near-dup documents are the sf0.1 `documents` table,
  * replayed in a seeded order. The program under test receives only these
  * rows.
  */
object Gen {

  /** Uniform double in [0, 1) from a hash of the seed, the row and a salt. */
  private def unif(seed: Long, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: parts): _*), lit(1L << 31))
      .cast("double") / (1L << 31).toDouble

  private def pick(seed: Long, n: Long, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: parts): _*), lit(n))

  /** Log-uniform rank in [1, n], skewed towards 1 as `skew` grows: a
    * Zipf-like key distribution without a lookup table. */
  private def zipfRank(u: Column, n: Long, skew: Double): Column =
    least(lit(n), greatest(lit(1L),
      floor(exp(pow(u, lit(skew)) * lit(math.log(n.toDouble)))).cast("long")))

  // ---------------------------------------------------------------- toots

  /** Per-seed shape of the toot stream: user count and skew (the per-batch
    * `groupBy(username)` width), text length, malformed and null-text
    * shares, and the `created_at` format mix (`TootOps.parseCreatedAt`
    * tries formats in order, so the mix sets parse cost). */
  final case class TootShape(seed: Long, rowsPerTrigger: Long, users: Long,
      userSkew: Double, meanLen: Int, malformedShare: Double,
      nullTextShare: Double, formatWeights: Seq[Double])

  /** `created_at` renderings in the order the parse chain reaches them: the
    * forms FIXTURES.md lists as observed in the reference's sample (trailing
    * `Z`, the producer's `yyyy-MM-dd HH:mm:ss.SSSSSS+00:00`, ISO-8601 with a
    * `T`, bare), then one that matches none and falls through to the
    * ingest-time stamp. */
  val createdAtFormats: Seq[String] = Seq(
    "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy-MM-dd HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd HH:mm:ss",
    "EEE MMM dd HH:mm:ss yyyy")

  /** Users of the sf0.1 `events` table, the repository's stand-in for the
    * toot stream (1,500 users over 100,000 events). */
  val EventsUsers = 1500L
  /** Mean text length of the sf0.1 `documents`, the stand-in for the toot
    * text corpus (297 chars; 44 to 577). */
  val DocumentsMeanLen = 297
  /** Mastodon's default toot length limit. */
  val MaxTextLen = 500

  /** The seed moves each knob around its source value: users by up to 2x
    * either way and the skew around 1, so the `groupBy(username)` width
    * changes; the mean text length by 15 %; the malformed share around the
    * 3 non-JSON lines in 141 of the reference's sample (FIXTURES.md); the
    * null-text share over the same range (no sample records it); and the
    * format mix freely (no sample records it), with 2-6 % falling through
    * the whole chain. */
  def tootShape(seed: Long, rowsPerTrigger: Long): TootShape = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 1)
    val w = createdAtFormats.indices.map(i =>
      if (i == createdAtFormats.size - 1) 0.02 + 0.04 * r.nextDouble()
      else 0.5 + r.nextDouble())
    TootShape(seed, rowsPerTrigger,
      users = math.round(EventsUsers * math.pow(2, 2 * r.nextDouble() - 1)),
      userSkew = 0.8 + 0.4 * r.nextDouble(),
      meanLen = math.round(DocumentsMeanLen * (0.85 + 0.3 * r.nextDouble()))
        .toInt,
      malformedShare = 0.01 + 0.02 * r.nextDouble(),
      nullTextShare = 0.01 + 0.02 * r.nextDouble(),
      formatWeights = w.map(_ / w.sum).toSeq)
  }

  /** Fixed text pool the toot bodies are cut from (independent of the
    * seed; the seed picks offsets and lengths). It holds multi-byte
    * characters, so character and byte lengths differ as in real toots.
    * Kept short: cutting a substring walks the pool's characters up to the
    * offset. */
  private val pool: String = {
    val words = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed " +
      "do eiusmod tempor incididunt ut labore et dolore magna aliqua spark " +
      "stream mastodon toot fediverse kafka trigger batch window parquet " +
      "café naïve über straße 東京 ñandú #graft @user https://example.org")
      .split(" ")
    val r = new java.util.Random(20240501L)
    Iterator.continually(words(r.nextInt(words.length))).take(300)
      .mkString(" ")
  }

  /** Toot rows for the row index column `idx`: `value` is the JSON payload
    * the stream parses; `g_valid` and `g_username` are the generator's own
    * truth (a row is valid when it is well-formed JSON with a text), which
    * the sink reconciliation compares against. */
  def toots(idx: Column, s: TootShape): Seq[Column] = {
    val seed = s.seed
    def u(salt: Int) = unif(seed, idx, lit(salt))
    val rank = zipfRank(u(1), s.users, s.userSkew)
    val username = concat(lit("user"), rank.cast("string"))
    // 0.15x to 1.85x the mean: the spread of the sf0.1 documents' lengths
    val len = least(lit(MaxTextLen), greatest(lit(1),
      round(lit(s.meanLen.toDouble) * (lit(0.15) + u(2) * 1.7)).cast("int")))
    val start = pick(seed, (pool.length - MaxTextLen).toLong, idx, lit(3)) + 1
    val nullText = u(4) < s.nullTextShare
    val malformed = u(5) < s.malformedShare
    // event time advances 1 s per trigger, the rate source's own clock,
    // so 60 triggers fill a 1-minute window as a live stream's would
    val ts = timestamp_micros(lit(1714521600000000L) +
      floor(idx * 1000000L / s.rowsPerTrigger))
    val cum = s.formatWeights.scanLeft(0.0)(_ + _).tail
    val fu = u(6)
    val createdAt = createdAtFormats.zip(cum).init.foldRight(
      date_format(ts, createdAtFormats.last)) { case ((f, c), acc) =>
      when(fu < c, date_format(ts, f)).otherwise(acc)
    }
    val tags = slice(array(lit("graft"), lit("spark"), lit("fediverse")),
      1, 3)
    val payload = to_json(struct(
      idx.as("id"),
      createdAt.as("created_at"),
      element_at(array(Seq("en", "fr", "de", "es", "ja").map(lit): _*),
        (pick(seed, 5, idx, lit(7)) + 1).cast("int")).as("language"),
      when(!nullText, lit(pool).substr(start, len)).as("text"),
      slice(tags, lit(1), pick(seed, 4, idx, lit(8)).cast("int"))
        .as("hashtags"),
      rank.as("user_id"),
      username.as("username"),
      concat(lit("User "), rank.cast("string")).as("display_name"),
      pick(seed, 50, idx, lit(9)).as("favourites"),
      pick(seed, 20, idx, lit(10)).as("reblogs"),
      pick(seed, 10, idx, lit(11)).as("replies"),
      concat(lit("https://example.org/@user"), rank.cast("string"),
        lit("/"), idx.cast("string")).as("url")))
    // a corrupt line starts with a non-JSON byte, so the parser rejects
    // the whole record instead of recovering a prefix of its fields
    Seq(
      when(malformed, concat(lit("#corrupt "), substring(payload, 2, 40)))
        .otherwise(payload).as("value"),
      (!malformed && !nullText).as("g_valid"),
      username.as("g_username"))
  }

  /** The toot stream at `rowsPerBatch` rows per trigger: a closed loop,
    * since `rate-micro-batch` hands each trigger exactly that many rows
    * whatever the trigger took. */
  def tootStream(spark: SparkSession, s: TootShape, rowsPerBatch: Long,
      partitions: Int): DataFrame =
    rateSource(spark, rowsPerBatch, partitions)
      .select(toots(col("value"), s).head)

  /** Row indexes [from, until) as a static frame with the generator's
    * columns (for reconciliation and the parse micro-measure). */
  def tootRange(spark: SparkSession, s: TootShape, from: Long,
      until: Long, partitions: Int): DataFrame =
    spark.range(from, until, 1, partitions)
      .select((col("id") +: toots(col("id"), s)): _*)

  // ------------------------------------------------------ near-dup docs

  /** The sf0.1 `documents` table as (doc_id, text) in an order set by the
    * seed: the documents `stream_neardup` replays, a slice per trigger. */
  def docReplay(spark: SparkSession, data: String,
      seed: Long): Seq[(Long, String)] =
    graft.Tables.table(spark, data, "documents")
      .orderBy(xxhash64(lit(seed), col("doc_id")), col("doc_id"))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def rateSource(spark: SparkSession, rowsPerBatch: Long,
      partitions: Int): DataFrame =
    spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", partitions)
      .option("advanceMillisPerBatch", 1000)
      .load()
}
