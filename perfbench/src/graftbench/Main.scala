package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Options passed by `perfbench/run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, data: String, work: String,
    traceDir: String)

/** Failed and attempted operations, with the first error of each. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Throwable =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }
  def check(what: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; errors += s"$what: $detail" }
  }
}

/** The JVM side of the benchmark: one session, one closed-loop client,
  * one workload. Writes raw samples as JSON; `run.py` turns them into
  * metrics and prints the result.
  *
  * Modes (`--mode`): `run` (default) and `digest` (hashes of the
  * generated inputs, for the determinism test). */
object Main {
  val TraceKey = "graftbench.trace"
  val Workloads = Seq("stream_ingest", "stream_neardup", "batch_tpch",
    "batch_corpus")

  /** Operations a run times: `--seconds` at the workload's nominal
    * operation length, and at least `min`. The count is fixed before the
    * run, so the number and mix of timed operations stay the same when the
    * program gets faster or slower. */
  def timedOps(o: Opts, nominalS: Double, min: Int): Int =
    math.max(min, math.round(o.seconds / nominalS).toInt)

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time(body: => Any): Double = {
    val t0 = System.nanoTime(); body; secsSince(t0)
  }
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.default.parallelism", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // µs parquet timestamps, so DuckDB reads the check outputs with the
      // same logical type its oracle produces
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ------------------------------------------------------------------ JVM

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  /** Sum of the heap pools' peaks since the last reset. */
  def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  /** Heap still used after forced full collections. Spark's cleaner drops
    * shuffle and broadcast state asynchronously once a collection finds it
    * unreachable, so collect until the figure settles. */
  def retainedHeapMb(): Double = {
    def used() = {
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = used()
    var left = 5
    while (left > 0 && math.abs(cur - prev) > 1.0) { prev = cur; cur = used(); left -= 1 }
    cur
  }

  /** Bytes and data-file count under `dir` (checksums excluded from the
    * count, included in the bytes: both are on disk). */
  def diskUsage(dir: String): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(new java.io.File(dir))
    (files.map(_.length).sum,
      files.count(f => f.getName.startsWith("part-") &&
        !f.getName.endsWith(".crc")).toLong)
  }

  // ----------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = kv("out")
    val res = kv.getOrElse("mode", "run") match {
      case "digest" => digest(kv("seeds").split(",").map(_.toLong).toSeq,
        kv("data"), kv("work"))
      case "run" =>
        // several workloads run one after another in this one JVM
        kv("workload").split(",").toSeq.map { w =>
          val seed = kv("seed").toLong
          val traceDir = s"${kv("trace-dir")}/$w-seed$seed"
          new java.io.File(traceDir).mkdirs()
          w -> run(Opts(w, seed, kv("seconds").toDouble, kv("trace") == "1",
            kv("cores").toInt, kv("data"), s"${kv("work")}/$w", traceDir),
            mainEpochMs)
        }.toMap
      case other => sys.error(s"unknown mode $other")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json(res))
    sys.exit(0)
  }

  private def run(o: Opts, mainEpochMs: Long): Map[String, Any] = {
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "main_epoch_ms" -> mainEpochMs)
    val tally = new Tally
    val t0 = System.nanoTime()
    val spark = session(o.cores, o.work)
    res("session_s") = secsSince(t0)
    try {
      if (o.workload.startsWith("batch_")) BatchWorkload.run(spark, o, res, tally)
      else StreamWorkloads.run(spark, o, res, tally)
    } catch {
      case e: Throwable =>
        tally.failed += 1
        tally.errors += s"fatal: ${e.getClass.getSimpleName}: ${e.getMessage}"
        res("fatal") = true
    } finally SparkSession.getActiveSession.foreach(_.stop())
    res("attempted") = tally.attempted
    res("failed") = tally.failed
    res("errors") = tally.errors.toList
    res.toMap
  }

  /** SHA-256 of the first generated toots and of the document replay
    * order, for each seed. */
  private def digest(seeds: Seq[Long], data: String,
      work: String): Map[String, Any] = {
    val spark = session(2, work)
    def sha(rows: Seq[String]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(rows.mkString("\n").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    try seeds.map { s =>
      val toots = Gen.tootRange(spark,
        Gen.tootShape(s, StreamWorkloads.TootsPerTrigger), 0, 3000, 3)
        .orderBy("id").select("value").collect().map(_.getString(0))
      val docs = Gen.docReplay(spark, data, s).map(_._1.toString)
      s.toString -> Map("toots" -> sha(toots.toSeq), "docs" -> sha(docs))
    }.toMap
    finally spark.stop()
  }
}
