package graftbench

import scala.collection.mutable
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType
import graft.SparkEntry

/** `batch_tpch` and `batch_corpus`: passes over a fixed query list on the
  * sf0.1 tables, each query built, planned and executed through the `noop`
  * sink, one query in flight at a time. The seed sets the query order of
  * every pass. */
object BatchWorkload {

  val queries: Map[String, Seq[String]] = Map(
    "batch_tpch" -> Seq("pricing_summary", "tpch_q3", "tpch_q5", "tpch_q6",
      "tpch_q10", "tpch_q14", "tpch_q18", "tpch_q19", "monthly_order_stats",
      "top_orders_per_customer", "hourly_counts", "user_activity"),
    "batch_corpus" -> Seq("minhash_near_dups", "jaccard_prefix_pairs",
      "dup_clusters", "tfidf_cosine_pairs", "knn_all_brute",
      "pca_top2_components", "winnow_near_dups", "cooccurrence_ktruss"))

  val tables: Map[String, Seq[String]] = Map(
    "batch_tpch" -> Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events"),
    "batch_corpus" -> Seq("documents", "embeddings"))

  /** Nominal seconds of a `batch_tpch` pass at `local[4]` (6.5 measured),
    * which turns `--seconds` into a pass count. */
  val NominalPassS = 6.0
  /** Timed passes a run makes at least: the second is warmer and steadier
    * than the first, and the median of two halves a single pass's burst. */
  val MinPasses = 2

  def order(qs: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(qs)

  private def table(spark: SparkSession, data: String, t: String): DataFrame =
    if (t == "events") graft.Tables.events(spark, data)
    else graft.Tables.table(spark, data, t)

  def run(spark: SparkSession, o: Opts, res: mutable.Map[String, Any],
      tally: Tally): Unit = {
    val qs = queries(o.workload)
    val ts = tables(o.workload)
    res("queries") = qs
    // table load: resolve every table the queries read and count its rows
    var inputRows = 0L
    res("prep_s") = (1 to 3).map(_ =>
      Main.time { inputRows = ts.map(t => table(spark, o.data, t).count()).sum })
    res("input_rows_per_op") = inputRows
    val checkDir = s"${o.work}/check"
    res("warm_s") = Main.time {
      res("check_errors") = writeCheckOutputs(spark, o, qs, checkDir)
    }
    res("check_dir") = checkDir

    val n = Main.timedOps(o, NominalPassS, MinPasses)
    res("ops") = passes(spark, o, qs, tally, None, n)
    res("retained_heap_mb") = Main.retainedHeapMb()

    if (o.trace) {
      val sc = spark.sparkContext
      val tr = new Tracer
      val jobs = new JobListener(tr)
      val plans = new PlanListener
      sc.addSparkListener(jobs)
      spark.listenerManager.register(plans)
      Main.resetHeapPeak()
      val gc0 = Main.gcSeconds()
      val t1 = System.nanoTime()
      val ops = passes(spark, o, qs, tally, Some((tr, plans)), n)
      val wall = Main.secsSince(t1)
      BenchBus.drain(sc)
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
      tr.write(s"${o.traceDir}/spans.jsonl")
      res("traced") = Map("ops" -> ops, "wall_s" -> wall,
        "ref_ops" -> passes(spark, o, qs, tally, None, n),
        "jvm_gc_s" -> (Main.gcSeconds() - gc0),
        "heap_peak_mb" -> Main.heapPeakMb(),
        "block_bytes_peak" -> jobs.blockBytesPeak,
        "spans_file" -> s"${o.traceDir}/spans.jsonl")
      if (o.workload == "batch_tpch") {
        // single-thread baseline: one pass in a fresh local[1] session
        spark.stop()
        val one = Main.session(1, o.work)
        val base = passes(one, o, qs, tally, None, 1)
        res("baseline") = Map("cores" -> 1, "ops" -> base,
          "input_rows_per_op" -> inputRows)
      }
    }
  }

  /** The correctness pass (it is also the warm-up): every query's result
    * as parquet, timestamps cast to the naive type DuckDB compares, and
    * the queries' oracles in `oracle_sql.json` -- the layout the
    * repository's `tools/compare_oracle.py` reads. */
  private def writeCheckOutputs(spark: SparkSession, o: Opts,
      qs: Seq[String], dir: String): Map[String, String] = {
    new java.io.File(dir).mkdirs()
    val oracles = qs.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "oracle_sql.json"), Json(oracles.toMap))
    order(qs, o.seed, -1).flatMap { q =>
      try {
        val df = SparkEntry.queries(q)(spark, o.data)
        df.select(df.schema.fields.toSeq.map { f =>
          if (f.dataType == TimestampType)
            col(f.name).cast("timestamp_ntz").as(f.name)
          else col(f.name)
        }: _*).write.mode("overwrite").parquet(s"$dir/$q")
        None
      } catch {
        case e: Throwable => Some(q -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }.toMap
  }

  /** `n` timed passes. With a tracer, each query gets a
    * query span with build, plan and exec children under its pass span. */
  private def passes(spark: SparkSession, o: Opts, qs: Seq[String],
      tally: Tally, tr: Option[(Tracer, PlanListener)],
      n: Int): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var pass = 0
    while (pass < n) {
      val passId = tr.map(_._1.nextId()).getOrElse(-1L)
      val passStart = tr.map(_._1.nowUs()).getOrElse(0L)
      val p0 = System.nanoTime()
      val perQuery = mutable.LinkedHashMap.empty[String, Double]
      var failed = 0
      for (q <- order(qs, o.seed, pass)) {
        val trace = s"pass$pass:$q"
        sc.setLocalProperty(Main.TraceKey, trace)
        val q0 = System.nanoTime()
        tally.attempt(q) {
          val u0 = tr.map(_._1.nowUs()).getOrElse(0L)
          val df = SparkEntry.queries(q)(spark, o.data)
          val u1 = tr.map(_._1.nowUs()).getOrElse(0L)
          Main.noop(df)
          tr.foreach { case (t, plans) =>
            val u2 = t.nowUs()
            BenchBus.drain(sc)
            // a noop write in overwrite mode runs as "overwrite"
            val planEnd = math.min(u2, u1 + plans.lastMs("overwrite") * 1000L)
            val qid = t.nextId()
            t.add(qid, trace, "build", "entry", u0, u1)
            t.add(qid, trace, "plan", "plan", u1, planEnd)
            t.add(qid, trace, "exec", "exec", planEnd, u2)
            t.put(qid, passId, trace, "query", "client", u0, u2,
              Map("query" -> q))
          }
          perQuery(q) = Main.secsSince(q0)
        }.getOrElse { failed += 1 }
        sc.setLocalProperty(Main.TraceKey, null)
      }
      tr.foreach { case (t, _) =>
        t.put(passId, -1, s"pass$pass", "pass", "client", passStart, t.nowUs())
      }
      ops += Map("wall_s" -> Main.secsSince(p0), "queries" -> perQuery.toMap,
        "failed" -> failed)
      pass += 1
    }
    ops.toList
  }
}
