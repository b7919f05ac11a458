package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is -1 when the
  * benchmark cannot know it at record time (jobs, stages, sink and store
  * calls made on the stream thread); the report links those by trace id,
  * stage ownership and time containment. Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    layer: String, start: Long, end: Long, attrs: Map[String, Any])

/** Spans kept in memory and written out once, at the end of the run. */
final class Tracer {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]

  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def nextId(): Long = ids.incrementAndGet()

  def put(id: Long, parent: Long, trace: String, name: String, layer: String,
      start: Long, end: Long, attrs: Map[String, Any] = Map.empty): Long = {
    buf.synchronized { buf += Span(id, parent, trace, name, layer, start, end, attrs) }
    id
  }
  def add(parent: Long, trace: String, name: String, layer: String,
      start: Long, end: Long, attrs: Map[String, Any] = Map.empty): Long =
    put(nextId(), parent, trace, name, layer, start, end, attrs)

  /** Time `body` as a span whose parent is found later. */
  def timed[T](trace: String, name: String, layer: String,
      attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = nowUs()
    try body finally add(-1, trace, name, layer, t0, nowUs(), attrs)
  }

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(Json(Map("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "name" -> s.name, "layer" -> s.layer,
        "start_us" -> s.start, "end_us" -> s.end, "attrs" -> s.attrs)))
    } finally out.close()
  }
}

/** Jobs and stages as spans, with the task counters each stage summed,
  * plus the peak bytes held in cached and checkpointed RDD blocks. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleWriteNs = 0L; var shuffleRead = 0L
    var fetchWaitMs = 0L; var spillDisk = 0L; var inBytes = 0L
    var inRecords = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val stages = mutable.Map.empty[(Int, Int), StageAgg]
  private val jobs =
    mutable.Map.empty[Int, (Long, Seq[Int], String, String, Boolean)]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  @volatile var blockBytesPeak = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    a.tasks += 1
    a.durations += e.taskInfo.duration
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillDisk += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val a = stages.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAgg)
      val d = a.durations.sorted
      val start = i.submissionTime.getOrElse(0L)
      val end = i.completionTime.getOrElse(start)
      tracer.add(-1, "", "stage", "exec", start * 1000L, end * 1000L, Map(
        "stage_id" -> i.stageId, "tasks" -> a.tasks, "run_ms" -> a.runMs,
        "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "shuffle_write_bytes" -> a.shuffleWrite,
        "shuffle_write_ns" -> a.shuffleWriteNs,
        "shuffle_read_bytes" -> a.shuffleRead,
        "fetch_wait_ms" -> a.fetchWaitMs, "spill_disk_bytes" -> a.spillDisk,
        "input_bytes" -> a.inBytes, "input_records" -> a.inRecords,
        "task_max_ms" -> d.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (d.isEmpty) 0L else d(d.size / 2))))
      ()
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val trace = p.flatMap(x => Option(x.getProperty(Main.TraceKey)))
      .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map("trigger:" + _))
      .getOrElse("")
    // The result stage is created last; its name is the job's call site
    // (on the stream thread, the query's start site). A job materializes a
    // shared frame -- an eager localCheckpoint, or the first action on a
    // persisted frame run on it -- when the RDD it runs on is persisted.
    val result = e.stageInfos.sortBy(_.stageId).lastOption
    val site = result.map(_.name).getOrElse("")
    val materializes = result.flatMap(_.rddInfos.sortBy(_.id).lastOption)
      .exists(_.storageLevel.isValid)
    jobs(e.jobId) = (e.time, e.stageIds, trace, site, materializes)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (start, stageIds, trace, site, checkpoint) =>
      tracer.add(-1, trace, "job", if (checkpoint) "share" else "exec",
        start * 1000L, e.time * 1000L, Map("job_id" -> e.jobId,
          "stage_ids" -> stageIds, "call_site" -> site,
          "checkpoint" -> checkpoint,
          "succeeded" -> (e.jobResult == JobSucceeded)))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        blockBytes += now - blocks.getOrElse(b.blockId.name, 0L)
        if (now == 0L) blocks.remove(b.blockId.name)
        else blocks(b.blockId.name) = now
        blockBytesPeak = math.max(blockBytesPeak, blockBytes)
      }
    }
}

/** Catalyst optimization and planning time of each completed action, read
  * from its `QueryPlanningTracker`. Analysis is left out: the tracker is
  * shared with the DataFrame the action runs, which was analysed while it
  * was built. */
final class PlanListener extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer.empty[(String, Long)]
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ms = qe.tracker.phases
      .collect { case (p, s) if p != "analysis" => s.durationMs }.sum
    done.synchronized { done += ((funcName, ms)); () }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
  /** Planning milliseconds of the most recent action named `funcName`. */
  def lastMs(funcName: String): Long = done.synchronized {
    done.reverseIterator.find(_._1 == funcName).map(_._2).getOrElse(0L)
  }
}
