package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Layer counters for one traced step, gathered from outside the engine by
  * Spark's three listener interfaces: executor and scheduler events
  * (SparkListener), driver planning per action (QueryExecutionListener) and
  * micro-batch progress (StreamingQueryListener).
  *
  * Listener events arrive asynchronously on the listener bus, so a step's
  * counters are read only after [[settle]] has seen the event count stop
  * moving. [[attach]] and [[detach]] bracket traced passes; untraced passes
  * run with no listener registered at all.
  */
final class LayerTrace(spark: SparkSession) {
  private val lock = new Object
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stageSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStarts = mutable.Map[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val triggers = mutable.ArrayBuffer[Double]()
  private val stateByQuery = mutable.Map[java.util.UUID, (Double, Double)]()
  @volatile private var events = 0L

  private def add(kv: (String, Double)*): Unit = lock.synchronized {
    kv.foreach { case (k, v) => sums(k) += v }
    events += 1
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // A job's result stage is named after the user call site, e.g.
      // "localCheckpoint at Tables.scala:94": one materialized generation.
      val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
      lock.synchronized { jobStarts(e.jobId) = e.time }
      add("exec.jobs" -> 1,
        "checkpoint_jobs" -> (if (site.startsWith("localCheckpoint") || site.startsWith("checkpoint")) 1 else 0))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lock.synchronized {
        jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
      }
      add()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      lock.synchronized {
        for (s <- i.submissionTime; c <- i.completionTime) stageSpans += ((s, c))
      }
      add("exec.stages" -> 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        add(
          "exec.tasks" -> 1,
          "exec.task_ms" -> m.executorRunTime.toDouble,
          "exec.task_cpu_ms" -> m.executorCpuTime / 1e6,
          "exec.shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "exec.shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "exec.shuffle_records" -> m.shuffleWriteMetrics.recordsWritten.toDouble,
          "exec.spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "exec.gc_ms" -> m.jvmGCTime.toDouble,
          "Tables.scan_rows" -> m.inputMetrics.recordsRead.toDouble)
      }
  }

  private val planListener = new QueryExecutionListener {
    private def planMs(qe: QueryExecution): Double =
      qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add("driver.actions" -> 1, "driver.plan_ms" -> planMs(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      add("driver.actions" -> 1, "driver.plan_ms" -> planMs(qe))
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def part(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val ops = p.stateOperators
      lock.synchronized {
        triggers += part("triggerExecution")
        // State size is a level, not a flow: keep each query's peak.
        val (rows, mem) = stateByQuery.getOrElse(p.id, (0.0, 0.0))
        stateByQuery(p.id) = (
          math.max(rows, ops.map(_.numRowsTotal).sum.toDouble),
          math.max(mem, ops.map(_.memoryUsedBytes).sum.toDouble))
      }
      add(
        "stream.batches" -> 1,
        "stream.queryPlanning_ms" -> part("queryPlanning"),
        "stream.addBatch_ms" -> part("addBatch"),
        "stream.walCommit_ms" -> part("walCommit"),
        "stream.commitOffsets_ms" -> part("commitOffsets"),
        "stream.latestOffset_ms" -> part("latestOffset"),
        "stream.state_commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until no listener event has arrived for two consecutive polls. */
  def settle(): Unit = {
    var quiet = 0
    var last = events
    while (quiet < 2) {
      Thread.sleep(50)
      val now = events
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  /** Counters accumulated since the previous call, then reset. `startMs` and
    * `endMs` bound the step's wall time; the part of it covered by no stage
    * is the driver's idle time. `sched.outside_ms` is the job time, as the
    * scheduler stamps it, that falls outside the step (beyond the clock's
    * 1 ms resolution): a job the step did not run, or one still running
    * when it returned. */
  def take(startMs: Long, endMs: Long): (Map[String, Double], Seq[Double]) = {
    settle()
    lock.synchronized {
      val busy = LayerTrace.coveredMs(stageSpans.toSeq, startMs, endMs)
      val now = System.currentTimeMillis()
      val jobs = jobSpans.toSeq ++ jobStarts.values.map(s => (s, now))
      val jobMs = LayerTrace.coveredMs(jobs, Long.MinValue, Long.MaxValue)
      val out = sums.toMap ++ Map(
        "driver.idle_ms" -> math.max(0.0, (endMs - startMs) - busy),
        "sched.outside_ms" -> (jobMs - LayerTrace.coveredMs(jobs, startMs - 1, endMs + 1)),
        "stream.state_rows" -> stateByQuery.values.map(_._1).sum,
        "stream.state_mem_bytes" -> stateByQuery.values.map(_._2).sum)
      val trig = triggers.toSeq
      sums.clear(); stageSpans.clear(); triggers.clear(); stateByQuery.clear()
      jobSpans.clear(); jobStarts.clear()
      (out, trig)
    }
  }
}

object LayerTrace {
  /** Length of the union of `spans`, clipped to [from, to]. */
  def coveredMs(spans: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
