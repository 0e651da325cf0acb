package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage decomposition of one registered query — the measurement the
  * decade-curve root-cause protocol needs (r12 verdict ask #4: "attach the
  * io block + per-stage timings"). Not part of the driver contract.
  *
  * `runMain graft.StageProfile <sfDir> <query> [runs]` executes the query
  * (one untimed warmup, then `runs`, default 1) and prints one line per
  * stage of the LAST run: wall, summed task time, task count, scan records,
  * shuffle read/write records and bytes — enough to see which exchange or
  * map stage carries a decade's growth, and whether a stage ran on too few
  * partitions (tasks ≪ cores with a large task-time sum = the
  * spreadForKernel class of defect).
  */
object StageProfile {
  private final case class Row(
      stageId: Int, name: String, tasks: Int, wallMs: Long, taskMs: Long,
      inputRecs: Long, srRecs: Long, srMb: Double, swRecs: Long, swMb: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val query = args(1)
    val runs = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = Engine.session("graft-stageprofile")
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        rows.add(Row(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
          wall, m.executorRunTime,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0))
      }
    })
    val fn = SparkEntry.queries(query)
    fn(spark, sfDir).count() // warmup (JIT + codegen + footers)
    Tables.releaseAll(spark)
    var wall = 0.0
    (1 to runs).foreach { _ =>
      rows.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      wall = (System.nanoTime() - t0) / 1e9
      Tables.releaseAll(spark)
      println(f"[stageprofile] $query rows=$n wall=$wall%.3f s")
    }
    Thread.sleep(500) // listener bus drain
    import scala.jdk.CollectionConverters._
    println(f"${"stage"}%6s ${"tasks"}%6s ${"wall_ms"}%9s ${"task_ms"}%9s " +
      f"${"in_recs"}%12s ${"sh_rd_recs"}%12s ${"sh_rd_mb"}%9s " +
      f"${"sh_wr_recs"}%12s ${"sh_wr_mb"}%9s  name")
    rows.asScala.toSeq.sortBy(_.stageId).foreach { r =>
      println(f"${r.stageId}%6d ${r.tasks}%6d ${r.wallMs}%9d ${r.taskMs}%9d " +
        f"${r.inputRecs}%12d ${r.srRecs}%12d ${r.srMb}%9.1f " +
        f"${r.swRecs}%12d ${r.swMb}%9.1f  ${r.name}")
    }
    spark.stop()
  }
}
