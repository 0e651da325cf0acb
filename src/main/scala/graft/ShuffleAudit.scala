package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-query shuffle-volume audit: runs every registered query once and
  * records the task-level bytes it actually moved — shuffle write, input
  * read — plus the output row count. The scale claims in SURVEY §2
  * ("map-side", "one exchange", "broadcast, never shuffled") are plan
  * arguments; this measures them. A query whose shuffle volume is a large
  * multiple of its input is the one that dies first at 100 TB, whatever
  * its plan looks like.
  *
  * Task metrics arrive on the listener bus asynchronously, so each query
  * waits for the counters to go quiet (two identical reads 100 ms apart)
  * before snapshotting — bounded by 2 s, which at local[32] is far past
  * any observed flush lag.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... graft.ShuffleAudit [outPath]
  * Writes one JSON object keyed by query with bytes + rows.
  */
object ShuffleAudit {
  private class Tally extends SparkListener {
    @volatile var shuffleWrite = 0L
    @volatile var input = 0L
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        input += m.inputMetrics.bytesRead
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/root/repo/SHUFFLE_LOCAL.json")
    val spark = Engine.session("graft-shuffleaudit")
    spark.sparkContext.setLogLevel("ERROR")
    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    Tables.names.foreach(n => Tables(spark, sfDir, n).count())

    def quiesce(): (Long, Long) = {
      var prev = (-1L, -1L)
      var cur = (tally.shuffleWrite, tally.input)
      val deadline = System.nanoTime() + 2_000_000_000L
      while (cur != prev && System.nanoTime() < deadline) {
        prev = cur
        Thread.sleep(100)
        cur = (tally.shuffleWrite, tally.input)
      }
      cur
    }

    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // Same partial-run contract as Bench: ONLY/SKIP runs MERGE into the
    // existing artifact instead of truncating it to the filtered keys.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => (only.isEmpty || only(k)) && !skip(k) }
      .flatMap { case (name, fn) =>
        val (sw0, in0) = quiesce()
        try {
          val n = fn(spark, sfDir).count()
          val (sw1, in1) = quiesce()
          Some(name -> (sw1 - sw0, in1 - in0, n))
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[shuffleaudit] FAILED $name: ${e.getMessage}")
            None
        } finally Tables.releaseAll(spark)
      }
    val updates = rows.map { case (k, (sw, in, n)) =>
      k -> f"""{"shuffle_write_mb":${sw / 1048576.0}%.2f,"input_mb":${in / 1048576.0}%.2f,"out_rows":$n}"""
    }
    val p = java.nio.file.Paths.get(out)
    val partial = only.nonEmpty || skip.nonEmpty
    val existing =
      if (partial && java.nio.file.Files.exists(p))
        java.nio.file.Files.readString(p)
      else "{}"
    java.nio.file.Files.writeString(p, Bench.mergeJson(existing, updates))
    println(s"audited ${rows.size} queries -> $out")
    spark.stop()
  }
}
