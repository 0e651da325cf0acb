package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suite-level sessions
  * would pay ~10s startup each). Built by `Engine.session` like every main;
  * `cores` is pinned because the suite's expectations assume local[4]
  * whatever SPARK_GRAFT_CPUS the environment exports. */
object TestSpark {
  lazy val spark: SparkSession = Engine.session("graft-test", cores = 4)
  val sf: String = "/root/testdata/sf0.001"

  /** Job groups of the jobs `body` starts ("null" for a job outside any
    * group; a streaming query's jobs carry its run id). A sentinel job runs
    * last; the listener bus delivers events in order, so once the
    * sentinel's start is seen, every earlier job's start has been seen too. */
  def jobGroupsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobGroup("job-probe-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("job-probe-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("job-probe-sentinel"), "sentinel job not seen")
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    groups.asScala.toSeq.filter(_ != "job-probe-sentinel")
  }
}
