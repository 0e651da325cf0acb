package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suite-level sessions
  * would pay ~10s startup each). Built by `Engine.session` like every main;
  * `cores` is pinned because the suite's expectations assume local[4]
  * whatever SPARK_GRAFT_CPUS the environment exports. */
object TestSpark {
  lazy val spark: SparkSession = Engine.session("graft-test", cores = 4)
  val sf: String = "/root/testdata/sf0.001"
}
