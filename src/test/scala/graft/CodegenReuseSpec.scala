package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A workload that repeats compiles each generated class once per JVM
  * (`Engine.session` sizes Spark's codegen cache and turns off artifact
  * isolation, and leaves the codegen stage id out of class names). A
  * repeat may still compile a plan variant it has not seen yet, since AQE's
  * runtime choices (join strategy) follow stage completion order; so the
  * check is that no source compiled in the first round is compiled again in
  * the second. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The source of every class Janino compiles while `body` runs.
    * CodeGenerator logs each cache miss's source at DEBUG; a private,
    * non-additive logger config routes those events to this capture only.
    * The count is checked against Spark's compile metric, so a capture
    * that stopped seeing compiles fails instead of passing vacuously. */
  private def compiledSources(body: => Unit): Seq[String] = {
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val ctx = LogManager.getLogger(name).asInstanceOf[Logger].getContext
    val config = ctx.getConfiguration
    assert(!config.getLoggers.containsKey(name), s"$name already has a logger config")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "codegen-reuse", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.DEBUG) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val capture = new LoggerConfig(name, Level.DEBUG, false)
    capture.addAppender(appender, null, null)
    config.addLogger(name, capture)
    ctx.updateLoggers()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body
    finally {
      config.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    val sources = seen.asScala.toSeq
    assert(sources.size == compiles,
      s"captured ${sources.size} sources for $compiles compiles")
    sources
  }

  /** Compiles in `second` of a source `first` had already compiled. */
  private def recompiled(first: Seq[String], second: Seq[String]): Int =
    second.count(first.toSet)

  test("a second round of the llm_batch keys recompiles no class") {
    val keys = Seq("q_dedup_cluster", "q_similarity_ann", "q_dedup_ngram_capped")
    def round(): Seq[String] = compiledSources(keys.foreach { k =>
      try SparkEntry.queries(k)(spark, TestSpark.sf).collect()
      finally Tables.releaseAll(spark)
    })
    val first = round()
    val second = round()
    val again = recompiled(first, second)
    assert(again == 0,
      s"$again of the first round's ${first.size} compiles ran again " +
        s"(second round: ${second.size} compiles)")
  }

  test("a pipeline under another codegen stage id compiles no new class") {
    // Alone, each pipeline is codegen stage 1; in the union the second one
    // is stage 2. AQE renumbers a key's stages the same way from one run
    // to the next.
    val a = spark.range(0, 1000, 1, 2).selectExpr("id * 3 AS v").filter("v % 7 = 1")
    val b = spark.range(0, 1000, 1, 2).selectExpr("id + 5 AS v").filter("v % 11 = 2")
    val alone = compiledSources { a.collect(); b.collect() }
    assert(alone.nonEmpty)
    val union = compiledSources(a.union(b).collect())
    assert(union.isEmpty,
      s"the union compiled ${union.size} classes its two pipelines had compiled alone")
  }

  test("a second run of the streaming job recompiles no class") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft_codegen_in").toString
    Seq(("east", "widget", 10.0), ("east", "bolt", 12.0),
        ("west", "widget", 2.0), ("west", "gear", 3.0))
      .toDF("region", "product", "sales")
      .repartition(2).write.mode("overwrite").parquet(inDir)
    // One run as JobRunner.main does it, into a fresh output directory.
    def run(): Seq[String] = compiledSources {
      val cfg = Engine.JobConfig(inputPath = inDir,
        outputPath = Files.createTempDirectory("graft_codegen_out").toString,
        topN = 1, mode = "streaming")
      JobRunner.runStreaming(spark, cfg)
        .write.mode("overwrite").parquet(cfg.outputPath)
    }
    val first = run()
    val second = run()
    val again = recompiled(first, second)
    assert(again == 0,
      s"$again of the first run's ${first.size} compiles ran again " +
        s"(second run: ${second.size} compiles)")
  }
}
