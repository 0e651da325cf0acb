package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Bench.Metrics` charges each key with the work it started: `take()`
  * returns the counters since the previous call, so no event leaks from
  * one key's BENCH_IO.json row into the next. */
class BenchMetricsSpec extends AnyFunSuite {
  test("take() splits a shuffling aggregate, a drained stream and an idle step") {
    val spark = TestSpark.spark
    val metrics = new Bench.Metrics(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics_spec_")
    val n = 20000L
    spark.range(0, n, 1, 4).selectExpr("id % 97 AS k", "id AS v")
      .write.parquet(s"$dir/t")
    metrics.take()

    spark.read.schema("k LONG, v LONG").parquet(s"$dir/t")
      .groupBy("k").agg(sum("v")).collect()
    val agg = metrics.take()
    assert(agg.scanRows == n)
    assert(agg.shuffleWriteBytes > 0 && agg.shuffleReadBytes > 0)
    assert(agg.stages >= 2 && agg.tasks >= agg.stages)
    assert(agg.stream.isEmpty)

    val stream = spark.readStream.schema(Scratch.inputSchema)
      .parquet(s"${Scratch.sharedInput(spark, TestSpark.sf)}/in")
      .groupBy("event_type").count()
    Scratch.drain(spark, "spec_metrics", stream, "update")
    val drained = metrics.take().stream
    assert(drained.exists(s => s.batches >= 1 && s.durationMs.contains("addBatch")),
      s"no micro-batch progress: $drained")
    assert(drained.get.stateRowsMax > 0)

    assert(metrics.take() == Bench.KeyMetrics(0L, 0L, 0L, 0, 0L, 0L, None))
    Scratch.reapTombstones()
  }
}
