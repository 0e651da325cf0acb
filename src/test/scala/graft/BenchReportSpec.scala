package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.render` turns battery attempts into the metric line and the four
  * BENCH_*.json files, shipping the best attempt. `Bench.runCount` is the
  * battery's other decision: how often a key runs. */
class BenchReportSpec extends AnyFunSuite {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val conf = Bench.RunConf(sfDir = "/data/sf0.1", cpus = 8,
    shufflePartitions = 8, partial = false,
    codegenCacheMaxEntries = 512, artifactIsolation = false,
    pageSizeBytes = 524288L, broadcastBlockBytes = 524288L)

  private def battery(scale: Double, loadOk: Boolean, cotenant: Double,
      waited: Long) = Bench.Battery(
    results = Seq("q_topk" -> 1.0 * scale, "q_agg_hash" -> 0.5 * scale),
    runsRaw = Seq("q_topk" -> Seq(1.0, 1.0, 1.1).map(_ * scale),
      "q_agg_hash" -> Seq(0.5, 0.5, 0.6).map(_ * scale),
      "q_broken" -> Seq(Double.NaN)),
    failed = Seq("q_broken"),
    ioProfile = Seq(
      "q_topk" -> Bench.KeyRow(2097152L, 0L, 10L,
        Bench.KeyMetrics(600L, 131072L, 65536L, 3, 12L, 340L, None)),
      "q_agg_hash" -> Bench.KeyRow(0L, 0L, 4L,
        Bench.KeyMetrics(0L, 0L, 0L, 0, 0L, 0L, Some(Bench.StreamMetrics(
          4, 120L, Map("walCommit" -> 40L, "addBatch" -> 800L)))))),
    queryLoad = Map("q_topk" -> 0.1, "q_agg_hash" -> 0.2),
    loadStart = Seq(0.1, 0.2, 0.3), loadEnd = Seq(1.0, 0.5, 0.4),
    stealPct = 0.5, cotenantCores = cotenant, loadOk = loadOk,
    waitedSec = waited, deferred = false)

  private def files(r: Bench.Report) =
    r.files.map { case (name, kv) =>
      name -> mapper.readTree(Bench.mergeJson("", kv)) }.toMap

  test("one attempt: line, artifacts and regressions come from it") {
    val r = Bench.render(Seq(battery(1.0, loadOk = true, 0.0, 0L)), conf,
      baseline = Map("q_topk" -> 0.5, "q_agg_hash" -> 0.45))
    val line = mapper.readTree(r.line)
    assert(line.get("metric").asText == "total_all_2_queries")
    assert(line.get("value").asDouble == 1.5)
    assert(line.get("queries").get("q_topk").asDouble == 1.0)
    assert(line.get("failed").get(0).asText == "q_broken")
    // q_topk is 2x and +0.5 s over baseline; q_agg_hash is under the floor.
    assert(r.regressions == Seq(("q_topk", 1.0, 0.5, 0.1)))
    assert(line.get("regressions").size == 1)
    assert(line.get("load").get("attempts").asInt == 1)
    assert(line.get("load").get("load_ok").asBoolean)
    val c = line.get("conf")
    assert(c.get("cpus").asInt == 8 && c.get("shuffle_partitions").asInt == 8)
    assert(!c.has("oha_fallback") && !c.has("runs") && !c.has("warmup"))
    assert(c.get("codegen_cache_max_entries").asInt == 512)
    assert(!c.get("artifact_isolation").asBoolean)
    assert(c.get("page_size_bytes").asLong == 524288L)
    assert(c.get("broadcast_block_bytes").asLong == 524288L)
    assert(line.get("sf").asText == "/data/sf0.1")

    val f = files(r)
    assert(f.keySet ==
      Set("BENCH_LOCAL.json", "BENCH_RUNS.json", "BENCH_IO.json", "BENCH_LOAD.json"))
    assert(f("BENCH_LOCAL.json").get("q_topk").asDouble == 1.0)
    assert(f("BENCH_LOCAL.json").get("q_broken").isNull)
    assert(f("BENCH_RUNS.json").get("q_broken").get(0).isNull)
    val io = f("BENCH_IO.json").get("q_topk")
    assert(io.get("logical_mb").asDouble == 2.0 && io.get("scan_rows").asLong == 600L)
    assert(io.get("rows").asLong == 10L)
    assert(io.get("shuffle_write_mb").asDouble == 0.13)
    assert(io.get("shuffle_read_mb").asDouble == 0.06)
    assert(io.get("stages").asInt == 3 && io.get("tasks").asLong == 12L)
    assert(io.get("task_ms").asLong == 340L && !io.has("stream"))
    val stream = f("BENCH_IO.json").get("q_agg_hash").get("stream")
    assert(stream.get("batches").asInt == 4 && stream.get("state_rows_max").asLong == 120L)
    assert(stream.get("duration_ms").get("addBatch").asLong == 800L)
    assert(stream.get("duration_ms").get("walCommit").asLong == 40L)
    assert(f("BENCH_LOAD.json").get("_battery").get("load_ok").asBoolean)
  }

  test("two attempts: the load_ok attempt ships, waits and attempts add up") {
    val first = battery(1.0, loadOk = false, 0.9, 0L)
    val second = battery(2.0, loadOk = true, 0.0, 480L)
    val r = Bench.render(Seq(first, second), conf, baseline = Map.empty)
    val line = mapper.readTree(r.line)
    // The slower but certified attempt wins over the faster noisy one.
    assert(line.get("value").asDouble == 3.0)
    val load = line.get("load")
    assert(load.get("attempts").asInt == 2)
    assert(load.get("waited_sec").asLong == 480L)
    assert(load.get("load_ok").asBoolean)
    assert(r.regressions.isEmpty && line.get("regressions").size == 0)
    assert(files(r)("BENCH_LOCAL.json").get("q_topk").asDouble == 2.0)
  }

  test("two uncertified attempts: the lower co-tenant load ships") {
    val r = Bench.render(Seq(battery(1.0, loadOk = false, 0.9, 0L),
      battery(2.0, loadOk = false, 0.3, 0L)), conf, baseline = Map.empty)
    val line = mapper.readTree(r.line)
    assert(line.get("value").asDouble == 3.0)
    assert(line.get("load").get("cotenant_cores").asDouble == 0.3)
    assert(!line.get("load").get("load_ok").asBoolean)
  }

  test("runCount: 7 runs under 0.5 s of warm-up, 5 from 0.5 s, 3 after a failed warm-up") {
    val table = Seq(0.0 -> 7, 0.12 -> 7, 0.4999 -> 7, 0.5 -> 5, 0.51 -> 5,
      30.0 -> 5, Double.PositiveInfinity -> 5, Double.NaN -> 3)
    for ((warmupWallS, runs) <- table)
      assert(Bench.runCount(warmupWallS) == runs, s"warm-up $warmupWallS s")
  }
}
