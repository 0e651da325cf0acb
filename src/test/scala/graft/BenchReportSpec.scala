package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.render` turns the attempts completed so far into the metric line
  * and the four BENCH_*.json files; Bench calls it after every attempt, so
  * a run killed during a retry still leaves the best attempt behind. */
class BenchReportSpec extends AnyFunSuite {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val conf = Bench.RunConf(sfDir = "/data/sf0.1", cpus = 8,
    shufflePartitions = 8, runs = 3, warmup = true, partial = false,
    codegenCacheMaxEntries = 512, artifactIsolation = false,
    pageSizeBytes = 524288L, broadcastBlockBytes = 524288L)

  private def battery(scale: Double, loadOk: Boolean, cotenant: Double,
      waited: Long) = Bench.Battery(
    results = Seq("q_topk" -> 1.0 * scale, "q_agg_hash" -> 0.5 * scale),
    runsRaw = Seq("q_topk" -> Seq(1.0, 1.0, 1.1).map(_ * scale),
      "q_agg_hash" -> Seq(0.5, 0.5, 0.6).map(_ * scale),
      "q_broken" -> Seq(Double.NaN)),
    failed = Seq("q_broken"),
    ioProfile = Seq("q_topk" -> (2097152L, 0L, 600L)),
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
    assert(!c.has("oha_fallback"))
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
    assert(f("BENCH_IO.json").get("q_topk").get("logical_mb").asDouble == 2.0)
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
}
