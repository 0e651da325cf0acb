package graft

import org.apache.spark.sql.SparkSession

/** Session + job-config core.
  *
  * Mirrors the reference's tuned session knobs (reference
  * `src/utils/spark_helper.py:14-36`): AQE on, snappy parquet, modest local
  * shuffle width, optional local master. The PySpark-only Arrow interchange
  * knob (`spark_helper.py:24`) is dropped (no Python boundary here), and Kryo
  * (`spark_helper.py:26`) is unnecessary — DataFrame ops run on Tungsten
  * `UnsafeRow`.
  *
  * At cluster scale the same builder is used without `.master`, and
  * `shuffle.partitions` is sized to ~2-3x total executor cores (AQE coalesces
  * down at runtime).
  */
object Engine {

  /** The reference's whole declared processing surface
    * (`config/config_dev.yaml:10-13`): group column, metric, top-N, IO paths.
    * `mode: streaming` (r12 verdict ask #8) routes the SAME three processing
    * knobs through the incrementally-maintained streaming board
    * (JobRunner.runStreaming) instead of the batch plan; the optional
    * event-time knobs bound streaming state by a watermark TTL
    * (Flagship.StateTtl) when the input carries an event-time column. */
  final case class JobConfig(
      env: String = "dev",
      inputPath: String = "",
      outputPath: String = "",
      groupByColumn: String = "region",
      targetMetric: String = "sales",
      topN: Int = 3,
      mode: String = "batch",
      eventTimeColumn: Option[String] = None,
      stateWindow: String = "90 days",
      stateDelay: String = "30 days")

  /** Minimal parser for the reference's 2-level YAML config shape
    * (`config/config_dev.yaml:1-13`) — flat `section:` / `  key: value`
    * pairs; no external YAML dependency. */
  def parseConfig(text: String): JobConfig = {
    var section = ""
    val kv = scala.collection.mutable.Map[String, String]()
    text.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#')
      if (line.trim.nonEmpty && line.contains(":")) {
        val indented = line.startsWith(" ") || line.startsWith("\t")
        val Array(k, v @ _*) = line.split(":", 2).map(_.trim)
        val value = v.headOption.getOrElse("").stripPrefix("\"").stripSuffix("\"")
        if (!indented) { if (value.isEmpty) section = k else kv(k) = value }
        else kv(s"$section.$k") = value
      }
    }
    JobConfig(
      env = kv.getOrElse("env", "dev"),
      inputPath = kv.getOrElse("input.path", ""),
      outputPath = kv.getOrElse("output.path", ""),
      groupByColumn = kv.getOrElse("processing.group_by_column", "region"),
      targetMetric = kv.getOrElse("processing.target_metric", "sales"),
      topN = kv.getOrElse("processing.top_n", "3").toInt,
      mode = kv.getOrElse("processing.mode", "batch"),
      eventTimeColumn = kv.get("processing.event_time_column").filter(_.nonEmpty),
      stateWindow = kv.getOrElse("processing.state_window", "90 days"),
      stateDelay = kv.getOrElse("processing.state_delay", "30 days"))
  }

  /** `local[N]` width: SPARK_GRAFT_CPUS, else every core of the host. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The unit in which Tungsten pages and broadcast blocks are allocated
    * for a JVM whose `Runtime.maxMemory` is `maxHeap`: the smallest power
    * of two S with S × 8192 ≥ Spark's unified memory pool, (heap − 300 MiB
    * reserved) × `spark.memory.fraction` 0.6. A task addresses at most
    * 8192 pages (TaskMemoryManager's page table), so at this size one task
    * can still hold the whole pool. S is 512 KiB at a 4 GiB heap, 1 MiB at
    * 7–8 GiB and 2 MiB at 24 GiB: below half a G1 region at each, so no
    * page or block is a humongous object. */
  def allocationUnit(maxHeap: Long): Long = {
    val pool = ((maxHeap - 300L * 1024 * 1024) * 0.6).toLong
    var s = 1L
    while (s * 8192 < pool) s <<= 1
    s
  }

  /** The one session builder of the engine: every main, tool and the test
    * suite go through it, so the correctness dump, the bench and the tests
    * run under the same resolved config. Shuffle width is `cores` (AQE
    * coalesces small shuffles back down). */
  def session(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val unitKb = allocationUnit(Runtime.getRuntime.maxMemory) >> 10
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.ts is parquet TIMESTAMP(NANOS): Spark 4 rejects it unless
      // read as long (Tables.apply converts it to a µs timestamp).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate's sort fallback threshold stays at Spark's
      // 128-key default: raising it regressed the unbounded-buffer
      // aggregations ~2x and bought the bounded topk_pairs buffers nothing
      // (A/B in BENCH_NOTES.md).
      .config("spark.ui.enabled", "false")
      // Each generated class is compiled once per JVM (CodegenReuseSpec).
      // Spark caches Janino classes per (class loader, source) in a Guava
      // cache whose size this static conf fixes when CodeGenerator first
      // initialises, so it only holds because every session is built here.
      // Spark's 100 entries (4 LRU segments of 25) are fewer than one
      // llm_batch pass compiles (154), so every pass recompiled every class
      // and the JIT never got one hot. Sizing, measured at sf0.01 local[4]:
      // the largest working set a runner repeats is perfbench's llm_batch
      // pass, 154 classes and 191 over six passes (AQE plan variants);
      // Bench's per-key loop peaks at 103 (q_stream_topn). x2 for
      // per-segment eviction, rounded up to a power of two: 512. The
      // 307-key battery (~4000 classes) is not held: Bench repeats a key,
      // not the battery.
      .config("spark.sql.codegen.cache.maxEntries", "512")
      // Artifact isolation gives every cloned session (one per streaming
      // query) its own class loader, hence its own cache keys: each run
      // recompiled byte-identical sources. The engine adds no artifacts.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // A whole-stage class is named after its codegen stage id, which AQE
      // hands out in stage completion order, so the same pipeline came back
      // under a new name and was compiled again: 3-20 new classes on each
      // of passes 2-5 of llm_batch, a cost that varied from pass to pass
      // and run to run. Without the id the source, hence the cache key, is
      // the same (0-6 per pass). Stack frames read GeneratedIterator.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Spark sizes these for a cluster: a 32 MiB Tungsten page at a 4 GiB
      // heap and local[4] (execution pool / cores / 16, next power of two)
      // and a 4 MiB chunk for every broadcast, every stage's task binary
      // included. Under G1 both are humongous objects zeroed in full to
      // hold kilobytes. In local mode broadcast pieces are never fetched
      // (the driver's block manager holds the value), so a small block
      // costs nothing. Both are static confs.
      .config("spark.buffer.pageSize", s"${unitKb}k")
      .config("spark.broadcast.blockSize", s"${unitKb}k")
      // Without libhadoop, the stock local file system forks a `chmod`
      // process for every file and directory a write creates.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Two loggers that would flood a finite log tail: MapPartitionsRDD
    // warns on every unpersist of a superseded localCheckpoint generation
    // (safe: a truncated lineage is never re-read), and WindowExec warns
    // "No Partition Defined" per evaluation of the allowlisted
    // bounded-domain windows, whose real guard is PlanSpec's fleet
    // bounded-window invariant.
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.sql.execution.window.WindowExec").foreach(
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.ERROR))
    spark
  }
}
