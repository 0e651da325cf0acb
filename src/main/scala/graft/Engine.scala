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

  /** The one session builder of the engine: every main, tool and the test
    * suite go through it, so the correctness dump, the bench and the tests
    * run under the same resolved config. Shuffle width is
    * SPARK_GRAFT_SHUFFLE_PARTITIONS, else `cores` (scale sweeps size it to
    * the corpus; AQE coalesces small shuffles back down). */
  def session(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(cores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
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
