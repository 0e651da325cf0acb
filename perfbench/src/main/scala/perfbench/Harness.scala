package perfbench

import graft.{Engine, JobRunner, SparkEntry}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The benchmark's engine-side driver: one JVM, one Spark session at
  * `local[N]`, one client in a closed loop. A pass runs every step of the
  * workload once, one at a time, in a seeded order; a step is either a
  * `SparkEntry.queries` key (timed from the call to the collected result) or
  * run of the config-driven `JobRunner` job, in the mode its YAML names
  * (timed from reading the YAML to the written parquet).
  *
  * Warm passes run until two consecutive passes agree within
  * [[SteadyTolerance]] (or the warm budget runs out); then timed passes run
  * for the requested seconds. In a traced run the timed passes alternate
  * between untraced and traced, so the tracing overhead is measured in the
  * same process. Raw samples go to `<out>/result.json`; the Python runner
  * turns them into metrics and checks the written outputs.
  *
  * Usage: `perfbench.Harness --corpus DIR --configs Y1[,Y2] --keys k1,k2
  * --seed N --seconds S --warm-max-s S --trace 0|1 --cores N --out DIR`
  */
object Harness {
  val SteadyTolerance = 0.05
  val MinWarmPasses = 3
  val MinTimedPasses = 3

  /** One step's result. `startMs` and `endMs` are the wall clock at the
    * start of the build and the end of the action, on the clock Spark's
    * scheduler stamps its job events with. */
  final case class StepOut(
      seconds: Double, buildMs: Double, actionMs: Double, startMs: Long, endMs: Long,
      rows: Long, hash: String, extra: Map[String, Double])

  final case class Step(name: String, run: () => StepOut)

  private def procIo(): Map[String, Long] = {
    val p = Paths.get("/proc/self/io")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.map(_.split(":\\s*"))
      .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
  }

  private def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Sum of the heap pools' peak usage since the JVM started. */
  private def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)

  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def files(dir: Path): Set[Path] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).iterator().asScala.toSet finally s.close()
    }

  private def dirBytes(dir: Path): Double =
    if (!Files.isDirectory(dir)) 0.0
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).iterator().asScala.map(Files.size(_).toDouble).sum
      finally s.close()
    }

  /** Order-insensitive 64-bit digest of a result's rows. */
  def rowsHash(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val s = r.toString
      acc += (scala.util.hashing.MurmurHash3.stringHash(s, 1).toLong << 32) |
        (scala.util.hashing.MurmurHash3.stringHash(s, 2).toLong & 0xffffffffL)
    }
    f"${rows.length}%d:$acc%016x"
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case x => x.toString
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val corpus = args("corpus")
    val configs = args("configs").split(",").filter(_.nonEmpty).toSeq
    val keys = args("keys").split(",").filter(_.nonEmpty).toSeq
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val warmMax = args("warm-max-s").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val out = Paths.get(args("out"))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

    val s0 = System.nanoTime()
    val spark = Engine.session(appName = "perfbench", cores = cores)
    val sessionMs = (System.nanoTime() - s0) / 1e6
    // The iterative operators unpersist superseded checkpoint generations and
    // bounded windows warn per evaluation; both would flood the log.
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.sql.execution.window.WindowExec").foreach(
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.ERROR))

    val queries = SparkEntry.queries
    val lastRows = mutable.Map[String, (Array[Row], StructType)]()

    def keyStep(name: String): Step = Step(name, () => {
      val fn = queries(name)
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = fn(spark, corpus)
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      val m2 = System.currentTimeMillis()
      lastRows(name) = (rows, df.schema)
      StepOut((t2 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6, m0, m2,
        rows.length.toLong, rowsHash(rows), Map.empty)
    })

    /** The job as `JobRunner.main` runs it: parse the YAML, build the board
      * for the configured mode, write it. Named `job_<mode>`. */
    def jobStep(configPath: String): Step = {
      val text = Files.readString(Paths.get(configPath))
      Step(s"job_${Engine.parseConfig(text).mode}", () => {
        val m0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val cfg = Engine.parseConfig(Files.readString(Paths.get(configPath)))
        val board =
          if (cfg.mode == "streaming") JobRunner.runStreaming(spark, cfg)
          else JobRunner.run(spark.read.parquet(cfg.inputPath), cfg)
        val t1 = System.nanoTime()
        board.write.mode("overwrite").parquet(cfg.outputPath)
        val t2 = System.nanoTime()
        val m2 = System.currentTimeMillis()
        StepOut((t2 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6, m0, m2, 0L, "",
          Map("JobRunner.run_ms" -> (t1 - t0) / 1e6,
            "JobRunner.write_ms" -> (t2 - t1) / 1e6,
            "JobRunner.output_bytes" -> dirBytes(Paths.get(cfg.outputPath))))
      })
    }

    val steps = configs.map(jobStep) ++ keys.map(keyStep)
    val trace = new LayerTrace(spark)
    val failures = mutable.LinkedHashMap[String, String]()
    val hashes = mutable.Map[String, mutable.Set[String]]()
    var passNo = 0

    /** One pass over every step in a seeded order. With `withTrace`, each
      * step also reports its layer counters and process I/O. */
    def pass(withTrace: Boolean): Map[String, Any] = {
      passNo += 1
      val order = new scala.util.Random(seed * 1000 + passNo).shuffle(steps)
      if (withTrace) trace.attach()
      val cpu0 = cpuSeconds()
      val results = order.map { st =>
        val io0 = if (withTrace) procIo() else Map.empty[String, Long]
        val files0 = if (withTrace) files(tmp) else Set.empty[Path]
        val w0 = System.currentTimeMillis()
        val (res, span): (Map[String, Any], Option[(Long, Long)]) =
          try {
            val o = st.run()
            hashes.getOrElseUpdate(st.name, mutable.Set()) += o.hash
            (Map("ok" -> true, "s" -> o.seconds, "build_ms" -> o.buildMs,
              "action_ms" -> o.actionMs, "rows" -> o.rows, "hash" -> o.hash) ++ o.extra,
              Some((o.startMs, o.endMs)))
          } catch {
            case NonFatal(e) =>
              failures(st.name) = s"${e.getClass.getName}: ${e.getMessage}"
              System.err.println(s"[perfbench] step ${st.name} failed: ${failures(st.name)}")
              (Map("ok" -> false), None)
          }
        val w1 = System.currentTimeMillis()
        val layers: Map[String, Any] =
          if (!withTrace) Map.empty
          else {
            val (from, to) = span.getOrElse((w0, w1))
            val (counters, triggers) = trace.take(from, to)
            val io1 = procIo()
            Map("layers" -> (counters ++ Map(
              "Tables.read_bytes" -> (io1.getOrElse("rchar", 0L) - io0.getOrElse("rchar", 0L)).toDouble,
              "Scratch.write_bytes" -> (io1.getOrElse("wchar", 0L) - io0.getOrElse("wchar", 0L)).toDouble,
              "Scratch.files" -> (files(tmp) -- files0).size.toDouble)),
              "triggers_ms" -> triggers)
          }
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        st.name -> (res ++ layers)
      }
      val cpu = cpuSeconds() - cpu0
      if (withTrace) trace.detach()
      Map("traced" -> withTrace, "cpu_s" -> cpu, "steps" -> results.toMap,
        "order" -> order.map(_.name))
    }

    def passSeconds(p: Map[String, Any]): Double =
      p("steps").asInstanceOf[Map[String, Map[String, Any]]].values
        .map(s => s.getOrElse("s", 0.0).asInstanceOf[Double]).sum

    // Warm passes: the first one is traced only to count the rows a pass
    // scans (a fixed property of the inputs), never timed.
    val warm = mutable.ArrayBuffer[Map[String, Any]]()
    val warmStart = System.nanoTime()
    def warmTimes = warm.map(passSeconds).toSeq
    def steady: Boolean = warmTimes.size >= MinWarmPasses && {
      val Seq(a, b) = warmTimes.takeRight(2)
      math.abs(b - a) <= SteadyTolerance * a
    }
    while (warm.size < MinWarmPasses ||
        (!steady && (System.nanoTime() - warmStart) / 1e9 < warmMax))
      warm += pass(withTrace = warm.isEmpty)
    val scanRows = warm.head("steps").asInstanceOf[Map[String, Map[String, Any]]].values
      .flatMap(_.get("layers")).map(_.asInstanceOf[Map[String, Double]]("Tables.scan_rows")).sum

    val setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val timed = mutable.ArrayBuffer[Map[String, Any]]()
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    // Traced runs interleave untraced and traced passes as U T T U ..., so a
    // pass-to-pass drift cancels out of the tracing overhead.
    val minTimed = if (traced) 4 else MinTimedPasses
    while (timed.size < minTimed || elapsed < seconds)
      timed += pass(withTrace = traced && Set(1, 2).contains(timed.size % 4))
    val measuredS = elapsed

    // Outputs of the last pass, for the runner's oracle checks.
    lastRows.foreach { case (k, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve("keys").resolve(k).toString)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    val inconsistent = hashes.collect { case (k, hs) if hs.size > 1 => k }.toSeq
    val result = Map(
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "session_ms" -> sessionMs,
      "setup_s" -> setupS,
      "warm_s" -> warmTimes,
      "steady" -> steady,
      "scan_rows_per_pass" -> scanRows,
      "measured_s" -> measuredS,
      "passes" -> timed.toSeq,
      "failures" -> failures,
      "inconsistent" -> inconsistent,
      "oracle_sql" -> oracle,
      "peak_rss_mb" -> peakRssMb(),
      "heap_peak_mb" -> heapPeakMb())
    scala.util.Try(org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    spark.stop()
    Files.writeString(out.resolve("result.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(toJava(result)))
  }
}
