package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
object Bench {
  /** Micro-batches a key ran: how many, the largest state-store row total
    * any one batch reported (summed over its stateful operators), and each
    * `durationMs` part (addBatch, queryPlanning, walCommit, ...) summed
    * over the batches. */
  private[graft] final case class StreamMetrics(
      batches: Int, stateRowsMax: Long, durationMs: Map[String, Long])

  /** What the cluster did between two [[Metrics.take]] calls. */
  private[graft] final case class KeyMetrics(
      scanRows: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
      stages: Int, tasks: Long, taskMs: Long, stream: Option[StreamMetrics])

  /** The one listener that measures what a key did. Per task: scan records
    * and shuffle bytes written. Per completed stage: its task count, summed
    * executor run time and shuffle bytes read. Per micro-batch: its
    * progress. (inputMetrics.bytesRead is not kept: the vectorized parquet
    * reader bypasses the Hadoop FileSystem statistics it is wired to, and
    * a 600k-row scan reads as 17 KB; byte volumes come from /proc/self/io.) */
  private[graft] final class Metrics(spark: SparkSession) extends SparkListener {
    private val zero = KeyMetrics(0L, 0L, 0L, 0, 0L, 0L, None)
    private var events = 0L
    private var m = zero

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) synchronized {
        events += 1
        m = m.copy(scanRows = m.scanRows + t.taskMetrics.inputMetrics.recordsRead,
          shuffleWriteBytes =
            m.shuffleWriteBytes + t.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      events += 1
      m = m.copy(stages = m.stages + 1, tasks = m.tasks + si.numTasks,
        taskMs = m.taskMs + si.taskMetrics.executorRunTime,
        shuffleReadBytes =
          m.shuffleReadBytes + si.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }

    private val progress = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = Metrics.this.synchronized {
        import scala.jdk.CollectionConverters._
        val p = e.progress
        val s = m.stream.getOrElse(StreamMetrics(0, 0L, Map.empty))
        events += 1
        m = m.copy(stream = Some(StreamMetrics(s.batches + 1,
          math.max(s.stateRowsMax, p.stateOperators.map(_.numRowsTotal).sum),
          p.durationMs.asScala.foldLeft(s.durationMs) { case (d, (k, v)) =>
            d.updated(k, d.getOrElse(k, 0L) + v) })))
      }
    }

    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(progress)

    /** The counters since the previous call. Listener-bus delivery is
      * async, so it first polls until no event has arrived for 50 ms. */
    def take(): KeyMetrics = {
      var prev = -1L; var cur = synchronized(events)
      while (cur != prev) { Thread.sleep(50); prev = cur; cur = synchronized(events) }
      synchronized {
        val out = m
        m = zero
        out
      }
    }
  }

  /** One key's last completed run: logical bytes read (rchar: every file
    * read incl. page-cache hits), physical bytes (read_bytes: storage
    * traffic, ~0 on a warmed corpus), the output row count and what
    * [[Metrics]] saw. */
  private[graft] final case class KeyRow(
      logicalBytes: Long, diskBytes: Long, rows: Long, metrics: KeyMetrics)

  /** (rchar, read_bytes) of this JVM: logical bytes through read syscalls
    * vs bytes actually fetched from storage (a page-cache hit counts in
    * the former only). Linux-specific; (0, 0) elsewhere. */
  private def procIo(): (Long, Long) = {
    val p = java.nio.file.Paths.get("/proc/self/io")
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val m = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(p)).asScala
        .map(_.split(":\\s*"))
        .collect { case Array(k, v) => k -> v.trim.toLong }.toMap
      (m.getOrElse("rchar", 0L), m.getOrElse("read_bytes", 0L))
    }
  }
  /** 1/5/15-minute load averages of the HOST (not this JVM) from
    * /proc/loadavg — the co-tenant-activity evidence every battery must
    * carry: identical-code batteries measured 156.9 s at load 0.03 vs
    * 209.2 s at load 2.95. Zeros off-Linux. */
  private def loadAvg(): Seq[Double] = {
    val p = java.nio.file.Paths.get("/proc/loadavg")
    if (!java.nio.file.Files.exists(p)) Seq(0.0, 0.0, 0.0)
    else java.nio.file.Files.readString(p).trim.split("\\s+").take(3)
      .map(_.toDouble).toSeq
  }

  /** (total, steal, busy) jiffies from /proc/stat's aggregate cpu line.
    * Steal is time the HYPERVISOR ran someone else while this VM was
    * runnable — the co-tenant signal load-avg can't see (load measures our
    * own run queue; steal measures the host taking the CPU away). Busy =
    * total − idle − iowait − steal: all IN-VM CPU consumption, ours + any
    * co-tenant process's. Steal is excluded so the two gates
    * measure DISJOINT signals — with it included, a run with steal just
    * under the 1% gate inflated cotenant_cores by up to ncpus/100 cores,
    * double-counting hypervisor time as in-VM co-tenant CPU. (Guest time
    * is already folded into user by /proc/stat, so it is NOT subtracted —
    * that would double-subtract.) (0,0,0) off-Linux. */
  private def cpuJiffies(): (Long, Long, Long) = {
    val p = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(p)) (0L, 0L, 0L)
    else {
      val cpu = java.nio.file.Files.readAllLines(p).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      val idle = if (cpu.length > 4) cpu(3) + cpu(4) else 0L
      val steal = if (cpu.length > 7) cpu(7) else 0L
      (cpu.sum, steal, cpu.sum - idle - steal)
    }
  }

  /** This JVM's own (utime + stime) jiffies from /proc/self/stat — what
    * busy-jiffies minus THIS gives is the CPU other in-VM processes burned
    * during the battery: a co-tenant arriving mid-run leaves start-load
    * quiet while inflating the tail ~10-14%. 0 off-Linux. */
  private def selfJiffies(): Long = {
    val p = java.nio.file.Paths.get("/proc/self/stat")
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      // comm (field 2) may contain spaces — parse after the closing paren.
      val s = java.nio.file.Files.readString(p)
      val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
      // overall fields are 1-indexed; rest(0) is field 3 → utime=14 is
      // rest(11), stime=15 is rest(12)
      rest(11).toLong + rest(12).toLong
    }
  }

  /** Overlay `updates` (key → raw JSON value text) onto a flat one-level
    * JSON object, preserving every existing key not updated. This is what
    * keeps single-query `SPARK_GRAFT_ONLY` runs from truncating the
    * full-battery BENCH_*.json files to the filtered keys.
    * Existing keys keep their position; new keys append.
    */
  def mergeJson(existing: String, updates: Seq[(String, String)]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(
      if (existing.trim.isEmpty) "{}" else existing)
    val kept = scala.collection.mutable.LinkedHashMap[String, String]()
    tree.fields().forEachRemaining(e => kept(e.getKey) = e.getValue.toString)
    updates.foreach { case (k, v) => kept(k) = v }
    kept.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}") + "\n"
  }

  /** Write `updates` to `path`: merged into the existing file when this is
    * a partial (filtered) run, full overwrite for a complete battery. */
  private def writeBenchFile(
      path: String, updates: Seq[(String, String)], partial: Boolean): Unit = {
    val p = java.nio.file.Paths.get(path)
    // A fresh SPARK_GRAFT_OUT dir is created, not a failed write: the
    // files are written before each metric line prints, so a missing dir
    // would kill the run with no line at all.
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val existing =
      if (partial && java.nio.file.Files.exists(p))
        java.nio.file.Files.readString(p)
      else "{}"
    java.nio.file.Files.writeString(p, mergeJson(existing, updates))
  }
  /** Headline queries reported per-query in the JSON line. The driver's log
    * tail is finite — emitting every query's timing overflows it and the
    * line no longer parses — so the line stays short: total over everything,
    * detail for the representative heavy set.
    */
  private val headline = Seq(
    "q_topn_flagship", "q_tpch_q3", "q_tpch_q5", "q_join_inner",
    "q_agg_hash", "q_window_rank", "q_topk", "q_session_window",
    "q_dedup_fuzzy", "q_dedup_ngram", "q_text_cooccur",
    "q_similarity_topk", "q_histogram_equidepth", "q_scan_parquet",
    "q_dedup_ngram_capped", "q_dedup_bloom", "q_agg_cms",
    "q_layout_zorder", "q_pipeline_e2e", "q_decontaminate")

  /** One full battery attempt's measurements + its ambient verdict. */
  private[graft] final case class Battery(
      results: Seq[(String, Double)],
      runsRaw: Seq[(String, Seq[Double])],
      failed: Seq[String],
      ioProfile: Seq[(String, KeyRow)],
      queryLoad: Map[String, Double],
      loadStart: Seq[Double], loadEnd: Seq[Double],
      stealPct: Double, cotenantCores: Double, loadOk: Boolean,
      waitedSec: Long, deferred: Boolean)

  /** What shaped a battery's timings, echoed into the line's `conf` block
    * so every artifact describes the run that produced it. */
  private[graft] final case class RunConf(
      sfDir: String, cpus: Int, shufflePartitions: Int,
      partial: Boolean, codegenCacheMaxEntries: Int,
      artifactIsolation: Boolean, pageSizeBytes: Long, broadcastBlockBytes: Long)

  /** One rendering of a run: the metric JSON line, each BENCH_*.json
    * file's (key → raw JSON value) entries, and the flagged regressions
    * as (key, seconds, baseline seconds, 1-min load at the key's end). */
  private[graft] final case class Report(
      line: String, files: Seq[(String, Seq[(String, String)])],
      regressions: Seq[(String, Double, Double, Double)])

  /** Render the best of `attempts` (`main` passes its one battery) —
    * load_ok first, then the lowest cotenant_cores, then the lowest
    * total. A key regresses against
    * `baseline` at > 1.5x AND > 0.2 s absolute (the floor keeps
    * millisecond noise on tiny keys out of the gate). A failed key is
    * excluded from the total and written as an explicit null, so a partial
    * run never keeps its stale timing from an earlier battery. */
  private[graft] def render(
      attempts: Seq[Battery], conf: RunConf, baseline: Map[String, Double]): Report = {
    val best = attempts.minBy(b =>
      (if (b.loadOk) 0 else 1, b.cotenantCores, b.results.map(_._2).sum))
    val results = scala.collection.immutable.ListMap(best.results: _*)
    def r3(v: Double): String = f"$v%.3f"
    val qs = headline.flatMap(k => results.get(k).map(v => s"\"$k\":${r3(v)}"))
      .mkString("{", ",", "}")
    val total = results.values.sum
    val failedJson = best.failed.map(k => s"\"$k\"").mkString("[", ",", "]")
    val regressions = results.toSeq.flatMap { case (k, cur) =>
      baseline.get(k).collect {
        case base if cur > 1.5 * base && cur - base > 0.2 =>
          (k, cur, base, best.queryLoad.getOrElse(k, 0.0))
      }
    }.sortBy { case (_, cur, base, _) => base - cur }
    // Each flag carries the 1-min load at its key's completion, so a flag
    // raised while a co-tenant ran annotates itself.
    val regJson = regressions.take(12)
      .map { case (k, cur, base, load) =>
        s"""\"$k\":[${r3(cur)},${r3(base)},${r3(load)}]""" }
      .mkString("{", ",", "}")
    def arr(v: Seq[Double]) = v.map(x => f"$x%.2f").mkString("[", ",", "]")
    val loadJson =
      s"""{"start":${arr(best.loadStart)},"end":${arr(best.loadEnd)},""" +
        f""""steal_pct":${best.stealPct}%.2f,"cotenant_cores":${best.cotenantCores}%.3f,""" +
        s""""waited_sec":${attempts.map(_.waitedSec).sum},"deferred":${best.deferred},""" +
        s""""attempts":${attempts.length},"load_ok":${best.loadOk}}"""
    val confJson =
      s"""{"cpus":${conf.cpus},"shuffle_partitions":${conf.shufflePartitions},""" +
        s""""partial":${conf.partial},""" +
        s""""codegen_cache_max_entries":${conf.codegenCacheMaxEntries},""" +
        s""""artifact_isolation":${conf.artifactIsolation},""" +
        s""""page_size_bytes":${conf.pageSizeBytes},""" +
        s""""broadcast_block_bytes":${conf.broadcastBlockBytes}}"""
    val line =
      s"""{"metric":"total_all_${results.size}_queries","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"regressions":$regJson,"load":$loadJson,"conf":$confJson,"sf":"${conf.sfDir}"}"""
    val files = Seq(
      "BENCH_LOCAL.json" -> (results.map { case (k, v) => k -> r3(v) }.toSeq ++
        best.failed.map(k => k -> "null")),
      // Every raw run per key, for drift-vs-noise analysis; a failed run
      // is null (NaN is not JSON).
      "BENCH_RUNS.json" -> best.runsRaw.map { case (k, ts) =>
        k -> ts.map(t => if (t.isNaN) "null" else r3(t)).mkString("[", ",", "]")
      },
      "BENCH_IO.json" -> best.ioProfile.map { case (k, r) => k -> ioJson(r) },
      // Per-key 1-min load at completion plus the battery-level block under
      // the reserved "_battery" key.
      "BENCH_LOAD.json" -> (best.queryLoad.toSeq.map { case (k, v) => k -> f"$v%.2f" } :+
        ("_battery" -> loadJson)))
    Report(line, files, regressions)
  }

  /** Timed runs of a key whose untimed warm-up took `warmupWallS` seconds;
    * the key reports their median. A key of 0.5 s or more runs 5 times:
    * single-run stalls of 3-12 s on heavy keys (steal and writeback bursts
    * that never reproduce in isolation) corrupt a 3-run median with two
    * inflated runs, a 5-run median rejects them. A cheaper key runs 7
    * times: its in-battery context varies 2-3x, and the extra samples cost
    * seconds. A failed warm-up (NaN) sizes nothing: 3 runs. */
  private[graft] def runCount(warmupWallS: Double): Int =
    if (warmupWallS.isNaN) 3 else if (warmupWallS < 0.5) 7 else 5

  /** One key's BENCH_IO.json row; `stream` only for keys that ran
    * micro-batches. */
  private def ioJson(r: KeyRow): String = {
    def mb(b: Long, digits: Int) = s"%.${digits}f".format(b / 1048576.0)
    val m = r.metrics
    val stream = m.stream.fold("") { s =>
      val parts = s.durationMs.toSeq.sorted.map { case (k, v) => s"\"$k\":$v" }
      s""","stream":{"batches":${s.batches},"state_rows_max":${s.stateRowsMax},""" +
        s""""duration_ms":${parts.mkString("{", ",", "}")}}"""
    }
    s"""{"logical_mb":${mb(r.logicalBytes, 1)},"disk_mb":${mb(r.diskBytes, 1)},""" +
      s""""scan_rows":${m.scanRows},"rows":${r.rows},""" +
      s""""shuffle_write_mb":${mb(m.shuffleWriteBytes, 2)},""" +
      s""""shuffle_read_mb":${mb(m.shuffleReadBytes, 2)},""" +
      s""""stages":${m.stages},"tasks":${m.tasks},"task_ms":${m.taskMs}$stream}"""
  }

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_WAIT_QUIET=<minutes>: poll for a quiet start (1-min
    // load ≤ 0.15) up to the deadline before running, so an attended
    // battery can outwait a co-tenant window instead of burning 20 minutes
    // producing an untrusted artifact. Unset — the driver's unattended
    // runs — means no wait; a deadline hit runs anyway and the artifact
    // marks itself "deferred".
    val waitQuietMin = sys.env.get("SPARK_GRAFT_WAIT_QUIET")
      .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(0.0)
    /** Poll for a quiet 1-min load up to `min` minutes; returns seconds
      * actually waited. The 0.15 threshold matches the load_ok gate. */
    def waitQuiet(min: Double): Long = {
      var waited = 0L
      if (min > 0) {
        val deadline = System.nanoTime() + (min * 60e9).toLong
        while (loadAvg().head > 0.15 && System.nanoTime() < deadline) {
          Thread.sleep(15000); waited += 15
        }
      }
      waited
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-bench")
    val metrics = new Metrics(spark)
    // Warm the session once (JIT, codegen cache, parquet footers) so the
    // first measured query doesn't absorb JVM startup; its metrics are
    // dropped so the first key is not charged with them.
    Tables.names.foreach(n => Tables(spark, sfDir, n).count())
    metrics.take()
    // Optional comma-separated filter for local single-query profiling;
    // the driver never sets it, so round benches always cover everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])

    /** One complete battery pass over the (filtered) query set, with its
      * own ambient capture. Each key reports the median of [[runCount]]
      * timed runs: single-shot local timings vary ±20% with system noise,
      * and the median rejects one-off outliers where best-of-N hides
      * genuine regressions behind one lucky run. Failure-loud: a query that
      * throws must not silently benchmark as a fast success and deflate the
      * total — failed keys are excluded from the total and surfaced in the
      * JSON line. */
    def attemptBattery(waitedSecIn: Long, deferredIn: Boolean): Battery = {
      // Ambient evidence FIRST — before the per-query work spins our own
      // threads up, so "start" measures the co-tenant, not this JVM's ramp
      // (the load_ok gate keys off it).
      val loadStart = loadAvg()
      val (jifT0, jifS0, jifB0) = cpuJiffies()
      val selfJif0 = selfJiffies()
      val wallNs0 = System.nanoTime()
      val failed = scala.collection.mutable.LinkedHashSet[String]()
      // Last completed run's row per query. Logical bytes, rows and the
      // listener counters are plan-deterministic; physical bytes depend on
      // the page-cache state — on a warmed corpus they go to ~0, which is
      // itself the measurement.
      val ioProfile = scala.collection.mutable.LinkedHashMap[String, KeyRow]()
      // Every run ends with a metrics.take(), which also drains the bus for
      // the next run: the cleanup between runs starts no Spark task.
      def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
        val (rchar0, disk0) = procIo()
        val t0 = System.nanoTime()
        val rows =
          try Some(fn(spark, sfDir).count())
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[bench] QUERY FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
              failed += name
              None
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // Close the I/O capture before the cleanup below, so the reaper's
        // deletes are never charged to this key's BENCH_IO.json row.
        val m = metrics.take()
        val (rchar1, disk1) = procIo()
        // Query isolation, outside the timed region: the query's cached and
        // checkpointed blocks must not bleed memory pressure into the next
        // measurement, and timeOnce never re-reads a plan across runs.
        Tables.releaseAll(spark)
        // Reap the previous run's renamed scratch tree synchronously, in
        // the untimed window: deletes never overlap a measurement.
        Scratch.reapTombstones()
        rows.fold(Double.NaN) { n =>
          ioProfile(name) = KeyRow(rchar1 - rchar0, disk1 - disk0, n, m)
          sec
        }
      }
      // Per-query 1-minute load at each query's completion (BENCH_LOAD.json)
      // — conflates our own threads with the co-tenant's, so it's triage
      // evidence, not a verdict; the battery-level start/steal capture
      // above is the clean ambient signal.
      val queryLoad = scala.collection.mutable.LinkedHashMap[String, Double]()
      val runs = SparkEntry.queries
        .filter { case (name, _) => only.isEmpty || only(name) }
        .map { case (name, fn) =>
        // In-battery drift control: a full GC at each query boundary stops
        // the previous queries' garbage from being collected INSIDE the next
        // measurement (q_join_inner measured 0.445 s in-battery vs 0.267 s
        // isolated without it). Outside the timed region; methodology in
        // BENCH_NOTES.md.
        System.gc()
        // One untimed warmup per query: the first execution of a plan absorbs
        // JIT + codegen compilation (measured up to 3.6x skew on run 1),
        // which is startup cost, not operator cost. Its wall sizes the run
        // count.
        val warm = timeOnce(name, fn)
        val ts = Seq.fill(runCount(warm))(timeOnce(name, fn))
        queryLoad(name) = loadAvg().head
        name -> ts
      }
      val results = runs
        .map { case (name, ts) => name -> ts.sorted.apply(ts.length / 2) }
        .filter { case (name, _) => !failed.contains(name) }
      val loadEnd = loadAvg()
      val (jifT1, jifS1, jifB1) = cpuJiffies()
      val stealPct =
        if (jifT1 > jifT0) 100.0 * (jifS1 - jifS0) / (jifT1 - jifT0) else 0.0
      // Average CPU cores burned by OTHER in-VM processes across the whole
      // battery: (busy − our own utime+stime) / wall. Unlike start-load this
      // integrates over the run, so a co-tenant arriving mid-battery is
      // caught; unlike end-load it does
      // not count our own threads. USER_HZ = 100 on Linux. Quiet-machine
      // background daemons measure ~0.02-0.05 cores; a co-tenant burst is
      // multiple cores — gate at 0.25.
      val wallSec = (System.nanoTime() - wallNs0) / 1e9
      val cotenantCores =
        if (wallSec > 0)
          math.max(0.0, ((jifB1 - jifB0) - (selfJiffies() - selfJif0)) / (wallSec * 100.0))
        else 0.0
      // load_ok is the machine-readable quiet-window verdict: start load
      // essentially idle, bounded hypervisor steal, and no in-VM co-tenant
      // CPU at any point DURING the battery. Steal threshold: with the
      // gates DISJOINT (busy excludes steal), a fully-idle VM still measured 1.5% steal
      // on this host — a persistent ambient floor, not a burst — and
      // steal's wall impact on CPU-bound work is bounded by
      // steal/(100−steal) ≈ 3% at the 3.0 threshold, far under the ±20%
      // run noise the median already absorbs. The 10-50% distortions the
      // gate exists for are IN-VM co-tenants (156.9 s vs 209.2 s),
      // which cotenant_cores catches directly. Raw steal_pct stays in the
      // artifact, so a reader can always apply a stricter bar post hoc.
      val loadOk = loadStart.head <= 0.15 && stealPct <= 3.0 && cotenantCores <= 0.25
      Battery(results.toSeq, runs.toSeq, failed.toSeq, ioProfile.toSeq,
        queryLoad.toMap, loadStart, loadEnd, stealPct, cotenantCores, loadOk,
        waitedSecIn, deferredIn)
    }

    val conf = RunConf(sfDir, spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      partial = only.nonEmpty,
      codegenCacheMaxEntries =
        spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt,
      artifactIsolation =
        spark.conf.get("spark.sql.artifact.isolation.enabled").toBoolean,
      pageSizeBytes = spark.sparkContext.getConf.getSizeAsBytes("spark.buffer.pageSize"),
      broadcastBlockBytes =
        spark.sparkContext.getConf.getSizeAsKb("spark.broadcast.blockSize") * 1024)
    // The committed per-key baseline for the regression gate — only
    // meaningful for the canonical sf0.1 battery (at another scale factor
    // every key would flag). Resolved against the working directory,
    // which is the checkout's root under `sbt run`.
    val baselinePath = java.nio.file.Paths.get("BENCH_BASELINE.json")
    val baseline: Map[String, Double] =
      if (!sfDir.endsWith("sf0.1") || !java.nio.file.Files.exists(baselinePath)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(baselinePath))
          .fields().asScala.filter(_.getValue.isNumber)
          .map(e => e.getKey -> e.getValue.asDouble()).toMap
      }
    // Where the BENCH_*.json files go: the working directory unless a run
    // keeps its artifacts apart from the committed battery files.
    val outDir = sys.env.getOrElse("SPARK_GRAFT_OUT", ".")
    // One battery per run, no retry: a full battery takes 25-31 min, so a
    // retry after a gate failure would double the run's wall. The line
    // ships with its load evidence instead.
    val waited = waitQuiet(waitQuietMin)
    val deferred = waitQuietMin > 0 && loadAvg().head > 0.15
    val report = render(Seq(attemptBattery(waited, deferred)), conf, baseline)
    report.files.foreach { case (name, updates) =>
      writeBenchFile(s"$outDir/$name", updates, conf.partial)
    }
    // Print as soon as the battery ends, so a run killed during shutdown
    // still leaves a parseable line behind.
    println(report.line)
    report.regressions.foreach { case (k, cur, base, load) =>
      System.err.println(
        f"[bench] REGRESSION $k: $cur%.3f s vs baseline $base%.3f s " +
          f"(load1m at query $load%.2f)") }
    // Quiesce-then-print: streaming keys leave state-store providers
    // registered, and their async maintenance pool racing spark.stop()
    // prints a stack trace. Stop that pool FIRST, then the session, and
    // only then print the metric line again — the contract is that the
    // JSON line is the LAST parseable stdout line of the run.
    scala.util.Try(
      org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    scala.util.Try(spark.stop())
    println(report.line)
  }
}
