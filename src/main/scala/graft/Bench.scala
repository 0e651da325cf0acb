package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Accumulates scan-input record counts across all tasks — the work
    * proxy for the per-query IO decomposition. (inputMetrics.BYTESREAD is
    * useless here: the vectorized parquet reader's data path bypasses the
    * Hadoop FileSystem statistics it is wired to — measured 17 KB
    * "read" for a 600k-row scan — so byte volumes come from
    * /proc/self/io instead, which also splits LOGICAL reads (rchar)
    * from PHYSICAL storage reads (read_bytes): exactly the
    * page-cache-regime evidence the scale sweeps need.) */
  private final class InputRecordsListener extends org.apache.spark.scheduler.SparkListener {
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    /** Listener-bus delivery is async; poll until the counter is stable. */
    def settled(): Long = {
      var prev = -1L; var cur = records.get()
      while (cur != prev) { Thread.sleep(50); prev = cur; cur = records.get() }
      cur
    }
  }

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
    * carry (r10 verdict ask #1: identical-code batteries measured 156.9 s
    * at load 0.03 vs 209.2 s at load 2.95, and nothing in the artifacts
    * recorded which regime a run happened in). Zeros off-Linux. */
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
    * co-tenant process's. Steal is excluded (ADVICE r12) so the two gates
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
    * during the battery, the mid-run-co-tenant-arrival signal the r11
    * battery-A creep demonstrated start-load can't see (ADVICE r11: a
    * co-tenant arriving mid-run left load_ok=true while inflating the
    * tail ~10-14%). 0 off-Linux. */
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
    * keeps single-query `SPARK_GRAFT_ONLY`/`SPARK_GRAFT_SKIP` runs from
    * truncating the full-battery BENCH_LOCAL.json/BENCH_RUNS.json to a
    * one-entry file (which shipped two broken commits in round 7 — the
    * merge makes the artifact safe by construction, not by operator
    * discipline). Existing keys keep their position; new keys append.
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
    * tail is finite — emitting all ~80 query timings overflowed it in round 1
    * ("parsed": null), so the line stays short: total over everything,
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
      ioProfile: Seq[(String, (Long, Long, Long))],
      queryLoad: Map[String, Double],
      loadStart: Seq[Double], loadEnd: Seq[Double],
      stealPct: Double, cotenantCores: Double, loadOk: Boolean,
      waitedSec: Long, deferred: Boolean)

  /** What shaped a battery's timings, echoed into the line's `conf` block
    * so every artifact describes the run that produced it. */
  private[graft] final case class RunConf(
      sfDir: String, cpus: Int, shufflePartitions: Int, runs: Int,
      warmup: Boolean, partial: Boolean, codegenCacheMaxEntries: Int,
      artifactIsolation: Boolean, pageSizeBytes: Long, broadcastBlockBytes: Long)

  /** One rendering of a run: the metric JSON line, each BENCH_*.json
    * file's (key → raw JSON value) entries, and the flagged regressions
    * as (key, seconds, baseline seconds, 1-min load at the key's end). */
  private[graft] final case class Report(
      line: String, files: Seq[(String, Seq[(String, String)])],
      regressions: Seq[(String, Double, Double, Double)])

  /** Render the best attempt so far — load_ok first, then the lowest
    * cotenant_cores, then the lowest total. A key regresses against
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
        s""""runs":${conf.runs},"warmup":${conf.warmup},"partial":${conf.partial},""" +
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
      // Logical MB (rchar: every file read incl. page-cache hits),
      // physical MB (read_bytes: storage traffic, ~0 on a warmed corpus)
      // and scan records per key.
      "BENCH_IO.json" -> best.ioProfile.map { case (k, (rc, db, n)) =>
        k -> (f"""{"logical_mb":${rc / 1048576.0}%.1f,""" +
          f""""disk_mb":${db / 1048576.0}%.1f,"scan_rows":$n}""")
      },
      // Per-key 1-min load at completion plus the battery-level block under
      // the reserved "_battery" key.
      "BENCH_LOAD.json" -> (best.queryLoad.toSeq.map { case (k, v) => k -> f"$v%.2f" } :+
        ("_battery" -> loadJson)))
    Report(line, files, regressions)
  }

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_WAIT_QUIET=<minutes> (r11 verdict ask #7): poll for a
    // quiet start (1-min load ≤ 0.15) up to the deadline before running,
    // so an attended battery can outwait a co-tenant window instead of
    // burning 20 minutes producing an untrusted artifact. Unset — the
    // driver's unattended runs — means no wait on attempt 1; a deadline
    // hit runs anyway and the artifact marks itself "deferred".
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
    // SPARK_GRAFT_STREAM_METRICS=1 (scale sweeps only): print one stderr
    // line per micro-batch with input rows, watermark, and per-operator
    // state rows — the evidence that streaming state is O(keys), not
    // O(input), when the decade rows are recorded (r10 verdict ask #6).
    if (sys.env.get("SPARK_GRAFT_STREAM_METRICS").contains("1"))
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val ops = p.stateOperators.map(so =>
            s"${so.operatorName}:rows=${so.numRowsTotal},upd=${so.numRowsUpdated}," +
              s"late=${so.numRowsDroppedByWatermark},mem=${so.memoryUsedBytes}")
            .mkString(" ")
          // durationMs decomposes the trigger wall (addBatch = plan+execute,
          // walCommit/commitOffsets = checkpoint metadata fsyncs, ...) — the
          // r13 evidence for where the streaming family's fixed per-batch
          // overhead actually goes.
          val dur = {
            import scala.jdk.CollectionConverters._
            p.durationMs.asScala.toSeq.sortBy(-_._2)
              .map { case (k, v) => s"$k=$v" }.mkString(",")
          }
          System.err.println(s"[stream] batch=${p.batchId} in=${p.numInputRows} " +
            s"wm=${p.eventTime.get("watermark")} $ops dur[$dur]")
        }
      })
    // Warm the session once (JIT, codegen cache, parquet footers) so the
    // first measured query doesn't absorb JVM startup.
    Tables.names.foreach(n => Tables(spark, sfDir, n).count())
    val ioListener = new InputRecordsListener
    spark.sparkContext.addSparkListener(ioListener)
    // Optional comma-separated filter for local single-query profiling;
    // the driver never sets it, so round benches always cover everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // Scale-sweep knobs (never set by the driver, so round benches keep the
    // warmup + median methodology): SPARK_GRAFT_RUNS=1 makes the big-SF
    // full-battery pass affordable (a 100x corpus would otherwise execute
    // every query 4x); SPARK_GRAFT_WARMUP=0 drops the untimed warmup;
    // SPARK_GRAFT_SKIP excludes queries whose exact variant is
    // test-scale-by-design (q_dedup_embed's within-label all-pairs — the
    // documented scale path is the LSH/IVF/PQ family).
    val nRunsEnv = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt)
    val nRuns = nRunsEnv.getOrElse(3)
    val warmup = sys.env.get("SPARK_GRAFT_WARMUP").forall(_ != "0")
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])

    /** One complete battery pass over the (filtered) query set, with its
      * own ambient capture. Median-of-3 per query — single-shot local
      * timings vary ±20% with system noise; the median rejects one-off
      * outliers where best-of-N hides genuine regressions behind one lucky
      * run. Sub-0.5 s keys get median-of-7 (r12 verdict ask #7: the
      * rotating ambient regression flags concentrate in <0.5 s keys whose
      * in-battery context differs 2-3× from isolated runs — more samples
      * shrink the flag list to genuinely suspicious keys; total cost is a
      * few minutes since the keys are by definition cheap). Failure-loud
      * (round-5 verdict ask #3): a query that throws must not silently
      * benchmark as a fast success and deflate the total — failed keys are
      * excluded from the total and surfaced in the JSON line. */
    def attemptBattery(waitedSecIn: Long, deferredIn: Boolean): Battery = {
      // Ambient evidence FIRST — before the per-query work spins our own
      // threads up, so "start" measures the co-tenant, not this JVM's ramp
      // (the load_ok gate keys off it).
      val loadStart = loadAvg()
      val (jifT0, jifS0, jifB0) = cpuJiffies()
      val selfJif0 = selfJiffies()
      val wallNs0 = System.nanoTime()
      val failed = scala.collection.mutable.LinkedHashSet[String]()
      // Last completed run's IO profile per query: (logical bytes, physical
      // bytes, scan records). Logical bytes and records are plan-
      // deterministic; physical bytes depend on the page-cache state — on a
      // warmed corpus they go to ~0, which is itself the measurement.
      val ioProfile = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long)]()
      def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
        ioListener.settled(); ioListener.records.set(0L)
        val (rchar0, disk0) = procIo()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[bench] QUERY FAILED $name: ${e.getClass.getName}: ${e.getMessage}")
              failed += name
              false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // Close the I/O capture before the cleanup below, so the reaper's
        // deletes are never charged to this key's BENCH_IO.json row.
        val recs = ioListener.settled()
        val (rchar1, disk1) = procIo()
        // Query isolation, outside the timed region: the query's cached and
        // checkpointed blocks must not bleed memory pressure into the next
        // measurement, and timeOnce never re-reads a plan across runs.
        Tables.releaseAll(spark)
        // Reap the previous run's renamed scratch tree synchronously, in
        // the untimed window: deletes never overlap a measurement.
        Scratch.reapTombstones()
        if (ok) {
          ioProfile(name) = (rchar1 - rchar0, disk1 - disk0, recs)
          sec
        } else Double.NaN
      }
      // Per-query 1-minute load at each query's completion (BENCH_LOAD.json)
      // — conflates our own threads with the co-tenant's, so it's triage
      // evidence, not a verdict; the battery-level start/steal capture
      // above is the clean ambient signal (r10 verdict ask #1).
      val queryLoad = scala.collection.mutable.LinkedHashMap[String, Double]()
      val runs = SparkEntry.queries
        .filter { case (name, _) => (only.isEmpty || only(name)) && !skip(name) }
        .map { case (name, fn) =>
        // In-battery drift control (round-5 verdict ask #5): a full GC at
        // each query boundary stops the previous queries' garbage from being
        // collected INSIDE the next measurement — the r5 signature where
        // q_join_inner measured 0.445 s in-battery vs 0.267 s isolated.
        // Outside the timed region; methodology in BENCH_NOTES.md.
        System.gc()
        // One untimed warmup per query: the first execution of a plan absorbs
        // JIT + codegen compilation (measured up to 3.6x skew on run 1),
        // which is startup cost, not operator cost. Its wall also sizes the
        // run count: sub-0.5 s keys → 7 runs (ask #7), unless the sweep
        // pinned SPARK_GRAFT_RUNS explicitly.
        val w = if (warmup) timeOnce(name, fn) else Double.NaN
        // r13: ≥0.5 s keys run median-of-5 (was 3). The first certified
        // battery exposed single-run stalls of 3-12 s on heavy keys
        // (q_stream_topn runs [4.97, 8.43, 17.62], q_dedup_minhash_audit
        // [2.81, 9.49, 1.70] — transient steal/writeback bursts, all
        // non-reproducing in isolation); a 3-run median is corrupted by
        // TWO inflated runs, a 5-run median rejects them. Measured excess
        // of median over per-key min across the certified battery's 3-run
        // keys: 23.7 s — more than any single operator optimization on
        // the board. Costs ~+5 min battery wall (the affected keys sum
        // ~150 s/run). Sub-0.5 s keys keep the r12 median-of-7.
        val runCount =
          if (warmup && nRunsEnv.isEmpty && !w.isNaN) (if (w < 0.5) 7 else 5)
          else nRuns
        val ts = Seq.fill(runCount)(timeOnce(name, fn))
        queryLoad(name) = loadAvg().head
        name -> ts
      }
      val results = runs
        .map { case (name, ts) =>
          // true median: average the two middle elements for even run
          // counts (upper-middle alone biases even-run sweeps upward)
          val s = ts.sorted
          val mid = s.length / 2
          name -> (if (s.length % 2 == 1) s(mid) else (s(mid - 1) + s(mid)) / 2.0)
        }
        .filter { case (name, _) => !failed.contains(name) }
      val loadEnd = loadAvg()
      val (jifT1, jifS1, jifB1) = cpuJiffies()
      val stealPct =
        if (jifT1 > jifT0) 100.0 * (jifS1 - jifS0) / (jifT1 - jifT0) else 0.0
      // Average CPU cores burned by OTHER in-VM processes across the whole
      // battery: (busy − our own utime+stime) / wall. Unlike start-load this
      // integrates over the run, so a co-tenant arriving mid-battery (the
      // r11 battery-A creep, ADVICE r11) is caught; unlike end-load it does
      // not count our own threads. USER_HZ = 100 on Linux. Quiet-machine
      // background daemons measure ~0.02-0.05 cores; a co-tenant burst is
      // multiple cores — gate at 0.25.
      val wallSec = (System.nanoTime() - wallNs0) / 1e9
      val cotenantCores =
        if (wallSec > 0)
          math.max(0.0, ((jifB1 - jifB0) - (selfJiffies() - selfJif0)) / (wallSec * 100.0))
        else 0.0
      // load_ok is the machine-readable quiet-window verdict the r10 verdict
      // asked for: start load essentially idle, bounded hypervisor steal,
      // and no in-VM co-tenant CPU at any point DURING the battery (r12).
      // Steal threshold recalibrated r13: with the gates now DISJOINT
      // (busy excludes steal), a fully-idle VM still measured 1.5% steal
      // on this host — a persistent ambient floor, not a burst — and
      // steal's wall impact on CPU-bound work is bounded by
      // steal/(100−steal) ≈ 3% at the 3.0 threshold, far under the ±20%
      // run noise the median already absorbs. The 10-50% distortions the
      // gate exists for are IN-VM co-tenants (r10: 156.9 s vs 209.2 s),
      // which cotenant_cores catches directly. Raw steal_pct stays in the
      // artifact, so a reader can always apply a stricter bar post hoc.
      val loadOk = loadStart.head <= 0.15 && stealPct <= 3.0 && cotenantCores <= 0.25
      Battery(results.toSeq, runs.toSeq, failed.toSeq, ioProfile.toSeq,
        queryLoad.toMap, loadStart, loadEnd, stealPct, cotenantCores, loadOk,
        waitedSecIn, deferredIn)
    }

    // Battery-level auto-retry: on a gate failure the canonical full
    // battery retries, outwaiting the co-tenant between attempts, and the
    // best attempt's artifact ships. Partial runs and off-sf0.1 sweeps
    // never retry: the gate only certifies the canonical battery.
    val retryable = sfDir.endsWith("sf0.1") && only.isEmpty && skip.isEmpty
    val maxAttempts =
      if (!retryable) 1
      else sys.env.get("SPARK_GRAFT_ATTEMPTS")
        .flatMap(v => scala.util.Try(v.toInt).toOption).fold(3)(math.max(1, _))
    val conf = RunConf(sfDir, spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions").toInt, nRuns, warmup,
      partial = only.nonEmpty || skip.nonEmpty,
      codegenCacheMaxEntries =
        spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt,
      artifactIsolation =
        spark.conf.get("spark.sql.artifact.isolation.enabled").toBoolean,
      pageSizeBytes = spark.sparkContext.getConf.getSizeAsBytes("spark.buffer.pageSize"),
      broadcastBlockBytes =
        spark.sparkContext.getConf.getSizeAsKb("spark.broadcast.blockSize") * 1024)
    // The committed per-key baseline for the regression gate — only
    // meaningful for the canonical sf0.1 battery (a sweep at another SF
    // would flag everything). Relative paths resolve against the working
    // directory, which is the checkout's root under `sbt run`.
    val baselinePath = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BASELINE", "BENCH_BASELINE.json"))
    val baseline: Map[String, Double] =
      if (!sfDir.endsWith("sf0.1") || !java.nio.file.Files.exists(baselinePath)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(baselinePath))
          .fields().asScala.filter(_.getValue.isNumber)
          .map(e => e.getKey -> e.getValue.asDouble()).toMap
      }
    // Off-battery experiments (scale spot-runs at synthetic SFs) redirect
    // their artifacts so they never merge foreign-scale timings into the
    // canonical sf0.1 battery files.
    val outDir = sys.env.getOrElse("SPARK_GRAFT_OUT", ".")
    val attempts = scala.collection.mutable.ArrayBuffer[Battery]()
    var attempt = 0
    while (attempt < maxAttempts && !attempts.exists(_.loadOk)) {
      attempt += 1
      // Attempt 1 honors SPARK_GRAFT_WAIT_QUIET verbatim (0 = the driver's
      // no-wait default). Retries always wait — the 1-min load needs ~3
      // idle minutes to decay from OUR OWN previous attempt, and retrying
      // straight into the same co-tenant burst is wasted wall — but cap at
      // max(WAIT_QUIET, 8) minutes so an unattended driver run stays
      // bounded: worst case 3 × battery + 2 × 8 min.
      val waitMin = if (attempt == 1) waitQuietMin else math.max(waitQuietMin, 8.0)
      val waited = waitQuiet(waitMin)
      val deferred = waitMin > 0 && loadAvg().head > 0.15
      if (attempt > 1)
        System.err.println(
          f"[bench] RETRY attempt $attempt/$maxAttempts after gate failure " +
            f"(waited ${waited}s, load now ${loadAvg().head}%.2f)")
      attempts += attemptBattery(waited, deferred)
      // Report after every completed attempt: the artifacts and the last
      // stdout line always hold the best attempt so far, so a run killed
      // during a retry still leaves a parseable result behind.
      val soFar = render(attempts.toSeq, conf, baseline)
      soFar.files.foreach { case (name, updates) =>
        writeBenchFile(s"$outDir/$name", updates, conf.partial)
      }
      println(soFar.line)
    }
    val report = render(attempts.toSeq, conf, baseline)
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
