package graft

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** Scratch-dir management for queries that materialize through the local
  * filesystem (streaming sinks/checkpoints, source-format round trips).
  * A scratch dir lives until the next run of the same key or JVM exit, so
  * a warmed battery never holds more than one corpus copy per query.
  *
  * Mechanisms:
  *   - [[sharedInput]]: ONE canonical events corpus copy per (JVM, sf dir),
  *     written once and shared by every real-engine streaming query — the
  *     corpus write leaves the timed region after the first run instead of
  *     being paid per query per run.
  *   - [[fresh]]: per-(query, run) scratch, keyed by query: invoking it
  *     again under the same key retires the PREVIOUS run's dir first
  *     (safe — that run's read-back has been consumed by then), so
  *     repeated bench runs hold at most one live scratch per key.
  *   - [[drain]]: the one way a streaming key runs — fresh scratch, scoped
  *     confs, an AvailableNow run to completion, and the sink read back
  *     with the schema it wrote.
  * Everything registered is also deleted on JVM exit.
  */
private[graft] object Scratch {
  private val dirs =
    java.util.Collections.synchronizedMap(
      new java.util.HashMap[String, java.nio.file.Path]())
  /** Renamed-away previous-run trees awaiting deletion. Reaped in the
    * bench's UNTIMED inter-run window ([[reapTombstones]]), never
    * concurrently with a timed region, so janitorial I/O is not charged to
    * the next run of the same key. Each tombstone has a unique suffixed
    * name and its own queue entry, so rapid repeated `fresh(key)` can
    * neither collide on the tombstone path nor deregister another run's
    * tree. The JVM-exit hook drains whatever a non-bench caller leaves
    * behind. */
  private val tombs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val tombSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val hook = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** Exception-guarded recursive delete: the walk itself is inside the Try,
    * so a walk racing another deleter cannot abort the exit hook's
    * remaining cleanup. */
  private def deleteRec(p: java.nio.file.Path): Unit =
    scala.util.Try {
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => scala.util.Try(java.nio.file.Files.deleteIfExists(f)))
      }
    }
  private def ensureHook(): Unit =
    if (hook.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        dirs.synchronized {
          dirs.values.forEach(p => deleteRec(p)); dirs.clear()
        }
        reapTombstones()
      }))

  /** Fresh temp dir for `key`, retiring the previous run's dir.
    *
    * The previous dir is atomically renamed to a uniquely-named tombstone
    * (one metadata op — `fresh` runs INSIDE the bench's timed region as the
    * first statement of every streaming/sink query) and queued for
    * [[reapTombstones]], which the bench calls in the untimed inter-run
    * window. Production analog: checkpoint retention cleanup is a
    * background maintenance task, never on the query path. If the rename
    * fails the previous tree is deleted in place (slow but leak-free).
    */
  def fresh(key: String): String = {
    ensureHook()
    val prev = dirs.get(key)
    if (prev != null) {
      val moved = scala.util.Try {
        val tomb = prev.resolveSibling(
          s"${prev.getFileName}_tomb${tombSeq.incrementAndGet()}")
        java.nio.file.Files.move(prev, tomb,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        tombs.add(tomb)
      }
      if (moved.isFailure) deleteRec(prev)
    }
    val p = java.nio.file.Files.createTempDirectory(s"graft_${key}_")
    dirs.put(key, p)
    p.toString
  }

  /** Delete every queued previous-run tree. Called by the bench at the
    * per-query boundary (next to its System.gc()) so the deletes run in
    * wall-clock gaps, and by the exit hook. Safe to call from any thread;
    * each caller drains whatever is queued at that moment. */
  def reapTombstones(): Unit = {
    var t = tombs.poll()
    while (t != null) { deleteRec(t); t = tombs.poll() }
  }

  /** The shared events corpus copy for `d`: (event_id, ts TIMESTAMP,
    * user_id, event_type, value) in 8 parquet files (so maxFilesPerTrigger
    * consumers get genuine multi-batch runs while unthrottled consumers
    * still ingest everything in ONE micro-batch — the single-batch
    * assumption the watermarked oracles rely on). Watermarks require
    * TIMESTAMP (with zone); Tables emits NTZ. Session TZ is pinned UTC, so
    * the cast is value-stable. */
  def sharedInput(s: SparkSession, d: String): String = {
    ensureHook()
    val key = s"stream_in:$d"
    dirs.synchronized {
      val prev = dirs.get(key)
      if (prev != null) prev.toString
      else {
        val p = java.nio.file.Files.createTempDirectory("graft_stream_in_")
        Tables(s, d, "events")
          .select(col("event_id"), col("ts").cast(TimestampType),
            col("user_id"), col("event_type"), col("value"))
          .repartition(8)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$p/in")
        dirs.put(key, p)
        p.toString
      }
    }
  }

  /** One canonical LATE-DROP batch layout per (JVM, sf dir): the events
    * corpus split into 4 single-file batches by event_id % 4, mtimes
    * strictly increasing so FileStreamSource's mod-time ordering makes
    * micro-batch assignment deterministic (see q_stream_late_drop).
    * Built once and shared across runs — the batch writes are harness
    * setup, not streaming-engine work, so they leave the timed region
    * after the first run (the [[sharedInput]] rationale). */
  def lateDropInput(s: SparkSession, d: String): String = {
    ensureHook()
    val key = s"late_in:$d"
    dirs.synchronized {
      val prev = dirs.get(key)
      if (prev != null) s"$prev/in"
      else {
        val root = java.nio.file.Files.createTempDirectory("graft_late_in_")
        val inDir = root.resolve("in")
        java.nio.file.Files.createDirectories(inDir)
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("ts").cast(TimestampType).as("ts"),
            col("user_id"), col("event_type"), col("value"))
        for (b <- 0 to 3) {
          val stage = root.resolve(s"stage$b")
          ev.filter(col("event_id") % 4 === org.apache.spark.sql.functions.lit(b))
            .coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(stage.toString)
          val listing = java.nio.file.Files.list(stage)
          val part =
            try {
              import scala.jdk.CollectionConverters._
              listing.iterator().asScala
                .find(_.getFileName.toString.endsWith(".parquet"))
                .getOrElse(sys.error(s"lateDropInput: empty batch $b"))
            } finally listing.close()
          val dest = inDir.resolve(s"b$b.parquet")
          java.nio.file.Files.move(part, dest)
          // 2024-01-01 00:00:00 UTC + b minutes — only the ORDER matters.
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(
              1704067200000L + b * 60000L))
        }
        dirs.put(key, root)
        s"$root/in"
      }
    }
  }

  /** Schema of [[sharedInput]]'s files (constructed, not re-read). */
  val inputSchema: StructType =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))

  /** Run `body` with each `kv` set on the session, then restore each key's
    * prior value, or unset it if it had none — also when `body` throws. */
  def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prior = s.conf.getAll
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) =>
      prior.get(k) match {
        case Some(v) => s.conf.set(k, v)
        case None => s.conf.unset(k)
      }
    }
  }

  /** Scope the direct-write checkpoint file manager
    * ([[graft.streaming.LocalDirectCheckpointFileManager]] — rationale and
    * measurement there) over a streaming start+awaitTermination block. The
    * manager itself falls back to Spark's stock rename protocol for any
    * checkpoint path whose scheme is not `file`, so an HDFS/S3 checkpoint
    * keeps its multi-writer rename atomicity. */
  def withLocalCheckpointIo[T](s: SparkSession)(body: => T): T =
    withConf(s, LocalCheckpointIo)(body)

  private val LocalCheckpointIo =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalDirectCheckpointFileManager].getName

  /** 4 shuffle partitions for every drained stream. Each stateful operator
    * opens one state-store instance per shuffle partition per micro-batch;
    * at the session default (= CPUs) that is pure fixed overhead on small
    * state, and 4 still exercises a genuine multi-partition key exchange
    * (partition count is semantics-neutral). The count is pinned in the
    * checkpoint at query start, and every drain starts a fresh checkpoint,
    * so the override always takes. Only the stream reads it: the batch
    * plans around the run execute outside the scope. */
  private val StreamShuffle = "spark.sql.shuffle.partitions" -> "4"

  /** Run `stream` through Spark's streaming engine under
    * `Trigger.AvailableNow` into a fresh scratch dir for `key`, with the
    * stream shuffle partitions and local checkpoint I/O scoped over the
    * run, and return the sink read back plus the run's progress reports.
    *
    * Sinks, by `outputMode`:
    *   - `append`: the parquet file sink (exactly-once via the
    *     checkpoint's commit log).
    *   - `update`: a `foreachBatch` sink that stamps `batch_id` on each
    *     micro-batch and OVERWRITES its own `out/b=<id>` dir. foreachBatch
    *     can re-run a failed micro-batch, so a retry replaces rather than
    *     duplicates — the documented foreachBatch exactly-once recipe.
    *
    * The read-back uses the declared schema (`stream.schema`, plus
    * `batch_id` for update), so building it starts no Spark job; an
    * inferring read would run one to read a footer. Set
    * SPARK_GRAFT_EXPLAIN_STREAM=1 to print the last micro-batch's physical
    * plan to stderr (a formatted Explain of a streaming key only shows the
    * read-back). */
  def drain(s: SparkSession, key: String, stream: Dataset[_],
      outputMode: String = "append"): (DataFrame, Seq[StreamingQueryProgress]) = {
    val dir = fresh(key)
    val writer = stream.toDF().writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow())
    val (sink, schema) = outputMode match {
      case "append" =>
        (writer.format("parquet").option("path", s"$dir/out"), stream.schema)
      case "update" =>
        // No coalesce before the write: it would fold into the stateful
        // read and serialize the state-store partitions into one task.
        (writer.foreachBatch { (df: DataFrame, id: Long) =>
          df.withColumn("batch_id", lit(id))
            .write.mode(SaveMode.Overwrite)
            .parquet(s"$dir/out/b=$id")
          ()
        }, stream.schema.add("batch_id", LongType))
    }
    val q = withConf(s, StreamShuffle, LocalCheckpointIo) {
      val q = sink.start()
      q.awaitTermination()
      q
    }
    if (sys.env.get("SPARK_GRAFT_EXPLAIN_STREAM").contains("1")) q.explain()
    val back = s.read.schema(schema).parquet(s"$dir/out")
    // Partition discovery adds the update sink's b=<id> directory column.
    (if (outputMode == "update") back.drop("b") else back, q.recentProgress.toSeq)
  }

  /** The flagship FACT STREAM: lineitem's revenue-relevant columns plus an
    * EVENT-TIME column `ts` = o_orderdate (attached via the orders join —
    * value-neutral: every l_orderkey has exactly one order, verified at all
    * test SFs), split into 4 single-file batches by DATE QUARTILE with a
    * strictly-increasing mtime ladder. FileStreamSource's mod-time ordering
    * then delivers the fact stream in event-time order across micro-batches,
    * so a watermark genuinely ADVANCES batch-over-batch — the precondition
    * for the streaming flagship's windowed-state TTL eviction. No row is
    * ever watermark-late by construction: quartile ranges
    * are disjoint and ordered, so every row of batch i+1 has ts ≥ max(ts of
    * batch i) ≥ the watermark that batch set. One canonical copy per
    * (JVM, sf dir), same leak rationale as [[sharedInput]]. */
  def flagshipInput(s: SparkSession, d: String): String = {
    ensureHook()
    val key = s"flagship_in:$d"
    dirs.synchronized {
      val prev = dirs.get(key)
      if (prev != null) s"$prev/in"
      else {
        val root = java.nio.file.Files.createTempDirectory("graft_flagship_in_")
        val inDir = root.resolve("in")
        java.nio.file.Files.createDirectories(inDir)
        val fact = Tables(s, d, "lineitem")
          .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey").cast(LongType), col("l_partkey").cast(LongType),
            col("l_extendedprice").cast(DoubleType), col("l_discount").cast(DoubleType),
            col("o_orderdate").cast(TimestampType).as("ts"),
            org.apache.spark.sql.functions.unix_timestamp(
              col("o_orderdate").cast(TimestampType)).as("tsl"))
        // Date-quartile file assignment via approximate quantiles (driver
        // pulls 3 numbers, never rows — scales to any corpus). Exactness of
        // the SPLIT doesn't matter, only disjoint ordered ranges.
        val qs = fact.stat.approxQuantile("tsl", Array(0.25, 0.5, 0.75), 0.01)
        for (b <- 0 to 3) {
          val lo = if (b == 0) Long.MinValue else qs(b - 1).toLong
          val hi = if (b == 3) Long.MaxValue else qs(b).toLong
          val stage = root.resolve(s"stage$b")
          fact.filter(col("tsl") >= lo && col("tsl") < hi).drop("tsl")
            .coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(stage.toString)
          val listing = java.nio.file.Files.list(stage)
          // A degenerate corpus can leave a quartile empty (coincident
          // quantile boundaries) — skip it; fewer batches is still correct.
          val part =
            try {
              import scala.jdk.CollectionConverters._
              listing.iterator().asScala
                .find(_.getFileName.toString.endsWith(".parquet"))
            } finally listing.close()
          part.foreach { f =>
            val dest = inDir.resolve(s"b$b.parquet")
            java.nio.file.Files.move(f, dest)
            // 2024-01-01 00:00:00 UTC + b minutes — only the ORDER matters.
            java.nio.file.Files.setLastModifiedTime(dest,
              java.nio.file.attribute.FileTime.fromMillis(
                1704067200000L + b * 60000L))
          }
        }
        dirs.put(key, root)
        s"$root/in"
      }
    }
  }

  /** Schema of [[flagshipInput]]'s files (constructed, not re-read). */
  val flagshipSchema: StructType =
    StructType(Seq(
      StructField("l_suppkey", LongType), StructField("l_partkey", LongType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("ts", TimestampType)))
}
