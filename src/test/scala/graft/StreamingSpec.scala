package graft

import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Structured Streaming semantics with MemoryStream (SURVEY.md §2.4 ◻ rows):
  * watermark late-data drop, stateful dedup, arbitrary state. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String)(feed: => Unit): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    try { feed; q.processAllAvailable() } finally q.stop()
  }

  test("watermark drops late rows from appended windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Streams.tumblingWithWatermark(mem.toDF(), "10 minutes")
    val q = out.writeStream.format("memory").queryName("wmk")
      .outputMode("append").start()
    try {
      // batch 1: events in hour 0 and hour 1; watermark advances past hour 0
      mem.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(30), 1, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(130), 1, "click", 1.0)) // advances watermark to 2:10-10m = 2:00
      q.processAllAvailable()
      // hour-0 window [0:00,1:00) closed (watermark 2:00 > 1:00) → emitted
      mem.addData(Event(4, ts(20), 1, "click", 100.0)) // LATE: inside closed hour-0
      q.processAllAvailable()
      mem.addData(Event(5, ts(200), 1, "click", 1.0)) // close hour-2 window too
      q.processAllAvailable()
      val rows = spark.table("wmk").collect()
      val hour0 = rows.filter(_.getAs[Timestamp]("w_start") == ts(0))
      assert(hour0.length == 1)
      assert(hour0.head.getAs[Long]("n") == 2L) // late event 4 NOT counted
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes repeated event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Streams.dedupWithinWatermark(mem.toDF(), "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(1, ts(1), 1, "click", 1.0), // dup id within watermark
        Event(2, ts(2), 1, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("dedup").select("event_id").distinct().count() == 2)
      assert(spark.table("dedup").count() == 2)
    } finally q.stop()
  }

  test("session_window works unchanged under streaming (same expr as batch q_session_window)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[Event]
    val out = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("s"), col("n"))
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then a 40-min gap
      mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(10), 1, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(50), 1, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(4, ts(300), 1, "click", 1.0)) // push watermark far ahead
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .map(r => (r.getTimestamp(1), r.getLong(2))).sortBy(_._1.getTime)
      assert(rows.length >= 2)
      assert(rows.head == ((ts(0), 2L)))  // merged session of events 1+2
      assert(rows(1) == ((ts(50), 1L)))   // gap >= 30min → new session
    } finally q.stop()
  }

  test("batch and streaming tumbling aggregation agree on the whole corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // batch side: the oracle-checked q_window_tumbling
    val batch = SparkEntry.queries("q_window_tumbling")(spark, TestSpark.sf)
      .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"), col("total"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // streaming side: the SAME window expression over a MemoryStream fed
    // with the same corpus rows
    val corpus = Tables(spark, TestSpark.sf, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
    val mem = MemoryStream[Event]
    val out = mem.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Q.dec4(sum(graft.Q.dec2(col("value")))).as("total"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w"),
        col("event_type"), col("n"), col("total"))
    val q = out.writeStream.format("memory").queryName("parity")
      .outputMode("complete").start()
    try {
      mem.addData(corpus.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("parity").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch,
        s"batch-only=${(batch -- streamed).take(3)} stream-only=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("session-window aggregation agrees with the oracle-checked batch query on the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // batch side: q_stream_session_agg — the SAME Streams.sessionAgg code
    // path, oracle-checked against DuckDB's gaps-and-islands rebuild.
    // Streaming output through the same helper over a MemoryStream fed
    // the same corpus rows must be row-identical (complete mode: session
    // emission is not gated on watermark passage, so every session —
    // including those still "open" at end of input — appears exactly as
    // in batch).
    val batch = SparkEntry.queries("q_stream_session_agg")(spark, TestSpark.sf)
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSS").as("ss"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSS").as("se"),
        col("n"), col("total"), col("last_type"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getDouble(4), r.getString(5))).toSet
    val corpus = Tables(spark, TestSpark.sf, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
    val mem = MemoryStream[Event]
    val out = Streams.sessionAgg(mem.toDF())
      .select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSS").as("ss"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSS").as("se"),
        col("n"), col("total"), col("last_type"))
    val q = out.writeStream.format("memory").queryName("sessparity")
      .outputMode("complete").start()
    try {
      mem.addData(corpus.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("sessparity").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
          r.getDouble(4), r.getString(5))).toSet
      assert(streamed == batch,
        s"batch-only=${(batch -- streamed).take(3)} stream-only=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("stream-stream interval join agrees with the oracle-checked batch query on the corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // batch side: q_stream_interval_join — the SAME Streams.signupToPurchase
    // code path, oracle-checked against DuckDB. Streaming output through the
    // same helper over MemoryStreams fed the same corpus rows must be
    // row-identical, so the DuckDB oracle transitively verifies the
    // stream-stream join semantics.
    val batch = SparkEntry.queries("q_stream_interval_join")(spark, TestSpark.sf)
      .select(col("signup_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpus = Tables(spark, TestSpark.sf, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
    val sg = MemoryStream[Event]
    val pu = MemoryStream[Event]
    val out = Streams.signupToPurchase(sg.toDF(), pu.toDF(), "1 hour", "inner")
    val q = out.writeStream.format("memory").queryName("sjparity")
      .outputMode("append").start()
    try {
      sg.addData(corpus.filter(_.event_type == "signup").toIndexedSeq)
      pu.addData(corpus.filter(_.event_type == "purchase").toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("sjparity")
        .select(col("signup_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch,
        s"batch-only=${(batch -- streamed).take(3)} stream-only=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("stream-stream join emits signup→purchase pairs within the bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sg = MemoryStream[Event]
    val pu = MemoryStream[Event]
    val out = Streams.signupToPurchase(sg.toDF(), pu.toDF(), "1 hour")
    val q = out.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      sg.addData(Event(1, ts(0), 7, "signup", 0.0))
      pu.addData(
        Event(10, ts(30), 7, "purchase", 5.0),   // within 1h → match
        Event(11, ts(90), 7, "purchase", 5.0),   // beyond 1h → no match
        Event(12, ts(30), 8, "purchase", 5.0))   // other user → no match
      q.processAllAvailable()
      val rows = spark.table("ssj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(rows.toSeq == Seq((1L, 10L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join null-extends non-converters after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sg = MemoryStream[Event]
    val pu = MemoryStream[Event]
    val out = Streams.signupToPurchase(sg.toDF(), pu.toDF(), "1 hour", "left_outer")
    val q = out.writeStream.format("memory").queryName("ssjlo")
      .outputMode("append").start()
    try {
      sg.addData(
        Event(1, ts(0), 7, "signup", 0.0),  // converts (purchase at t=30)
        Event(2, ts(0), 8, "signup", 0.0))  // never purchases
      pu.addData(Event(10, ts(30), 7, "purchase", 5.0))
      q.processAllAvailable()
      // user 8's non-match may NOT emit yet: a purchase inside its
      // 1-hour bound could still arrive. Advance both watermarks past
      // bound + delay (t=0 + 1h + 10min) and it must null-extend.
      val byUser0 = spark.table("ssjlo").collect()
        .map(r => r.getLong(2) -> Option(r.get(1))).toMap
      assert(byUser0.get(8L).forall(_.isEmpty),
        "non-converter emitted a match, or emitted before the watermark closed its window")
      sg.addData(Event(3, ts(200), 9, "signup", 0.0))
      pu.addData(Event(11, ts(200), 9, "purchase", 5.0))
      q.processAllAvailable()
      val rows = spark.table("ssjlo").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toMap
      assert(rows(1L).contains(10L), "converter must keep its matched pair")
      assert(rows.contains(2L) && rows(2L).isEmpty,
        "non-converter must emit null-extended once the watermark passes its bound")
    } finally q.stop()
  }

  test("outer stream-stream eviction ties: BOTH sides hold at equality (strict <), asymmetric bounds") {
    // Pins the strictness the q_stream_interval_left/right/full oracles
    // encode: a LEFT row null-extends iff signup_ts + bound < wm (the tie
    // HOLDS in state), a RIGHT row iff purchase_ts < wm. Probed at the
    // exact-equality watermark (990) and again one step past it. Corpus
    // timestamps are ms-random so a tie is measure-zero there; this is
    // the crafted-equality case.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def tm(min: Long) = new java.sql.Timestamp(base + min * 60000L)
    val sg = MemoryStream[Event]
    val pu = MemoryStream[Event]
    val out = Streams.signupToPurchase(sg.toDF(), pu.toDF(), "60 minutes", "full_outer")
    val q = out.writeStream.format("memory").queryName("ssjtie")
      .outputMode("append").start()
    def users(): Set[Long] =
      spark.table("ssjtie").collect().map(_.getAs[Long]("user_id")).toSet
    try {
      // S1: bound = 930+60 = 990; P1: 989 (< wm soon); P2: 990 (== wm, tie)
      sg.addData(Event(1, tm(930), 7, "signup", 0.0))
      pu.addData(Event(2, tm(989), 8, "purchase", 0.0),
        Event(3, tm(990), 9, "purchase", 0.0))
      q.processAllAvailable()
      // Advance both watermark nodes to 1000−10 = 990. processAllAvailable
      // DRAINS: after the data batch, the watermark update triggers an
      // immediate no-data batch whose eviction runs WITH wm = 990 — so the
      // read below observes the tie batch exactly.
      sg.addData(Event(4, tm(1000), 10, "signup", 0.0))
      pu.addData(Event(5, tm(1000), 10, "purchase", 0.0))
      q.processAllAvailable()
      val afterTie = users()
      assert(afterTie.contains(8L), s"P1 (989 < 990) must null-extend: $afterTie")
      assert(!afterTie.contains(9L),
        s"P2 tie (990 == wm) must HOLD in state (eviction is strict <): $afterTie")
      assert(!afterTie.contains(7L),
        s"S1 tie (bound 990 == wm) must HOLD in state (eviction is strict <): $afterTie")
      // one step past the tie: wm drains to 1090 — both ties now evict
      sg.addData(Event(6, tm(1100), 12, "signup", 0.0))
      pu.addData(Event(7, tm(1100), 12, "purchase", 0.0))
      q.processAllAvailable()
      val afterPass = users()
      assert(afterPass.contains(9L), s"P2 must null-extend once wm passes 990: $afterPass")
      assert(afterPass.contains(7L), s"S1 must null-extend once wm passes its bound: $afterPass")
      // full-outer sanity: the null-extension shape on both sides
      val rows = spark.table("ssjtie").collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((Option(r.get(0)), Option(r.get(1))))).toMap
      assert(rows(7L)._1.isDefined && rows(7L)._2.isEmpty, "S1 must be left-null-extended")
      assert(rows(9L)._1.isEmpty && rows(9L)._2.isDefined, "P2 must be right-null-extended")
      assert(rows(10L)._1.isDefined && rows(10L)._2.isDefined, "u10 pair must match")
    } finally q.stop()
  }

  test("stream-static broadcast enrichment joins without shuffling the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val users = Seq((7L, "alice"), (8L, "bob")).toDF("user_id", "name")
    val out = Streams.enrichWithUsers(mem.toDF(), users)
    val q = out.writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      mem.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(1), 9, "click", 1.0))
      q.processAllAvailable()
      val byId = spark.table("enrich").collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[String]("name")).getOrElse("<none>")).toMap
      assert(byId(1L) == "alice")
      assert(byId(2L) == "<none>") // unmatched user null-extended
    } finally q.stop()
  }

  test("foreachBatch writes each micro-batch to its own parquet dir") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_batches").toString
    val mem = MemoryStream[Event]
    val q = Streams.writeBatches(mem.toDF(), dir).start()
    try {
      mem.addData(Event(1, ts(0), 7, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(2, ts(1), 7, "click", 1.0))
      q.processAllAvailable()
      val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("batch_"))
      assert(dirs.length >= 2)
      assert(spark.read.parquet(s"$dir/batch_0").count() == 1)
    } finally q.stop()
  }

  test("transformWithState (state API v2) keeps RocksDB-backed state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      val out = Streams.runningMaxPerUser(mem.toDS())
      val q = out.writeStream.format("memory").queryName("twsmax")
        .outputMode("append").start()
      try {
        mem.addData(Event(1, ts(0), 7, "click", 2.0), Event(2, ts(1), 7, "click", 9.0))
        q.processAllAvailable()
        mem.addData(Event(3, ts(2), 7, "click", 5.0)) // lower than running max
        q.processAllAvailable()
        val states = spark.table("twsmax").as[Streams.UserRunning].collect()
        assert(states.map(_.total).max == 9.0)
        // second batch must still report max 9.0 from state, not 5.0
        assert(states.count(_.total == 9.0) == 2)
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming curation chain (dedup → quality gate → split) matches batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // Batch truth: the oracle-checked gopher gate decides which docs pass;
    // the shared splitAssign expression labels them.
    val batch = SparkEntry.queries("q_quality_gopher")(spark, TestSpark.sf)
      .filter(col("pass")).select("doc_id")
      .join(Tables(spark, TestSpark.sf, "documents"), "doc_id")
      .select(col("doc_id"), col("source"),
        graft.llm.Curation.splitAssign(col("doc_id")).as("split"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(batch.nonEmpty, "quality gate passed nothing — test corpus broken")
    // Stream side: the same corpus fed in three micro-batches with
    // duplicate doc_ids injected across batches (well inside the
    // watermark), through the full chain.
    val corpus = Tables(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .zipWithIndex.map { case (r, i) =>
        Streams.DocEvent(r.getLong(0), ts(i % 30), r.getString(1), r.getString(2))
      }
    val thirds = corpus.grouped((corpus.length + 2) / 3).toSeq
    val mem = MemoryStream[Streams.DocEvent]
    val out = Streams.curationChain(mem.toDF(), "2 hours")
    val q = out.writeStream.format("memory").queryName("curation")
      .outputMode("append").start()
    try {
      mem.addData(thirds(0).toIndexedSeq)
      q.processAllAvailable()
      // re-deliver some batch-1 docs alongside batch 2 (ingest retries)
      mem.addData((thirds(1) ++ thirds(0).take(20)).toIndexedSeq)
      q.processAllAvailable()
      mem.addData((thirds(2) ++ thirds(1).take(20)).toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("curation").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(streamed.length == streamed.distinct.length,
        "duplicate doc survived the watermarked dedup")
      assert(streamed.toSet == batch,
        s"batch-only=${(batch -- streamed.toSet).take(3)} " +
          s"stream-only=${(streamed.toSet -- batch).take(3)}")
    } finally q.stop()
  }

  test("file-source streaming (readStream.parquet) agrees with the batch scan") {
    import org.apache.spark.sql.functions._
    // the production source path — a real parquet stream source with
    // schema pinned from the batch reader, not a MemoryStream
    val batchDf = Tables(spark, TestSpark.sf, "documents")
    val expected = batchDf.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // stream sources are directories of arriving files — lay the corpus
    // out as 3 parquet files so maxFilesPerTrigger=1 yields 3 micro-batches
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    batchDf.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batchDf.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .groupBy("source").agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("filesrc")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("filesrc").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected, s"stream=$got batch=$expected")
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps running per-user state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Streams.runningPerUser(mem.toDS())
    val q = out.writeStream.format("memory").queryName("running")
      .outputMode("append").start()
    try {
      mem.addData(Event(1, ts(0), 7, "click", 2.0), Event(2, ts(1), 7, "click", 3.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(2), 7, "click", 5.0))
      q.processAllAvailable()
      val states = spark.table("running").as[Streams.UserRunning]
        .collect().sortBy(_.n_events)
      assert(states.last.n_events == 3L)
      assert(math.abs(states.last.total - 10.0) < 1e-9)
    } finally q.stop()
  }

  test("q_stream_tumbling emits exactly the closed windows of the batch aggregate") {
    import org.apache.spark.sql.functions._
    // The real-engine run must equal the oracle-checked batch tumbling agg
    // RESTRICTED to windows the final watermark closed (end <= max ts - 10
    // min) — i.e. append-mode emission timing, the thing the batch query
    // cannot test. Also require that at least one trailing window was
    // WITHHELD, so the emission-timing assertion is not vacuous.
    val streamed = SparkEntry.queries("q_stream_tumbling")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
        r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = SparkEntry.queries("q_window_tumbling")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli,
        r.getString(1), r.getLong(2), r.getDouble(3)))
    val maxTs = Tables(spark, TestSpark.sf, "events")
      .agg(max(col("ts"))).collect()(0)
      .getAs[java.time.LocalDateTime](0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val wmk = maxTs - 10L * 60 * 1000
    val (closed, open) = batch.partition { case (ws, _, _, _) =>
      ws + 3600L * 1000 <= wmk }
    assert(open.nonEmpty, "no trailing open window — emission timing untested")
    assert(streamed == closed.toSet,
      s"streamed ${streamed.size} windows != closed batch ${closed.size}")
  }

  test("event-time timers: close-out fires when the eviction watermark passes; state re-opens") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Streams.Event]
      val out = Streams.timerClose(mem.toDS(), gapMs = 30 * 60000L)
      val q = out.writeStream.format("memory").queryName("timers")
        .outputMode("append").start()
      try {
        // batch 1: user 1 twice, user 2 once — timers armed, wm still 0
        mem.addData(
          Streams.Event(1, ts(0), 1, "x", 1.0),
          Streams.Event(2, ts(10), 1, "x", 1.0),
          Streams.Event(3, ts(5), 2, "x", 1.0))
        q.processAllAvailable()
        assert(spark.table("timers").isEmpty, "no timer may fire at wm=0")
        // batch 2: user 2 again at min 120 → wm advances to 110; user 1's
        // timer (min 40) fires on the watermark pass
        mem.addData(Streams.Event(4, ts(120), 2, "x", 1.0))
        q.processAllAvailable()
        val afterClose = spark.table("timers").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
        assert(afterClose.toSet == Set((1L, 2L, ts(40))),
          s"user-1 close-out expected, got ${afterClose.toSeq}")
        // user 1 re-opens: a fresh event within the watermark starts a NEW
        // session (old state was cleared on close)
        mem.addData(Streams.Event(5, ts(200), 1, "x", 1.0))
        q.processAllAvailable()
        // a far-future event pushes the watermark past every armed timer
        mem.addData(Streams.Event(6, ts(600), 3, "x", 1.0))
        q.processAllAvailable()
        val all = spark.table("timers").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
        assert(all.contains((1L, 1L, ts(230))),
          s"re-opened user-1 session must close with n=1, got $all")
        assert(all.contains((2L, 2L, ts(150))),
          s"user-2 session (events at 5 and 120) must close at 150, got $all")
        assert(!all.exists(_._1 == 3L), "user 3 is still inside the gap")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("event-time timer tie: expiry EQUAL to the eviction watermark fires") {
    // q_stream_timer_close's oracle uses `<=`; TimerStateImpl's expiry
    // iterator stops at the first timer > threshold (decompiled 4.1.2) —
    // this pins the tie empirically: user 1's timer lands at minute 30,
    // and user 2's event at minute 40 advances the watermark to EXACTLY
    // 30.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Streams.Event]
      val out = Streams.timerClose(mem.toDS(), gapMs = 30 * 60000L)
      val q = out.writeStream.format("memory").queryName("timertie")
        .outputMode("append").start()
      try {
        mem.addData(Streams.Event(1, ts(0), 1, "x", 1.0))
        q.processAllAvailable()
        mem.addData(Streams.Event(2, ts(40), 2, "x", 1.0))
        q.processAllAvailable()
        val rows = spark.table("timertie").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
        assert(rows == Set((1L, 1L, ts(30))),
          s"timer at wm-tie must fire exactly once, got $rows")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("cumulativePerUser accumulates product-typed state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Streams.ECents]
      val out = Streams.cumulativePerUser(mem.toDS())
      val q = out.writeStream.format("memory").queryName("cum")
        .outputMode("append").start()
      try {
        mem.addData(Streams.ECents(10, 7, 250), Streams.ECents(3, 7, 100))
        q.processAllAvailable()
        mem.addData(Streams.ECents(5, 7, 50)) // second batch: state must carry
        q.processAllAvailable()
        val snaps = spark.table("cum").as[Streams.UserCum]
          .collect().sortBy(_.n_events)
        assert(snaps.length == 2) // one running snapshot per batch
        assert(snaps.last == Streams.UserCum(7, 3, 400, 3, 10))
        // the read-back rule: max n_events row IS the final state
        assert(snaps.map(_.n_events).distinct.length == snaps.length)
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
