package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Remaining ◻ capabilities with no SQL oracle: set-op ALL variants,
  * half-even rounding, initcap, map functions. */
class MiscOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("lateral top-2 returns at most 2 rows per order, each beating every excluded lineitem") {
    val out = SparkEntry.queries("q_lateral_topk")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(out.nonEmpty)
    val byOrder = out.groupBy(_._1)
    assert(byOrder.values.forall(_.length <= 2))
    val li = Tables(spark, TestSpark.sf, "lineitem")
      .select("l_orderkey", "l_extendedprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).groupBy(_._1)
    byOrder.foreach { case (ok, rows) =>
      val prices = li(ok).map(_._2).sortBy(-_)
      val expectTop = prices.take(2)
      val gotPrices = rows.map(_._3).sortBy(-_)
      assert(gotPrices.toSeq == expectTop.toSeq, s"order $ok: $gotPrices vs $expectTop")
    }
    // every order that has lineitems appears
    assert(byOrder.keySet == li.keySet)
  }

  test("variant extraction matches get_json_object and schema_of_variant sees the shape") {
    import spark.implicits._
    val row = spark.sql(
      """SELECT schema_of_variant(parse_json('{"k": 69}')) AS sch,
                variant_get(parse_json('{"k": 69}'), '$.k', 'bigint') AS k,
                variant_get(parse_json('{"a":[1,2,3]}'), '$.a[2]', 'int') AS a2,
                is_variant_null(variant_get(parse_json('{"k": null}'), '$.k', 'variant')) AS isn
      """).head()
    assert(row.getString(0).contains("k: BIGINT"))
    assert(row.getLong(1) == 69L && row.getInt(2) == 3)
    assert(row.getBoolean(3), "JSON null must read as variant null")
    // the registered query agrees with get_json_object over the corpus
    val out = SparkEntry.queries("q_variant_json")(spark, TestSpark.sf)
      .select("event_id", "k_int").as[(Long, Long)].collect().toMap
    val ref = Tables(spark, TestSpark.sf, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long")).as[(Long, Long)]
      .collect().toMap
    assert(out == ref)
  }

  test("typed Aggregator totals equal the codegen'd built-in sum/count") {
    val typed = SparkEntry.queries("q_agg_typed")(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val builtin = Tables(spark, TestSpark.sf, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy("l_returnflag").agg(sum("cents").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(typed == builtin, "Aggregator path must agree with built-in aggregates")
  }

  test("nfc normalization composes iff a precomposed codepoint exists; strip recovers base") {
    val r = spark.sql(
      """SELECT nfc_normalize('e' || '́') AS comp,
                nfc_normalize('b' || '́') AS nocomp,
                strip_accents(nfc_normalize('e' || '́')) AS se,
                strip_accents(nfc_normalize('b' || '́')) AS sb,
                nfc_normalize(nfc_normalize('e' || '́')) AS idem""").head()
    assert(r.getString(0) == "é" && r.getString(0).length == 1)
    assert(r.getString(1).length == 2, "b+acute has no precomposed form")
    assert(r.getString(2) == "e" && r.getString(3) == "b")
    assert(r.getString(4) == r.getString(0), "NFC must be idempotent")
  }

  test("NOT IN against a nullable key is never satisfied; NOT EXISTS matches brute force") {
    val out = SparkEntry.queries("q_subquery_notin")(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("not_in") == 0L, "three-valued logic: NOT IN with a NULL in the set")
    val goodCust = Tables(spark, TestSpark.sf, "customer")
      .filter(col("c_acctbal") >= 0).select("c_custkey").collect().map(_.getLong(0)).toSet
    val expected = Tables(spark, TestSpark.sf, "orders")
      .select("o_custkey").collect().count(r => !goodCust(r.getLong(0)))
    assert(out("not_exists") == expected.toLong && expected > 0)
  }

  test("bpe pair counts: brute-force adjacent-char tally agrees on the top 20") {
    val out = SparkEntry.queries("q_bpe_merges")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    Tables(spark, TestSpark.sf, "documents").select("text").collect().foreach { r =>
      r.getString(0).split(" ").filter(_.length >= 2).foreach { w =>
        (0 until w.length - 1).foreach(i => counts(w.substring(i, i + 2)) += 1L)
      }
    }
    val top = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(out.toSeq == top, s"got ${out.take(3).toSeq} want ${top.take(3)}")
  }

  test("q_bpe_encode: token counts and fingerprints match a sequential BPE re-implementation") {
    // Train 8 merges + encode every doc with a direct sequential BPE
    // (Sennrich's algorithm verbatim: count-weighted pair argmax, ties by
    // (lhs, rhs); greedy left-to-right non-overlapping merge application).
    val docs = Tables(spark, TestSpark.sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    var vocab: Map[String, (Vector[String], Long)] =
      docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) =>
          w -> (w.map(_.toString).toVector, ws.length.toLong) }
    def mergeWord(t: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < t.length) {
        if (i + 1 < t.length && t(i) == l && t(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += t(i); i += 1 }
      }
      out.result()
    }
    for (_ <- 1 to 8) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      vocab.values.foreach { case (t, cnt) =>
        (0 until t.length - 1).foreach(i => pairs((t(i), t(i + 1))) += cnt) }
      val ((l, r), _) = pairs.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.head
      vocab = vocab.map { case (w, (t, cnt)) => w -> (mergeWord(t, l, r), cnt) }
    }
    // position-tagged md5-lower-64 word hash (the VectorKernels spelling:
    // digest bytes 15..8, little-endian), shifted into 53 bits, XOR-folded
    def md5Lower64(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var h = 0L
      var i = 15
      while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
      h
    }
    val expected = docs.flatMap { case (id, text) =>
      // Engine (posexplode BEFORE the nonEmpty filter) and oracle (1-based
      // index over the unfiltered split) both tag PRE-filter positions, so
      // the reference keeps the original index through the filter — else a
      // doc with leading/consecutive spaces would diverge spuriously
      // (ADVICE r10).
      val ws = text.split(" ").zipWithIndex.filter(_._1.nonEmpty)
      if (ws.isEmpty) None
      else {
        val toks = ws.toVector.map { case (w, i) => (vocab(w)._1, i) }
        val fp = toks
          .map { case (t, i) => md5Lower64(s"${i + 1}:${t.mkString(" ")}") >>> 11 }
          .reduce(_ ^ _)
        Some(id -> ((ws.length.toLong, toks.map(_._1.length.toLong).sum, fp)))
      }
    }.toMap
    val got = SparkEntry.queries("q_bpe_encode")(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, v) => assert(v == expected(id), s"doc $id") }
    // non-vacuous: 8 merges must compress the corpus below 1 token/char
    val totalChars = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .map(_.length.toLong).sum
    assert(got.values.map(_._2).sum < totalChars,
      "BPE produced no compression anywhere")
  }

  test("approx_top_k at k >= cardinality returns the exact frequency table") {
    Tables.registerViews(spark, TestSpark.sf)
    val est = spark.sql(
      """SELECT t.item, t.count FROM (
           SELECT explode(approx_top_k(event_type, 10)) AS t FROM events)""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables(spark, TestSpark.sf, "events")
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == exact, "sketch must be exact when it tracks every distinct item")
  }

  test("decimal-sum linreg agrees with Spark's regr_slope/regr_intercept") {
    val ours = SparkEntry.queries("q_agg_linreg")(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val ref = Tables(spark, TestSpark.sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("regr_slope(l_extendedprice, l_quantity)").as("s"),
        expr("regr_intercept(l_extendedprice, l_quantity)").as("i"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    ours.foreach { case (k, (s, i)) =>
      val (rs, ri) = ref(k)
      assert(math.abs(s - rs) < 1e-6 * math.abs(rs).max(1.0), s"$k slope $s vs $rs")
      assert(math.abs(i - ri) < 1e-6 * math.abs(ri).max(1.0), s"$k intercept $i vs $ri")
    }
  }

  test("sequence pattern: brute-force per-user click→purchase scan agrees") {
    val out = SparkEntry.queries("q_window_pattern")(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = Tables(spark, TestSpark.sf, "events")
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).view.mapValues { evs =>
        val ordered = evs.sortBy(e => (e._2.toString, e._3)).map(_._4)
        ordered.sliding(2).count(p => p.length == 2 && p.head == "click" && p(1) == "purchase")
      }.filter(_._2 > 0).toMap
    assert(out == brute.map { case (k, v) => k -> v.toLong })
  }

  test("power-sum moments agree with Spark's skewness/kurtosis builtins") {
    val ours = SparkEntry.queries("q_agg_moments")(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val ref = Tables(spark, TestSpark.sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("skewness(l_quantity)").as("s"), expr("kurtosis(l_quantity)").as("k"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    ours.foreach { case (flag, (sk, ku)) =>
      val (rs, rk) = ref(flag)
      assert(math.abs(sk - rs) < 1e-6, s"$flag skew $sk vs $rs")
      assert(math.abs(ku - rk) < 1e-6, s"$flag kurt $ku vs $rk")
    }
  }

  test("twap: brute-force per-user time-weighted mean agrees") {
    val out = SparkEntry.queries("q_window_twap")(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val events = Tables(spark, TestSpark.sf, "events")
      .select("user_id", "ts", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    events.foreach { case (uid, evs) =>
      val ordered = evs.sortBy(e => (e._2.toString, e._3))
      val ms = ordered.map(e =>
        e._2.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
      if (ordered.length >= 2) {
        val held = (1 until ordered.length).map(i => ms(i) - ms(i - 1)).sum
        val wsum = (1 until ordered.length)
          .map(i => BigDecimal(ordered(i - 1)._4).setScale(2) * BigDecimal(ms(i) - ms(i - 1))).sum
        val (gotHeld, gotTwap) = out(uid)
        assert(gotHeld == held, s"user $uid held")
        assert(math.abs(gotTwap - (wsum / BigDecimal(held)).toDouble) < 1e-9, s"user $uid twap")
      }
    }
  }

  test("skyline: emitted points are non-dominated and every point is dominated by one") {
    import org.apache.spark.sql.functions._
    val sky = SparkEntry.queries("q_skyline_2d")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(sky.nonEmpty)
    val pts = Tables(spark, TestSpark.sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice").cast("decimal(12,2)").cast("double")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    def dominates(a: (Double, Double), b: (Double, Double)): Boolean =
      a._1 >= b._1 && a._2 >= b._2 && (a._1 > b._1 || a._2 > b._2)
    val byFlag = pts.groupBy(_._1)
    sky.foreach { case (f, q, p) =>
      assert(!byFlag(f).exists(x => dominates((x._2, x._3), (q, p))),
        s"skyline point ($f,$q,$p) is dominated")
    }
    val skySet = sky.groupBy(_._1)
    pts.foreach { case (f, q, p) =>
      val onSky = skySet(f).exists { case (_, sq, sp) => sq == q && sp == p }
      assert(onSky || skySet(f).exists { case (_, sq, sp) => dominates((sq, sp), (q, p)) },
        s"point ($f,$q,$p) neither on skyline nor dominated")
    }
  }

  test("intersectAll and exceptAll keep multiplicity") {
    import spark.implicits._
    val a = Seq(1, 1, 2, 3).toDF("x")
    val b = Seq(1, 2, 2).toDF("x")
    assert(a.intersectAll(b).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(a.exceptAll(b).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  test("bround is half-even, round is half-up") {
    import spark.implicits._
    val df = Seq(2.5, 3.5, -2.5).toDF("x")
    val r = df.select(round(col("x"), 0).as("r"), bround(col("x"), 0).as("b"))
      .collect().map(x => (x.getDouble(0), x.getDouble(1)))
    assert(r.toSeq == Seq((3.0, 2.0), (4.0, 4.0), (-3.0, -2.0)))
  }

  test("initcap capitalizes each word") {
    import spark.implicits._
    assert(Seq("hello spark world").toDF("s")
      .select(initcap(col("s"))).head().getString(0) == "Hello Spark World")
  }

  test("deterministic mode picks the smallest value among tied candidates") {
    import spark.implicits._
    // Counts: 10 -> 2, 20 -> 2, 30 -> 1; the tie must resolve to 10.
    val df = Seq(("A", 20.0), ("A", 10.0), ("A", 30.0), ("A", 10.0), ("A", 20.0))
      .toDF("l_returnflag", "l_quantity")
    val out = df.groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
          .orderBy(col("n").desc, col("l_quantity").asc)))
      .filter(col("rnk") === 1).head()
    assert(out.getDouble(1) == 10.0 && out.getLong(2) == 2L)
  }

  test("cdc compaction: last op wins and a trailing delete removes the key") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // key 1: I then U → survives with the U value; key 2: I then D → gone;
    // key 3: D then I (out-of-order arrival, ts decides) → survives.
    val ch = Seq(
      (1L, 10L, "I", 1.0), (1L, 20L, "U", 2.0),
      (2L, 10L, "I", 3.0), (2L, 20L, "D", 0.0),
      (3L, 20L, "I", 4.0), (3L, 10L, "D", 0.0))
      .toDF("k", "ts", "op", "v")
    val last = Window.partitionBy("k").orderBy(col("ts").desc)
    val out = ch.withColumn("rn", row_number().over(last))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select("k", "op", "v").orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(out.map(_.getDouble(2)).toSeq == Seq(2.0, 4.0))
  }

  test("hll sketches built per slice merge to the whole-corpus estimate") {
    import spark.implicits._
    // 5000 distinct values spread over 10 slices; the union of per-slice
    // sketches must estimate the global NDV (lgK=14 ⇒ rsd ≈ 0.8%).
    val df = (1 to 5000).map(i => (i % 10, i)).toDF("slice", "v")
    val est = df.groupBy("slice").agg(expr("hll_sketch_agg(v, 14)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .head().getLong(0)
    assert(math.abs(est - 5000L) <= 5000 * 0.03, s"estimate $est off by >3%")
  }

  test("weighted sampling overrepresents heavy rows and is deterministic") {
    val out1 = SparkEntry.queries("q_sample_weighted")(spark, TestSpark.sf).collect()
    val out2 = SparkEntry.queries("q_sample_weighted")(spark, TestSpark.sf).collect()
    assert(out1.sameElements(out2), "selection must be run-deterministic")
    assert(out1.length == 100)
    // A-Res with weight = token count: the sample's mean weight must exceed
    // the population's (uniform sampling would match it; 100 draws of a
    // weighted scheme landing below is astronomically unlikely).
    val sampleMean = out1.map(_.getDouble(1)).sum / out1.length
    val popMean = Tables(spark, TestSpark.sf, "documents")
      .select(avg(size(split(col("text"), " ")))).head().getDouble(0)
    assert(sampleMean > popMean,
      s"weighted sample mean $sampleMean not above population mean $popMean")
  }

  test("token entropy: constant text is 0, distinct-token text is ln(n)") {
    import spark.implicits._
    val docs = Seq((1L, "a a a a"), (2L, "a b c d")).toDF("doc_id", "text")
    val h = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast("double") * log(col("c"))).as("clnc"))
      .select(col("doc_id"), (log(col("n")) - col("clnc") / col("n")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(h(1L)) < 1e-12)
    assert(math.abs(h(2L) - math.log(4)) < 1e-12)
  }

  test("containment flags a subset document that Jaccard misses") {
    import spark.implicits._
    // sub's 8 tokens (6 shingles) all appear in sup's 40-token text:
    // C(sub->sup) = 1.0 while J ~= 6/38 ~= 0.16 stays under any dedup tau.
    val subText = (0 until 8).map(i => s"w$i").mkString(" ")
    val supText = (0 until 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, subText), (2L, supText)).toDF("doc_id", "text")
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (a, b) = (sh(subText), sh(supText))
    assert((a & b) == a, "test corpus: sub must be a shingle subset")
    assert((a & b).size.toDouble / (a | b).size < 0.2, "jaccard must be low")
    // the shipped query's formulation over this corpus
    val shingled = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "w")))
      .withColumn("n1", lead(col("w"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("i")))
      .withColumn("n2", lead(col("w"), 2).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("i")))
      .filter(col("n2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("n1"), col("n2")).as("s"))
      .distinct()
    val sizes = shingled.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = shingled.select(col("doc_id").as("da"), col("s"))
      .join(shingled.select(col("doc_id").as("db"), col("s")), Seq("s"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .head()
    assert(shared.getAs[Long]("c").toDouble / shared.getAs[Long]("na") == 1.0)
  }

  test("equi-depth sketch boundaries sit inside the exact quantile neighborhood") {
    // The shipped q_histogram_equidepth validates boundary rank against the
    // sketch-computed cum/N (bounded state). Here, at test scale only, the
    // sketch boundaries are cross-checked against Spark's EXACT percentile —
    // the unbounded-state aggregate deliberately kept out of the shipped plan.
    val probes = (1 to 19).map(k => k * 0.05)
    val r = Tables(spark, TestSpark.sf, "lineitem")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 10000)").as("b"),
        expr(s"percentile(l_extendedprice, array(${probes.mkString(",")}))").as("q"))
      .head()
    val b = r.getSeq[Double](0)
    val q = r.getSeq[Double](1)
    (1 to 9).foreach { i =>
      val (lo, hi) = (q(2 * i - 2), q(2 * i))
      assert(b(i - 1) >= lo && b(i - 1) <= hi,
        s"sketch decile boundary $i = ${b(i - 1)} outside exact [$lo, $hi]")
    }
  }

  test("map functions round-trip keys and values") {
    val out = SparkEntry.queries("q_map_funcs")(spark, TestSpark.sf)
    val row = out.head()
    assert(row.getString(1) == "v,v2")
    val vs = row.getString(2).split(",").map(_.toDouble)
    assert(math.abs(vs(1) - 2 * vs(0)) < 1e-9)
    assert(row.getDouble(3) == vs(0))
  }
  test("q_sessionize agrees with Spark's session_window on session count and membership") {
    // Cross-validation against the ENGINE's own gap-session implementation
    // (session_window in batch mode, same 30-min gap): the window-cumsum
    // formulation must produce the same number of sessions per user and
    // the same per-session event counts. Guards the gap predicate's
    // boundary semantics (strictly-greater-than vs session_window's
    // right-open [start, start+gap) merge rule) against silent drift.
    val ours = SparkEntry.queries("q_sessionize")(spark, TestSpark.sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sw = Tables(spark, TestSpark.sf, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ours.keySet == sw.keySet)
    val diff = ours.keySet.filter(k => ours(k) != sw(k))
    assert(diff.isEmpty,
      s"session shape disagrees for users ${diff.take(5)}: " +
        diff.take(5).map(k => s"$k ours=${ours(k)} sw=${sw(k)}").mkString("; "))
  }
}
