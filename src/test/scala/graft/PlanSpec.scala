package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the scale-critical properties the
  * operators rely on must not silently regress: predicate pushdown,
  * column pruning, broadcast dimension joins, rank pushdown
  * (WindowGroupLimit), top-k (TakeOrderedAndProject), join hints. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q_filter pushes every predicate into the parquet scan") {
    val p = planOf("q_filter")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_quantity,10.0)"))
    assert(p.contains("In(l_returnflag, [A,R])"))
    assert(p.contains("Or(GreaterThan(l_discount,0.05),LessThan(l_tax,0.03))"))
    assert(p.contains("StringContains(p_name,red)"))
  }

  test("q_project prunes the scan to referenced columns") {
    val p = planOf("q_project")
    assert(!p.contains("l_returnflag"), "unreferenced column read")
    assert(!p.contains("l_shipdate"), "unreferenced column read")
  }

  test("flagship plan broadcasts dims and pushes the rank limit") {
    val p = planOf("q_topn_flagship")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dim join fell back to SMJ")
    assert(p.contains("WindowGroupLimit"), "rank<=n not pushed into the window")
  }

  test("q_topk plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("as-of join is one exchange + window — no join node at all") {
    val p = planOf("q_join_asof")
    assert(p.contains("Window"))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("NestedLoop"), s"unexpected join in as-of plan")
  }

  test("join hints are honored (shuffle_hash / merge)") {
    val li = Tables(spark, TestSpark.sf, "lineitem").select("l_orderkey")
    val ord = Tables(spark, TestSpark.sf, "orders").select("o_orderkey")
    val sh = li.join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(sh.contains("ShuffledHashJoin"))
    val mj = li.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(mj.contains("SortMergeJoin"))
  }

  test("LSH banding exchange carries only ids — token arrays stay out of the shuffle") {
    val p = planOf("q_dedup_fuzzy")
    // the hashpartitioning exchange on (band, bsig) must not carry the
    // shingle-set array column (replicating it x bands was measured 5x)
    val exchanges = p.split("\\n").filter(_.contains("hashpartitioning(band"))
    assert(exchanges.nonEmpty, "banding exchange missing")
    assert(!exchanges.exists(_.contains("tokens")),
      "token arrays riding the banding exchange")
  }

  test("q_dedup_containment engages the frequency-capped blocking path") {
    // The round-8 scale-killer: containment reused the UNCAPPED shingle
    // self-join (O(df²) per shingle bucket — 839 s at sf100). The capped
    // path (stop-shingle left-anti prune + mask-exact recovery, the
    // q_dedup_ngram_capped machinery under the asymmetric ⌈τ·n_sub⌉
    // guard) must engage on the real corpus — if the guard ever starts
    // falling back here, the 100-TB story is silently gone.
    val plan = SparkEntry.queries("q_dedup_containment")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      "capped blocking did not engage on the corpus (guard fallback?)")
  }

  test("q_profile reads lineitem in a single scan") {
    val p = planOf("q_profile")
    // formatted mode lists each operator twice (tree + detail header);
    // count only the numbered detail headers
    assert(p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*""")) == 1,
      "profiling must compute all column stats in one pass")
  }

  test("equi-depth histogram plans sketch + map-side binning, no Window") {
    val p = planOf("q_histogram_equidepth")
    assert(!p.contains("Window"),
      "equi-depth must not fall back to the single-task ntile total order")
    assert(p.contains("approx_percentile"), "boundary sketch missing")
    assert(!p.replace("approx_percentile", "").contains("percentile"),
      "exact percentile (unbounded agg state) must stay out of the shipped plan")
  }

  test("q_text_tfidf reads document data in one scan; tf/df share the exchange") {
    // Exchange reuse happens at runtime under AQE, so inspect the FINAL
    // adaptive plan after execution, not the static explain.
    val df = SparkEntry.queries("q_text_tfidf")(spark, TestSpark.sf)
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("ReusedExchange"),
      "tf and df branches must share one scan+exchange via ReusedExchange")
    // In the final plan the documents DATA scan (doc_id + text) appears
    // once; the corpus-size branch's scan prunes to zero columns.
    val finalSection = fin.split("== Initial Plan ==").head
    val dataScans = finalSection.split("\n").count(l =>
      l.contains("FileScan parquet") && l.contains("text:string"))
    assert(dataScans == 1, s"expected 1 data scan of documents, got $dataScans")
  }

  test("q_sample and q_text_tfidf build lazily — no driver-side action") {
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    SparkEntry.queries("q_sample")(spark, TestSpark.sf)
    SparkEntry.queries("q_text_tfidf")(spark, TestSpark.sf)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    // Each query construction runs at most one footer-read job for its
    // single Tables() call (none once the session has read that footer);
    // an eager count() would add a full-scan job on top.
    assert(after - before <= 2,
      s"construction ran ${after - before} jobs — an eager driver-side " +
        "action (count()) is back in the build path")
  }

  test("incremental dedup joins the corpus only via broadcast — no shuffle join") {
    val p = planOf("q_dedup_incremental")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the standing corpus must never be shuffled for a small ingest batch")
    assert(p.contains("BroadcastHashJoin"))
  }

  // Row-level runtime filtering: the complement to DPP for non-partition
  // join keys. At 100 TB a selective dim predicate should cut the fact scan
  // before the shuffle via an injected bloom filter (might_contain). The
  // size thresholds are tuned for test scale — the default 10 GB
  // application-side threshold exists precisely because the optimization
  // only pays off at the scales this engine targets.
  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    val c = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> c.getOption(k))
    c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables(spark, TestSpark.sf, "lineitem")
      val ord = Tables(spark, TestSpark.sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val p = j.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("might_contain"),
        "runtime bloom filter not injected:\n" + p.take(1500))
      assert(j.head().getLong(1) > 0)
    } finally saved.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
  }

  test("q_layout_zorder plans TakeOrderedAndProject over map-side bit math — no join, no window") {
    val p = planOf("q_layout_zorder")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Join") && !p.contains("Window"),
      "z-value computation must stay stateless map-side")
  }

  test("q_quality_classifier plans no join, no aggregate, no shuffle before the output sort") {
    val p = SparkEntry.queries("q_quality_classifier")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    // the only exchange allowed is the range partitioning of the final
    // deterministic ORDER BY — scoring itself is pure map-side projection
    assert(!p.contains("hashpartitioning"), "classifier scoring must not shuffle:\n" + p.take(1200))
    assert(!p.contains("Join") && !p.contains("HashAggregate"))
  }

  test("q_expectations reads lineitem once for the six scan rules") {
    val p = SparkEntry.queries("q_expectations")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    // three scans total: the wide rule agg, the FK anti-join probe side,
    // and orders — the six scan rules must share a single scan
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans <= 3, s"expected <=3 scans (rules+FK probe+orders), got $scans:\n" + p.take(1200))
  }

  test("bm25 corpus stats and df arrive by broadcast; one doc-keyed shuffle chain") {
    val p = planOf("q_text_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "stats/df must broadcast, not shuffle-join")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not global-sort")
  }

  test("DISTRIBUTE BY / SORT BY plans a hash exchange + partition-local sort") {
    // The registered q_distribute_by wraps this in a total ORDER BY for the
    // oracle, under which Catalyst correctly eliminates the now-redundant
    // local sort — so the shape is asserted on the bare statement.
    Tables.registerViews(spark, TestSpark.sf)
    val p = spark.sql(
      """SELECT l_orderkey, l_extendedprice FROM lineitem
         WHERE l_quantity > 45
         DISTRIBUTE BY l_orderkey SORT BY l_orderkey, l_extendedprice""")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("hashpartitioning(l_orderkey"),
      "DISTRIBUTE BY must hash-partition on the key")
    // SORT BY = a Sort node with global=false → "Arguments: [...], false, 0"
    assert(p.contains("false, 0"), "SORT BY must plan a partition-local sort")
  }

  test("q_tpch_q10 broadcasts nation and top-20s via TakeOrderedAndProject") {
    val p = planOf("q_tpch_q10")
    assert(p.contains("BroadcastHashJoin"), "nation must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
    assert(p.contains("EqualTo(l_returnflag,R)"), "returnflag filter must push to scan")
  }

  test("q_tpch_q1/q6 filters push to the fact scan; q6 reads no join") {
    val p1 = planOf("q_tpch_q1")
    assert(p1.contains("LessThanOrEqual(l_shipdate,"), "Q1 date filter must push")
    assert(p1.contains("HashAggregate"), "Q1 must hash-aggregate")
    val p6 = planOf("q_tpch_q6")
    assert(p6.contains("GreaterThanOrEqual(l_shipdate,") &&
      p6.contains("LessThan(l_shipdate,"), "Q6 date range must push to scan")
    assert(p6.contains("LessThan(l_quantity,24.0)"), "Q6 quantity cap must push")
    assert(!p6.contains("Join"), "Q6 is scan-only")
  }

  test("q_tpch_q18 pre-aggregates the fact, then broadcasts the big-order sliver") {
    val p = planOf("q_tpch_q18")
    // the per-order aggregate must appear BELOW the joins (pre-agg first) —
    // with AQE the filtered sliver then broadcasts into orders/customer
    assert(p.contains("HashAggregate"), "per-order pre-agg missing")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("q_tpch_q19 evaluates the disjunction in one pass — one lineitem scan, broadcast part") {
    val p = planOf("q_tpch_q19")
    assert(p.contains("BroadcastHashJoin"), "part must broadcast")
    // formatted mode lists each operator twice (tree + detail header);
    // count only the numbered detail headers — the r6 version counted the
    // raw substring and read the correct 2-scan plan as 4
    val scans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 2, s"disjunction must not rewrite to a union of scans: $scans scans")
    // each arm's derived predicates must still reach both scans
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), Or(Or(And("),
      "derived quantity disjunction not pushed to the lineitem scan")
  }

  private def liScans(p: String): Int =
    p.split("\\n").count(_.contains("lineitem.parquet"))

  test("q_tpch_q2 computes the correlated min in one fact pass (window, no re-scan)") {
    val p = planOf("q_tpch_q2")
    assert(liScans(p) == 1,
      s"correlated-min must not re-scan the fact: ${liScans(p)} lineitem scans")
    assert(p.contains("Window"), "per-part min window missing")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("q_tpch_q4 decorrelates EXISTS into a left semi join") {
    val p = planOf("q_tpch_q4")
    assert(p.contains("LeftSemi"), "EXISTS must compile to a semi join")
    assert(liScans(p) == 1, "semi probe must be the only lineitem scan")
  }

  test("q_tpch_q7/q8 scan the fact once; dims broadcast") {
    val p7 = planOf("q_tpch_q7")
    assert(liScans(p7) == 1)
    assert(p7.contains("BroadcastHashJoin"))
    assert(!p7.contains("CartesianProduct") && !p7.contains("NestedLoop"))
    val p8 = planOf("q_tpch_q8")
    assert(liScans(p8) == 1)
    assert(p8.contains("BroadcastHashJoin"))
    assert(!p8.contains("CartesianProduct") && !p8.contains("NestedLoop"))
  }

  test("q_tpch_q11/q15 read the materialized aggregate — no fact re-scan for the global total") {
    // the grand-total / max branch must consume the checkpointed
    // dimension-sized aggregate, not re-run the fact scan (measured: no
    // exchange/stage reuse for the lazy two-branch form, even under AQE)
    val p11 = planOf("q_tpch_q11")
    assert(liScans(p11) == 0, s"q11 re-scans the fact: ${liScans(p11)}")
    val p15 = planOf("q_tpch_q15")
    assert(liScans(p15) == 0, s"q15 re-scans the fact: ${liScans(p15)}")
  }

  test("q_tpch_q13 outer-joins so zero-order customers survive; q17 windows the correlated avg") {
    val p13 = planOf("q_tpch_q13")
    assert(p13.contains("LeftOuter"), "priority exclusion must stay in the join condition")
    val p17 = planOf("q_tpch_q17")
    assert(liScans(p17) == 1, "correlated per-part avg must not re-scan the fact")
    assert(p17.contains("Window"), "per-part avg window missing")
  }

  test("q_tpch_q22 anti-joins the urgent sliver; balance threshold rides a 1-row broadcast") {
    val p = planOf("q_tpch_q22")
    assert(p.contains("LeftAnti"), "NOT EXISTS must compile to an anti join")
    assert(liScans(p) == 0, "q22 must not touch the fact table")
  }

  test("q_tpch_q21 plans the semi + anti stack over three pruned fact scans") {
    val p = planOf("q_tpch_q21")
    assert(p.contains("LeftSemi"), "EXISTS must compile to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must compile to an anti join")
    // l1 / semi probe / anti probe — inherent to Q21; a 4th means a rewrite
    assert(liScans(p) == 3, s"expected 3 lineitem scans, saw ${liScans(p)}")
  }

  test("q_tpch_q9/q12 scan each fact once; q9 dims broadcast, q12 filters pushed") {
    val p9 = planOf("q_tpch_q9")
    assert(liScans(p9) == 1, s"q9 lineitem scans: ${liScans(p9)}")
    assert(p9.split("\\n").count(_.contains("orders.parquet")) == 1,
      "q9 must scan orders once")
    assert(p9.contains("BroadcastHashJoin"), "part/supplier-nation must broadcast")
    val p12 = planOf("q_tpch_q12")
    assert(liScans(p12) == 1, s"q12 lineitem scans: ${liScans(p12)}")
    assert(p12.contains("In(l_returnflag, [A,R])"),
      "flag filter not pushed to the lineitem scan")
  }

  test("q_tpch_q20 replaces the correlated pair with one conditional agg pass") {
    val p = planOf("q_tpch_q20")
    assert(liScans(p) == 1,
      s"both aggregates must come from one fact pass: ${liScans(p)} scans")
    assert(p.contains("LeftSemi"), "supplier probe must stay a semi join")
    assert(p.contains("StringStartsWith(p_name,small)"),
      "part prefix filter not pushed to the part scan")
  }

  test("q_join_bucketed joins without a shuffle; only the aggregate exchanges") {
    val df = SparkEntry.queries("q_join_bucketed")(spark, TestSpark.sf)
    df.collect() // force AQE to finalize the executed plan
    // AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan" —
    // count exchanges only in the final plan section above it.
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"), "bucketed join must stay sort-merge")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected only the post-join aggregate exchange, saw $exchanges:\n$p")
    assert(p.contains("Bucketed: true"), "scan did not use the bucket layout")
  }

  test("q_sample_reservoir partial-aggregates map-side (no corpus-wide window)") {
    val p = planOf("q_sample_reservoir")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
      "reservoir must not be a row_number window over the corpus")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "typed TopNAgg aggregate missing")
  }

  test("q_skyline_2d plans agg + window over the aggregated relation, no join") {
    val p = planOf("q_skyline_2d")
    assert(p.contains("HashAggregate"), "per-key max aggregate missing")
    assert(p.contains("Window"), "running-max window missing")
    assert(!p.contains("Join"), "skyline must not plan a dominance join")
  }

  test("q_graph_degree reads materialized edges: no corpus scan, no self-join") {
    val p = planOf("q_graph_degree")
    // count numbered detail headers only (formatted mode shows each
    // operator in both the tree and the detail section). Since r12 the
    // edges come from the shared apriori-pruned run-scoped checkpoint
    // (TextAnalysis.cooccurEdges), so the FINAL plan is a census over the
    // materialized relation — zero parquet scans (the prune's one freq
    // join lives inside the builder, below the checkpoint barrier).
    val docScans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(docScans == 0, s"expected zero documents scans past the checkpoint, saw $docScans")
    // a join node means the plan regressed to the corpus (doc,token)
    // self-join
    assert(!p.contains("Join"), "co-occurrence degree census must not plan a join")
  }

  test("q_graph_triangles and q_text_rank read materialized edges — no corpus re-scan") {
    val pt = planOf("q_graph_triangles")
    val tScans = pt.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(tScans == 0, s"triangles re-scans the corpus: $tScans scans")
    val pr = planOf("q_text_rank")
    val rScans = pr.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(rScans == 0, s"text_rank re-scans the corpus: $rScans scans")
  }

  test("q_source_novelty reads its checkpointed relation — one corpus pass") {
    // feeds a multi-consumer derived relation (distinct (source, shingle))
    // through Tables.checkpoint; without the barrier the corpus explode
    // re-executes per consumer (the r5 q_graph_triangles defect class).
    // After the checkpoint, the final plan must contain ZERO parquet
    // scans. (q_lsh_tuning left this test in r9: its one-pass wide-
    // aggregate rewrite has a single consumer chain — no checkpoint to
    // assert, covered by the single-scan test below.)
    val p = planOf("q_source_novelty")
    val scans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 0, s"q_source_novelty re-scans the corpus past its checkpoint: $scans")
  }

  test("q_lsh_tuning is one corpus pass: sampled scan feeding one wide signature aggregate") {
    // The r9 shape: 25% doc sample → distinct (doc, shingle) → ONE
    // map-side-combined 16-column min aggregate → 28-struct explode →
    // census. Exactly one parquet scan, no checkpoint barrier, and the
    // sample predicate must be pushed into the scan.
    val p = planOf("q_lsh_tuning")
    val scans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"expected exactly 1 corpus scan, got $scans")
    assert(p.contains("PushedFilters:") && p.contains("doc_id"),
      "doc_id sample predicate not pushed to the scan")
  }

  test("q_concurrency scans each input once: deltas collapse before the sweep") {
    val p = planOf("q_concurrency")
    val scans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    // one lineitem scan (close rollup) + one orders scan; the +1/−1
    // endpoints explode map-side from ONE pass over the interval relation
    // — a union of two selects would re-execute the join per branch
    assert(scans == 2, s"delta generation re-scans the fact tables: $scans scans")
  }

  test("q_dedup_bloom probes the sketch map-side; only the ground-truth check joins") {
    val p = planOf("q_dedup_bloom")
    // the bloom probe itself is a scalar-subquery broadcast + map-side
    // expression; the single join in the plan is the oracle-contract
    // ground-truth channel (text IN corpus), and it must stay a broadcast
    // existence join — a shuffle join here means the probe regressed
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "bloom query must not shuffle-join")
    assert(p.contains("BroadcastHashJoin ExistenceJoin"),
      "ground-truth check must be a broadcast existence join")
  }

  test("q_text_inverted_index is one explode + one agg over one scan") {
    val p = planOf("q_text_inverted_index")
    val docScans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(docScans == 1, s"expected one documents scan, saw $docScans")
    assert(!p.contains("Join"), "inverted index must not plan a join")
  }

  test("q_text_vocab consumers read the checkpointed counts — no corpus re-scan") {
    val p = planOf("q_text_vocab")
    // vocab / totals / oov all derive from the materialized (lang, token)
    // count: the final plan must not touch documents at all
    val docScans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(docScans == 0, s"expected zero documents scans, saw $docScans")
    assert(p.contains("LeftAnti"), "OOV probe must be an anti join")
    assert(p.contains("BroadcastExchange"), "vocab must broadcast to the probe")
  }

  test("q_text_bigrams scans documents once; the normalizer window sits above the agg") {
    val p = planOf("q_text_bigrams")
    val docScans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(docScans == 1, s"adjacency must explode intra-row: $docScans scans")
    assert(!p.contains("Join"), "positional adjacency must not plan a self-join")
    assert(p.contains("Window"), "per-w1 normalizer window missing")
  }

  test("q_scd2_pit plans an equi join with the validity range as residual — no loop join") {
    val p = planOf("q_scd2_pit")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "point-in-time lookup regressed to an unbounded interval join")
    assert(p.contains("Window"), "eff_to lead window missing")
  }

  test("q_join_asof_nearest composes two window as-ofs — no loop join anywhere") {
    val p = planOf("q_join_asof_nearest")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
    assert(p.contains("Window"), "as-of window passes missing")
  }

  test("cache() plans an InMemoryTableScan and unpersist restores the file scan") {
    val df = Tables(spark, TestSpark.sf, "region")
    df.cache()
    try {
      df.count() // materialize
      val p = df.filter(col("r_regionkey") > 1)
        .queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan"), "cached relation must serve the scan")
    } finally df.unpersist()
    val p2 = df.filter(col("r_regionkey") > 1)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("InMemoryTableScan"))
  }

  test("ANALYZE TABLE records catalog row-count/size stats the optimizer can read") {
    Tables.registerViews(spark, TestSpark.sf)
    val loc = java.nio.file.Files.createTempDirectory("graft_cbo").toString
    spark.sql("DROP TABLE IF EXISTS graft_stats_nation")
    spark.sql(
      s"CREATE TABLE graft_stats_nation USING parquet LOCATION '$loc/t' AS SELECT * FROM nation")
    try {
      spark.sql("ANALYZE TABLE graft_stats_nation COMPUTE STATISTICS")
      // plan stats surface the analyzed rowCount only under CBO
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats = spark.table("graft_stats_nation")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(25)), s"rowCount was ${stats.rowCount}")
      assert(stats.sizeInBytes > 0)
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.sql("DROP TABLE IF EXISTS graft_stats_nation")
    }
  }

  test("registered functions are usable from plain SQL text") {
    val r = spark.sql(
      """SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
                simhash64(array('a','b')) AS s,
                rolling_hash64(array('a','b')) AS rh""").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getLong(1) != 0L && r.getLong(2) != 0L)
  }

  test("q_geo_knn blocks to one cell equi-join — no cartesian, 9x replication on the supplier side") {
    val p = planOf("q_geo_knn")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "spatial join fell back to an unbounded join")
    assert(p.split("\\n").count(_.contains("customer.parquet")) == 1,
      "customer (the probe side) must be scanned once, never replicated")
    assert(p.split("\\n").count(_.contains("supplier.parquet")) == 1)
    assert(p.contains("Generate"), "supplier-side 3x3 cell replication missing")
  }

  test("q_kmeans final plan reads the checkpointed centroids, not round N-1's lineage") {
    val p = planOf("q_kmeans")
    // one corpus scan for the final assignment; every earlier round is
    // materialized behind a checkpoint (Scan ExistingRDD), so the returned
    // plan cannot re-execute the previous rounds' assignments
    assert(p.split("\\n").count(_.contains("embeddings.parquet")) == 1,
      "final assignment must be the only embeddings scan")
    assert(p.contains("ExistingRDD"), "centroids not checkpoint-materialized")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_agg_incremental merges partials — aggregates sit below the union") {
    val p = planOf("q_agg_incremental")
    assert(p.contains("Union"))
    assert(p.split("\\n").count(_.contains("orders.parquet")) == 2,
      "exactly one scan per partial (base + delta)")
    // each branch pre-aggregates before the union: at least 3 hash
    // aggregates total (2 partial branches + the merge)
    assert(p.split("\\n").count(_.matches("""\(\d+\) HashAggregate.*""")) >= 3,
      "partials must aggregate before the merge")
  }

  test("q_ab_test is one conditional-aggregation pass — single scan, no join") {
    val p = planOf("q_ab_test")
    assert(p.split("\\n").count(_.contains("events.parquet")) == 1,
      "both variants must come out of ONE events scan")
    assert(!p.contains("Join"), "variant split must not be a self-join")
  }

  test("q_changepoint_cusum windows over the daily rollup, not raw events") {
    val p = planOf("q_changepoint_cusum")
    assert(p.split("\\n").count(_.contains("events.parquet")) == 1)
    assert(p.contains("HashAggregate") && p.contains("Window"))
    // the partial (map-side) aggregate must land below the exchange so the
    // corpus-sized shuffle carries daily rows, not raw events
    val lines = p.split("\\n")
    val firstAgg = lines.indexWhere(_.matches("""\(\d+\) HashAggregate.*"""))
    val firstExch = lines.indexWhere(_.matches("""\(\d+\) Exchange.*"""))
    assert(firstAgg >= 0 && firstExch >= 0)
  }

  test("q_sessionize shuffles once — session agg reuses the window's user partitioning") {
    val p = planOf("q_sessionize")
    // windows partition by user_id; the (user_id, session_id) aggregate's
    // clustering is satisfied by that same hash partitioning, so the only
    // HASH exchange is the one feeding the window (the final ORDER BY's
    // rangepartitioning exchange is the total-order output contract)
    val hashShuffles = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashShuffles == 1, s"expected the single user_id exchange, got $hashShuffles")
  }

  test("q_autocorr lags over the daily rollup; partial agg sits below the exchange") {
    val p = planOf("q_autocorr")
    assert(p.split("\\n").count(_.contains("events.parquet")) == 1)
    assert(p.contains("Window") && p.contains("HashAggregate"))
  }

  test("q_mannwhitney_u and q_gini rank through bucketed exchanges, never a shuffle join") {
    for (q <- Seq("q_mannwhitney_u", "q_gini")) {
      val p = planOf(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q: boundaries and offsets must broadcast back, never shuffle-join")
      assert("hashpartitioning\\([^)]*__bkt".r.findFirstIn(p).nonEmpty,
        s"$q: the rank exchange must hash-partition by the range bucket")
    }
  }

  test("q_benford is map-side digit extraction + one 9-row aggregate") {
    val p = planOf("q_benford")
    assert(!p.contains("Window"), "digit extraction must not sort")
    assert(p.contains("HashAggregate"))
  }

  test("q_winsorize joins only by broadcast; the clamp is map-side") {
    val p = planOf("q_winsorize")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "winsorize must never shuffle-join: dims and bounds broadcast")
  }

  test("q_rolling_distinct expands via Generate (flat map), never a nested-loop range join") {
    val p = planOf("q_rolling_distinct")
    assert(p.contains("Generate"), "7-day expansion must be explode-based")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the day-window must not plan a nested-loop range join")
  }

  test("q_ks_test: checkpointed per-value rollup, PrefixSum ECDF, no corpus rescan") {
    // r8: the per-value rollup materializes once; both cumulative counts
    // come from one PrefixSum pass, so the final plan never rescans events
    // and every window is bucket-distributed or a bounded offsets window.
    val p = planOf("q_ks_test")
    assert(p.split("\n").count(_.contains("events.parquet")) == 0,
      "events must be scanned only at checkpoint time")
    val ws = physical("q_ks_test").collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.nonEmpty)
    ws.foreach(w => assert(w.partitionSpec.nonEmpty || prefixSumShaped(w),
      "ECDF windows must be PrefixSum-distributed"))
  }

  test("q_interval_merge: one events scan, one user_id exchange shared by windows and aggs") {
    val p = planOf("q_interval_merge")
    assert(p.split("\\n").count(_.contains("events.parquet")) == 1,
      "interval coalescing must be a single corpus pass")
    assert(!p.contains("Join"), "prefix-max span detection must not self-join")
    val hashShuffles = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashShuffles == 1,
      s"windows + both aggs are user-keyed; expected 1 hash exchange, got $hashShuffles")
  }

  test("q_allocation: single lineitem/orders scans; windows reuse the orderkey exchange") {
    val p = planOf("q_allocation")
    assert(p.split("\\n").count(_.contains("lineitem.parquet")) == 1)
    assert(p.split("\\n").count(_.contains("orders.parquet")) == 1)
    // every window is order-partitioned: exactly one hash exchange total
    val hashShuffles = "hashpartitioning\\(".r.findAllIn(p).length
    assert(hashShuffles == 1,
      s"expected the single l_orderkey exchange, got $hashShuffles")
    assert(p.split("\\n").count(_.matches("""\(\d+\) Window.*""")) >= 2,
      "share + leftover/rank windows missing")
  }

  test("q_kaplan_meier reads the checkpointed per-user relation — no corpus re-scan") {
    val p = planOf("q_kaplan_meier")
    // the events scan happens ONCE at checkpoint materialization; both
    // consumers (window-end max + life table) must read the RDD
    val scans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 0, s"expected zero parquet scans in the final plan, saw $scans")
  }

  test("q_embed_project: one embeddings scan, sign matrix broadcast, one vec_id agg") {
    val p = planOf("q_embed_project")
    assert(p.split("\\n").count(_.contains("embeddings.parquet")) == 1,
      "all 8 projections must come from ONE corpus pass")
    assert(p.contains("BroadcastHashJoin"), "sign matrix must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "sign join must never shuffle the exploded corpus")
  }

  test("q_boxplot is the documented two-pass shape: fences broadcast back to the corpus") {
    val p = planOf("q_boxplot")
    assert(p.split("\\n").count(_.contains("documents.parquet")) == 2,
      "order-statistic fences force exactly two corpus passes, no more")
    assert(p.contains("BroadcastHashJoin"), "fence relation must broadcast")
    assert(!p.contains("SortMergeJoin"), "fence join must not shuffle the corpus")
  }

  test("q_anova aggregates the fact once; grand totals window over the k-row relation") {
    val p = planOf("q_anova")
    assert(p.split("\\n").count(_.contains("lineitem.parquet")) == 1,
      "the global mean must not re-scan the fact")
    assert(!p.contains("Join"), "ANOVA must not plan a join")
    assert(p.contains("Window"), "grand totals must come from the tiny-relation window")
  }

  test("q_mk_trend runs the O(days²) comparison on the checkpointed day relation") {
    val p = planOf("q_mk_trend")
    val scans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 0,
      s"S-statistic + tie stats must both read the materialized daily rollup, saw $scans parquet scans")
  }

  test("q_text_pmi derives pairs, marginals and corpus size from one materialized relation") {
    val p = planOf("q_text_pmi")
    val scans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 0,
      s"documents must be scanned only at checkpoint time, saw $scans parquet scans in the final plan")
    assert(p.contains("BroadcastHashJoin"), "marginals must broadcast to the pair relation")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the pair relation must not shuffle for the marginal joins")
  }

  test("q_classifier_calibration is one scan, one 20-row aggregate — score and label map-side") {
    val p = planOf("q_classifier_calibration")
    assert(p.split("\\n").count(_.contains("documents.parquet")) == 1)
    assert(!p.contains("Join"), "label and score must come from the same pass")
  }

  test("q_theil_sen pairs and intercept both read the checkpointed day relation") {
    val p = planOf("q_theil_sen")
    val scans = p.split("\\n").count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 0, s"expected zero parquet scans in the final plan, saw $scans")
  }

  test("q_bootstrap_ci expands replicates map-side; the exchange carries partials") {
    val p = planOf("q_bootstrap_ci")
    assert(p.split("\\n").count(_.contains("events.parquet")) == 2,
      "point estimate + replicate passes: exactly two scans")
    assert(p.contains("Generate"), "replicate expansion must be a flat-map Generate")
    // the (event_type, rep) partial aggregate must sit BELOW its exchange
    // so the corpus×64 expansion never shuffles
    val lines = p.split("\\n")
    val gen = lines.indexWhere(_.matches("""\(\d+\) Generate.*"""))
    val agg = lines.indexWhere(_.matches("""\(\d+\) HashAggregate.*"""), gen)
    val exch = lines.indexWhere(_.matches("""\(\d+\) Exchange.*"""), gen)
    assert(gen >= 0 && agg >= 0 && exch >= 0)
  }

  test("fleet invariant: no query plans a cartesian; nested-loop only in the broadcast-tiny set") {
    // The accidental unbounded join is the classic 100-TB killer. Every
    // registered query must plan WITHOUT a shuffle CartesianProduct — no
    // exceptions — and BroadcastNestedLoopJoin may appear only in the
    // audited crossJoin(broadcast(tiny-or-1-row)) patterns listed here.
    // A new key landing in `badCart`/`badBnlj` means its plan regressed
    // (or a new query needs an explicit audit + allowlist entry).
    val bnljAudited = Set(
      "q_basket_lift", "q_benford", "q_expectations", "q_histogram_2d", "q_histogram_equidepth",
      "q_join_cross", "q_kmeans", "q_dedup_semantic", "q_mixture_resample",
      "q_mixture_temperature", "q_resample_gapfill", "q_rfm",
      "q_sample", "q_similarity_ann", "q_similarity_ivf",
      "q_similarity_pq_search", "q_similarity_topk", "q_text_bm25",
      "q_text_lm_score", "q_text_tfidf", "q_tpch_q11", "q_tpch_q22",
      // 1-row global-aggregate broadcasts (house global-agg idiom)
      // (q_ann_recall: n_exact/n_q 1-row totals + the exactTopK
      // 10-query-vector nested loop, same shape as q_similarity_topk)
      "q_ann_recall",
      "q_ks_test", "q_chisq_independence", "q_psi_drift", "q_dsir",
      "q_target_encoding", "q_rollup_share", "q_kaplan_meier",
      // 64×8 constant sign-matrix build (range × range, both tiny)
      "q_embed_project",
      // checkpointed day-relation inequality self-join (calendar-bounded)
      // + 1-row tie-stats broadcast / 1-row corpus-size broadcast
      "q_mk_trend", "q_text_pmi", "q_theil_sen",
      // 3-row literal query relation broadcast onto the corpus scan
      "q_rank_ndcg",
      // |sources| × broadcast top-20 token panel grid (both tiny)
      "q_token_drift",
      // 1-row PrefixSum boundary-sketch broadcasts (q_rfm above predates
      // the helper; its stages now broadcast the same 1-row relations)
      "q_gini", "q_mannwhitney_u", "q_percentile_weighted",
      "q_zipf_slope", "q_quantile_normalize", "q_vocab_coverage",
      // 1-row (n1,n2,V) totals broadcast onto the vocab relation
      "q_text_logodds")
    val plans = SparkEntry.queries.keys.toSeq.sorted.map(k => k -> planOf(k))
    val badCart = plans.collect {
      case (k, p) if p.contains("CartesianProduct") => k }
    assert(badCart.isEmpty, s"shuffle cartesian planned by: $badCart")
    val badBnlj = plans.collect {
      case (k, p) if p.contains("BroadcastNestedLoopJoin") &&
        !bnljAudited(k) => k }
    assert(badBnlj.isEmpty,
      s"unaudited nested-loop join planned by: $badBnlj")
  }

  // ---------------------------------------------------------------------
  // Bounded-window invariant (round-8): no WindowExec may funnel a
  // corpus-proportional relation through a single reducer.
  // ---------------------------------------------------------------------

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec => AggExec}
  import org.apache.spark.sql.execution.window.WindowExec

  /** Pre-AQE physical plan tree (the explainString helpers above parse the
    * same plan as text; tree access makes partition specs first-class). */
  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, TestSpark.sf)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }

  /** The PrefixSum helper's two window shapes, recognized structurally:
    * either the window is partitioned by the range bucket (the 32-way
    * distributed rank/cumsum itself), or it consumes a relation whose
    * nearest upstream aggregate groups by the bucket — the ≤(partitions ×
    * buckets)-row offsets relation, bounded by construction. */
  private def prefixSumShaped(w: WindowExec): Boolean = {
    val inPartSpec = w.partitionSpec.exists(_.toString.contains("__bkt"))
    val onBucketCounts = w.child.collectFirst { case a: AggExec => a }
      .exists(_.groupingExpressions.exists(_.name == "__bkt"))
    inPartSpec || onBucketCounts
  }

  test("fleet invariant: every single-partition window sits on a domain-bounded relation") {
    // An unpartitioned (or few-key-partitioned) window is a single-reducer
    // sort of everything below it — the round-7 weak class. Every
    // registered query's plan is walked: a WindowExec with an EMPTY
    // partition spec must either be one of the PrefixSum helper's bounded
    // offset windows (recognized structurally) or appear here with its
    // bounding argument. A new key failing this test either needs the
    // PrefixSum helper or an explicit audit + allowlist entry.
    val boundedAudited: Map[String, String] = Map(
      // constant- or k-row statistic relations (k fixed by the schema)
      "q_cuped" -> "grand totals over the 2-row arm relation",
      "q_levene" -> "grand totals over the k=|event_types| row group relation",
      "q_anova" -> "grand totals over the k=|event_types| row group relation",
      "q_label_balance" -> "entropy totals over the |labels|-row class relation",
      // calendar / duration domains — bounded by time, not data volume
      "q_new_returning" -> "cumulative acquisition over the per-day rollup",
      "q_rolling_regression" -> "trailing-7-day sums over the per-day rollup",
      "q_cumulative_users" -> "running total over the per-day rollup",
      "q_concurrency" -> "sweep-line over the per-hour boundary rollup",
      "q_kaplan_meier" -> "life table over distinct duration days")
    // (q_ks_test / q_quantile_normalize / q_zipf_slope / q_vocab_coverage
    // moved OFF this allowlist in r8: their distinct-value/vocab windows —
    // sublinear but growing — now run through PrefixSum and are recognized
    // structurally below.)
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { k =>
      val ws = physical(k).collect { case w: WindowExec => w }
      ws.collect {
        case w if w.partitionSpec.isEmpty &&
          !prefixSumShaped(w) && !boundedAudited.contains(k) =>
          s"$k: ${w.windowExpression.map(_.name).mkString(",")}"
      }
    }
    assert(offenders.isEmpty,
      s"unaudited single-partition window(s): ${offenders.mkString("; ")}")
  }

  test("q_dedup_substr: window-census exchanges carry only fixed-width keys") {
    // The r9 rewrite's contract (the sweep measured the string-keyed
    // spelling superlinear at sf10 — 25× wall for 10× data): the exploded
    // window relation, ~|tokens| rows and the largest in the query, must
    // cross every exchange as (doc_id, w, h) fixed-width fingerprints,
    // never as raw span STRINGS. The single legitimate variable-width
    // exchange is the token-array re-slice join of the island relation
    // back to the corpus (one corpus pass, source data not span text).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType,
      StringType}
    // Drive the SAME substrSpans code path q_dedup_substr wraps, but over a
    // multi-partition corpus with AQE off: the sf0.001 parquet is a single
    // split (a single-partition child satisfies every clustered
    // distribution), and under AQE the pre-EnsureRequirements inputPlan
    // hasn't had requirement-driven exchanges inserted yet — so the keyed
    // query's plan shows no exchanges at all at test scale. The invariant
    // under test (what a census exchange CARRIES) only becomes observable
    // from the fully-prepared non-adaptive plan over partitioned input.
    val plan = {
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val docs3 = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
          .select("doc_id", "text").repartition(3)
        llm.Dedup.substrSpans(docs3, L = 8).queryExecution.executedPlan
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    val hashEx = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    val windowed = hashEx.filter(_.child.output.exists(a =>
      a.name == "w" || a.name == "h"))
    assert(windowed.nonEmpty, "expected the census/probe window exchanges")
    windowed.foreach { e =>
      val wide = e.child.output.filterNot(a =>
        a.dataType == LongType || a.dataType == IntegerType)
      assert(wide.isEmpty, "window-census exchange carries variable-width " +
        wide.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(","))
    }
    assert(!hashEx.exists(_.child.output.exists(_.dataType == StringType)),
      "no hash exchange may carry raw span strings")
    assert(hashEx.count(_.child.output.exists(
      _.dataType.isInstanceOf[ArrayType])) <= 1,
      "token arrays may cross at most the single re-slice exchange")
  }

  test("q_knn_graph: the topk_pairs aggregate rides the label join's partitioning") {
    // The SURVEY claim (r10 spelling): groupBy(label, vec_id) is satisfied
    // by the blocking join's hash(label) output partitioning (vec→label is
    // functional), so the corpus crosses exactly ONE exchange per join side
    // — keyed by label — and the per-vector top-k (a topk_pairs typed
    // aggregate, TopKAgg.scala) adds NO exchange and NO sort. The r9 rank
    // window needed a per-partition sort of the full pair relation before
    // WindowGroupLimit could prune; the aggregate keeps ≤k pairs per
    // vector in a bounded buffer instead. Built with AQE off (the adaptive
    // inputPlan predates EnsureRequirements) and broadcast off (pinning
    // the 100-TB SMJ shape; at test scale the build side would broadcast
    // and the assertion would see nothing) over a multi-partition input (a
    // single split satisfies every distribution and elides all exchanges).
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try {
        val emb = spark.read
          .parquet(s"${TestSpark.sf}/embeddings.parquet").repartition(3)
        llm.Similarity.knnEdges(emb, k = 3).queryExecution.executedPlan
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }
    val aggs = plan.collect {
      case a: ObjectHashAggregateExec
        if a.groupingExpressions.exists(_.toString.contains("vec_id")) => a
    }
    assert(aggs.nonEmpty, "expected the per-vector topk_pairs aggregate")
    aggs.foreach { a =>
      val below = a.child.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(below.nonEmpty,
        "expected the label blocking exchanges under the aggregate")
      below.foreach { e =>
        val keys = e.outputPartitioning.asInstanceOf[HashPartitioning]
          .expressions.map(_.toString)
        assert(keys.forall(k => k.contains("label") && !k.contains("vec_id")),
          s"corpus exchange below the topk aggregate keyed by ${keys.mkString(",")}" +
            " — the aggregate must ride the label partitioning, not re-shuffle")
      }
    }
    // ZERO sorts outside the SMJ's own label-keyed input sorts: the top-k
    // tail must not sort the pair relation (the r9 window sorted by
    // (label, vec_id, cos, nbr_id); a SortAggregate fallback would sort by
    // (label, vec_id)). Codegen wraps the SMJ's children in InputAdapters,
    // so identify the allowed sorts by their keys: label and nothing else.
    plan.collect { case s: SortExec => s }.foreach { s =>
      val keys = s.sortOrder.map(_.child.toString)
      assert(keys.forall(_.contains("label")),
        s"unexpected non-label sort in the k-NN edge plan (keys=$keys) — " +
          "the topk_pairs tail must not sort the pair relation")
    }
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "no window may remain in the k-NN edge plan")
  }

  // ---------------------------------------------------------------------
  // Bounded-broadcast-hint invariant (round-8): no forced broadcast of a
  // corpus-proportional relation. The sf100 decade run found the failure
  // class the bounded-window invariant has for windows: q_dedup_fuzzy,
  // q_dedup_cluster and q_pipeline_e2e force-broadcast near-dup-pair /
  // dropped-id relations — a vanishing FRACTION of the corpus but still
  // corpus-PROPORTIONAL — and died at the 1 GiB driver-collect ceiling
  // (~5M pairs). No smaller SF exposes it. This test makes the fix a
  // fleet-wide contract: every `broadcast()` hint in every registered
  // query's analyzed plan must sit on a relation bounded by SCHEMA,
  // CALENDAR, a LIMIT, a global aggregate, or the workload model's
  // dimension tables — never on a relation that grows with the corpus.
  // ---------------------------------------------------------------------

  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg,
    GlobalLimit, LeafNode, LogicalPlan, ResolvedHint}
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

  /** Corpus-proportional base tables: relations derived from these grow
    * with the data unless collapsed by a global agg or limit. The five
    * TPC-H-style dims (region/nation/customer/supplier/part) are the
    * workload model's broadcast side (they stay dim-sized at every scale
    * factor, as in the 100-TB sizing of SCALE.md); the class this
    * invariant polices is FACT-derived hint subtrees — pair sets, id
    * lists, per-doc rollups. */
  private val corpusTables = Seq("lineitem", "orders", "events",
    "documents", "embeddings")

  private def leafIsCorpus(l: LeafNode): Boolean = l match {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation =>
        val p = h.location.rootPaths.mkString(",")
        corpusTables.exists(t => p.contains(s"$t.parquet"))
      case _ => false
    }
    // A checkpointed relation (LogicalRDD) is opaque — in this codebase
    // checkpoints hold collapsed CORPUS relations (shingle sets, token
    // rollups), so assume corpus-derived: it must be bounded by structure
    // ABOVE it (global agg / limit / __bkt totals) or carry an audit entry.
    case rdd if rdd.nodeName == "LogicalRDD" => true
    // Literal relations (LocalRelation, Range, OneRowRelation) are bounded.
    case _ => false
  }

  /** A hinted subtree is bounded if every path to a corpus leaf passes a
    * global (grouping-free) aggregate, a limit, or the PrefixSum helper's
    * per-bucket totals (≤ partitions × buckets rows by construction)
    * before reaching it.
    *
    * The __bkt escape hatch trusts PrefixSum's documented precondition
    * (withOrderStats: partCols must be schema/calendar-bounded — the
    * offsets relation is |partCols groups| × buckets rows). A future
    * caller partitioning by a high-cardinality key would be green-lit
    * here structurally while actually broadcasting a corpus-proportional
    * relation; the precondition note on the helper is the contract that
    * prevents it, and any new PrefixSum call site should be audited
    * against it in review. */
  private def hintSubtreeBounded(p: LogicalPlan): Boolean = p match {
    case a: LAgg if a.groupingExpressions.isEmpty => true
    case a: LAgg if a.groupingExpressions.exists(
      _.references.exists(_.name == "__bkt")) => true
    case _: GlobalLimit => true
    case l: LeafNode => !leafIsCorpus(l)
    case other => other.children.forall(hintSubtreeBounded)
  }

  test("fleet invariant: every broadcast hint sits on a domain-bounded relation") {
    // A key listed here carries the documented reason its hinted relation
    // is bounded even though the structural walk cannot see it. A NEW key
    // failing this test should almost always DROP the hint (AQE broadcasts
    // small relations by itself at runtime — the hint adds nothing but the
    // failure mode), not grow this list.
    val hintAudited: Map[String, String] = Map(
      "q_basket_lift" -> "per-item support counts — part-catalog(dim)-sized",
      "q_boxplot" -> "per-language quartile fences — |langs| rows",
      "q_chisq_independence" -> "row/col marginals — |langs| and |sources| rows",
      "q_cohort_ltv" -> "per-cohort sizes — calendar-week-bounded",
      "q_cross_lingual_overlap" -> "per-language vocab sizes — |langs| rows",
      "q_decontaminate" -> "eval-split shingles — benchmark set fixed-size by construction",
      "q_dedup_incremental" -> "ingest-batch shingles/ids — batch-sized operator input, never the standing corpus",
      "q_kmeans" -> "centroid codebook checkpoint — k rows by construction",
      "q_levene" -> "per-group deviation stats — |event_types| rows",
      "q_mixture_resample" -> "per-source rates — |sources| rows",
      "q_outlier_mad" -> "per-language median/MAD stats — |langs| rows",
      "q_outlier_zscore" -> "per-language mean/stddev — |langs| rows",
      "q_percentile_weighted" -> "per-returnflag weight totals — 3 schema-bounded rows",
      "q_psi_drift" -> "bucket × period grid — 10 × |periods| rows",
      "q_quantile_normalize" -> "per-decile reference stats — 10 rows",
      "q_rolling_distinct" -> "distinct day spine — calendar-bounded",
      "q_rolling_distinct_approx" -> "per-day HLL partials — calendar-bounded",
      "q_rollup_share" -> "parent-level totals — region/nation dims",
      "q_ann_recall" -> "exactTopK's 10-row query-vector set (fixed vec_id predicate)",
      "q_similarity_ann" -> "query vector + hyperplane matrix — fixed size",
      "q_similarity_ivf" -> "centroid codebook — k rows",
      "q_similarity_pq_search" -> "PQ codebook — subspaces × 256 rows",
      "q_similarity_topk" -> "single query vector — 1 row",
      "q_text_bm25" -> "df restricted to the 3 fixed query terms (isin)",
      "q_winsorize" -> "per-brand clamp bounds — |brands| rows")
    // Negative control: the walk must actually SEE corpus relations — a
    // hinted raw corpus scan and a hinted per-key rollup are unbounded; a
    // hinted global aggregate of the same scan is bounded.
    val docs = Tables(spark, TestSpark.sf, "documents")
    assert(!hintSubtreeBounded(docs.queryExecution.analyzed),
      "control: raw documents scan must classify corpus-proportional")
    assert(!hintSubtreeBounded(
      docs.groupBy("doc_id").count().queryExecution.analyzed),
      "control: per-doc rollup must classify corpus-proportional")
    assert(hintSubtreeBounded(
      docs.agg(count(lit(1))).queryExecution.analyzed),
      "control: global aggregate must classify bounded")
    var seen = 0
    val used = scala.collection.mutable.Set[String]()
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { k =>
      val hints = SparkEntry.queries(k)(spark, TestSpark.sf)
        .queryExecution.analyzed.collect {
          case h: ResolvedHint if h.hints.strategy.exists(
            _.toString.equalsIgnoreCase("broadcast")) => h }
      seen += hints.size
      hints.collect {
        case h if !hintSubtreeBounded(h.child) =>
          used += k
          s"$k: broadcast(${h.child.nodeName}...)"
      }
    }.filterNot(o => hintAudited.contains(o.takeWhile(_ != ':')))
    // The operator fleet hints ~120 call sites; if the collect ever stops
    // matching (a Spark upgrade moving ResolvedHint out of the analyzed
    // plan would green-wash this test), fail loudly instead.
    assert(seen >= 50,
      s"hint walk saw only $seen ResolvedHint nodes — detector broken?")
    assert(offenders.isEmpty,
      s"broadcast hint on a corpus-proportional relation: ${offenders.mkString("; ")}")
    // Stale audit entries hide future regressions — the list must match
    // the keys whose hinted subtrees the walk actually cannot bound.
    assert(hintAudited.keySet == used.toSet,
      s"hint allowlist out of sync: stale=${hintAudited.keySet -- used}, missing=${used.toSet -- hintAudited.keySet}")
  }

  test("q_token_drift and q_cross_lingual_overlap collapse the corpus once (checkpointed)") {
    // ADVICE r8: both fan their (source|lang, token) relation out to three
    // consumers — the materialization plus this zero-rescan pin replaces
    // reliance on implicit exchange reuse (the q_source_novelty pattern)
    for (q <- Seq("q_token_drift", "q_cross_lingual_overlap")) {
      val scans = planOf(q).split("\\n")
        .count(_.matches("""\(\d+\) Scan parquet\s*"""))
      assert(scans == 0,
        s"$q: documents must be scanned only at checkpoint time, saw $scans")
    }
  }

  test("q_gini ranks through the bucketed prefix sum — no few-reducer corpus window") {
    val ws = physical("q_gini").collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "distributed rank windows missing")
    ws.foreach(w => assert(prefixSumShaped(w),
      s"window over ${w.partitionSpec.map(_.toString)} is not bucket-distributed"))
    // two-pass-plus-sketch design: boundaries, bucket counts, rank — the
    // STATIC plan shows 4 scans of the 3-column pruned orders projection
    // (the 1-row boundary subtree prints under both crossJoins), but the
    // broadcast exchange is canonically identical so runtime reuse leaves
    // 3 corpus passes; never a materialized corpus copy
    val p = planOf("q_gini")
    assert(p.split("\\n").count(_.contains("orders.parquet")) <= 4)
  }

  test("q_mannwhitney_u collapses the fact once; ranks derive from bucketed cumulative counts") {
    val ws = physical("q_mannwhitney_u").collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    ws.foreach(w => assert(prefixSumShaped(w),
      s"window over ${w.partitionSpec.map(_.toString)} is not bucket-distributed"))
    val scans = planOf("q_mannwhitney_u").split("\\n")
      .count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 0,
      s"events must be scanned only at checkpoint time, saw $scans parquet scans")
  }

  test("q_percentile_weighted cumulates through the bucketed prefix sum off one checkpoint") {
    val ws = physical("q_percentile_weighted").collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    ws.foreach(w => assert(prefixSumShaped(w),
      s"window over ${w.partitionSpec.map(_.toString)} is not bucket-distributed"))
    val scans = planOf("q_percentile_weighted").split("\\n")
      .count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 0,
      s"lineitem must be scanned only at checkpoint time, saw $scans parquet scans")
  }

  test("q_rfm quintiles come from distributed ranks — no unpartitioned ntile over customers") {
    val plan = physical("q_rfm")
    val ws = plan.collect { case w: WindowExec => w }
    assert(ws.nonEmpty)
    ws.foreach(w => assert(prefixSumShaped(w),
      s"window over ${w.partitionSpec.map(_.toString)} is not bucket-distributed"))
    // "ntile(" not plain "ntile" — percentile_approx contains the latter
    assert(!plan.toString.contains("ntile("),
      "quintiles must be the closed-form tile of the distributed rank")
    val scans = planOf("q_rfm").split("\\n")
      .count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 0,
      s"orders must be scanned only at checkpoint time, saw $scans parquet scans")
  }
}
