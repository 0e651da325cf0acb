package graft.operators

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Sorts, limits, set operations, subqueries (SURVEY.md §2.2).
  * `q_topk` deliberately keeps the ORDER BY + LIMIT shape so Catalyst plans
  * `TakeOrderedAndProject` (per-partition top-k then merge on the driver —
  * the only global-sort shape that's O(k) per partition at 100 TB).
  */
object SetSort {

  val qs: Map[String, Q] = Map(

    "q_sort_multi" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate")
          .orderBy(
            col("l_returnflag").asc_nulls_last,
            col("l_shipdate").desc_nulls_last,
            col("l_orderkey").asc,
            col("l_linenumber").asc),
      // Remaining ties are rows identical in all four output columns —
      // interchangeable for the value compare.
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate FROM lineitem
        ORDER BY l_returnflag ASC NULLS LAST, l_shipdate DESC NULLS LAST,
                 l_orderkey ASC, l_linenumber ASC""")),

    "q_topk" -> Q(
      fn = (s, d) =>
        Tables(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100),
      oracle = Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""")),

    "q_union" -> Q(
      fn = (s, d) => {
        val c = Tables(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        val su = Tables(s, d, "supplier").select(col("s_nationkey").as("nationkey"))
        c.unionByName(su).groupBy("nationkey").agg(count(lit(1)).as("n"))
          .orderBy("nationkey")
      },
      oracle = Some("""
        SELECT nationkey, COUNT(*) AS n FROM (
          SELECT c_nationkey AS nationkey FROM customer
          UNION ALL
          SELECT s_nationkey AS nationkey FROM supplier)
        GROUP BY nationkey ORDER BY nationkey""")),

    "q_intersect" -> Q(
      fn = (s, d) =>
        Tables(s, d, "customer").select(col("c_nationkey").as("nationkey"))
          .intersect(Tables(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      oracle = Some("""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey""")),

    "q_except" -> Q(
      fn = (s, d) =>
        Tables(s, d, "customer").select(col("c_nationkey").as("nationkey"))
          .except(Tables(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      oracle = Some("""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey""")),

    "q_intersect_all" -> Q(
      fn = (s, d) =>
        Tables(s, d, "customer").select(col("c_nationkey").as("nationkey"))
          .intersectAll(Tables(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      oracle = Some("""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT ALL
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey""")),

    "q_except_all" -> Q(
      fn = (s, d) =>
        Tables(s, d, "customer").select(col("c_nationkey").as("nationkey"))
          .exceptAll(Tables(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      oracle = Some("""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT ALL
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey""")),

    // Pivot: per-priority totals spread over the (fixed) status domain.
    // The explicit value list keeps the plan a single pass (no distinct-
    // collect on the driver) — the right call at scale too.
    "q_pivot" -> Q(
      fn = (s, d) =>
        Tables(s, d, "orders")
          .groupBy("o_orderpriority")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(dec4(sum(dec2(col("o_totalprice")))))
          .orderBy("o_orderpriority"),
      oracle = Some("""
        SELECT o_orderpriority,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS F,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS O,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS P
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Seeded Bernoulli sampling (training-data staple). The row SET is
    // engine-specific (RNG), so the oracle-checked contract is the property
    // a user relies on: the sampled fraction concentrates at p (tolerance
    // 0.015 ≈ 12σ at sf0.01 — false-failure probability ~1e-30), and the
    // sampled rows are a subset of the input (vacuously engine-checkable, so
    // asserted in SampleSpec instead). Row-level determinism of the seed is
    // covered by the repeated-Verify sweep.
    // The denominator is a lazy 1-row broadcast agg, not a driver-side
    // count() — no eager second pass over the fact table, and the
    // denominator-side scan prunes to zero columns (row-group metadata
    // only at parquet level).
    "q_sample" -> Q(
      fn = (s, d) => {
        val li = Tables(s, d, "lineitem")
        li.sample(withReplacement = false, fraction = 0.1, seed = 42L)
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(li.agg(count(lit(1)).as("total"))))
          .select(
            lit("bernoulli_p10_seed42").as("sampler"),
            (abs(col("n") / col("total") - 0.1) <= 0.015).as("within_tol"))
      },
      oracle = Some("""
        SELECT 'bernoulli_p10_seed42' AS sampler, true AS within_tol""")),

    // Stratified sampling by key (per-language quotas when balancing a
    // training corpus). Oracle contract: each stratum's sampled count lands
    // within 6 binomial σ of its quota (per-stratum false-failure ~1e-9).
    "q_sample_stratified" -> Q(
      fn = (s, d) => {
        val fractions =
          Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25, "fr" -> 0.1, "zh" -> 0.1)
        val docs = Tables(s, d, "documents")
        val strata = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
        val sampled = docs.stat.sampleBy("lang", fractions, seed = 42L)
          .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        val p = typedLit(fractions)
        strata.join(sampled, Seq("lang"), "left")
          .filter(col("lang").isin(fractions.keys.toSeq: _*))
          .select(col("lang"),
            (abs(coalesce(col("n_sampled"), lit(0L)) - p(col("lang")) * col("n_total")) <=
              lit(6.0) * sqrt(p(col("lang")) * (lit(1.0) - p(col("lang"))) * col("n_total")))
              .as("within_6sigma"))
          .orderBy("lang")
      },
      oracle = Some("""
        SELECT lang, true AS within_6sigma
        FROM (SELECT DISTINCT lang FROM documents
              WHERE lang IN ('en','de','es','fr','zh'))
        ORDER BY lang""")),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-Res):
    // priority u^(1/w) per row, global top-k by priority — one scan plus a
    // TakeOrderedAndProject, no shuffle of the corpus. Deterministic and
    // CROSS-ENGINE exact: u derives from md5-lower-64 of the doc id (the
    // value DuckDB computes as md5_number_lower), mapped to (0,1] via the
    // exact dyadic (h>>>11 + 1)/2^53, so both engines rank the identical
    // priority and the oracle reproduces the exact selected set. The
    // emitted u/w are exact; ln stays internal to the ranking.
    //
    // Residual libm assumption: the rank ln(u)/w uses JVM Math.log vs
    // DuckDB's libm log, which are not guaranteed correctly rounded. A
    // divergence flips the selected set only if the #100 and #101 true
    // ranks sit within ~1 ulp of each other — with ~24k docs the rank
    // spacing at the boundary is ~1e-4 relative vs 1e-16 ulp, so the
    // exposure is measure-zero (same class as the round(4)-on-
    // transcendentals rule in SURVEY §7.4, and verified identical at
    // sf0.01 and sf0.1). The doc_id tie-break fires only on exact
    // equality and does not mask this.
    "q_sample_weighted" -> Q(
      fn = (s, d) => {
        val h = graft.functions.VectorFunctions.md5Lower(
          concat(lit("wsamp-"), col("doc_id").cast(StringType)))
        Tables(s, d, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast(DoubleType).as("w"),
            ((shiftrightunsigned(h, 11).cast(DoubleType) + lit(1.0)) /
              lit(9007199254740992.0)).as("u")) // (h>>>11 + 1) / 2^53
          .orderBy((log(col("u")) / col("w")).desc, col("doc_id"))
          .limit(100)
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
                 (CAST(md5_number_lower('wsamp-' || CAST(doc_id AS VARCHAR)) >> 11
                       AS DOUBLE) + 1.0) / 9007199254740992.0 AS u
          FROM documents)
        SELECT doc_id, w, u FROM (
          SELECT doc_id, w, u FROM t
          ORDER BY ln(u) / w DESC, doc_id LIMIT 100)
        ORDER BY doc_id""")),

    // Fixed-k per-group uniform sample (the reservoir-sampling contract,
    // deterministic): rank rows inside each group by a cryptographic hash
    // of the row key and keep the first k — statistically identical to
    // reservoir sampling without replacement, but order-independent,
    // rerun-stable and CROSS-ENGINE exact (md5-lower-64 == DuckDB
    // md5_number_lower; both engines shift to the positive 2^53 range so
    // signed-vs-unsigned ordering can't diverge). Deliberately NOT a
    // row_number window: with a handful of groups, PARTITION BY lang
    // funnels the whole corpus through |langs| reducers. The typed
    // [[Typed.TopNAgg]] bounded aggregator keeps O(k) state and
    // partial-aggregates MAP-SIDE, so the exchange carries only
    // k·partitions candidates per group — the reservoir shape that
    // survives 100 TB. (Hash ties fall back to TopNAgg's entity-string
    // order, so the doc_id rides zero-padded to make that equal the
    // oracle's numeric doc_id ASC; at 2^53 hash space ties are unreachable
    // anyway, and the oracle would flag one.)
    "q_sample_reservoir" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val h = shiftrightunsigned(graft.functions.VectorFunctions.md5Lower(
          concat(lit("resv-"), col("doc_id").cast(StringType))), 11)
        Tables(s, d, "documents")
          .select(col("lang"), col("doc_id"), h.as("rank_hash"))
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          // metric = -hash: TopNAgg keeps largest metric = smallest hash
          .mapValues(r => Typed.Scored(f"${r._2}%019d", -r._3.toDouble))
          .agg(new Typed.TopNAgg(20).toColumn.name("top"))
          .flatMap { case (lang, top) =>
            top.map(sc => (lang, sc.entity.toLong, (-sc.metric).toLong)) }
          .toDF("lang", "doc_id", "rank_hash")
          .orderBy("lang", "doc_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT lang, doc_id,
                 CAST(md5_number_lower('resv-' || CAST(doc_id AS VARCHAR)) >> 11
                      AS BIGINT) AS rank_hash
          FROM documents),
        ranked AS (
          SELECT lang, doc_id, rank_hash,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY rank_hash ASC, doc_id ASC) AS rn
          FROM t)
        SELECT lang, doc_id, rank_hash FROM ranked WHERE rn <= 20
        ORDER BY lang, doc_id""")),

    // Unpivot/melt: wide → long. Oracle spelled as UNION ALL (portable —
    // engine UNPIVOT syntaxes diverge); Spark side uses the native melt.
    "q_unpivot" -> Q(
      fn = (s, d) =>
        Tables(s, d, "part")
          .select(col("p_partkey"),
            col("p_size").cast(org.apache.spark.sql.types.DoubleType).as("p_size"),
            col("p_retailprice"))
          .unpivot(
            ids = Array(col("p_partkey")),
            values = Array(col("p_size"), col("p_retailprice")),
            variableColumnName = "attr",
            valueColumnName = "val")
          .orderBy("p_partkey", "attr"),
      oracle = Some("""
        SELECT p_partkey, attr, val FROM (
          SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
          UNION ALL
          SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part)
        ORDER BY p_partkey, attr""")),

    // Correlated scalar subquery (Catalyst decorrelates it into a join with
    // a per-key aggregate — no per-row re-execution) + IN subquery.
    // Identical SQL text runs on both engines.
    "q_subquery" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql(subquerySql)
      },
      oracle = Some(subquerySql)),

    // Correlated LATERAL subquery with ORDER BY + LIMIT — per-order top-2
    // lineitems by price WITHOUT a window function: the SQL-standard
    // "top-k per key" shape (Spark ≥4 decorrelates the limited lateral
    // into a ranked join). Emitted columns are value-deterministic under
    // boundary ties because tied rows are identical in every projected
    // column.
    "q_lateral_topk" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          SELECT o_orderkey, l.l_linenumber, l.l_extendedprice
          FROM orders o JOIN LATERAL (
            SELECT l_linenumber, l_extendedprice FROM lineitem
            WHERE l_orderkey = o.o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l ON true
          ORDER BY o_orderkey, l.l_extendedprice DESC, l.l_linenumber""")
      },
      oracle = Some("""
        SELECT o_orderkey, l.l_linenumber, l.l_extendedprice
        FROM orders o, LATERAL (
          SELECT l_linenumber, l_extendedprice FROM lineitem
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
        ORDER BY o_orderkey, l.l_extendedprice DESC, l.l_linenumber""")),

    // WITH RECURSIVE (Spark ≥4's recursive CTE surface): min-hop
    // reachability from a seed token over the ≥20%-co-occurrence graph,
    // depth-bounded. The recursion itself enumerates bounded paths (UNION
    // ALL + hop guard); the MIN(hops) aggregate collapses them — the same
    // closure semantics the DataFrame side implements iteratively in
    // Dedup.connectedComponents, here as one declarative statement on both
    // engines.
    "q_recursive_cte" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        // The edge list is materialized ONCE before the recursion: Spark
        // inlines CTEs, so leaving `edges` inside the WITH would re-run the
        // pair derivation on every UnionLoop iteration (and the two-branch
        // UNION ALL direction split doubled it again — 2.3 s at sf0.1, vs
        // ~1 s materialized). Since r12 the relation comes from the SHARED
        // apriori-pruned builder (graft.llm.TextAnalysis.cooccurEdges —
        // checkpointed, linear pair volume at scale); only the
        // direction split happens here, above the materialized edges.
        val ed = graft.llm.TextAnalysis.cooccurEdges(s, d)
        ed.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(ed.select(col("b").as("src"), col("a").as("dst")))
          .createOrReplaceTempView("graft_cooccur_edges")
        s.sql("""
          WITH RECURSIVE
          reach(token, hops) AS (
            SELECT 'table', 0
            UNION ALL
            SELECT e.dst, r.hops + 1
            FROM reach r JOIN graft_cooccur_edges e ON e.src = r.token
            WHERE r.hops < 2)
          SELECT token, CAST(MIN(hops) AS BIGINT) AS hops
          FROM reach GROUP BY token ORDER BY hops, token""")
      },
      oracle = Some("""
        WITH RECURSIVE
        dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
               FROM documents),
        pairs AS (SELECT a.token AS ta, b.token AS tb, COUNT(*) AS n
                  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
                  GROUP BY 1, 2),
        edges AS (SELECT ta AS src, tb AS dst FROM pairs
                  WHERE n * 5 >= (SELECT COUNT(*) FROM documents)
                  UNION ALL
                  SELECT tb, ta FROM pairs
                  WHERE n * 5 >= (SELECT COUNT(*) FROM documents)),
        reach(token, hops) AS (
          SELECT 'table', 0
          UNION ALL
          SELECT e.dst, r.hops + 1
          FROM reach r JOIN edges e ON e.src = r.token
          WHERE r.hops < 2)
        SELECT token, CAST(MIN(hops) AS BIGINT) AS hops
        FROM reach GROUP BY token ORDER BY hops, token""")),

    // DISTRIBUTE BY / SORT BY (the SQL spelling of repartition +
    // sortWithinPartitions): per-partition clustering without a global
    // sort — the write-preparation shape (co-locate by key, locally order
    // for run-length/dictionary encoding) where a full ORDER BY would add
    // a range-exchange barrier. Values are row-identical to the plain
    // relation; the outer total ORDER BY exists for the gate's determinism
    // only. PlanSpec asserts the hash exchange + partition-local sort.
    "q_distribute_by" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          SELECT * FROM (
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   l_quantity, l_extendedprice, l_shipdate
            FROM lineitem WHERE l_quantity > 45
            DISTRIBUTE BY l_orderkey SORT BY l_orderkey, l_extendedprice)
          ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   l_quantity, l_extendedprice, l_shipdate""")
      },
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               l_quantity, l_extendedprice, l_shipdate
        FROM lineitem WHERE l_quantity > 45
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                 l_quantity, l_extendedprice, l_shipdate""")),

    // The NOT IN null trap vs NOT EXISTS, side by side: the subquery maps
    // negative-balance customers to NULL, so `NOT IN` — three-valued
    // logic — can never be TRUE (0 rows), while `NOT EXISTS` — which a
    // planner compiles to a null-tolerant anti join — counts orders whose
    // custkey matches no non-negative-balance customer. Both engines
    // implement SQL-standard semantics, so both numbers hash-match; the
    // pair documents why production anti-joins must never be spelled
    // NOT IN against a nullable key.
    "q_subquery_notin" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql(notInSql)
      },
      oracle = Some(notInSql)),

    // Snapshot reconciliation (table diff): the added/removed/changed
    // report between two versions of a table — the operational primitive
    // behind CDC validation, backfill audits, and migration sign-off. ONE
    // full outer join keyed on the primary key; at 100 TB both sides
    // shuffle once on that key and the diff predicate is evaluated
    // stream-side, never materializing the unchanged majority.
    "q_table_diff" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql(tableDiffSql)
      },
      oracle = Some(tableDiffSql)),

    // 2-D skyline (Pareto frontier) per group: lineitems not dominated in
    // (quantity, extendedprice) — the multi-criteria-optimization operator
    // (best price AT EVERY quantity level). NOT the textbook all-pairs
    // dominance join: aggregate max(price) per (group, qty) FIRST (hash
    // agg with map-side partials — the only pass over the fact), then one
    // window over the GROUP-SIZED distinct-qty relation computes the
    // running max from strictly-higher quantities; a point survives iff
    // its price strictly beats that. O(fact) + O(distinct keys log) — at
    // 100 TB the window input is orders of magnitude below the fact.
    "q_skyline_2d" -> Q(
      fn = (s, d) => {
        val perQty = Tables(s, d, "lineitem")
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(max(dec2(col("l_extendedprice"))).as("best_price"))
        val higherQty = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        perQty
          .withColumn("rm", max(col("best_price")).over(higherQty))
          .filter(col("rm").isNull || col("best_price") > col("rm"))
          .select(col("l_returnflag"), col("l_quantity"),
            dec4(col("best_price")).as("best_price"))
          .orderBy(col("l_returnflag"), col("l_quantity").desc)
      },
      oracle = Some("""
        WITH per_qty AS (
          SELECT l_returnflag, l_quantity,
                 MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS best_price
          FROM lineitem GROUP BY l_returnflag, l_quantity),
        ranked AS (
          SELECT l_returnflag, l_quantity, best_price,
                 MAX(best_price) OVER (PARTITION BY l_returnflag
                   ORDER BY l_quantity DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
          FROM per_qty)
        SELECT l_returnflag, l_quantity, CAST(best_price AS DOUBLE) AS best_price
        FROM ranked WHERE rm IS NULL OR best_price > rm
        ORDER BY l_returnflag, l_quantity DESC""")))

  private lazy val notInSql: String = """
    SELECT 'not_exists' AS variant, COUNT(*) AS n
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM customer c
      WHERE (CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END) = o.o_custkey)
    UNION ALL
    SELECT 'not_in', COUNT(*)
    FROM orders
    WHERE o_custkey NOT IN (
      SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END FROM customer)
    ORDER BY variant"""

  /** Shared Spark/DuckDB SQL for q_table_diff: two deterministic synthetic
    * snapshots of orders (v1 drops keys ≡0 mod 97, v2 drops keys ≡1 mod 89
    * and reprices keys ≡0 mod 11), reconciled by a single full outer join
    * into added / removed / changed rows. Identical text on both engines.
    */
  private lazy val tableDiffSql: String = """
    WITH v1 AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
      FROM orders WHERE o_orderkey % 97 <> 0),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) + CAST(1.50 AS DECIMAL(12,2))
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
      FROM orders WHERE o_orderkey % 89 <> 1)
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS op,
           CAST(v1.price AS DOUBLE) AS old_price,
           CAST(v2.price AS DOUBLE) AS new_price
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL OR v1.price <> v2.price
    ORDER BY o_orderkey"""

  private lazy val subquerySql: String = """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem l
    WHERE l_extendedprice < (SELECT max(l2.l_extendedprice) FROM lineitem l2
                             WHERE l2.l_partkey = l.l_partkey)
      AND l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
    ORDER BY l_orderkey, l_linenumber, l_extendedprice"""
}
