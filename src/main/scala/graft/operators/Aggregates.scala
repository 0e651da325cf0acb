package graft.operators

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import org.apache.spark.sql.SparkSession

/** Grouped aggregation family (SURVEY.md §2.2). All run as Catalyst hash
  * aggregates with map-side partials — the shape that scales: one shuffle on
  * the group keys, partial buffers combined per partition first. Money sums
  * are DECIMAL (exact, order-independent); emitted floats are round-4.
  */
object Aggregates {

  val qs: Map[String, Q] = Map(

    "q_agg_hash" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dec4(sum(dec2(col("l_quantity")))).as("sum_qty"),
            dec4(sum(dec2(col("l_extendedprice")))).as("sum_price"),
            dec4(sum(revenue)).as("sum_revenue"),
            r4(avg(dec2(col("l_quantity")))).as("avg_qty"),
            min(col("l_shipdate")).as("min_ship"),
            max(col("l_shipdate")).as("max_ship"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag", "l_linestatus"),
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
               CAST(SUM($revenueSql) AS DOUBLE) AS sum_revenue,
               CAST(ROUND(AVG(CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS avg_qty,
               MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    "q_agg_distinct" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("nd_part"),
            countDistinct(col("l_suppkey")).as("nd_supp"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part,
               COUNT(DISTINCT l_suppkey) AS nd_supp, COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Approximate NDV (HLL). The estimate itself is engine-specific, so the
    // oracle-checked contract is the property that makes it USEFUL: the HLL
    // estimate lands within 3× the configured rsd of the exact NDV (the
    // exact count is emitted too and hash-checked). The ScalaTest spec
    // additionally asserts tighter bounds.
    "q_agg_approx_distinct" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
            countDistinct(col("l_partkey")).as("nd_exact"))
          .select(
            col("l_returnflag"), col("nd_exact"),
            (abs(col("approx") - col("nd_exact")) <=
              col("nd_exact") * 0.06).as("within_rsd"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_exact,
               true AS within_rsd
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Approximate percentile (Greenwald-Khanna sketch — the fixed-size
    // per-executor state that replaces the exact sort at 100 TB). Oracle
    // contract mirrors q_agg_approx_distinct: the sketch's median must land
    // inside the exact [p45, p55] quantile neighborhood; the exact median
    // is emitted and hash-checked alongside.
    "q_agg_approx_percentile" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx"),
            expr("percentile(l_extendedprice, 0.5)").as("p50"),
            expr("percentile(l_extendedprice, 0.45)").as("p45"),
            expr("percentile(l_extendedprice, 0.55)").as("p55"))
          .select(col("l_returnflag"), r4(col("p50")).as("p50_exact"),
            col("approx").between(col("p45"), col("p55")).as("within_band"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               CAST(ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) AS p50_exact,
               true AS within_band
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Mergeable HLL sketches (Apache DataSketches, built into Spark 4):
    // build one sketch per (flag, ship-month) slice, then UNION the binary
    // sketches and estimate. This is the incremental-aggregation shape for
    // continuously-updated corpora at 100 TB — per-partition sketches are
    // persisted once and re-merged in O(slices), never rescanning history.
    // Oracle contract mirrors q_agg_approx_distinct: merged estimate must
    // land within 5% of the exact NDV (lgConfigK=14 ⇒ rsd ≈ 0.8%), with the
    // exact NDV emitted and hash-checked alongside.
    "q_agg_sketch_merge" -> Q(
      fn = (s, d) => {
        val li = Tables(s, d, "lineitem")
        val merged = li
          .groupBy(col("l_returnflag"),
            date_trunc("month", col("l_shipdate")).as("ship_month"))
          .agg(expr("hll_sketch_agg(l_partkey, 14)").as("sk"))
          .groupBy("l_returnflag")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"),
            count(col("sk")).as("n_sketches"))
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("nd_exact"))
        merged.join(exact, "l_returnflag")
          .select(col("l_returnflag"), col("n_sketches"), col("nd_exact"),
            (abs(col("approx") - col("nd_exact")) <=
              col("nd_exact") * 0.05).as("within_band"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag,
               COUNT(DISTINCT date_trunc('month', l_shipdate)) AS n_sketches,
               COUNT(DISTINCT l_partkey) AS nd_exact,
               true AS within_band
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Count-min-sketch heavy-hitter estimation — the frequency member of
    // the sketch family (HLL = distincts, bloom = membership, GK =
    // quantiles, CMS = counts). One pass, fixed-size state (depth x width
    // counters), map-side combine; Spark exposes the build aggregate
    // (`count_min_sketch`) in SQL but no probe, so the read half is the
    // graft `cms_estimate` expression (VectorFunctions). Probes the 5
    // hottest part keys; contract = the CMS guarantees: never
    // underestimates, overestimate <= eps*N (eps=0.001) with prob 0.99 —
    // asserted at 3x slack. Exact counts ride along hash-checked; the
    // (exact DESC, k) order is total so the top-5 boundary is
    // deterministic on both engines.
    "q_agg_cms" -> Q(
      fn = (s, d) => {
        graft.Tables.registerViews(s, d)
        s.sql("""
          WITH sk AS (SELECT count_min_sketch(l_partkey, 0.001d, 0.99d, 42) AS s,
                             COUNT(*) AS n
                      FROM lineitem),
          probes AS (SELECT l_partkey AS k, COUNT(*) AS exact FROM lineitem
                     GROUP BY 1 ORDER BY exact DESC, k ASC LIMIT 5)
          SELECT k, exact,
                 cms_estimate((SELECT s FROM sk), k) >= exact
                   AS no_underestimate,
                 cms_estimate((SELECT s FROM sk), k)
                   <= exact + CAST(3 * 0.001 * (SELECT n FROM sk) AS BIGINT)
                   AS overestimate_bounded
          FROM probes ORDER BY exact DESC, k ASC""")
      },
      oracle = Some("""
        SELECT l_partkey AS k, COUNT(*) AS exact,
               true AS no_underestimate, true AS overestimate_bounded
        FROM lineitem GROUP BY 1 ORDER BY exact DESC, k ASC LIMIT 5""")),

    // Spark 4.1 approx_top_k (Datasketches frequent-items): the one-call
    // heavy-hitter summary completing the sketch family (HLL distincts /
    // bloom membership / CMS point counts / this, set-valued). Fixed-size
    // sketch state, map-side combine, one row out. The tracked-item budget
    // here exceeds the key cardinality, so the sketch is exact and the
    // oracle is the exact top-3 — the output is re-sorted on (n, item)
    // because the sketch's own tie order is not part of the contract.
    "q_agg_approx_topk" -> Q(
      fn = (s, d) => {
        graft.Tables.registerViews(s, d)
        // The sketch budget (10) deliberately exceeds the event_type
        // cardinality so the sketch is exact AND complete; the k=3 boundary
        // is then cut by the deterministic (n DESC, item) sort below, not by
        // the sketch's non-contractual tie order — a count tie at the
        // boundary can't flip which item is emitted.
        s.sql("""
          SELECT t.item AS item, t.count AS n FROM (
            SELECT explode(approx_top_k(event_type, 10)) AS t FROM events)
          ORDER BY n DESC, item LIMIT 3""")
      },
      oracle = Some("""
        SELECT event_type AS item, COUNT(*) AS n FROM events
        GROUP BY 1 ORDER BY n DESC, item LIMIT 3""")),

    // Grouped least-squares trend (the regr_slope/regr_intercept family):
    // slope/intercept assembled from EXACT decimal power sums (n, Σx, Σy,
    // Σxy, Σx²) — one hash agg, map-side partials, order-independent where
    // the built-in regr_* float accumulators are not — then two IEEE
    // divisions on identical operands per group. MiscOpsSpec checks the
    // assembled slope against Spark's own regr_slope to float tolerance.
    "q_agg_linreg" -> Q(
      fn = (s, d) => {
        val x = dec2(col("l_quantity"))
        val y = dec2(col("l_extendedprice"))
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum((x * y).cast(DecimalType(28, 4))).as("sxy"),
            sum((x * x).cast(DecimalType(28, 4))).as("sxx"))
          .select(
            col("l_returnflag"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
              .as("slope"),
            ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
                * col("sx")).cast(DoubleType) / col("n").cast(DoubleType))
              .as("intercept"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        WITH s AS (
          SELECT l_returnflag, COUNT(*) AS n,
                 SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
                 SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
                 SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) *
                          CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS sxy,
                 SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) *
                          CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS sxx
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
               CAST(sy - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
                 * sx AS DOUBLE) / CAST(n AS DOUBLE) AS intercept
        FROM s ORDER BY l_returnflag""")),

    // Higher central moments (skewness, excess kurtosis) assembled from
    // EXACT integer power sums (l_quantity is integral; every sum is
    // < 2^53 so the long->double conversions are exact), like q_agg_linreg: Spark's skewness() is
    // the population estimator while DuckDB's is sample-corrected, and
    // both accumulate in floats — deriving from Σx..Σx⁴ sidesteps both
    // the estimator mismatch and the merge-order ulps. Every double op
    // below appears in the SAME tree shape on both engines (m2*sqrt(m2),
    // never pow(m2,1.5) — pow differs in last ulps across libm builds),
    // so the raw doubles are bit-exact with no rounding step.
    "q_agg_moments" -> Q(
      fn = (s, d) => {
        val x = col("l_quantity").cast(LongType)
        val nD = col("n").cast(DoubleType)
        val mean = col("sx").cast(DoubleType) / nD
        val m2 = col("sxx").cast(DoubleType) / nD - mean * mean
        val m3 = col("sxxx").cast(DoubleType) / nD -
          lit(3.0) * mean * (col("sxx").cast(DoubleType) / nD) +
          lit(2.0) * (mean * mean * mean)
        val m4 = col("sxxxx").cast(DoubleType) / nD -
          lit(4.0) * mean * (col("sxxx").cast(DoubleType) / nD) +
          lit(6.0) * (mean * mean) * (col("sxx").cast(DoubleType) / nD) -
          lit(3.0) * ((mean * mean) * (mean * mean))
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(x).as("sx"),
            sum(x * x).as("sxx"),
            sum(x * x * x).as("sxxx"),
            sum(x * x * x * x).as("sxxxx"))
          .select(
            col("l_returnflag"), col("n"),
            mean.as("mean"),
            (m3 / (m2 * sqrt(m2))).as("skewness"),
            (m4 / (m2 * m2) - lit(3.0)).as("kurtosis_excess"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        WITH s AS (
          SELECT l_returnflag, COUNT(*) AS n,
                 SUM(CAST(l_quantity AS BIGINT)) AS sx,
                 SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
                 SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) *
                     CAST(l_quantity AS BIGINT)) AS sxxx,
                 SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) *
                     CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxxxx
          FROM lineitem GROUP BY l_returnflag),
        m AS (
          SELECT l_returnflag, n,
                 CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                 CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
                 CAST(sxxx AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
                 CAST(sxxxx AS DOUBLE) / CAST(n AS DOUBLE) AS e4
          FROM s)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n, mean,
               (e3 - 3.0 * mean * e2 + 2.0 * (mean * mean * mean)) /
                 ((e2 - mean * mean) * sqrt(e2 - mean * mean)) AS skewness,
               (e4 - 4.0 * mean * e3 + 6.0 * (mean * mean) * e2
                  - 3.0 * ((mean * mean) * (mean * mean))) /
                 ((e2 - mean * mean) * (e2 - mean * mean)) - 3.0 AS kurtosis_excess
        FROM m ORDER BY l_returnflag""")),

    // Pairwise correlation matrix over the fact table's numeric columns —
    // ONE scan, one agg row carrying all 6 pairs (each corr is a partial-
    // merge aggregate), unpivoted to (col_a, col_b, r) rows via stack.
    // At 100 TB this is the single-pass profiling shape: no per-pair scan,
    // no driver loop. round-4 (corr's merge order differs in last ulps).
    "q_agg_corr" -> Q(
      fn = (s, d) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = for {
          i <- cols.indices; j <- cols.indices if i < j
        } yield (cols(i), cols(j))
        val wide = Tables(s, d, "lineitem").agg(
          r4(corr(col(pairs.head._1), col(pairs.head._2)))
            .as(s"${pairs.head._1}__${pairs.head._2}"),
          pairs.tail.map { case (a, b) =>
            r4(corr(col(a), col(b))).as(s"${a}__${b}") }: _*)
        val stackArgs = pairs.map { case (a, b) =>
          s"'$a', '$b', ${a}__${b}" }.mkString(", ")
        wide.select(expr(
          s"stack(${pairs.length}, $stackArgs) AS (col_a, col_b, r)"))
          .orderBy("col_a", "col_b")
      },
      oracle = Some("""
        WITH w AS (
          SELECT corr(l_quantity, l_extendedprice) AS qty_ext,
                 corr(l_quantity, l_discount)      AS qty_dis,
                 corr(l_quantity, l_tax)           AS qty_tax,
                 corr(l_extendedprice, l_discount) AS ext_dis,
                 corr(l_extendedprice, l_tax)      AS ext_tax,
                 corr(l_discount, l_tax)           AS dis_tax
          FROM lineitem)
        SELECT col_a, col_b, CAST(ROUND(r, 4) AS DOUBLE) + 0.0 AS r FROM (
          SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, qty_ext AS r FROM w
          UNION ALL SELECT 'l_quantity', 'l_discount', qty_dis FROM w
          UNION ALL SELECT 'l_quantity', 'l_tax', qty_tax FROM w
          UNION ALL SELECT 'l_extendedprice', 'l_discount', ext_dis FROM w
          UNION ALL SELECT 'l_extendedprice', 'l_tax', ext_tax FROM w
          UNION ALL SELECT 'l_discount', 'l_tax', dis_tax FROM w)
        ORDER BY col_a, col_b""")),

    "q_agg_having" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_partkey")
          .agg(dec4(sum(dec2(col("l_quantity")))).as("sum_qty"),
               count(lit(1)).as("n"))
          .filter(col("sum_qty") > 800)
          .orderBy("l_partkey"),
      oracle = Some("""
        SELECT l_partkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_partkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 800
        ORDER BY l_partkey""")),

    // Argmax/argmin aggregation — deterministic because the ordering value
    // (o_orderkey) is unique per group.
    "q_agg_argmax" -> Q(
      fn = (s, d) =>
        Tables(s, d, "orders")
          .groupBy("o_custkey")
          .agg(
            expr("max_by(o_orderstatus, o_orderkey)").as("last_status"),
            expr("min_by(o_orderpriority, o_orderkey)").as("first_prio"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy("o_custkey"),
      oracle = Some("""
        SELECT o_custkey,
               max_by(o_orderstatus, o_orderkey) AS last_status,
               min_by(o_orderpriority, o_orderkey) AS first_prio,
               MAX(o_orderkey) AS max_key
        FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // Bitwise aggregation family.
    "q_agg_bitwise" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("bit_and(l_orderkey)").as("band"),
            expr("bit_or(l_orderkey)").as("bor"),
            expr("bit_xor(l_orderkey)").as("bxor"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               bit_and(l_orderkey) AS band,
               bit_or(l_orderkey) AS bor,
               bit_xor(l_orderkey) AS bxor
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Boolean aggregation family.
    "q_agg_bool" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("bool_and(l_quantity > 0)").as("all_pos_qty"),
            expr("bool_or(l_discount > 0.09)").as("any_big_disc"),
            expr("every(l_extendedprice > 100)").as("all_price_100"),
            expr("count_if(l_discount > 0.09)").as("n_big_disc"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               bool_and(l_quantity > 0) AS all_pos_qty,
               bool_or(l_discount > 0.09) AS any_big_disc,
               bool_and(l_extendedprice > 100) AS all_price_100,
               COUNT(*) FILTER (l_discount > 0.09) AS n_big_disc
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    "q_agg_stats" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
            r4(var_samp(col("l_quantity"))).as("var_qty"),
            r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
            r4(covar_samp(col("l_quantity"), col("l_discount"))).as("covar_qty_disc"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               CAST(ROUND(stddev_samp(l_quantity), 4) AS DOUBLE) AS sd_qty,
               CAST(ROUND(var_samp(l_quantity), 4) AS DOUBLE) AS var_qty,
               CAST(ROUND(corr(l_quantity, l_extendedprice), 4) AS DOUBLE) AS corr_qty_price,
               CAST(ROUND(covar_samp(l_quantity, l_discount), 4) AS DOUBLE) AS covar_qty_disc
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Statistical mode per group, deterministic: Spark's built-in `mode()`
    // picks an ARBITRARY value among tied candidates, so the operator is
    // the count+rank formulation with a total tie-break (highest count,
    // then smallest value) — the only way mode is reproducible at all.
    "q_agg_mode" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag", "l_quantity")
          .agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("l_returnflag")
              .orderBy(col("n").desc, col("l_quantity").asc)))
          .filter(col("rnk") === 1)
          .select(col("l_returnflag"),
            col("l_quantity").cast(DoubleType).as("mode_qty"), col("n"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS mode_qty, n FROM (
          SELECT l_returnflag, l_quantity, COUNT(*) AS n,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY COUNT(*) DESC, l_quantity ASC) AS rnk
          FROM lineitem GROUP BY l_returnflag, l_quantity)
        WHERE rnk = 1 ORDER BY l_returnflag""")),

    // collect_list / collect_set, serialized to strings for the compare (an
    // array column breaks the correctness gate's pandas row sort).
    "q_agg_collect" -> Q(
      fn = (s, d) =>
        Tables(s, d, "orders")
          .groupBy("o_custkey")
          .agg(
            concat_ws(",", array_sort(collect_list(col("o_orderstatus")))).as("statuses"),
            concat_ws(",", array_sort(collect_set(col("o_orderpriority")))).as("prios"),
            count(lit(1)).as("n"))
          .orderBy("o_custkey"),
      oracle = Some("""
        SELECT o_custkey,
               array_to_string(list(o_orderstatus ORDER BY o_orderstatus), ',') AS statuses,
               array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios,
               COUNT(*) AS n
        FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // Filtered aggregates (FILTER clause / conditional aggregation).
    "q_agg_filtered" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(when(col("l_quantity") > 25, 1)).as("n_big"),
            dec4(sum(when(col("l_discount") > 0.05, dec2(col("l_quantity")))
              .otherwise(lit(0).cast(Dec12)))).as("qty_discounted"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               COUNT(*) FILTER (l_quantity > 25) AS n_big,
               CAST(SUM(CASE WHEN l_discount > 0.05
                             THEN CAST(l_quantity AS DECIMAL(12,2))
                             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_discounted,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Interpolated percentiles (Spark `percentile` == DuckDB quantile_cont
    // linear interpolation) + exact median.
    "q_agg_percentile" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            r4(expr("percentile(l_quantity, 0.5)")).as("p50"),
            r4(expr("percentile(l_quantity, 0.25)")).as("p25"),
            r4(expr("percentile(l_quantity, 0.75)")).as("p75"),
            r4(expr("median(l_quantity)")).as("med"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               CAST(ROUND(quantile_cont(l_quantity, 0.5), 4) AS DOUBLE) AS p50,
               CAST(ROUND(quantile_cont(l_quantity, 0.25), 4) AS DOUBLE) AS p25,
               CAST(ROUND(quantile_cont(l_quantity, 0.75), 4) AS DOUBLE) AS p75,
               CAST(ROUND(median(l_quantity), 4) AS DOUBLE) AS med
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Typed Aggregator (the Dataset-API custom-UDAF surface): an exact
    // (sum-of-cents, count) pair over long cents, registered via
    // `functions.udaf`. Long adds are associative+commutative so partial
    // buffers merge exactly in any order; the quotient is emitted as ONE
    // IEEE division of identical operands on both engines. This is the
    // API-completeness row — the ObjectHashAggregate it runs on is slower
    // than a codegen'd built-in sum/count, which remains the production
    // path (the spec asserts value parity between the two).
    "q_agg_typed" -> Q(
      fn = (s, d) => {
        val stats = udaf(CentsStats, org.apache.spark.sql.Encoders.scalaLong)
        Tables(s, d, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100, 0).cast(LongType).as("cents"))
          .groupBy("l_returnflag")
          .agg(stats(col("cents")).as("st"))
          .select(
            col("l_returnflag"),
            col("st._1").as("sum_cents"),
            col("st._2").as("n"),
            (col("st._1").cast(DoubleType) /
              (col("st._2").cast(DoubleType) * 100.0)).as("avg_price"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               COUNT(*) AS n,
               CAST(SUM(cents) AS DOUBLE) / (COUNT(*) * 100.0) AS avg_price
        FROM (SELECT l_returnflag,
                     CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
              FROM lineitem)
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // String aggregation with deterministic element order.
    "q_agg_stringagg" -> Q(
      fn = (s, d) =>
        Tables(s, d, "orders")
          .groupBy("o_custkey")
          .agg(concat_ws(",",
            array_sort(collect_list(col("o_orderstatus")))).as("statuses"))
          .orderBy("o_custkey"),
      oracle = Some("""
        SELECT o_custkey, string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
        FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // Data profiling (the corpus-QA pass a pipeline runs before training):
    // one wide aggregate computes null count / NDV / numeric range for
    // every profiled column in a SINGLE scan, then unpivots to long form.
    // Numeric min/max emit as double; string columns profile counts only
    // (double->varchar formatting diverges across engines).
    "q_profile" -> Q(
      fn = (s, d) => {
        val cols = Seq("l_orderkey", "l_partkey", "l_quantity",
          "l_extendedprice", "l_discount")
        val strCols = Seq("l_returnflag", "l_linestatus")
        val li = Tables(s, d, "lineitem")
        val aggs = cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
          countDistinct(col(c)).as(s"${c}__nd"),
          min(col(c)).cast(DoubleType).as(s"${c}__mn"),
          max(col(c)).cast(DoubleType).as(s"${c}__mx"))) ++
          strCols.flatMap(c => Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
            countDistinct(col(c)).as(s"${c}__nd"),
            lit(null).cast(DoubleType).as(s"${c}__mn"),
            lit(null).cast(DoubleType).as(s"${c}__mx")))
        val wide = li.agg(aggs.head, aggs.tail: _*)
        val rows = (cols ++ strCols).map(c => struct(
          lit(c).as("column"), col(s"${c}__nn").as("n_null"),
          col(s"${c}__nd").as("n_distinct"),
          col(s"${c}__mn").as("min_val"), col(s"${c}__mx").as("max_val")))
        wide.select(explode(array(rows: _*)).as("p"))
          .select("p.column", "p.n_null", "p.n_distinct", "p.min_val", "p.max_val")
          .orderBy("column")
      },
      oracle = Some("""
        SELECT * FROM (
          SELECT 'l_orderkey' AS "column", COUNT(*) FILTER (l_orderkey IS NULL) AS n_null,
                 COUNT(DISTINCT l_orderkey) AS n_distinct,
                 CAST(MIN(l_orderkey) AS DOUBLE) AS min_val, CAST(MAX(l_orderkey) AS DOUBLE) AS max_val
          FROM lineitem
          UNION ALL
          SELECT 'l_partkey', COUNT(*) FILTER (l_partkey IS NULL), COUNT(DISTINCT l_partkey),
                 CAST(MIN(l_partkey) AS DOUBLE), CAST(MAX(l_partkey) AS DOUBLE) FROM lineitem
          UNION ALL
          SELECT 'l_quantity', COUNT(*) FILTER (l_quantity IS NULL), COUNT(DISTINCT l_quantity),
                 CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE) FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', COUNT(*) FILTER (l_extendedprice IS NULL), COUNT(DISTINCT l_extendedprice),
                 CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE) FROM lineitem
          UNION ALL
          SELECT 'l_discount', COUNT(*) FILTER (l_discount IS NULL), COUNT(DISTINCT l_discount),
                 CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE) FROM lineitem
          UNION ALL
          SELECT 'l_returnflag', COUNT(*) FILTER (l_returnflag IS NULL), COUNT(DISTINCT l_returnflag),
                 NULL, NULL FROM lineitem
          UNION ALL
          SELECT 'l_linestatus', COUNT(*) FILTER (l_linestatus IS NULL), COUNT(DISTINCT l_linestatus),
                 NULL, NULL FROM lineitem
)
        ORDER BY "column" """)),

    "q_rollup" -> Q(
      fn = (s, d) =>
        Tables(s, d, "orders")
          .rollup("o_orderstatus", "o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            dec4(sum(dec2(col("o_totalprice")))).as("total"),
            grouping(col("o_orderstatus")).cast(LongType).as("g_status"),
            grouping(col("o_orderpriority")).cast(LongType).as("g_prio"))
          .orderBy(
            col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first),
      oracle = Some("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")),

    "q_cube" -> Q(
      fn = (s, d) =>
        Tables(s, d, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            dec4(sum(dec2(col("o_totalprice")))).as("total"),
            grouping(col("o_orderstatus")).cast(LongType).as("g_status"),
            grouping(col("o_orderpriority")).cast(LongType).as("g_prio"))
          .orderBy(
            col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first,
            col("g_status").asc, col("g_prio").asc),
      oracle = Some("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST,
                 g_status ASC, g_prio ASC""")),

    "q_grouping_sets" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
          FROM orders
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
      },
      oracle = Some("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")))
}

/** Exact (sum, count) over long inputs as a typed
  * [[org.apache.spark.sql.expressions.Aggregator]] — the Dataset-API way to
  * ship a custom aggregate (q_agg_typed). Top-level object so the closure
  * serializer ships a stable singleton reference to executors.
  */
object CentsStats
    extends org.apache.spark.sql.expressions.Aggregator[Long, (Long, Long), (Long, Long)] {
  override def zero: (Long, Long) = (0L, 0L)
  override def reduce(b: (Long, Long), a: Long): (Long, Long) = (b._1 + a, b._2 + 1L)
  override def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
    (x._1 + y._1, x._2 + y._2)
  override def finish(r: (Long, Long)): (Long, Long) = r
  override def bufferEncoder: org.apache.spark.sql.Encoder[(Long, Long)] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
  override def outputEncoder: org.apache.spark.sql.Encoder[(Long, Long)] = bufferEncoder
}
