package graft.operators

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TPC-H patterns round 2 — the remaining public query shapes the battery
  * did not yet cover, adapted to the corpus schema (no partsupp table:
  * lineitem stands in as the part↔supplier relation; no commit/receipt
  * dates: `l_returnflag = 'R'` stands in as the per-line "problem"
  * predicate). Q2 exercises correlated-min decorrelation, Q4 EXISTS
  * semi-agg, Q7/Q8 multi-dimension join-aggregates, Q21 the semi+anti
  * join stack.
  */
object TpchMore {

  val qs: Map[String, Q] = Map(

    // TPC-H Q2 (minimum-cost supplier): for each qualifying part, the
    // EUROPE suppliers offering its minimum unit price. The classic
    // correlated-min: phrased as a scalar subquery it re-executes the
    // fact aggregation per reference (inline-CTE re-scan), so the min is
    // computed ONCE with a window over the already part-keyed (part,
    // supplier) cost relation — one lineitem scan total, dims broadcast,
    // and the qualifying-part filter prunes the fact BEFORE aggregation
    // (the per-part min is unchanged by restricting to surviving parts).
    // Unit price is the same IEEE division on both engines, so the
    // min-equality filter is exact.
    "q_tpch_q2" -> Q(
      fn = (s, d) => {
        val eu = Tables(s, d, "supplier")
          .join(broadcast(Tables(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, d, "region")),
            col("n_regionkey") === col("r_regionkey") &&
              col("r_name") === "EUROPE")
          .select(col("s_suppkey"), col("s_name"),
            col("s_acctbal"), col("n_name"))
        val p9 = Tables(s, d, "part")
          .filter(col("p_size") === 9 && col("p_type") === "STANDARD")
          .select(col("p_partkey"), col("p_type"))
        val cost = Tables(s, d, "lineitem")
          .join(broadcast(p9), col("l_partkey") === col("p_partkey"))
          .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
          .groupBy("p_partkey", "p_type", "s_suppkey", "s_name",
            "s_acctbal", "n_name")
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
        cost
          .withColumn("min_cost",
            min(col("unit_cost")).over(Window.partitionBy(col("p_partkey"))))
          .filter(col("unit_cost") === col("min_cost"))
          .select(dec4(dec2(col("s_acctbal"))).as("s_acctbal"), col("s_name"),
            col("n_name"), col("p_partkey"), col("p_type"),
            r4(col("unit_cost")).as("unit_cost"))
          .orderBy(col("s_acctbal").desc, col("n_name").asc,
            col("s_name").asc, col("p_partkey").asc)
          .limit(100)
      },
      oracle = Some("""
        WITH eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
                    FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
                    WHERE r_name = 'EUROPE'),
        cost AS (SELECT l_partkey, l_suppkey,
                        MIN(l_extendedprice / l_quantity) AS unit_cost
                 FROM lineitem JOIN eu ON l_suppkey = s_suppkey
                 GROUP BY 1, 2)
        SELECT CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal,
               s_name, n_name, p_partkey, p_type,
               CAST(ROUND(unit_cost, 4) AS DOUBLE) AS unit_cost
        FROM part
        JOIN cost ON p_partkey = cost.l_partkey
        JOIN eu ON eu.s_suppkey = cost.l_suppkey
        WHERE p_size = 9 AND p_type = 'STANDARD'
          AND unit_cost = (SELECT MIN(c2.unit_cost) FROM cost c2
                           WHERE c2.l_partkey = p_partkey)
        ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
        LIMIT 100""")),

    // TPC-H Q4 (order priority checking): EXISTS semi-aggregate. The
    // corpus has no commit/receipt dates, so "a problem line exists" is
    // `l_returnflag = 'R'`. Catalyst decorrelates the EXISTS into a left
    // semi join on o_orderkey (PlanSpec pins it); the date range pushes
    // into the orders scan and the priority aggregate is 5 groups wide —
    // map-side partials absorb everything.
    "q_tpch_q4" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          SELECT o_orderpriority, COUNT(*) AS order_count
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1996-04-01'
            AND EXISTS (SELECT 1 FROM lineitem
                        WHERE l_orderkey = o_orderkey
                          AND l_returnflag = 'R')
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      oracle = Some("""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_returnflag = 'R')
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // TPC-H Q7 (volume shipping): revenue between two nations by year.
    // The supplier/customer nation lookups are filtered to the two
    // nations BEFORE broadcasting, so the broadcast hash joins prune the
    // fact rows at probe time and only the residual cross-pair filter
    // runs afterwards; lineitem⋈orders is the one fact-sized join.
    "q_tpch_q7" -> Q(
      fn = (s, d) => {
        val pair = Seq("NATION_5", "NATION_7")
        val nat = Tables(s, d, "nation")
          .filter(col("n_name").isin(pair: _*))
        val supNat = Tables(s, d, "supplier")
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val custNat = Tables(s, d, "customer")
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation"))
        Tables(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
                  col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
          .join(Tables(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(custNat), col("o_custkey") === col("c_custkey"))
          .filter(
            (col("supp_nation") === "NATION_5" && col("cust_nation") === "NATION_7") ||
            (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_5"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(dec4(sum(revenue)).as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      oracle = Some(s"""
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(volume) AS DOUBLE) AS revenue
        FROM (SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                     CAST(year(l_shipdate) AS INT) AS l_year,
                     $revenueSql AS volume
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation sn ON s_nationkey = sn.n_nationkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation cn ON c_nationkey = cn.n_nationkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
                AND ((sn.n_name = 'NATION_5' AND cn.n_name = 'NATION_7')
                  OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_5')))
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year""")),

    // TPC-H Q8 (national market share): one nation's share of EUROPE-
    // customer ECONOMY-part revenue by order year. The part filter is the
    // most selective — it broadcasts first and prunes the fact scan's
    // join fan-in; the region-filtered customer side and the supplier
    // nation lookup broadcast as dims. Both sums stay exact decimal; ONE
    // emitted division per year.
    "q_tpch_q8" -> Q(
      fn = (s, d) => {
        val eco = Tables(s, d, "part")
          .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
        val asiaCust = Tables(s, d, "customer")
          .join(broadcast(Tables(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, d, "region")),
            col("n_regionkey") === col("r_regionkey") &&
              col("r_name") === "ASIA")
          .select(col("c_custkey"))
        val supNat = Tables(s, d, "supplier")
          .join(broadcast(Tables(s, d, "nation").select(
            col("n_nationkey").as("sn_nationkey"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("sn_nationkey"))
          .select(col("s_suppkey"), col("supp_nation"))
        Tables(s, d, "lineitem")
          .join(broadcast(eco), col("l_partkey") === col("p_partkey"))
          .join(Tables(s, d, "orders")
              .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
                      col("o_orderdate") < lit("1998-01-01").cast(TimestampType)),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
          .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(r4(
            dec4(sum(when(col("supp_nation") === "NATION_3", revenue)
              .otherwise(lit(0).cast(Dec12)))) /
            dec4(sum(revenue))).as("mkt_share"))
          .orderBy("o_year")
      },
      oracle = Some(s"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(ROUND(
                 CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN $revenueSql
                               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
                 CAST(SUM($revenueSql) AS DOUBLE), 4) AS DOUBLE) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1 ORDER BY o_year""")),

    // TPC-H Q11 (important stock identification): per-part value from one
    // nation's suppliers, kept where value exceeds a fraction of the
    // grand total. The grand total is a second aggregate over the SAME
    // per-part aggregation — phrased lazily that branch RE-RUNS the fact
    // scan + exchange (measured: no exchange/stage reuse even under AQE,
    // the broadcast side executes as its own plan), so the part-keyed
    // aggregate (dimension-sized by construction) is materialized ONCE
    // and both the total and the filter read it. The threshold compares
    // exact decimals (value·1000 > total), never a float fraction.
    "q_tpch_q11" -> Q(
      fn = (s, d) => {
        val natSup = Tables(s, d, "supplier")
          .join(broadcast(Tables(s, d, "nation")
            .filter(col("n_name") === "NATION_1")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"))
        val perPart = Tables.checkpoint(
          Tables(s, d, "lineitem")
            .join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"))
            .groupBy("l_partkey")
            .agg(sum(revenue).as("value")))
        val total = perPart.agg(sum(col("value")).as("grand"))
        perPart.crossJoin(broadcast(total))
          .filter(col("value") * 1000 > col("grand"))
          .select(col("l_partkey"), dec4(col("value")).as("value"))
          .orderBy(col("value").desc, col("l_partkey").asc)
      },
      oracle = Some(s"""
        WITH perpart AS (
          SELECT l_partkey, SUM($revenueSql) AS value
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_1'
          GROUP BY 1)
        SELECT l_partkey, CAST(value AS DOUBLE) AS value
        FROM perpart
        WHERE value * 1000 > (SELECT SUM(value) FROM perpart)
        ORDER BY value DESC, l_partkey ASC""")),

    // TPC-H Q13 (customer order-count distribution): LEFT join so
    // zero-order customers survive with c_count = 0, then a second
    // aggregate over the (customer-sized) counts. The non-join predicate
    // (priority exclusion) belongs in the JOIN condition, not a WHERE —
    // a WHERE would silently turn the outer join inner.
    "q_tpch_q13" -> Q(
      fn = (s, d) => {
        val counts = Tables(s, d, "customer")
          .join(Tables(s, d, "orders")
              .filter(col("o_orderpriority") =!= "5-LOW"),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
        counts.groupBy("c_count").agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      oracle = Some("""
        WITH c_orders AS (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey)
        SELECT c_count, COUNT(*) AS custdist
        FROM c_orders GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")),

    // TPC-H Q15 (top supplier): quarter revenue per supplier, keep the
    // argmax row(s). Same materialized-aggregation shape as Q11: the
    // supplier-keyed revenue (dimension-sized) is checkpointed once, the
    // MAX reads it as a 1-row broadcast, and decimal equality is exact so
    // ties all surface.
    "q_tpch_q15" -> Q(
      fn = (s, d) => {
        val rev = Tables.checkpoint(
          Tables(s, d, "lineitem")
            .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
                    col("l_shipdate") < lit("1997-04-01").cast(TimestampType))
            .groupBy("l_suppkey")
            .agg(sum(revenue).as("total_rev")))
        val mx = rev.agg(max(col("total_rev")).as("mx"))
        rev.crossJoin(broadcast(mx))
          .filter(col("total_rev") === col("mx"))
          .join(broadcast(Tables(s, d, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            dec4(col("total_rev")).as("total_rev"))
          .orderBy("s_suppkey")
      },
      oracle = Some(s"""
        WITH rev AS (
          SELECT l_suppkey, SUM($revenueSql) AS total_rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1997-04-01'
          GROUP BY 1)
        SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        ORDER BY s_suppkey""")),

    // TPC-H Q17 (small-quantity-order revenue): rows under 20% of their
    // part's average quantity. The correlated per-part AVG is a window
    // over the already part-joined fact (the part-attribute filter keeps
    // every lineitem of a surviving part, so the post-join window equals
    // the full per-part average) — no re-scan, no re-aggregation. The
    // 20% comparison is integerized (q·5·n < Σq, exact decimal) so no
    // float-average boundary row can flip between engines.
    "q_tpch_q17" -> Q(
      fn = (s, d) => {
        val w = Window.partitionBy(col("l_partkey"))
        Tables(s, d, "lineitem")
          .join(broadcast(Tables(s, d, "part")
              .filter(col("p_brand") === "Brand#2" && col("p_type") === "SMALL")),
            col("l_partkey") === col("p_partkey"))
          .withColumn("sq", sum(dec2(col("l_quantity"))).over(w))
          .withColumn("n", count(lit(1)).over(w))
          .filter(dec2(col("l_quantity")) * 5 * col("n") < col("sq"))
          .agg(r4(dec4(sum(dec2(col("l_extendedprice")))) / 7.0).as("avg_yearly"))
      },
      oracle = Some("""
        WITH w AS (
          SELECT l_extendedprice,
                 CAST(l_quantity AS DECIMAL(12,2)) AS q,
                 SUM(CAST(l_quantity AS DECIMAL(12,2)))
                   OVER (PARTITION BY l_partkey) AS sq,
                 COUNT(*) OVER (PARTITION BY l_partkey) AS n
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#2' AND p_type = 'SMALL')
        SELECT CAST(ROUND(
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                   / 7.0, 4) AS DOUBLE) AS avg_yearly
        FROM w WHERE q * 5 * n < sq""")),

    // TPC-H Q22 (global sales opportunity): above-average-balance
    // customers with no recent urgent orders (every corpus customer has
    // SOME order, so the original "never ordered" predicate is narrowed
    // to a recent-urgent window), grouped by nation. The global average
    // comparison is integerized (bal·n > Σbal, exact decimal) and rides
    // a broadcast 1-row aggregate; the NOT-IN side is a left anti join
    // against the date-pruned urgent sliver.
    "q_tpch_q22" -> Q(
      fn = (s, d) => {
        val pos = Tables(s, d, "customer")
          .filter(col("c_acctbal") > 0)
          .agg(sum(dec2(col("c_acctbal"))).as("s"), count(lit(1)).as("n"))
        val urgent = Tables(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
                  col("o_orderdate") >= lit("2000-01-01").cast(TimestampType))
          .select(col("o_custkey"))
        Tables(s, d, "customer")
          .crossJoin(broadcast(pos))
          .filter(dec2(col("c_acctbal")) * col("n") > col("s"))
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey").as("cntrycode"))
          .agg(count(lit(1)).as("numcust"),
            dec4(sum(dec2(col("c_acctbal")))).as("totacctbal"))
          .orderBy("cntrycode")
      },
      oracle = Some("""
        WITH pos AS (
          SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s, COUNT(*) AS n
          FROM customer WHERE c_acctbal > 0)
        SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
        FROM customer, pos
        WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n > s
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT'
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY 1 ORDER BY cntrycode""")),

    // TPC-H Q21 (suppliers who kept orders waiting): the semi + anti join
    // stack — suppliers whose 'R' line is the ONLY 'R' line in a finished
    // multi-supplier order. Catalyst decorrelates the EXISTS into a left
    // semi and the NOT EXISTS into a left anti join, both keyed on
    // l_orderkey with the supplier-inequality residual; three lineitem
    // scans are inherent to the pattern (l1 / semi probe / anti probe) —
    // each prunes to (orderkey, suppkey[, returnflag]) columns only.
    "q_tpch_q21" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          SELECT s_name, COUNT(*) AS numwait
          FROM supplier
          JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          JOIN orders ON o_orderkey = l1.l_orderkey
          WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
            AND EXISTS (SELECT 1 FROM lineitem l2
                        WHERE l2.l_orderkey = l1.l_orderkey
                          AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM lineitem l3
                            WHERE l3.l_orderkey = l1.l_orderkey
                              AND l3.l_suppkey <> l1.l_suppkey
                              AND l3.l_returnflag = 'R')
          GROUP BY s_name
          ORDER BY numwait DESC, s_name ASC
          LIMIT 100""")
      },
      oracle = Some("""
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name ASC
        LIMIT 100""")),

    // TPC-H Q9 (product type profit): profit by supplier nation and order
    // year over the 'red' parts. The corpus has no partsupp, so unit
    // supply cost is proxied by p_retailprice (profit = revenue −
    // retailprice·quantity — the VALUE is synthetic, the SHAPE is Q9's:
    // fact⋈fact on orderkey plus three broadcast dims). All arithmetic
    // stays scale-4 decimal (dec2·dec2 products), so the per-group sums
    // are exact and order-independent; lineitem and orders are each
    // scanned ONCE, with orders pruned to (orderkey, orderdate).
    "q_tpch_q9" -> Q(
      fn = (s, d) => {
        val redParts = Tables(s, d, "part")
          .filter(col("p_name").contains("red"))
          .select(col("p_partkey"), col("p_retailprice"))
        val supNat = Tables(s, d, "supplier")
          .join(broadcast(Tables(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        Tables(s, d, "lineitem")
          .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
          .join(Tables(s, d, "orders").select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
          .agg(dec4(sum(
            revenue - dec2(col("p_retailprice")) * dec2(col("l_quantity"))))
            .as("sum_profit"))
          .orderBy(col("n_name").asc, col("o_year").desc)
      },
      oracle = Some(s"""
        SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM($revenueSql -
                 CAST(p_retailprice AS DECIMAL(12,2)) *
                 CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
        ORDER BY n_name ASC, o_year DESC""")),

    // TPC-H Q12 (shipping modes and order priority): late-line priority
    // distribution. The corpus has no l_shipmode / commit / receipt
    // dates: l_returnflag ∈ (A, R) stands in for the two audited modes
    // and "shipped >60 days after ordering" for the late-receipt
    // predicate. The flag + ship-year filters push into the lineitem
    // scan; the date-lag residual runs after the one fact⋈fact join.
    // COUNT(CASE…) (not SUM) keeps both engines in BIGINT — DuckDB's
    // SUM(int) returns HUGEINT, which the gate's pandas bridge mangles.
    "q_tpch_q12" -> Q(
      fn = (s, d) => {
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables(s, d, "lineitem")
          .filter(col("l_returnflag").isin("A", "R") &&
                  col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
                  col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
          .join(Tables(s, d, "orders")
              .select("o_orderkey", "o_orderdate", "o_orderpriority"),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy("l_returnflag")
          .agg(count(when(hi, 1)).as("high_line_count"),
            count(when(!hi, 1)).as("low_line_count"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag,
               COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS high_line_count,
               COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                          THEN 1 END) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag IN ('A', 'R')
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // TPC-H Q20 (potential part promotion): suppliers of 'small' parts
    // whose 1997 shipments exceed half their all-time volume for that
    // part. The original's nested correlated pair (availqty vs half the
    // year's shipments) re-reads the fact per (part, supplier) reference;
    // here BOTH aggregates come out of ONE conditional pass over the
    // part-pruned fact — sum(qty) and sum(qty · [1997]) per (part,
    // supplier) — so the threshold is a post-agg filter, no re-scan, no
    // decorrelation needed. The ½ comparison is integerized (2·y97 >
    // total, exact decimal); the supplier probe is a semi join so
    // multi-part qualifiers emit once.
    "q_tpch_q20" -> Q(
      fn = (s, d) => {
        val in97 =
          col("l_shipdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType)
        val hot = Tables(s, d, "lineitem")
          .join(broadcast(Tables(s, d, "part")
              .filter(col("p_name").startsWith("small"))
              .select("p_partkey")),
            col("l_partkey") === col("p_partkey"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(sum(dec2(col("l_quantity"))).as("total_qty"),
            sum(when(in97, dec2(col("l_quantity")))
              .otherwise(lit(0).cast(Dec12))).as("y97_qty"))
          .filter(col("y97_qty") * 2 > col("total_qty"))
          .select("l_suppkey")
        Tables(s, d, "supplier")
          .join(broadcast(Tables(s, d, "nation")
              .filter(col("n_name") === "NATION_4")),
            col("s_nationkey") === col("n_nationkey"))
          .join(hot, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_name"), dec4(dec2(col("s_acctbal"))).as("s_acctbal"))
          .orderBy("s_name")
      },
      oracle = Some("""
        WITH ps AS (
          SELECT l_partkey, l_suppkey,
                 SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty,
                 SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                           AND l_shipdate < TIMESTAMP '1998-01-01'
                          THEN CAST(l_quantity AS DECIMAL(12,2))
                          ELSE CAST(0 AS DECIMAL(12,2)) END) AS y97_qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'small%'
          GROUP BY 1, 2)
        SELECT s_name,
               CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_4'
          AND s_suppkey IN (SELECT l_suppkey FROM ps
                            WHERE y97_qty * 2 > total_qty)
        ORDER BY s_name""")))
}
