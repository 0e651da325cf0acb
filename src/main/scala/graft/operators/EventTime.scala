package graft.operators

import graft.{Q, Scratch, Tables}
import graft.Q._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampType}

/** Event-time windowing in batch mode (SURVEY.md §2.4). The exact same
  * `window()` / `session_window()` expressions run unchanged under
  * Structured Streaming (see graft.streaming) — batch execution here is what
  * makes them oracle-checkable. `events.ts` arrives ms-truncated NTZ from
  * Tables (ns parquet; SURVEY §7.4 rule 4).
  *
  * Scale: tumbling/sliding aggregation is a hash agg keyed on
  * (bucket, type) — partial aggregation means the pre-shuffle volume is
  * bounded by |buckets × types| per task, not by event count. Session
  * windows shuffle once by user_id; state per key is bounded by session
  * count, and in streaming mode the watermark bounds it in time.
  */
object EventTime {

  /** RocksDB state store with changelog checkpointing, for the
    * transformWithState keys. Without the changelog each commit uploads a
    * FULL store snapshot per partition per batch, a fixed cost whatever
    * the state size; with it a commit writes only the batch's key changes
    * and snapshots move to background maintenance. Results are unchanged:
    * the changelog replays to the same store. */
  private val RocksDbChangelog = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  val qs: Map[String, Q] = Map(

    "q_window_tumbling" -> Q(
      fn = (s, d) =>
        Tables(s, d, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dec4(sum(dec2(col("value")))).as("total"))
          .select(col("window.start").as("w_start"), col("event_type"),
            col("n"), col("total"))
          .orderBy("w_start", "event_type"),
      oracle = Some("""
        SELECT time_bucket(INTERVAL '1 hour', date_trunc('milliseconds', ts)) AS w_start,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM events GROUP BY w_start, event_type
        ORDER BY w_start, event_type""")),

    "q_window_sliding" -> Q(
      fn = (s, d) =>
        Tables(s, d, "events")
          .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), dec4(sum(dec2(col("value")))).as("total"))
          .select(col("window.start").as("w_start"), col("event_type"),
            col("n"), col("total"))
          .orderBy("w_start", "event_type"),
      // Each event belongs to the 4 slide-aligned windows covering it:
      // starts trunc15(ts) - k*15min, k = 0..3.
      oracle = Some("""
        SELECT w_start, event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM (SELECT time_bucket(INTERVAL '15 minutes', date_trunc('milliseconds', ts))
                       - (k * INTERVAL '15 minutes') AS w_start,
                     event_type, value
              FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks)
        GROUP BY w_start, event_type
        ORDER BY w_start, event_type""")),

    // Time-interval RANGE frame: per-user rolling count/sum over the
    // trailing hour. RANGE (not ROWS) makes ties-in-ts deterministic — the
    // frame is defined by the time value, not row position.
    "q_window_range_time" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          SELECT event_id, user_id, ts,
                 COUNT(*) OVER w AS n_1h,
                 CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w
                      AS DECIMAL(18,4)) AS DOUBLE) AS sum_1h
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts
                       RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          ORDER BY event_id""")
      },
      oracle = Some("""
        WITH e AS (SELECT event_id, user_id, date_trunc('milliseconds', ts) AS ts, value
                   FROM events)
        SELECT event_id, user_id, ts,
               COUNT(*) OVER w AS n_1h,
               CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w
                    AS DECIMAL(18,4)) AS DOUBLE) AS sum_1h
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // Exponential moving average over the trailing 8 events per user — the
    // time-series smoothing member of the window family. α = 1/2, so every
    // weight 2^-(i+1) is a power of two: each product value·w is EXACT in
    // IEEE doubles (exponent shift only), and the 8-term sum is one fixed
    // expression tree evaluated identically by both engines — the raw
    // double is bit-exact cross-engine with no rounding step. One keyed
    // window, lag-only frame: shuffle keyed by user, state bounded by the
    // 8-row lag depth regardless of corpus size.
    "q_window_ema" -> Q(
      fn = (s, d) => {
        val w = Window
          .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        val ema = (0 until 8).map { i =>
          val term = if (i == 0) col("value") else coalesce(lag(col("value"), i).over(w), lit(0.0))
          term * lit(math.pow(0.5, i + 1))
        }.reduce(_ + _)
        Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          .withColumn("ema", ema)
          .orderBy("event_id")
      },
      oracle = Some({
        val terms = (0 until 8).map { i =>
          val v = if (i == 0) "value" else s"coalesce(lag(value, $i) OVER w, 0.0)"
          s"$v * ${math.pow(0.5, i + 1)}"
        }.mkString(" + ")
        s"""
        WITH e AS (SELECT event_id, user_id, date_trunc('milliseconds', ts) AS ts, value
                   FROM events)
        SELECT event_id, user_id, ts, value, $terms AS ema
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ORDER BY event_id"""
      })),

    // Null-aware window navigation: defaults, IGNORE NULLS skipping,
    // forward fill, guarded percent change — the missing-data toolkit a
    // time-series consumer of the engine needs.
    "q_window_nulls" -> Q(
      fn = (s, d) => {
        val w = Window
          .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        Tables(s, d, "events")
          .withColumn("v", when(col("value") >= 50, col("value")))
          .select(
            col("event_id"), col("user_id"), col("ts"), col("v"),
            lag(col("value"), 1, -1.0).over(w).as("lag_def"),
            lag(col("v"), 1, null, ignoreNulls = true).over(w).as("lag_ign"),
            last(col("v"), ignoreNulls = true)
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("ffill"),
            // raw double, NOT rounded: the ratio of two 2-decimal values
            // can land exactly on a .xxxx5 boundary, where Spark's
            // BigDecimal round (exact) and DuckDB's x*1e4 fp round diverge
            // (hit at sf0.1). The unrounded division is bit-identical on
            // both engines.
            ((col("value") - lag(col("value"), 1).over(w)) /
              nullif(lag(col("value"), 1).over(w), lit(0.0))).as("pct_change"))
          .orderBy("event_id")
      },
      oracle = Some("""
        WITH e AS (SELECT event_id, user_id, date_trunc('milliseconds', ts) AS ts,
                          value, CASE WHEN value >= 50 THEN value END AS v
                   FROM events)
        SELECT event_id, user_id, ts, v,
               lag(value, 1, -1.0) OVER w AS lag_def,
               lag(v IGNORE NULLS) OVER w AS lag_ign,
               last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill,
               CAST((value - lag(value, 1) OVER w) /
                 nullif(lag(value, 1) OVER w, 0.0) AS DOUBLE) AS pct_change
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ORDER BY event_id""")),

    // Stream-stream interval join, oracle-checked through batch-mode
    // equivalence: the EXACT code path of the streaming operator
    // (graft.streaming.Streams.signupToPurchase — watermarks and all) runs
    // here over the batch corpus; `EliminateEventTimeWatermark` drops the
    // watermark nodes on a non-streaming child, leaving the identical
    // interval-join condition the micro-batch engine executes. This is the
    // missing oracle for the §2.4 ◻ stream-stream join: StreamingSpec
    // additionally asserts MemoryStream output == this batch output on the
    // same rows, so the DuckDB comparison transitively covers the
    // streaming semantics (inner join; outer-emission timing is
    // watermark-dependent and stays ◻ by contract).
    //
    // Scale shape: equi-key (user_id) hash join with a residual time-range
    // predicate — one exchange per side; in streaming mode the same
    // condition bounds the join state (rows evicted once the watermark
    // passes signup_ts + 1h).
    "q_stream_interval_join" -> Q(
      fn = (s, d) => {
        val ev = Tables(s, d, "events")
        graft.streaming.Streams.signupToPurchase(
            ev.filter(col("event_type") === "signup"),
            ev.filter(col("event_type") === "purchase"),
            within = "1 hour", joinType = "inner")
          .orderBy("signup_id", "purchase_id")
      },
      oracle = Some("""
        WITH e AS (SELECT event_id, user_id, event_type,
                          date_trunc('milliseconds', ts) AS ts FROM events),
        s AS (SELECT event_id AS signup_id, user_id, ts AS signup_ts
              FROM e WHERE event_type = 'signup'),
        p AS (SELECT event_id AS purchase_id, user_id AS p_user,
                     ts AS purchase_ts
              FROM e WHERE event_type = 'purchase')
        SELECT signup_id, purchase_id, user_id, signup_ts, purchase_ts
        FROM s JOIN p ON user_id = p_user
          AND purchase_ts >= signup_ts
          AND purchase_ts <= signup_ts + INTERVAL '1 hour'
        ORDER BY signup_id, purchase_id""")),

    "q_session_window" -> Q(
      fn = (s, d) =>
        Tables(s, d, "events")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n"), dec4(sum(dec2(col("value")))).as("total"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n"), col("total"))
          .orderBy("user_id", "session_start"),
      // Gaps-and-islands equivalent: a gap >= 30min (or first event) starts
      // a new session; Spark's session end is last event + gap.
      oracle = Some("""
        WITH e AS (SELECT user_id, date_trunc('milliseconds', ts) AS ts, value FROM events),
        flagged AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sess AS (
          SELECT user_id, ts, value,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged)
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, session_start""")),

    // Session-window aggregation through the STREAMING code path
    // (graft.streaming.Streams.sessionAgg — watermark and all), run here
    // over the batch corpus: the batch-equivalence oracle for the §2.4
    // watermark+session capability, the q_stream_interval_join pattern.
    // Distinct from q_session_window (which exercises the session_window
    // function directly): different gap, a third aggregate, and the
    // EXACT transform the micro-batch engine executes — StreamingSpec
    // asserts MemoryStream output == this batch output on the same rows,
    // so the DuckDB comparison transitively covers the streaming
    // semantics (append-mode emission timing stays watermark-dependent,
    // ◻ by contract).
    //
    // Scale shape: one user_id hash exchange, then per-key session
    // merging; in streaming mode state is keyed by (user, open session)
    // and watermark-evicted.
    "q_stream_session_agg" -> Q(
      fn = (s, d) =>
        graft.streaming.Streams.sessionAgg(Tables(s, d, "events"))
          .orderBy("user_id", "session_start"),
      oracle = Some("""
        WITH e AS (SELECT user_id, date_trunc('milliseconds', ts) AS ts,
                          value, event_type FROM events),
        flagged AS (
          SELECT user_id, ts, value, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL '20 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sess AS (
          SELECT user_id, ts, value, event_type,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged)
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '20 minutes' AS session_end,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
               MAX(event_type) AS last_type
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, session_start""")),

    // Sequence-pattern detection (the MATCH_RECOGNIZE shape Spark doesn't
    // ship, expressed as a lead window): per user, count immediate
    // click→purchase successions and the time of the first one. One keyed
    // window (shuffle by user, O(1) state per row via lead) + one hash
    // agg — the complex-event-processing primitive at corpus scale. The
    // (ts, event_id) order key is total, so the "next event" is
    // deterministic under timestamp ties.
    "q_window_pattern" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          WITH seq AS (
            SELECT user_id, ts, event_type,
                   lead(event_type) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
            FROM events)
          SELECT user_id, COUNT(*) AS n_matches, MIN(ts) AS first_match_ts
          FROM seq WHERE event_type = 'click' AND nxt = 'purchase'
          GROUP BY user_id ORDER BY user_id""")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id,
                          date_trunc('milliseconds', ts) AS ts, event_type
                   FROM events),
        seq AS (
          SELECT user_id, ts, event_type,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM e)
        SELECT user_id, COUNT(*) AS n_matches, MIN(ts) AS first_match_ts
        FROM seq WHERE event_type = 'click' AND nxt = 'purchase'
        GROUP BY user_id ORDER BY user_id""")),

    // Trailing-median smoothing (the robust companion to q_window_ema —
    // a median filter ignores the spike the EMA drags toward): exact
    // median over the trailing 5 rows per user. State is the 5-row
    // frame, so the window is O(1) memory regardless of corpus size;
    // one shuffle keyed by user. Interpolated midpoints are (a+b)/2 —
    // exact in doubles — and both engines round identically at 4dp on
    // this 2dp-money domain.
    "q_window_median" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        // Spark's median/percentile reject window frames; the 5-row frame
        // is tiny, so the median comes from a sorted collect_list of the
        // frame — still O(frame) state, and the interpolation arithmetic
        // matches the oracle's median() exactly.
        s.sql("""
          WITH f AS (
            SELECT event_id, user_id, value,
                   array_sort(collect_list(value) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS a
            FROM events)
          SELECT event_id, user_id, value,
                 CAST(ROUND(CASE WHEN size(a) % 2 = 1
                        THEN element_at(a, CAST((size(a) + 1) DIV 2 AS INT))
                        ELSE (element_at(a, CAST(size(a) DIV 2 AS INT)) +
                              element_at(a, CAST(size(a) DIV 2 + 1 AS INT))) / 2
                        END, 4) AS DOUBLE) AS med5
          FROM f ORDER BY event_id""")
      },
      oracle = Some("""
        SELECT event_id, user_id, value,
               CAST(ROUND(median(value) OVER
                 (PARTITION BY user_id ORDER BY date_trunc('milliseconds', ts), event_id
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS DOUBLE)
                 AS med5
        FROM events ORDER BY event_id""")),

    // Time-weighted average (TWAP): per user, each value is held until the
    // next event, weighted by its holding duration in integer epoch
    // milliseconds. Weights and value products stay in exact integer /
    // decimal arithmetic (order-independent partial sums); the single
    // emitted double is ONE division of identical operands. The last
    // event per user has no successor and carries zero weight — the
    // standard left-closed TWAP convention.
    "q_window_twap" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          WITH e AS (
            SELECT user_id, value,
                   unix_millis(CAST(ts AS TIMESTAMP)) AS ms,
                   lead(unix_millis(CAST(ts AS TIMESTAMP))) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS next_ms
            FROM events)
          SELECT user_id,
                 CAST(SUM(next_ms - ms) AS BIGINT) AS held_ms,
                 CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)) * (next_ms - ms))
                        AS DECIMAL(38,2)) AS DOUBLE) /
                   CAST(SUM(next_ms - ms) AS DOUBLE) AS twap
          FROM e WHERE next_ms IS NOT NULL
          GROUP BY user_id ORDER BY user_id""")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, value,
                 epoch_ms(date_trunc('milliseconds', ts)) AS ms,
                 lead(epoch_ms(date_trunc('milliseconds', ts))) OVER
                   (PARTITION BY user_id ORDER BY date_trunc('milliseconds', ts), event_id)
                   AS next_ms
          FROM events)
        SELECT user_id,
               CAST(SUM(next_ms - ms) AS BIGINT) AS held_ms,
               CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)) * (next_ms - ms))
                      AS DECIMAL(38,2)) AS DOUBLE) /
                 CAST(SUM(next_ms - ms) AS DOUBLE) AS twap
        FROM e WHERE next_ms IS NOT NULL
        GROUP BY user_id ORDER BY user_id""")),

    // Rolling z-score anomaly flag: each event scored against the mean/std
    // of its user's trailing 20 events (the streaming-style counterpart to
    // the global q_outlier_zscore). Frame sums stay exact in decimal, so
    // mean and variance are identical double op-trees on both engines and
    // the raw z is bit-exact; population variance (N divisor) by
    // construction. Frame-bounded state, one shuffle keyed by user.
    "q_window_zscore" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          WITH f AS (
            SELECT event_id, user_id, value,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sv,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) *
                                 CAST(value AS DECIMAL(12,2)) AS DECIMAL(28,4)))
                        OVER w AS DOUBLE) AS svv,
                   CAST(COUNT(*) OVER w AS DOUBLE) AS n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
          SELECT event_id, user_id, value,
                 CASE WHEN n >= 5.0 AND svv / n - (sv / n) * (sv / n) > 0.0
                      THEN (value - sv / n) /
                           sqrt(svv / n - (sv / n) * (sv / n)) END AS z,
                 CASE WHEN n >= 5.0 AND svv / n - (sv / n) * (sv / n) > 0.0
                      THEN abs((value - sv / n) /
                           sqrt(svv / n - (sv / n) * (sv / n))) > 2.5 END AS anomaly
          FROM f ORDER BY event_id""")
      },
      oracle = Some("""
        WITH e AS (SELECT event_id, user_id,
                          date_trunc('milliseconds', ts) AS ts, value FROM events),
        f AS (
          SELECT event_id, user_id, value,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sv,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) *
                               CAST(value AS DECIMAL(12,2)) AS DECIMAL(28,4)))
                      OVER w AS DOUBLE) AS svv,
                 CAST(COUNT(*) OVER w AS DOUBLE) AS n
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        SELECT event_id, user_id, value,
               CASE WHEN n >= 5.0 AND svv / n - (sv / n) * (sv / n) > 0.0
                    THEN (value - sv / n) /
                         sqrt(svv / n - (sv / n) * (sv / n)) END AS z,
               CASE WHEN n >= 5.0 AND svv / n - (sv / n) * (sv / n) > 0.0
                    THEN abs((value - sv / n) /
                         sqrt(svv / n - (sv / n) * (sv / n))) > 2.5 END AS anomaly
        FROM f ORDER BY event_id""")),

    // User-journey transition matrix (first-order Markov estimate over the
    // event stream): P(next | current) per event-type pair, from one lead
    // window per user + one bounded hash agg (|types|² keys). The
    // transition probability is ONE division of exact integer counts, so
    // the raw double is bit-exact cross-engine.
    "q_event_transitions" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          WITH seq AS (
            SELECT event_type AS cur,
                   lead(event_type) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
            FROM events),
          cnt AS (SELECT cur, nxt, COUNT(*) AS n FROM seq
                  WHERE nxt IS NOT NULL GROUP BY cur, nxt),
          tot AS (SELECT cur, SUM(n) AS row_n FROM cnt GROUP BY cur)
          SELECT c.cur, c.nxt, c.n,
                 CAST(c.n AS DOUBLE) / CAST(t.row_n AS DOUBLE) AS p
          FROM cnt c JOIN tot t ON c.cur = t.cur
          ORDER BY c.cur, c.nxt""")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id,
                          date_trunc('milliseconds', ts) AS ts, event_type
                   FROM events),
        seq AS (
          SELECT event_type AS cur,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          FROM e),
        cnt AS (SELECT cur, nxt, COUNT(*) AS n FROM seq
                WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        tot AS (SELECT cur, SUM(n) AS row_n FROM cnt GROUP BY cur)
        SELECT c.cur, c.nxt, CAST(c.n AS BIGINT) AS n,
               CAST(c.n AS DOUBLE) / CAST(t.row_n AS DOUBLE) AS p
        FROM cnt c JOIN tot t ON c.cur = t.cur
        ORDER BY c.cur, c.nxt""")),

    // Gaps-and-islands: each user's maximal runs of CONSECUTIVE active
    // days (the retention-streak primitive). The classic trick — a run of
    // consecutive days has constant (day_number − row_number), so that
    // difference IS the island key and run detection becomes a plain
    // GROUP BY, no self-join, no recursive walk.
    //
    // Scale shape: the only fact-sized operation is the (user, day)
    // distinct (one exchange, days-granular output); the window orders
    // each user's own days (bounded by the calendar, not the corpus) and
    // both aggregates are user-cardinality-sized. Day truncation
    // sidesteps the events-ts ns/µs precision divergence entirely.
    "q_window_islands" -> Q(
      fn = (s, d) => {
        val days = Tables(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        days
          .withColumn("grp",
            datediff(col("day"), lit("1970-01-01").cast(DateType)) -
              row_number().over(w))
          .groupBy("user_id", "grp")
          .agg(count(lit(1)).as("len"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"), max(col("len")).as("longest_run"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        isl AS (
          SELECT user_id,
                 date_diff('day', DATE '1970-01-01', day)
                   - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
          FROM days),
        runs AS (SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_islands,
               CAST(MAX(len) AS BIGINT) AS longest_run
        FROM runs GROUP BY user_id ORDER BY user_id""")),

    // Interval coalescing: each event opens a 10-minute activity interval
    // [ts, ts+10min); overlapping/touching intervals per user merge into
    // maximal covered spans (the "union of intervals" primitive behind
    // billing sessions, on-call coverage, and machine-uptime rollups).
    // Unlike q_window_islands (day-granular runs) this merges on the raw
    // timeline with arbitrary overlap. A span break happens exactly where
    // an interval starts AFTER the running max of every earlier interval's
    // end — a prefix-max window, no self-join.
    //
    // Scale shape: ONE exchange, hash-partitioned by user_id, shared by
    // the window pass and both aggregations (all are user-keyed); the sort
    // is per-user event count. All arithmetic on epoch-ms longs — exact.
    "q_interval_merge" -> Q(
      fn = (s, d) => {
        val iv = 600000L // 10-minute activity interval, ms
        val e = Tables(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_millis(col("ts").cast(TimestampType)).as("start_ms"))
          .withColumn("end_ms", col("start_ms") + lit(iv))
        val ord = Window.partitionBy("user_id")
          .orderBy(col("start_ms"), col("event_id"))
        val spans = e
          .withColumn("prev_end",
            max(col("end_ms")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("brk",
            when(col("prev_end").isNull ||
              col("start_ms") > col("prev_end"), 1L).otherwise(0L))
          .withColumn("span_id",
            sum(col("brk")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("span_id"))
          .agg(min(col("start_ms")).as("s"), max(col("end_ms")).as("t"))
        spans.groupBy("user_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("t") - col("s")).as("covered_ms"),
            max(col("t") - col("s")).as("longest_ms"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id,
                 epoch_ms(date_trunc('milliseconds', ts)) AS start_ms,
                 epoch_ms(date_trunc('milliseconds', ts)) + 600000 AS end_ms
          FROM events),
        marked AS (
          SELECT user_id, start_ms, end_ms,
                 CASE WHEN MAX(end_ms) OVER
                        (PARTITION BY user_id ORDER BY start_ms, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      IS NULL
                   OR start_ms > MAX(end_ms) OVER
                        (PARTITION BY user_id ORDER BY start_ms, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 THEN 1 ELSE 0 END AS brk,
                 event_id
          FROM e),
        numbered AS (
          SELECT user_id, start_ms, end_ms,
                 SUM(brk) OVER (PARTITION BY user_id
                                ORDER BY start_ms, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS span_id
          FROM marked),
        spans AS (
          SELECT user_id, span_id,
                 MIN(start_ms) AS s, MAX(end_ms) AS t
          FROM numbered GROUP BY user_id, span_id)
        SELECT user_id, COUNT(*) AS n_spans,
               CAST(SUM(t - s) AS BIGINT) AS covered_ms,
               CAST(MAX(t - s) AS BIGINT) AS longest_ms
        FROM spans GROUP BY user_id ORDER BY user_id""")),

    // Watermark-bounded stateful dedup executed THROUGH THE STREAMING
    // ENGINE — not a batch equivalence: `dropDuplicatesWithinWatermark`
    // is batch-rejected by Spark (UnsupportedOperationChecker), so this
    // query runs the real thing: the corpus plus deterministically
    // injected duplicate deliveries (every event_id % 7 == 0 re-emitted
    // 30 s later — an ingest retry well inside the 10-minute watermark)
    // lands in a scratch dir, a file-source readStream pushes it through
    // `Streams.dedupWithinWatermark` (state store, checkpoint, the lot)
    // under Trigger.AvailableNow into a parquet sink, and the read-back
    // aggregates per event_type. Duplicate copies differ ONLY in ts, and
    // ts is not aggregated — so whichever copy the state store happens to
    // keep, the output is deterministic and the DuckDB oracle is simply
    // the original corpus: every event exactly once. This upgrades the
    // §2.4 ◻ "stateful dedup" row to a keyed CORRECTNESS entry;
    // StreamingSpec separately pins multi-batch re-delivery drops via
    // MemoryStream.
    //
    // Scale shape: dedup state is keyed by event_id, partitioned by the
    // key exchange (32 state partitions here, executor-count at 100 TB),
    // and the watermark bounds its lifetime — state is O(events inside
    // the watermark window), never O(stream). The sink is append-mode
    // parquet (exactly-once via the checkpoint's batch commit log).
    // Single-batch dependence: the oracle (every event exactly
    // once) relies on BOTH source branches ingesting all files in ONE
    // micro-batch — no maxFilesPerTrigger is set, so the file source takes
    // everything available, and the watermark is still at epoch during that
    // batch (nothing is late). If ingestion were ever throttled into
    // multiple batches, ORIGINAL events older than max(ts)−10min after
    // batch 1 would be dropped as late rows and the oracle would break —
    // exactly the multi-batch re-delivery semantic StreamingSpec pins
    // separately via MemoryStream.
    "q_stream_dedup" -> Q(
      fn = (s, d) => {
        val in = s"${Scratch.sharedInput(s, d)}/in"
        val events = s.readStream.schema(Scratch.inputSchema).parquet(in)
        // Injected duplicate deliveries: a SECOND source branch over the
        // same files re-emits every event_id % 7 == 0 thirty seconds
        // later — an ingest retry well inside the 10-minute watermark.
        val dupes = s.readStream.schema(Scratch.inputSchema).parquet(in)
          .filter(col("event_id") % 7 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 30 SECONDS"))
        val deduped = graft.streaming.Streams.dedupWithinWatermark(
          events.union(dupes), "10 minutes")
        Scratch.drain(s, "stream_dedup", deduped)._1
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            min(col("event_id")).as("min_id"),
            max(col("event_id")).as("max_id"),
            dec4(sum(dec2(col("value")))).as("total_value"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n_events,
               MIN(event_id) AS min_id, MAX(event_id) AS max_id,
               CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,4))
                 AS DOUBLE) AS total_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Append-mode watermarked tumbling aggregation THROUGH THE STREAMING
    // ENGINE: the corpus lands in a scratch dir, a file-source readStream
    // pushes it through `Streams.tumblingWithWatermark` under
    // Trigger.AvailableNow into a parquet sink. In append mode a window
    // emits exactly once, when the watermark passes its end — here the
    // data arrives in one batch (watermark still at epoch, so nothing is
    // late), then the engine's final NO-DATA micro-batch advances the
    // watermark to max(ts) − 10 min and evicts every closed window. The
    // emitted set is therefore exactly {windows : end ≤ max(ts) − 10 min}
    // regardless of how the source batched files — which is what makes a
    // DuckDB oracle possible for append-mode emission timing. (Cross-batch
    // late-row DROP ordering is inherently batching-dependent, so that
    // semantic stays pinned by StreamingSpec's MemoryStream test.) This
    // upgrades the §2.4 "watermark + late data" append-mode capability to
    // a keyed CORRECTNESS entry.
    //
    // Scale shape: streaming hash agg keyed by (window, type) — partial
    // aggregation bounds pre-shuffle volume by |buckets × types| per
    // task; state is one row per open window per type, watermark-evicted.
    "q_stream_tumbling" -> Q(
      fn = (s, d) => {
        val in = s"${Scratch.sharedInput(s, d)}/in"
        val agg = graft.streaming.Streams.tumblingWithWatermark(
          s.readStream.schema(Scratch.inputSchema).parquet(in)
            .select(col("ts"), col("event_type"), col("value")),
          "10 minutes")
        // Back to NTZ for the oracle compare (UTC session TZ ⇒ value-stable;
        // the cast to TIMESTAMP above was only for the watermark's benefit).
        Scratch.drain(s, "stream_tumb", agg)._1
          .withColumn("w_start", col("w_start").cast("timestamp_ntz"))
          .orderBy("w_start", "event_type")
      },
      oracle = Some("""
        WITH e AS (SELECT date_trunc('milliseconds', ts) AS ts, event_type,
                          value FROM events),
        mx AS (SELECT MAX(ts) AS m FROM e),
        w AS (SELECT time_bucket(INTERVAL 1 hour, ts) AS w_start, event_type,
                     COUNT(*) AS n,
                     CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                       AS DECIMAL(18,4)) AS DOUBLE) AS total
              FROM e GROUP BY 1, 2)
        SELECT w_start, event_type, n, total FROM w CROSS JOIN mx
        WHERE w_start + INTERVAL 1 hour <= m - INTERVAL 10 minutes
        ORDER BY w_start, event_type""")),

    // LEFT-OUTER stream-stream interval join THROUGH THE STREAMING ENGINE
    // (the watermark-gated null-extension semantic, also MemoryStream-tested
    // in StreamingSpec): signups joined to same-user purchases
    // within 1 hour AFTER the signup, with unmatched signups emitted
    // null-extended once the engine KNOWS no match can still arrive. Both
    // branches read the shared scratch corpus in ONE micro-batch (watermark
    // still at epoch — nothing late, every inner match emits); the final
    // no-data batch then advances the global watermark to
    // min(max signup_ts, max purchase_ts) − 10min (two watermark nodes,
    // default `min` multipleWatermarkPolicy) and evicts left state — a
    // signup with no in-window purchase is emitted null-extended exactly
    // when its join bound has passed: signup_ts + 1h < watermark. That
    // eviction rule is engine-deterministic given single-batch ingestion,
    // which is what makes a DuckDB oracle possible for OUTER emission
    // timing (the q_stream_tumbling argument applied to join state).
    //
    // Scale shape: equi-key (user_id) state on both sides, evicted by the
    // event-time bound — state is O(in-flight interval), not O(stream);
    // the unbounded-outer-join failure mode (hold every row forever) is
    // structurally excluded by the time-range condition.
    "q_stream_interval_left" -> Q(
      fn = (s, d) => {
        val in = s"${Scratch.sharedInput(s, d)}/in"
        def branch() = s.readStream.schema(Scratch.inputSchema).parquet(in)
        val joined = graft.streaming.Streams.signupToPurchase(
          branch().filter(col("event_type") === "signup"),
          branch().filter(col("event_type") === "purchase"),
          within = "1 hour", joinType = "left_outer")
        // Back to NTZ for the oracle compare (UTC session TZ ⇒ value-stable).
        Scratch.drain(s, "stream_ileft", joined)._1
          .withColumn("signup_ts", col("signup_ts").cast("timestamp_ntz"))
          .withColumn("purchase_ts", col("purchase_ts").cast("timestamp_ntz"))
          .orderBy(col("signup_id").asc, col("purchase_id").asc_nulls_first)
      },
      oracle = Some("""
        WITH e AS (SELECT event_id, user_id, event_type,
                          date_trunc('milliseconds', ts) AS ts FROM events),
        s AS (SELECT event_id AS signup_id, user_id, ts AS signup_ts
              FROM e WHERE event_type = 'signup'),
        p AS (SELECT event_id AS purchase_id, user_id AS p_user,
                     ts AS purchase_ts
              FROM e WHERE event_type = 'purchase'),
        wm AS (SELECT least((SELECT MAX(signup_ts) FROM s),
                            (SELECT MAX(purchase_ts) FROM p))
                      - INTERVAL '10 minutes' AS w),
        matched AS (
          SELECT signup_id, purchase_id, user_id, signup_ts, purchase_ts
          FROM s JOIN p ON user_id = p_user
            AND purchase_ts >= signup_ts
            AND purchase_ts <= signup_ts + INTERVAL '1 hour'),
        unmatched AS (
          SELECT s.signup_id, CAST(NULL AS BIGINT) AS purchase_id,
                 s.user_id, s.signup_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
          FROM s CROSS JOIN wm
          WHERE NOT EXISTS (SELECT 1 FROM matched m
                            WHERE m.signup_id = s.signup_id)
            AND s.signup_ts + INTERVAL '1 hour' < wm.w)
        SELECT * FROM matched
        UNION ALL SELECT * FROM unmatched
        ORDER BY signup_id, purchase_id NULLS FIRST""")),

    // Arbitrary stateful processing (transformWithState, state API v2)
    // through the real engine — upgrading the last §2.4 ◻ capability to a
    // keyed entry. Per-user cumulative (count, cents, min/max event id)
    // lives in a RocksDB-backed product-typed ValueState; the scratch
    // input is split into 8 files read 2 per micro-batch, so state
    // genuinely persists and accumulates ACROSS batches. Every batch
    // re-emits the user's running snapshot; the read-back keeps the
    // emission with the largest n_events (strictly monotone per user ⇒
    // unique), i.e. the final state — all fields are order-independent
    // reductions, so the result is deterministic no matter how the file
    // source ordered the batches, and the oracle is a plain GROUP BY.
    // Money flows as exact cents (double→DECIMAL(12,2)→×100→long in the
    // DataFrame layer, matching the oracle's cast chain — the processor
    // itself only ever adds longs).
    //
    // Scale shape: one key exchange into 32 state partitions
    // (executor-count at 100 TB); state is O(distinct users), ~40 bytes
    // each; emissions are state-sized per batch, not input-sized.
    "q_stream_stateful" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val in = s"${Scratch.sharedInput(s, d)}/in"
        // cents are derived map-side AFTER the source (the shared scratch
        // carries the raw corpus columns); the double→DECIMAL(12,2)→×100
        // cast chain matches the oracle exactly.
        val cum = graft.streaming.Streams.cumulativePerUser(
          s.readStream.schema(Scratch.inputSchema)
            .option("maxFilesPerTrigger", "2")
            .parquet(in)
            .select(col("event_id"), col("user_id"),
              (dec2(col("value")) * 100)
                .cast(org.apache.spark.sql.types.LongType).as("cents"))
            .as[graft.streaming.Streams.ECents])
        val out = Scratch.withConf(s, RocksDbChangelog: _*) {
          Scratch.drain(s, "stream_state", cum)._1
        }
        out.groupBy("user_id")
          .agg(max(col("n_events")).as("n_events"),
            max_by(col("cents"), col("n_events")).as("cents"),
            max_by(col("min_id"), col("n_events")).as("min_id"),
            max_by(col("max_id"), col("n_events")).as("max_id"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                 AS BIGINT) AS cents,
               MIN(event_id) AS min_id, MAX(event_id) AS max_id
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // Cross-batch LATE-ROW DROP through the real engine — the last §2.4
    // streaming semantic that was MemoryStream-only ("inherently
    // batching-dependent"). Batching-dependent becomes oracle-expressible
    // by making the batching DETERMINISTIC: the corpus is split into 4
    // single-file batches by event_id % 4 (each re-delivering the FULL
    // time range), every file's mtime is set strictly increasing, and the
    // source is throttled to maxFilesPerTrigger=1 — FileStreamSource
    // orders pending files by modification time ascending (fileSortOrder =
    // Ordering.Long under latestFirst=false, spark-sql 4.1.2), so
    // micro-batch b ingests exactly the event_id % 4 == b slice, in order.
    // After batch 0 the watermark sits at (batch-0 max ts) − 10 min, so
    // most of batches 1–3 arrives late and is dropped.
    //
    // Drop rule (decompiled WatermarkSupport.watermarkExpression, verified
    // against the engine here): for a windowed aggregation the event-time
    // column is the window struct, and a row is dropped iff its WINDOW END
    // <= the late-events watermark — lateness is judged by the window, not
    // the raw ts (an old ts in a still-open window is counted), and the
    // tie end == wm drops. Spark runs TWO watermarks per batch (the
    // multi-stateful-operator split): late-row filtering uses
    // watermarkForLateEvents = the PREVIOUS batch's watermark, i.e.
    // wm_late(b) = max(ts over batches ≤ b−2) − 10 min, while state
    // eviction/emission uses watermarkForEviction =
    // max(ts over batches ≤ b−1) − 10 min. The one-batch late-filter lag
    // is observable (batch 1 here keeps everything) and is what the
    // oracle's "2 PRECEDING" ladder encodes; the two watermarks can never
    // double-emit a window (a row for a window emitted at batch b₀ is
    // filtered at any b > b₀ because wm_late(b) ≥ wm_evict(b₀)). The
    // final no-data batch under AvailableNow advances eviction to
    // max(all ts) − 10 min and emits every window with end <= that (the
    // q_stream_tumbling rule). FileBatchProbeSpec pins all three
    // mechanics: one batch per file, mtime order, and the eviction-vs-late
    // watermark ladder.
    //
    // Scale shape: identical to q_stream_tumbling (streaming hash agg
    // keyed by (window, type), watermark-evicted state); the batch writes
    // are a test-harness artifact standing in for an ingest directory.
    "q_stream_late_drop" -> Q(
      fn = (s, d) => {
        val inDir = Scratch.lateDropInput(s, d)
        val agg = graft.streaming.Streams.tumblingWithWatermark(
          s.readStream.schema(Scratch.inputSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(inDir)
            .select(col("ts"), col("event_type"), col("value")),
          "10 minutes")
        Scratch.drain(s, "stream_late", agg)._1
          .withColumn("w_start", col("w_start").cast("timestamp_ntz"))
          .orderBy("w_start", "event_type")
      },
      oracle = Some("""
        WITH e AS (SELECT event_id % 4 AS b,
                          date_trunc('milliseconds', ts) AS ts,
                          event_type, value FROM events),
        bm AS (SELECT b, MAX(ts) AS mx FROM e GROUP BY b),
        wm AS (SELECT b,
                      COALESCE(MAX(mx) OVER (ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING),
                        TIMESTAMP '1970-01-01 00:00:00')
                        - INTERVAL '10 minutes' AS w
               FROM bm),
        fw AS (SELECT MAX(mx) - INTERVAL '10 minutes' AS w FROM bm),
        kept AS (SELECT time_bucket(INTERVAL '1 hour', e.ts) AS w_start,
                        e.event_type, e.value
                 FROM e JOIN wm ON wm.b = e.b
                 WHERE time_bucket(INTERVAL '1 hour', e.ts)
                         + INTERVAL '1 hour' > wm.w),
        agg AS (SELECT w_start, event_type, COUNT(*) AS n,
                       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                         AS DECIMAL(18,4)) AS DOUBLE) AS total
                FROM kept GROUP BY 1, 2)
        SELECT a.w_start, a.event_type, a.n, a.total
        FROM agg a CROSS JOIN fw
        WHERE a.w_start + INTERVAL '1 hour' <= fw.w
        ORDER BY w_start, event_type""")),

    // The LEGACY arbitrary-state API (flatMapGroupsWithState) through the
    // real engine — the LAST streaming-only capability without a keyed
    // oracle. Same order-free-reduction contract as q_stream_stateful
    // (count, exact cents, min/max event id; n_events strictly monotone
    // per user ⇒ max_by read-back = final state), same plain-GROUP-BY
    // oracle — but executed by FlatMapGroupsWithStateExec with the
    // default HDFS-backed state store instead of transformWithState on
    // RocksDB, so BOTH arbitrary-state code paths are now
    // correctness-gated. 2 files per micro-batch keeps state genuinely
    // crossing batches.
    //
    // Scale shape: one user-keyed exchange into the state store; state is
    // O(distinct users); emissions are touched-users-sized per batch.
    "q_stream_legacy_state" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val in = s"${Scratch.sharedInput(s, d)}/in"
        val cum = graft.streaming.Streams.runningPerUserLegacy(
          s.readStream.schema(Scratch.inputSchema)
            .option("maxFilesPerTrigger", "2")
            .parquet(in)
            .select(col("event_id"), col("user_id"),
              (dec2(col("value")) * 100)
                .cast(org.apache.spark.sql.types.LongType).as("cents"))
            .as[graft.streaming.Streams.ECents])
        Scratch.drain(s, "stream_legacy", cum)._1
          .groupBy("user_id")
          .agg(max(col("n_events")).as("n_events"),
            max_by(col("cents"), col("n_events")).as("cents"),
            max_by(col("min_id"), col("n_events")).as("min_id"),
            max_by(col("max_id"), col("n_events")).as("max_id"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                 AS BIGINT) AS cents,
               MIN(event_id) AS min_id, MAX(event_id) AS max_id
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // EVENT-TIME TIMERS through the real engine (state API v2's timer
    // surface — registerTimer / listTimers / deleteTimer /
    // handleExpiredTimer — which no other key exercises): per-user
    // inactivity close-out. Every user's running count re-arms a single
    // timer at (latest activity + 30 min); single-batch ingestion keeps
    // the watermark at epoch while data flows (no timer can fire
    // mid-stream), then the final no-data batch advances the EVICTION
    // watermark to max(ts) − 10 min and fires exactly the timers with
    // expiry ≤ that (TimerStateImpl's expiry iterator stops at the first
    // timer > threshold — tie FIRES, decompiled spark-sql 4.1.2). The
    // emitted set is therefore {users : max(ts)+30min ≤ max(all ts)−10min}
    // with their total counts — a plain SQL HAVING. Users still inside
    // the gap never close (state outlives the run — the streaming
    // semantic; the oracle excludes them identically).
    //
    // Scale shape: timers live in the same RocksDB store as the value
    // state, keyed by (user, expiry) — O(users) state, O(fired) emission;
    // the timer registry is range-scanned once per batch, not per key.
    "q_stream_timer_close" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val in = s"${Scratch.sharedInput(s, d)}/in"
        val closed = graft.streaming.Streams.timerClose(
          s.readStream.schema(Scratch.inputSchema).parquet(in)
            .as[graft.streaming.Streams.Event])
        val out = Scratch.withConf(s, RocksDbChangelog: _*) {
          Scratch.drain(s, "stream_timer", closed)._1
        }
        out.withColumn("closed_at", col("closed_at").cast("timestamp_ntz"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, date_trunc('milliseconds', ts) AS ts
                   FROM events),
        mx AS (SELECT MAX(ts) AS m FROM e)
        SELECT user_id, COUNT(*) AS n_events,
               MAX(ts) + INTERVAL '30 minutes' AS closed_at
        FROM e CROSS JOIN mx
        GROUP BY user_id, m
        HAVING MAX(ts) + INTERVAL '30 minutes' <= m - INTERVAL '10 minutes'
        ORDER BY user_id""")),

    // UPDATE-mode emission through the real engine — the other half of the
    // output-mode contract (append emits once-on-close; update re-emits a
    // group's RUNNING aggregate every micro-batch it changes in). The
    // deterministic 4-batch layout (Scratch.lateDropInput — one file per
    // micro-batch, mtime-ordered, shared with q_stream_late_drop) makes
    // the whole update STREAM oracle-expressible: batch b emits exactly
    // the (window, type) groups that received a non-late row in b, with
    // counts cumulative over kept rows through b; the late filter is the
    // same lag-2 watermarkForLateEvents ladder q_stream_late_drop pins.
    // The parquet sink is append-only, so the update stream lands through
    // drain's foreachBatch sink with the batch id stamped on — which also
    // makes the per-batch emission timing part of the hash-checked
    // contract.
    // Watermark eviction in update mode removes closed windows silently
    // (their updates were already emitted), so no final-batch rows.
    //
    // Scale shape: identical state to q_stream_tumbling; emission volume
    // per batch is O(groups touched in the batch), not O(state).
    "q_stream_update" -> Q(
      fn = (s, d) => {
        val in = Scratch.lateDropInput(s, d)
        val agg = graft.streaming.Streams.tumblingWithWatermark(
          s.readStream.schema(Scratch.inputSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in)
            .select(col("ts"), col("event_type"), col("value")),
          "10 minutes")
        Scratch.drain(s, "stream_upd", agg, outputMode = "update")._1
          .withColumn("w_start", col("w_start").cast("timestamp_ntz"))
          .select(col("batch_id"), col("w_start"), col("event_type"),
            col("n"), col("total"))
          .orderBy("batch_id", "w_start", "event_type")
      },
      oracle = Some("""
        WITH e AS (SELECT event_id % 4 AS b,
                          date_trunc('milliseconds', ts) AS ts,
                          event_type, value FROM events),
        bm AS (SELECT b, MAX(ts) AS mx FROM e GROUP BY b),
        wm AS (SELECT b,
                      COALESCE(MAX(mx) OVER (ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING),
                        TIMESTAMP '1970-01-01 00:00:00')
                        - INTERVAL '10 minutes' AS w
               FROM bm),
        kept AS (SELECT e.b, time_bucket(INTERVAL '1 hour', e.ts) AS w_start,
                        e.event_type, e.value
                 FROM e JOIN wm ON wm.b = e.b
                 WHERE time_bucket(INTERVAL '1 hour', e.ts)
                         + INTERVAL '1 hour' > wm.w),
        kb AS (SELECT b, w_start, event_type, COUNT(*) AS nb,
                      SUM(CAST(value AS DECIMAL(12,2))) AS tb
               FROM kept GROUP BY 1, 2, 3)
        SELECT b AS batch_id, w_start, event_type,
               CAST(SUM(nb) OVER cum AS BIGINT) AS n,
               CAST(CAST(SUM(tb) OVER cum AS DECIMAL(18,4)) AS DOUBLE) AS total
        FROM kb
        WINDOW cum AS (PARTITION BY w_start, event_type ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY batch_id, w_start, event_type""")),

    // RIGHT-outer stream-stream interval join THROUGH THE STREAMING ENGINE:
    // the mirror image of q_stream_interval_left —
    // purchases with no same-user signup in the PRECEDING hour emit
    // null-extended once the engine knows no signup can still arrive.
    // The two sides' eviction bounds are ASYMMETRIC because the interval
    // is one-directional: a stored signup can match purchases up to
    // signup_ts + 1h (evictable when wm passes that), while a stored
    // purchase can only match signups with signup_ts <= purchase_ts —
    // evictable as soon as wm passes purchase_ts itself. Single-batch
    // ingestion (the q_stream_interval_left argument) makes the outer
    // emission set oracle-expressible: all inner matches emit in batch 0,
    // the final no-data batch advances eviction to
    // min(max signup_ts, max purchase_ts) − 10min and null-extends the
    // evicted never-matched right rows — strictly purchase_ts < wm (the
    // tie HOLDS in state; pinned in StreamingSpec's outer-eviction-tie
    // test alongside the left side's signup_ts + 1h < wm).
    //
    // Scale shape: identical to q_stream_interval_left — equi-key state
    // both sides, evicted by the event-time bound, O(in-flight interval).
    "q_stream_interval_right" -> Q(
      fn = (s, d) => {
        val in = s"${Scratch.sharedInput(s, d)}/in"
        def branch() = s.readStream.schema(Scratch.inputSchema).parquet(in)
        val joined = graft.streaming.Streams.signupToPurchase(
          branch().filter(col("event_type") === "signup"),
          branch().filter(col("event_type") === "purchase"),
          within = "1 hour", joinType = "right_outer")
        Scratch.drain(s, "stream_iright", joined)._1
          .withColumn("signup_ts", col("signup_ts").cast("timestamp_ntz"))
          .withColumn("purchase_ts", col("purchase_ts").cast("timestamp_ntz"))
          .orderBy(col("purchase_id").asc, col("signup_id").asc_nulls_first)
      },
      oracle = Some("""
        WITH e AS (SELECT event_id, user_id, event_type,
                          date_trunc('milliseconds', ts) AS ts FROM events),
        s AS (SELECT event_id AS signup_id, user_id, ts AS signup_ts
              FROM e WHERE event_type = 'signup'),
        p AS (SELECT event_id AS purchase_id, user_id AS p_user,
                     ts AS purchase_ts
              FROM e WHERE event_type = 'purchase'),
        wm AS (SELECT least((SELECT MAX(signup_ts) FROM s),
                            (SELECT MAX(purchase_ts) FROM p))
                      - INTERVAL '10 minutes' AS w),
        matched AS (
          SELECT signup_id, purchase_id, user_id, signup_ts, purchase_ts
          FROM s JOIN p ON user_id = p_user
            AND purchase_ts >= signup_ts
            AND purchase_ts <= signup_ts + INTERVAL '1 hour'),
        unmatched AS (
          SELECT CAST(NULL AS BIGINT) AS signup_id, p.purchase_id,
                 p.p_user AS user_id, CAST(NULL AS TIMESTAMP) AS signup_ts,
                 p.purchase_ts
          FROM p CROSS JOIN wm
          WHERE NOT EXISTS (SELECT 1 FROM matched m
                            WHERE m.purchase_id = p.purchase_id)
            AND p.purchase_ts < wm.w)
        SELECT * FROM matched
        UNION ALL SELECT * FROM unmatched
        ORDER BY purchase_id, signup_id NULLS FIRST""")),

    // FULL-outer stream-stream interval join THROUGH THE STREAMING ENGINE:
    // both unmatched sides null-extend, each under
    // its OWN eviction bound (signup_ts + 1h < wm on the left,
    // purchase_ts < wm on the right — see q_stream_interval_right for the
    // asymmetry argument). The emitted relation is exactly
    // matched ∪ left-unmatched ∪ right-unmatched, each rule already
    // hash-checked in isolation by the left/right keys — this key pins
    // that the engine applies BOTH simultaneously from one shared state.
    "q_stream_interval_full" -> Q(
      fn = (s, d) => {
        val in = s"${Scratch.sharedInput(s, d)}/in"
        def branch() = s.readStream.schema(Scratch.inputSchema).parquet(in)
        val joined = graft.streaming.Streams.signupToPurchase(
          branch().filter(col("event_type") === "signup"),
          branch().filter(col("event_type") === "purchase"),
          within = "1 hour", joinType = "full_outer")
        Scratch.drain(s, "stream_ifull", joined)._1
          .withColumn("signup_ts", col("signup_ts").cast("timestamp_ntz"))
          .withColumn("purchase_ts", col("purchase_ts").cast("timestamp_ntz"))
          .orderBy(col("signup_id").asc_nulls_first,
            col("purchase_id").asc_nulls_first)
      },
      oracle = Some("""
        WITH e AS (SELECT event_id, user_id, event_type,
                          date_trunc('milliseconds', ts) AS ts FROM events),
        s AS (SELECT event_id AS signup_id, user_id, ts AS signup_ts
              FROM e WHERE event_type = 'signup'),
        p AS (SELECT event_id AS purchase_id, user_id AS p_user,
                     ts AS purchase_ts
              FROM e WHERE event_type = 'purchase'),
        wm AS (SELECT least((SELECT MAX(signup_ts) FROM s),
                            (SELECT MAX(purchase_ts) FROM p))
                      - INTERVAL '10 minutes' AS w),
        matched AS (
          SELECT signup_id, purchase_id, user_id, signup_ts, purchase_ts
          FROM s JOIN p ON user_id = p_user
            AND purchase_ts >= signup_ts
            AND purchase_ts <= signup_ts + INTERVAL '1 hour'),
        un_s AS (
          SELECT s.signup_id, CAST(NULL AS BIGINT) AS purchase_id,
                 s.user_id, s.signup_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
          FROM s CROSS JOIN wm
          WHERE NOT EXISTS (SELECT 1 FROM matched m
                            WHERE m.signup_id = s.signup_id)
            AND s.signup_ts + INTERVAL '1 hour' < wm.w),
        un_p AS (
          SELECT CAST(NULL AS BIGINT) AS signup_id, p.purchase_id,
                 p.p_user AS user_id, CAST(NULL AS TIMESTAMP) AS signup_ts,
                 p.purchase_ts
          FROM p CROSS JOIN wm
          WHERE NOT EXISTS (SELECT 1 FROM matched m
                            WHERE m.purchase_id = p.purchase_id)
            AND p.purchase_ts < wm.w)
        SELECT * FROM matched
        UNION ALL SELECT * FROM un_s
        UNION ALL SELECT * FROM un_p
        ORDER BY signup_id NULLS FIRST, purchase_id NULLS FIRST""")),

    // CHAINED MULTI-STATEFUL-OPERATOR streaming pipeline: a stream-stream interval join FEEDING a windowed aggregation in
    // ONE query — the pipeline shape the watermarkForLateEvents /
    // watermarkForEviction split exists for (see q_stream_late_drop's
    // ladder decompile at the wm comments above). Over the deterministic
    // 4-batch layout (Scratch.lateDropInput, maxFilesPerTrigger=1 on BOTH
    // branches — the sources advance in lockstep, file b = micro-batch b)
    // the whole chain is oracle-expressible:
    //   wm(b)       = min(max signup_ts ≤ b, max purchase_ts ≤ b) − 10min
    //   wm_late(b)  = wm(b−2)   (late filter at the JOIN; −2d at the agg)
    //   wm_evict(b) = wm(b−1)   (state eviction at the JOIN; −2d at the agg)
    //   • a join input at batch b is dropped iff ts ≤ wm_late(b)
    //     (raw-column late filter — FileBatchProbeSpec pins)
    //   • a cross-batch pair (b_s ≠ b_p, emitted at m = max) additionally
    //     needs the EARLIER row to survive state eviction through batch
    //     m−1, i.e. bound ≥ wm(m−2) = wm_late(m) — the signup's bound is
    //     signup_ts + 2d, the purchase's purchase_ts (the asymmetric
    //     q_stream_interval_right rule)
    //   • the DOWNSTREAM agg does NOT see the raw watermark: Spark's
    //     watermark PROPAGATION simulator (SPARK-42599's
    //     PropagateWatermarkSimulator, the 3.5+ multi-stateful machinery)
    //     assigns each operator the watermark AS DELAYED BY ITS UPSTREAM
    //     — a time-interval join's output can lag its input watermark by
    //     the full interval (a signup is held in state until signup_ts +
    //     2d passes), so the join's OUTPUT watermark, and therefore the
    //     agg's late/eviction watermarks, are wm_late(b) − 2d and
    //     wm_evict(b) − 2d. Probe-verified here (ProgressListener run,
    //     sf0.001): the agg emitted exactly the windows with
    //     end ≤ wm(b−1) − 2d each batch and 0 rows were ever counted in
    //     its numRowsDroppedByWatermark.
    //   • so: a pair reaching the agg at batch m is dropped iff its
    //     window END ≤ wm_late(m) − 2d (window-judged, tie drops — the
    //     q_stream_late_drop pin; the chain still can never double-count
    //     into an emitted window: end ≤ wm_evict(b₀) − 2d ≤
    //     wm_late(m) − 2d for all m > b₀)
    //   • the final no-data batch emits every window with
    //     end ≤ wm(3) − 2d (tie emits — the q_stream_tumbling pin);
    //     windows ending inside the trailing 2-day horizon stay open in
    //     state — the price of correctness under a join that may still
    //     produce rows that old
    // All three aggregates are order-free (count / sum / min), so the
    // result is deterministic given the pinned batch assignment. The
    // 2-DAY join interval is a density choice, not a semantics one: at
    // 1 hour the month-spanning synthetic corpus yields 3 qualifying
    // pairs at sf0.001 and the ladder filters all of them — a vacuous
    // 0-row oracle; at 2 days the kept set is dense enough that every
    // clause above (input late drop, both survival bounds, agg drop,
    // final eviction) is exercised with nonzero effect.
    //
    // Scale shape: join state O(in-flight interval) + agg state O(open
    // windows), both watermark-evicted; the join's key exchange is reused
    // by nothing downstream (the agg re-keys by window) — exactly the two
    // exchanges the semantics require.
    "q_stream_chained" -> Q(
      fn = (s, d) => {
        val in = Scratch.lateDropInput(s, d)
        def branch() = s.readStream.schema(Scratch.inputSchema)
          .option("maxFilesPerTrigger", "1").parquet(in)
        val joined = graft.streaming.Streams.signupToPurchase(
          branch().filter(col("event_type") === "signup"),
          branch().filter(col("event_type") === "purchase"),
          within = "2 days", joinType = "inner")
        val agg = joined
          .groupBy(window(col("signup_ts"), "1 hour"))
          .agg(count(lit(1)).as("n_conv"),
            sum(col("purchase_id")).as("sum_pid"),
            min(col("signup_id")).as("min_sid"))
          .select(col("window.start").as("w_start"), col("n_conv"),
            col("sum_pid"), col("min_sid"))
        Scratch.drain(s, "stream_chain", agg)._1
          .withColumn("w_start", col("w_start").cast("timestamp_ntz"))
          .orderBy("w_start")
      },
      oracle = Some("""
        WITH e AS (SELECT event_id % 4 AS b, event_id, user_id, event_type,
                          date_trunc('milliseconds', ts) AS ts FROM events),
        sg AS (SELECT b AS bs, event_id AS signup_id, user_id,
                      ts AS signup_ts FROM e WHERE event_type = 'signup'),
        pu AS (SELECT b AS bp, event_id AS purchase_id, user_id AS p_user,
                      ts AS purchase_ts FROM e WHERE event_type = 'purchase'),
        bs4 AS (SELECT unnest([0, 1, 2, 3]) AS b),
        -- COALESCE each side to the epoch sentinel BEFORE least: DuckDB's
        -- least() ignores NULLs, but Spark's global watermark is the MIN
        -- over watermark nodes and an unset node pins it at epoch — if a
        -- batch prefix contains no signups (or no purchases) the oracle
        -- must stay at epoch too, not advance on the populated side
        -- (vacuous at sf>=0.01 where every prefix has both).
        -- GREATEST floor at epoch: Spark's global watermark
        -- initializes at 0 and is monotone non-negative, so an empty
        -- prefix must pin the oracle at epoch exactly — not epoch minus
        -- the 10-minute delay (vacuous on this corpus, exact in principle).
        wmt AS (SELECT b.b,
                       GREATEST(TIMESTAMP '1970-01-01 00:00:00',
                         least(COALESCE((SELECT MAX(signup_ts) FROM sg
                                         WHERE bs <= b.b),
                                 TIMESTAMP '1970-01-01 00:00:00'),
                               COALESCE((SELECT MAX(purchase_ts) FROM pu
                                         WHERE bp <= b.b),
                                 TIMESTAMP '1970-01-01 00:00:00'))
                           - INTERVAL '10 minutes') AS w
                FROM bs4 b),
        wml AS (SELECT b.b,
                       COALESCE((SELECT w FROM wmt WHERE wmt.b = b.b - 2),
                         TIMESTAMP '1970-01-01 00:00:00') AS w
                FROM bs4 b),
        matched AS (
          SELECT s.signup_id, p.purchase_id, s.signup_ts,
                 GREATEST(s.bs, p.bp) AS m
          FROM sg s JOIN pu p ON s.user_id = p.p_user
            AND p.purchase_ts >= s.signup_ts
            AND p.purchase_ts <= s.signup_ts + INTERVAL '2 days'
          WHERE s.signup_ts > (SELECT w FROM wml WHERE wml.b = s.bs)
            AND p.purchase_ts > (SELECT w FROM wml WHERE wml.b = p.bp)
            AND (p.bp <= s.bs OR s.signup_ts + INTERVAL '2 days' >=
                 (SELECT w FROM wml WHERE wml.b = p.bp))
            AND (s.bs <= p.bp OR p.purchase_ts >=
                 (SELECT w FROM wml WHERE wml.b = s.bs))),
        kept AS (
          SELECT time_bucket(INTERVAL '1 hour', signup_ts) AS w_start,
                 signup_id, purchase_id
          FROM matched mt
          WHERE time_bucket(INTERVAL '1 hour', signup_ts) + INTERVAL '1 hour'
                  > (SELECT w FROM wml WHERE wml.b = mt.m) - INTERVAL '2 days'
            AND time_bucket(INTERVAL '1 hour', signup_ts) + INTERVAL '1 hour'
                  <= (SELECT w FROM wmt WHERE b = 3) - INTERVAL '2 days')
        SELECT w_start, COUNT(*) AS n_conv,
               CAST(SUM(purchase_id) AS BIGINT) AS sum_pid,
               MIN(signup_id) AS min_sid
        FROM kept GROUP BY w_start
        ORDER BY w_start""")),

    // OUTER-join → windowed-agg chain: q_stream_chained
    // with joinType = left_outer — the one streaming composition with no
    // key until now: NULL-EXTENDED rows reaching a downstream
    // watermark-gated aggregation. The null-extension rules compose with
    // the chained ladder like this:
    //   • a signup with no EMITTED match null-extends when join-state
    //     eviction passes its bound STRICTLY (signup_ts + 2d < wm_evict —
    //     the outer-eviction tie-holds pin, StreamingSpec); under
    //     AvailableNow the final no-data batch advances eviction to wm(3),
    //     so the full null set is {unmatched s : signup_ts + 2d < wm(3)}.
    //   • a null row emitted at batch k is NEVER late at the agg: emission
    //     at k (not earlier) means it survived batch k−1's eviction, i.e.
    //     signup_ts + 2d ≥ wm(k−2) = wml(k), so its window end
    //     > signup_ts ≥ wml(k) − 2d — strictly above the agg's delayed
    //     late watermark. (FileBatchProbeSpec pins this timing: null rows
    //     always reach agg state, numRowsDroppedByWatermark stays 0.)
    //   • the null row carries the LEFT side's event time (signup_ts), so
    //     it lands in the same hourly window a match would have; count
    //     counts it, sum(purchase_id) ignores its NULL.
    //   • final emission is the chained rule unchanged: window end ≤
    //     wm(3) − 2d (tie emits); null rows within the trailing 2d+1h
    //     horizon stay open — emitted-set parity with the inner chain's
    //     horizon argument.
    //
    // Scale shape: identical to q_stream_chained plus the left side's
    // outer-state bookkeeping — both states still watermark-evicted.
    "q_stream_chained_outer" -> Q(
      fn = (s, d) => {
        val in = Scratch.lateDropInput(s, d)
        // One file source per branch: a single-source spelling (both
        // branches filtered from one FileStreamSource) is no faster, since a
        // source's per-trigger log append and listing cost ~1 ms a batch
        // under the direct checkpoint-I/O manager.
        def branch() = s.readStream.schema(Scratch.inputSchema)
          .option("maxFilesPerTrigger", "1").parquet(in)
        val joined = graft.streaming.Streams.signupToPurchase(
          branch().filter(col("event_type") === "signup"),
          branch().filter(col("event_type") === "purchase"),
          within = "2 days", joinType = "left_outer")
        val agg = joined
          .groupBy(window(col("signup_ts"), "1 hour"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("purchase_id")).as("n_conv"),
            sum(col("purchase_id")).as("sum_pid"),
            min(col("signup_id")).as("min_sid"))
          .select(col("window.start").as("w_start"), col("n_rows"),
            col("n_conv"), col("sum_pid"), col("min_sid"))
        Scratch.drain(s, "stream_chain_outer", agg)._1
          .withColumn("w_start", col("w_start").cast("timestamp_ntz"))
          .orderBy("w_start")
      },
      // The inner chain's oracle plus the un_s branch: unmatched signups
      // that survived their OWN input late filter and whose bound the
      // FINAL watermark passed strictly. No arrival-drop clause on un_s —
      // provably never late (comment above); n_rows − n_conv counts the
      // null-extended rows per window, making the outer contribution
      // hash-checked, not just row-counted.
      oracle = Some("""
        WITH e AS (SELECT event_id % 4 AS b, event_id, user_id, event_type,
                          date_trunc('milliseconds', ts) AS ts FROM events),
        sg AS (SELECT b AS bs, event_id AS signup_id, user_id,
                      ts AS signup_ts FROM e WHERE event_type = 'signup'),
        pu AS (SELECT b AS bp, event_id AS purchase_id, user_id AS p_user,
                      ts AS purchase_ts FROM e WHERE event_type = 'purchase'),
        bs4 AS (SELECT unnest([0, 1, 2, 3]) AS b),
        -- GREATEST floor at epoch: Spark's global watermark
        -- initializes at 0 and is monotone non-negative, so an empty
        -- prefix must pin the oracle at epoch exactly — not epoch minus
        -- the 10-minute delay (vacuous on this corpus, exact in principle).
        wmt AS (SELECT b.b,
                       GREATEST(TIMESTAMP '1970-01-01 00:00:00',
                         least(COALESCE((SELECT MAX(signup_ts) FROM sg
                                         WHERE bs <= b.b),
                                 TIMESTAMP '1970-01-01 00:00:00'),
                               COALESCE((SELECT MAX(purchase_ts) FROM pu
                                         WHERE bp <= b.b),
                                 TIMESTAMP '1970-01-01 00:00:00'))
                           - INTERVAL '10 minutes') AS w
                FROM bs4 b),
        wml AS (SELECT b.b,
                       COALESCE((SELECT w FROM wmt WHERE wmt.b = b.b - 2),
                         TIMESTAMP '1970-01-01 00:00:00') AS w
                FROM bs4 b),
        matched AS (
          SELECT s.signup_id, p.purchase_id, s.signup_ts,
                 GREATEST(s.bs, p.bp) AS m
          FROM sg s JOIN pu p ON s.user_id = p.p_user
            AND p.purchase_ts >= s.signup_ts
            AND p.purchase_ts <= s.signup_ts + INTERVAL '2 days'
          WHERE s.signup_ts > (SELECT w FROM wml WHERE wml.b = s.bs)
            AND p.purchase_ts > (SELECT w FROM wml WHERE wml.b = p.bp)
            AND (p.bp <= s.bs OR s.signup_ts + INTERVAL '2 days' >=
                 (SELECT w FROM wml WHERE wml.b = p.bp))
            AND (s.bs <= p.bp OR p.purchase_ts >=
                 (SELECT w FROM wml WHERE wml.b = s.bs))),
        un_s AS (
          SELECT s.signup_id, CAST(NULL AS BIGINT) AS purchase_id,
                 s.signup_ts
          FROM sg s
          WHERE s.signup_ts > (SELECT w FROM wml WHERE wml.b = s.bs)
            AND NOT EXISTS (SELECT 1 FROM matched m
                            WHERE m.signup_id = s.signup_id)
            AND s.signup_ts + INTERVAL '2 days'
                  < (SELECT w FROM wmt WHERE b = 3)),
        kept AS (
          SELECT time_bucket(INTERVAL '1 hour', signup_ts) AS w_start,
                 signup_id, purchase_id
          FROM matched mt
          WHERE time_bucket(INTERVAL '1 hour', signup_ts) + INTERVAL '1 hour'
                  > (SELECT w FROM wml WHERE wml.b = mt.m) - INTERVAL '2 days'
            AND time_bucket(INTERVAL '1 hour', signup_ts) + INTERVAL '1 hour'
                  <= (SELECT w FROM wmt WHERE b = 3) - INTERVAL '2 days'
          UNION ALL
          SELECT time_bucket(INTERVAL '1 hour', signup_ts) AS w_start,
                 signup_id, purchase_id
          FROM un_s
          WHERE time_bucket(INTERVAL '1 hour', signup_ts) + INTERVAL '1 hour'
                  <= (SELECT w FROM wmt WHERE b = 3) - INTERVAL '2 days')
        SELECT w_start, COUNT(*) AS n_rows,
               COUNT(purchase_id) AS n_conv,
               CAST(SUM(purchase_id) AS BIGINT) AS sum_pid,
               MIN(signup_id) AS min_sid
        FROM kept GROUP BY w_start
        ORDER BY w_start""")),

    // STREAMING CDC APPLY — the change-data-capture consumer a real
    // ingest pipeline runs: a stream of per-user change events merged into
    // a persistent target with UPSERT-IF-NEWER semantics and DELETE
    // tombstones (event_type='error' marks the user deleted), via the
    // production foreachBatch pattern. Each micro-batch merges into a
    // batch-id-VERSIONED state dir (v=<id> recomputed from v=<id-1> —
    // Overwrite, so a retried batch is idempotent by construction, the
    // q_stream_update recipe applied to a merge target). Because the
    // merge rule is "newest (ts, event_id) wins, tombstones retained in
    // state" the FINAL state is batching-independent — a plain
    // latest-row-per-user oracle — while the 4-batch mtime ladder still
    // makes the per-batch merge sequence deterministic and genuinely
    // incremental (state crosses batches; a late-arriving OLDER change
    // cannot resurrect a deleted user because the tombstone stays in
    // state and shadows it).
    //
    // Scale shape: per batch, ONE user-keyed hash agg over
    // (previous state ∪ batch) — state is O(distinct users), the merge
    // is max(struct(...)) (codegen'd, map-side partials), and the
    // versioned rewrite is state-sized, not stream-sized. At 100 TB the
    // target write becomes a real MERGE INTO; the stream-side plan is
    // identical.
    "q_stream_cdc_apply" -> Q(
      fn = (s, d) => {
        val scratch = Scratch.fresh("stream_cdc")
        val in = Scratch.lateDropInput(s, d)
        val stateRoot = s"$scratch/state"
        // Highest state version actually WRITTEN, recorded by the
        // foreachBatch function itself (it runs on the driver): no
        // java.io.File listing of the state root (local-FS-only on a real
        // HDFS/S3 deployment), and immune to a trailing no-data batch
        // bumping lastProgress.batchId past the last version written.
        val lastVersion = new java.util.concurrent.atomic.AtomicLong(-1L)
        val changes = s.readStream.schema(Scratch.inputSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(in)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), col("value"))
        // Every state version has the change stream's schema; reading it
        // declared avoids a footer job per read.
        val schema = changes.schema
        // Not drained: the foreachBatch merge runs BATCH plans that keep
        // the session partitioning, but the checkpoint I/O manager still
        // applies — local scratch, same rationale.
        Scratch.withLocalCheckpointIo(s) {
          val q = changes.writeStream
            .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
              val s2 = df.sparkSession
              val prev =
                if (id == 0L)
                  s2.createDataFrame(s2.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                    schema)
                else s2.read.schema(schema).parquet(s"$stateRoot/v=${id - 1}")
              prev.unionByName(df)
                .groupBy("user_id")
                .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
                  col("value"))).as("m"))
                .select(col("user_id"), col("m.ts").as("ts"),
                  col("m.event_id").as("event_id"),
                  col("m.event_type").as("event_type"),
                  col("m.value").as("value"))
                .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
                .parquet(s"$stateRoot/v=$id")
              lastVersion.updateAndGet(v => math.max(v, id))
              ()
            }
            .option("checkpointLocation", s"$scratch/ck")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        // Zero micro-batches (empty input dir) would leave no state version
        // at all — fail loudly rather than NPE on a phantom read.
        val finalV = lastVersion.get()
        if (finalV < 0) sys.error("cdc_apply: no state versions written (empty input)")
        s.read.schema(schema).parquet(s"$stateRoot/v=$finalV")
          .filter(col("event_type") =!= "error")
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH ranked AS (
          SELECT user_id, date_trunc('milliseconds', ts) AS ts, event_id,
                 event_type, value,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, ts, event_id, event_type, value
        FROM ranked WHERE rn = 1 AND event_type <> 'error'
        ORDER BY user_id""")),

    // Second CHAINED multi-stateful shape: stateful DEDUP feeding a
    // windowed aggregation in ONE query — the ingest-then-aggregate
    // pipeline (dedup retries, then hourly rollup) as one streaming plan.
    // Unlike the join→agg chain, dropDuplicatesWithinWatermark emits rows
    // ON ARRIVAL and manipulates no event-time column, so the propagation
    // simulator passes the watermark through UNDELAYED — the agg's final
    // emission is the plain q_stream_tumbling rule (end ≤ max(ts) − 10min)
    // over the deduped relation, which under single-batch ingestion of
    // corpus + injected re-deliveries is just the original corpus.
    //
    // Scale shape: two stateful ops, two key exchanges (event_id for the
    // dedup store, window×type for the agg); dedup state is
    // watermark-bounded, agg state is open-windows-sized.
    "q_stream_dedup_agg" -> Q(
      fn = (s, d) => {
        val in = s"${Scratch.sharedInput(s, d)}/in"
        val events = s.readStream.schema(Scratch.inputSchema).parquet(in)
        // Re-deliveries 45 s later, injected ONLY for events >45 s below
        // their hour's end: the dedup keeps whichever copy arrives first
        // (within-batch order is partition-dependent), so the copies must
        // be window-equivalent for the census to be copy-independent —
        // see the oracle comment.
        val dupes = s.readStream.schema(Scratch.inputSchema).parquet(in)
          .filter(col("event_id") % 5 === 0 &&
            expr("unix_millis(ts) % 3600000 < 3555000"))
          .withColumn("ts", col("ts") + expr("INTERVAL 45 SECONDS"))
        val deduped = graft.streaming.Streams.dedupWithinWatermark(
          events.union(dupes), "10 minutes")
        val agg = deduped
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dec4(sum(dec2(col("value")))).as("total"))
          .select(col("window.start").as("w_start"), col("event_type"),
            col("n"), col("total"))
        Scratch.drain(s, "stream_dedup_agg", agg)._1
          .withColumn("w_start", col("w_start").cast("timestamp_ntz"))
          .orderBy("w_start", "event_type")
      },
      // The dedup keeps whichever copy arrives first; copies differ only
      // in ts by +45 s, and the dup's window can differ from the
      // original's — but single-batch ingestion makes the state-store
      // insertion order deterministic per key, and the ORIGINAL sorts
      // first in the source's within-batch order only if file layout says
      // so. The aggregation therefore uses the kept copy's ts — to keep
      // the oracle closed-form, inject dupes 45 s later but ONLY for
      // events more than 45 s below their hour's end, so original and
      // duplicate always land in the SAME window and the window census is
      // copy-independent. (Injected filter below mirrors this.)
      oracle = Some("""
        WITH e AS (SELECT event_id, date_trunc('milliseconds', ts) AS ts,
                          event_type, value FROM events),
        dup AS (SELECT ts + INTERVAL '45 seconds' AS ts FROM e
                WHERE event_id % 5 = 0
                  AND epoch_ms(ts) % 3600000 < 3555000),
        mx AS (SELECT GREATEST((SELECT MAX(ts) FROM e),
                               (SELECT MAX(ts) FROM dup)) AS m),
        w AS (SELECT time_bucket(INTERVAL 1 hour, ts) AS w_start, event_type,
                     COUNT(*) AS n,
                     CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                       AS DECIMAL(18,4)) AS DOUBLE) AS total
              FROM e GROUP BY 1, 2)
        SELECT w_start, event_type, n, total FROM w CROSS JOIN mx
        WHERE w_start + INTERVAL 1 hour <= m - INTERVAL 10 minutes
        ORDER BY w_start, event_type""")))
}
