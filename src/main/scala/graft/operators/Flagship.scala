package graft.operators

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The reference's raison d'être: top-N entities per group by an aggregated
  * metric, config-parameterized (reference `config/config_dev.yaml:10-13`:
  * `group_by_column: region`, `target_metric: sales`, `top_n: 3`; the
  * implementation slot `src/transform/top3_logic.py` is empty — these are the
  * declared semantics, built Spark-first).
  *
  * Scale notes (100 TB): the aggregation is a key-partitioned hash agg with
  * map-side partials; the ranking window runs on the *aggregated* relation
  * (|groups × entities|, orders of magnitude smaller than the fact table),
  * and Spark ≥3.5's `InferWindowGroupLimit` pushes `rank <= n` into
  * `WindowGroupLimitExec` so each partition only keeps n rows per group —
  * no full sort of the aggregate is materialized. Dimension joins are
  * broadcast (few MB even at 100 TB fact scale).
  */
object Flagship {

  /** Generic top-N per group: rank `entityCols` within each `groupCols` by
    * `metric` (descending), keep `n`, with a total-order tie-break so the
    * survivor set is deterministic (SURVEY §7.4 rule 5).
    */
  def topNPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      entityCols: Seq[String],
      metric: Column,
      n: Int): DataFrame = {
    val agg = df
      .groupBy((groupCols ++ entityCols).map(col): _*)
      .agg(dec4(sum(metric)).as("metric"))
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("metric").desc +: entityCols.map(c => col(c).asc): _*)
    agg
      .withColumn("rnk", rank().over(w).cast(LongType))
      .filter(col("rnk") <= n)
  }

  /** q_topn_flagship: top 3 parts by revenue per region.
    * Join path per FIXTURES.md: lineitem→supplier→nation→region (group),
    * lineitem→part (entity), metric = extendedprice*(1-discount) as decimal.
    */
  private def flagship(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val sup = Tables(spark, dir, "supplier")
    val nat = Tables(spark, dir, "nation")
    val reg = Tables(spark, dir, "region")
    val part = Tables(spark, dir, "part")
    val joined = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
    topNPerGroup(joined, Seq("r_name"), Seq("p_name"), revenue, 3)
      .select(col("r_name"), col("p_name"), col("metric").as("revenue"), col("rnk"))
      .orderBy(col("r_name"), col("rnk"), col("p_name"))
  }

  /** Dormant-state TTL for [[streamingBoard]]: running aggregates are keyed
    * on (group, entity, window(tsCol, window)) under withWatermark(tsCol,
    * delay), so the engine EVICTS every window older than the watermark —
    * state is O(|groups × entities in the active horizon|), not the whole
    * entity catalog's history. */
  private[graft] final case class StateTtl(tsCol: String, window: String, delay: String)

  /** STREAMING top-N-per-group, maintained INCREMENTALLY by the real
    * engine (also the config-driven job's `mode: streaming`). The fact
    * stream feeds an update-mode running aggregation keyed on (group,
    * entity[, event-time window]) and drains through [[graft.Scratch.drain]]'s
    * batch-id-versioned update sink. The
    * rank-≤-n filter runs on the FINAL state — each key's last emission,
    * recovered as max_by(metric, batch_id) — because top-N membership is
    * only meaningful over the settled aggregate; re-ranking per batch would
    * re-emit the whole board every trigger for no consumer value.
    *
    * Correctness shape: the running sum is an order-free decimal reduction,
    * so each key's LAST emission equals that key's batch aggregate no
    * matter how the file source batched rows. With [[StateTtl]] the key
    * includes the event-time window; every window's last emission is its
    * COMPLETE aggregate (no row is watermark-late by the input's
    * event-time-ordered construction, Scratch.flagshipInput), and decimal
    * addition is exact at scale 4, so the per-window finals SUM to exactly
    * the all-time aggregate — which keeps the stream oracle-checkable by
    * the SAME SQL as the batch flagship even though state is evicted
    * mid-run.
    *
    * Scale shape (100 TB): per batch the engine does one keyed exchange of
    * the batch's partial aggregates (map-side combine first) and touches
    * only the state keys present in the batch; expired windows leave the
    * store as the watermark passes them (numRowsRemoved in the progress
    * metrics — pinned by FlagshipSpec). Without a TTL the state would be
    * the full |groups × entities| domain, a scale-killer on a growing
    * catalog; with it, state is bounded by the active horizon. The final
    * rank is a batch window over the aggregated relation (WindowGroupLimit
    * applies, as in the batch twin).
    *
    * Returns the final board plus the run's per-micro-batch progress
    * (state-store rows/evictions evidence). */
  private[graft] def streamingBoard(
      spark: SparkSession,
      stream: DataFrame,
      groupCols: Seq[String],
      entityCols: Seq[String],
      metric: Column,
      n: Int,
      scratchKey: String,
      ttl: Option[StateTtl])
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val keyCols = (groupCols ++ entityCols).map(col)
    // Emissions stay DECIMAL (scale 4 keeps every 2dp×2dp product exact);
    // only the final board column is cast to double — summing per-window
    // finals in binary floating point would drift from the batch oracle.
    val running = ttl match {
      case Some(t) =>
        stream.withWatermark(t.tsCol, t.delay)
          .groupBy(keyCols :+ window(col(t.tsCol), t.window).as("win"): _*)
          .agg(sum(metric).cast(Q.Dec18).as("metric"))
      case None =>
        stream.groupBy(keyCols: _*)
          .agg(sum(metric).cast(Q.Dec18).as("metric"))
    }
    val (emitted, progresses) =
      graft.Scratch.drain(spark, scratchKey, running, outputMode = "update")
    // Final state per key = the last update it emitted; (key, batch_id) is
    // unique, so max_by is deterministic. Under a TTL the key includes the
    // window; the per-window finals then sum (exact decimal) to the
    // all-time aggregate.
    val lastPerKey = emitted
      .groupBy(keyCols ++ (if (ttl.isDefined) Seq(col("win")) else Nil): _*)
      .agg(max_by(col("metric"), col("batch_id")).as("metric"))
    val finalState =
      if (ttl.isDefined)
        lastPerKey.groupBy(keyCols: _*)
          .agg(sum(col("metric")).cast(Q.Dec18).as("metric"))
      else lastPerKey
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("metric").desc +: entityCols.map(c => col(c).asc): _*)
    val board = finalState
      .withColumn("metric", col("metric").cast(org.apache.spark.sql.types.DoubleType))
      .withColumn("rnk", rank().over(w).cast(LongType))
      .filter(col("rnk") <= n)
    (board, progresses)
  }

  /** The flagship's streaming spelling: event-time-ordered fact stream
    * (Scratch.flagshipInput), broadcast stream-static dimension joins
    * (re-broadcast per batch, never shuffled against the stream), 90-day
    * state windows TTL'd at a 30-day watermark — ~27 windows over the
    * corpus's 1995-2001 span, so eviction genuinely fires between the four
    * date-quartile micro-batches. */
  private[graft] def streamingFlagship(
      spark: SparkSession, dir: String,
      scratchKey: String = "stream_topn")
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val in = graft.Scratch.flagshipInput(spark, dir)
    val fact = spark.readStream.schema(graft.Scratch.flagshipSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
    // PRE-REDUCE the static side. A stream-static broadcast join
    // re-executes its static subtree on EVERY micro-batch (no cross-batch
    // exchange reuse in MicroBatchExecution), so joining the raw dims would
    // re-scan four parquet tables and re-build four broadcasts per trigger.
    // The geography chain collapses associatively to one (s_suppkey → r_name)
    // relation and part projects to (p_partkey, p_name); both are
    // checkpointed once per run so each batch's re-build reads
    // dimension-sized in-memory blocks instead of re-running scans+joins.
    // Inner FK joins: the collapsed form is row-identical to the four-way
    // chain, and the oracle (the batch flagship's SQL) is unchanged.
    val supGeo = Tables.checkpoint(
      Tables(spark, dir, "supplier")
        .join(Tables(spark, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables(spark, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("r_name")))
    val partDim = Tables.checkpoint(
      Tables(spark, dir, "part").select(col("p_partkey"), col("p_name")))
    val enriched = fact
      .join(broadcast(supGeo), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(partDim), col("l_partkey") === col("p_partkey"))
    streamingBoard(spark, enriched, Seq("r_name"), Seq("p_name"), revenue, 3,
      scratchKey = scratchKey, ttl = Some(StateTtl("ts", "90 days", "30 days")))
  }

  val qs: Map[String, Q] = Map(
    "q_stream_topn" -> Q(
      fn = (s, d) =>
        streamingFlagship(s, d)._1
          .select(col("r_name"), col("p_name"),
            col("metric").as("revenue"), col("rnk"))
          .orderBy(col("r_name"), col("rnk"), col("p_name")),
      // The BATCH flagship's oracle verbatim — the whole point: the
      // incrementally-maintained board must equal the declared query.
      oracle = Some(s"""
        WITH rev AS (
          SELECT r_name, p_name, CAST(SUM($revenueSql) AS DOUBLE) AS revenue
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          JOIN part ON l_partkey = p_partkey
          GROUP BY r_name, p_name),
        ranked AS (
          SELECT r_name, p_name, revenue,
                 rank() OVER (PARTITION BY r_name ORDER BY revenue DESC, p_name ASC) AS rnk
          FROM rev)
        SELECT r_name, p_name, revenue, rnk FROM ranked
        WHERE rnk <= 3 ORDER BY r_name, rnk, p_name""")),

    "q_topn_flagship" -> Q(
      fn = flagship,
      oracle = Some(s"""
        WITH rev AS (
          SELECT r_name, p_name, CAST(SUM($revenueSql) AS DOUBLE) AS revenue
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          JOIN part ON l_partkey = p_partkey
          GROUP BY r_name, p_name),
        ranked AS (
          SELECT r_name, p_name, revenue,
                 rank() OVER (PARTITION BY r_name ORDER BY revenue DESC, p_name ASC) AS rnk
          FROM rev)
        SELECT r_name, p_name, revenue, rnk FROM ranked
        WHERE rnk <= 3 ORDER BY r_name, rnk, p_name""")))
}
