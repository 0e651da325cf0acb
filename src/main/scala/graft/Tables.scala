package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers over the driver corpus (TESTDATA.md): one parquet file per table
  * under the scale-factor directory. Parquet footers carry the schema, so
  * reads are deterministic without a declared StructType; Catalyst pushes
  * projections and predicates into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` has shipped in two physical types across driver corpus
    * generations: parquet TIMESTAMP(NANOS) — which Spark's reader rejects
    * outright (PARQUET_TYPE_ILLEGAL) unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` turns it into LongType
    * nanos — and plain TIMESTAMP(MICROS). Both normalize here to a
    * millisecond-truncated TIMESTAMP_NTZ, the contract every events oracle
    * assumes (SURVEY §7.4 rule 4 — oracle SQL compares
    * `date_trunc('milliseconds', ts)`), so the engine/oracle comparison is
    * independent of which corpus generation is on disk.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // ns → ms via integer `div` (a double division would lose µs
          // precision at ns-epoch magnitudes). NTZ matches how the other
          // corpus timestamps load (inferTimestampNTZ), so outputs
          // round-trip parquet without the isAdjustedToUTC flag.
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr(
              "CAST(timestamp_millis(ts div 1000000) AS TIMESTAMP_NTZ)"))
        case _ =>
          // µs-native read (TIMESTAMP_NTZ): same ms truncation, in place.
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr(
              "CAST(date_trunc('MILLISECOND', ts) AS TIMESTAMP_NTZ)"))
      }
    else df
  }

  /** Register every corpus table as a temp view (for spark.sql queries —
    * correlated subqueries, GROUPING SETS — which mirror the oracle SQL).
    *
    * Memoized per (session, dir): each registration re-reads 10 parquet
    * footers and re-resolves 10 view plans, which showed up as ~0.5s of
    * pure overhead on every spark.sql query in the round-3 bench. The memo
    * invalidates when the same session switches corpus dirs (tests do),
    * keyed on the session so a stopped session's entry can't leak onto a
    * new one with the same dir.
    */
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  def registerViews(spark: SparkSession, dir: String): Unit =
    if (registered.get(spark) != dir) {
      names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
      registered.put(spark, dir)
    }

  /** Checkpoint lifetime rule. [[checkpoint]] materializes a frame (a
    * local checkpoint: lineage truncated, blocks held by the block
    * manager) and never frees it. Exactly two things free checkpoint
    * blocks: a runner calls [[releaseAll]] once it has consumed a query's
    * result, and an iterative loop frees each superseded generation
    * through [[Generations]]. So a frame a query returned stays readable
    * until its runner is done with it, however many other queries share
    * the relation behind it.
    */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Frees every cached frame and persistent RDD of the session. Dataset
    * unpersist alone would not reach local checkpoints: they persist
    * their RDD directly, outside the CacheManager. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Checkpoints of one iterative loop: `next(df)` checkpoints `df` and
    * frees the previous generation, whose blocks the new, materialized
    * generation no longer reads. The last generation stays live for the
    * caller's plan. */
  final class Generations {
    private var live = Set.empty[Int]
    def next(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val chk = checkpoint(df)
      val persistent = sc.getPersistentRDDs
      live.foreach(id => persistent.get(id).foreach(_.unpersist(false)))
      live = persistent.keySet.diff(before).toSet
      chk
    }
  }
}
