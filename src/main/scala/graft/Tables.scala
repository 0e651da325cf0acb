package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers over the driver corpus (TESTDATA.md): one parquet file per table
  * under the scale-factor directory. Parquet footers carry the schema; each
  * file's footer is read once per session and every later read declares
  * that schema ([[parquet]] does the same for any parquet input).
  * Catalyst pushes projections and predicates into the scan.
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
    val df = parquet(spark, s"$dir/$name.parquet")
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

  /** The parquet file or directory at `path`, read with the schema its
    * footers declare ([[footerSchema]]). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** Footer schemas read so far, per session and path, each stamped with
    * the sorted listing (path, length, modification time) of the files
    * under the path it was read from: the file itself, or every file of a
    * directory. An inferring `spark.read.parquet` runs a Spark job to read
    * the footers; a read with a declared schema runs none. The schema is
    * memoized, not the frame, so each call still gets a fresh relation
    * with its own attribute ids (a self-join of two calls stays
    * unambiguous), and an input rewritten at the same path is read again
    * because its stamp changed. */
  private val footers =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[
      SparkSession, java.util.concurrent.ConcurrentHashMap[
        String, (Seq[(String, Long, Long)], StructType)]]())
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def files(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .flatMap(st => if (st.isDirectory) files(st.getPath) else Seq(st))
    val stamp = files(p)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).sorted
    val memo = footers.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap())
    memo.compute(path, (_, old) =>
      if (old != null && old._1 == stamp) old
      else (stamp, spark.read.parquet(path).schema))._2
  }

  /** Register every corpus table as a temp view (for spark.sql queries —
    * correlated subqueries, GROUPING SETS — which mirror the oracle SQL).
    *
    * Memoized per (session, dir): each registration builds and resolves
    * 10 view plans, which (with the footer reads [[footers]] now saves)
    * showed up as ~0.5s of pure overhead on every spark.sql query in the
    * round-3 bench. The memo
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
