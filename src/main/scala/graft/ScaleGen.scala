package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a larger scale-factor corpus from an existing one by
  * unioning `copies` key-shifted replicas — the empirical scale-validation
  * harness. Usage: `runMain graft.ScaleGen <srcDir> <dstDir> <copies> [mode]`.
  *
  * `mode` (r12 verdict ask #3):
  *   - `suffix` (default): documents replicas suffix every token with the
  *     replica id — growth means NEW content, the right corpus for the
  *     dedup/similarity families (no cross-replica clone collisions).
  *     Consequence (the r12 honesty note): token df stays at BASE level
  *     while N grows, so the ≥20%-df co-occurrence graph is EMPTY at
  *     sf ≥ 1 and the graph quartet's decade rows measure only the
  *     derivation stages.
  *   - `shared`: documents replicas keep the text VERBATIM — one shared
  *     token pool, so df scales with N, the relative-frequency threshold
  *     is scale-invariant, and the co-occurrence graph is the base
  *     corpus's graph (non-empty, constant edge set) at every scale. The
  *     quartet's graph-sized stages (frequent-token pair expansion,
  *     triangle join, rank/reachability iterations) are then genuinely
  *     exercised at depth. NOT for dedup sweeps: replicas are exact
  *     clones, so near-dup pair counts would measure the corpus design
  *     (k² clone collisions), not the operator.
  *
  * `SPARK_GRAFT_TABLES=documents[,events...]` writes only the named
  * tables — a shared-vocab sweep regenerates documents and symlinks the
  * rest from the suffix-mode corpus (every other table is byte-identical
  * between modes).
  *
  * Shape choices (what "10x more data" means per table):
  *   - Dimensions (region..part) keep their natural size — fact/dim ratio
  *     grows, exactly the direction a real corpus scales, and broadcast
  *     joins must stay broadcasts.
  *   - orders/lineitem replicate with the ORDER key shifted so the
  *     order⋈lineitem FK structure is preserved per replica and key
  *     cardinality grows 10x (no artificial hot keys).
  *   - events shift event_id AND user_id: per-user event density stays
  *     constant, so session/window state per key is unchanged while the
  *     key count grows 10x.
  *   - documents shift doc_id and suffix every TOKEN with the replica id
  *     (k>0): near-dup structure is preserved WITHIN a replica but no
  *     shingle/minhash/simhash collisions happen ACROSS replicas — corpus
  *     growth means new content, not 10 literal clones of every doc
  *     (which would explode pair counts quadratically instead of
  *     linearly). n_chars is recomputed over the rewritten text.
  *   - embeddings shift vec_id; replica k>0 vectors flip coordinate signs
  *     by a deterministic md5 bit pattern (within-replica cosines exactly
  *     preserved, cross-replica vectors decorrelated) and labels renumber
  *     label·10+k — similarity/ANN corpora grow with NEW content, so
  *     bucket/cell/label-block pair work scales linearly instead of as
  *     clone-collision k².
  *
  * events.ts is read RAW (nanosAsLong ⇒ LongType) so replicas round-trip
  * the ns-epoch column without the Tables µs conversion.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, copiesStr) = args.take(3)
    val mode = args.lift(3).getOrElse("suffix")
    val spark = Engine.session("graft-scalegen")
    try generate(spark, src, dst, copiesStr.toInt, mode)
    finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, copies: Int,
      mode: String = "suffix"): Unit = {
    require(mode == "suffix" || mode == "shared", s"unknown mode $mode")
    val tableFilter = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").toSet)
    def raw(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def write(df: DataFrame, n: String): Unit =
      if (tableFilter.forall(_.contains(n)))
        df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$n.parquet")

    def replicate(df: DataFrame, shifts: Map[String, Long],
        suffixText: Boolean = false): DataFrame =
      (0 until copies).map { k =>
        val shifted = shifts.foldLeft(df) { case (d, (c, off)) =>
          d.withColumn(c, col(c) + lit(k * off))
        }
        if (suffixText && k > 0)
          shifted
            .withColumn("text", array_join(
              transform(split(col("text"), " "), t => concat(t, lit(s"~$k"))), " "))
            .withColumn("n_chars", length(col("text")).cast("long"))
        else shifted
      }.reduce(_ unionAll _)

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(raw(n), n))
    write(replicate(raw("orders"), Map("o_orderkey" -> 100000000L)), "orders")
    write(replicate(raw("lineitem"), Map("l_orderkey" -> 100000000L)), "lineitem")
    write(replicate(raw("events"),
      Map("event_id" -> 100000000L, "user_id" -> 10000000L)), "events")
    write(replicate(raw("documents"), Map("doc_id" -> 10000000L),
      suffixText = mode == "suffix"), "documents")
    // embeddings (round 10): replica vectors are NOT literal clones — that
    // would grow every LSH bucket / IVF cell / label block as k² clone
    // collisions and any similarity sweep would measure the corpus design,
    // not the operator. Instead, coordinate i of replica k>0 flips sign by
    // the deterministic md5-lower bit of "sg-<k>-<i>". Coordinate sign
    // flips preserve EVERY pairwise cosine WITHIN a replica (both operands
    // flip the same coordinates, so x·y and the norms are invariant) while
    // decorrelating vectors ACROSS replicas (a flipped dot product is a
    // near-random ± sum) — exactly the documents token-suffix rule:
    // corpus growth means new content. Labels renumber as label·10 + k —
    // multiplicative, so CHAINED generations (sf10 from sf1) stay
    // collision-free: label blocks gain COUNT, not size ("the label
    // becomes an IVF cell" scaling — per-block pair work stays constant
    // while blocks multiply 10× per decade).
    write((0 until copies).map { k =>
      graft.functions.VectorFunctions.register(spark)
      val shifted = raw("embeddings")
        .withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
        .withColumn("label", col("label") * 10 + lit(k))
      if (k == 0) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(graft.functions.VectorFunctions
              .md5Lower(concat(lit(s"sg-$k-"), i.cast("string")))
              .bitwiseAND(lit(1L)) === 1, -x).otherwise(x)))
    }.reduce(_ unionAll _), "embeddings")
  }
}
