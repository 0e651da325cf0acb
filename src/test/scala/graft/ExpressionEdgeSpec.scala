package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Null/empty/mismatch edge cases for the custom Catalyst expressions. */
class ExpressionEdgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cosine_similarity: null input → null, empty arrays → 0, length mismatch → common prefix") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0))),
      (2L, None, Some(Seq(1.0))),
      (3L, Some(Seq.empty[Double]), Some(Seq.empty[Double])),
      (4L, Some(Seq(1.0, 0.0, 5.0)), Some(Seq(1.0, 0.0))) // prefix dot = 1
    ).toDF("id", "a", "b")
    val rows = df.select(col("id"),
      VectorFunctions.cosineSim(col("a"), col("b")).as("cos"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(math.abs(rows(1L).get - 1.0) < 1e-12)
    assert(rows(2L).isEmpty)        // null propagates
    assert(rows(3L).contains(0.0))  // zero denom → defined 0
    assert(rows(4L).nonEmpty)       // mismatched dims: prefix semantics, no crash
  }

  test("shingle_set / minhash_signature / simhash64 / rolling_hash64 on empty and tiny inputs") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq("one")),            // shorter than shingle width
      (3L, Seq("a", "b", "c"))     // exactly one 3-shingle
    ).toDF("id", "toks")
    val rows = df.select(
      col("id"),
      VectorFunctions.shingleSet(col("toks"), 3).as("sh"),
      VectorFunctions.minhashSig(col("toks"), 8).as("sig"),
      VectorFunctions.simhash(col("toks")).as("sim"),
      VectorFunctions.rollingHash(col("toks")).as("rh"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getSeq[Long](2), r.getLong(3), r.getLong(4))).toMap
    assert(rows(1L)._1.isEmpty)
    assert(rows(1L)._2.forall(_ == Long.MaxValue)) // empty set → identity mins
    assert(rows(1L)._3 == 0L && rows(1L)._4 == 0L)
    assert(rows(2L)._1.isEmpty)
    assert(rows(3L)._1 == Seq("a b c"))
    assert(rows(3L)._2.length == 8)
  }
}
