package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rolling-hash fingerprint: order-sensitive, deterministic, composable. */
class RollingHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("order-sensitive and deterministic") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "b", "a")),
      (3L, Seq("a", "b", "c"))
    ).toDF("id", "toks")
    val h = df.select(col("id"), VectorFunctions.rollingHash(col("toks")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(3L)) // same sequence, same hash
    assert(h(1L) != h(2L)) // order matters
  }

  test("hash composes: h(a ++ b) == h(a)*B^|b| + h(b)") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("x", "y")), (2L, Seq("z", "w", "v")), (3L, Seq("x", "y", "z", "w", "v"))
    ).toDF("id", "toks")
    val h = df.select(col("id"), VectorFunctions.rollingHash(col("toks")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val B = 1000003L
    val bPow3 = B * B * B
    assert(h(3L) == h(1L) * bPow3 + h(2L))
  }
}
