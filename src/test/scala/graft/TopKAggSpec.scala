package graft

import graft.functions.TopKAgg
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Semantics of the bounded top-k typed aggregate (TopKAgg.scala) against
  * a brute-force reference: per-key dedup by id keeping the better score,
  * then total-order (score, id) truncation to k — i.e. exactly the
  * `groupBy(key, id).agg(best(score))` + rank-window spelling it replaced
  * in the k-NN family. Randomized over duplicate ids (worse AND better
  * copies), score ties across ids, both orderings, and multi-partition
  * inputs (exercising partial-buffer serialize / merge paths).
  */
class TopKAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def reference(items: Seq[(Long, Long, Double)], k: Int,
      asc: Boolean): Map[Long, Seq[(Long, Double)]] =
    items.groupBy(_._1).map { case (key, rows) =>
      val best = rows.groupBy(_._2).map { case (id, dup) =>
        (id, if (asc) dup.map(_._3).min else dup.map(_._3).max)
      }.toSeq
      val sorted = best.sortWith { case ((ia, sa), (ib, sb)) =>
        if (sa != sb) { if (asc) sa < sb else sa > sb } else ia < ib
      }
      key -> sorted.take(k)
    }

  private def run(items: Seq[(Long, Long, Double)], k: Int, asc: Boolean,
      parts: Int): Map[Long, Seq[(Long, Double)]] = {
    import spark.implicits._
    val df = items.toDF("key", "id", "score").repartition(parts)
    df.groupBy("key")
      .agg(TopKAgg.topkPairs(col("score"), col("id"), k, asc).as("top"))
      .select(col("key"), posexplode(col("top")))
      .select(col("key"), col("pos"), col("col.id"), col("col.score"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (key, rows) =>
        key -> rows.sortBy(_.getInt(1)).toSeq
          .map(r => (r.getLong(2), r.getDouble(3)))
      }
  }

  test("topk_pairs matches brute force under dupes, ties, and partition merges") {
    val rnd = new Random(42)
    for (trial <- 0 until 20) {
      val k = 1 + rnd.nextInt(4)
      val asc = rnd.nextBoolean()
      val n = 1 + rnd.nextInt(200)
      // 4 keys × 12 ids × 6 half-integer scores: duplicate (key, id) pairs
      // with differing scores and cross-id score ties are both frequent.
      val items = Seq.fill(n)((rnd.nextInt(4).toLong,
        rnd.nextInt(12).toLong, rnd.nextInt(6) / 2.0))
      val parts = 1 + rnd.nextInt(5)
      assert(run(items, k, asc, parts) == reference(items, k, asc),
        s"trial=$trial k=$k asc=$asc parts=$parts")
    }
  }

  test("topk_pairs keeps fewer than k pairs when ids run out") {
    val got = run(Seq((1L, 7L, 0.5), (1L, 7L, 0.5)), k = 3, asc = false,
      parts = 2)
    assert(got == Map(1L -> Seq((7L, 0.5))))
  }
}
