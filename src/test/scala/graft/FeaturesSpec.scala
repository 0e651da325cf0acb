package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the feature-engineering family (llm/Features.scala). */
class FeaturesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("feature hashing: buckets in [0,64), per-doc counts sum to the doc token count") {
    val rows = SparkEntry.queries("q_feature_hashing")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, b, c) => b >= 0 && b < 64 && c > 0 })
    val perDoc = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val expected = Tables(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc == expected,
      "hashed counts must partition every token: no token lost or duplicated")
  }

  test("target encoding shrinks thin brands toward the global mean, high-n toward raw") {
    val rows = SparkEntry.queries("q_target_encoding")(spark, TestSpark.sf)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 25)
    // weighted global mean from the raw per-brand stats
    val gmean = rows.map(r => r._3 * r._2).sum / rows.map(_._2).sum
    rows.foreach { case (brand, n, raw, enc) =>
      // the m-estimate is a convex combination of raw and global means,
      // so enc always lies between them (tolerance covers r4 rounding)
      val (lo, hi) = (math.min(raw, gmean), math.max(raw, gmean))
      assert(enc >= lo - 1e-3 && enc <= hi + 1e-3,
        s"$brand: enc $enc outside [$lo, $hi] (n=$n)")
      // shrinkage factor n/(n+m): with m=20 and corpus-scale n the
      // encoding must sit much nearer raw than the global mean
      if (n > 1000)
        assert(math.abs(enc - raw) <= math.abs(enc - gmean) + 1e-3)
    }
  }

  test("shingle_gen generator matches shingle_set + explode (distinct) and keeps positions") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "x y"), (3L, "p q r"))
      .toDF("id", "text").createOrReplaceTempView("sg_docs")
    val gen = spark.sql(
      """SELECT id, s.pos, s.shingle FROM sg_docs
         LATERAL VIEW shingle_gen(split(text, ' '), 3) s AS pos, shingle""")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2))
    // duplicates/positions preserved; doc 2 too short -> no rows
    assert(gen.toSeq == Seq((1L, 0, "a b c"), (1L, 1, "b c d"), (3L, 0, "p q r")))
    // distinct shingles agree with the set-building expression
    val viaSet = spark.sql(
      """SELECT id, sh FROM sg_docs
         LATERAL VIEW explode(shingle_set(split(text, ' '), 3)) e AS sh""")
      .as[(Long, String)].collect().toSet
    assert(gen.map(r => (r._1, r._3)).toSet == viaSet)
    // corpus-level: generator tf sums to Σ max(len-2, 0) over documents
    val total = SparkEntry.queries("q_text_shingle_profile")(spark, TestSpark.sf)
    assert(total.count() == 30)
  }

  test("embedding dim stats: 64 dims, n = vectors, min <= mean <= max, std >= 0") {
    val rows = SparkEntry.queries("q_embedding_dim_stats")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq == (1L to 64L))
    val nVec = Tables(spark, TestSpark.sf, "embeddings").count()
    rows.foreach { case (dim, n, mean, std, vmin, vmax) =>
      assert(n == nVec, s"dim $dim: n $n != $nVec")
      assert(vmin - 1e-3 <= mean && mean <= vmax + 1e-3)
      assert(std >= 0.0 && std <= (vmax - vmin) + 1e-3)
    }
  }

  test("q_feature_lags: day-indexed lags match a brute-force per-user series") {
    val rows = SparkEntry.queries("q_feature_lags")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_._1).map { case (u, rs) =>
      u -> rs.map(r => r._2 -> r._3).toMap
    }
    rows.foreach { case (u, day, cents, lag1, lag7, trail7, days7) =>
      val series = byUser(u)
      assert(lag1 == series.getOrElse(day.minusDays(1), 0L),
        s"user $u $day lag1")
      assert(lag7 == series.getOrElse(day.minusDays(7), 0L),
        s"user $u $day lag7")
      val window = (0 to 6).map(k => series.get(day.minusDays(k)))
      assert(trail7 == window.flatten.sum, s"user $u $day trail7")
      assert(days7 == window.count(_.isDefined), s"user $u $day days7")
      assert(trail7 >= cents && days7 >= 1)
    }
  }

  test("q_label_balance: entropy bounded by ln(k), effective classes in [1, k]") {
    val r = SparkEntry.queries("q_label_balance")(spark, TestSpark.sf).head()
    val (k, n, h, eff, maxShare) = (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(n == Tables(spark, TestSpark.sf, "embeddings").count())
    assert(h >= -1e-9 && h <= math.log(k.toDouble) + 1e-4,
      s"entropy $h out of [0, ln $k]")
    assert(eff >= 1.0 - 1e-4 && eff <= k + 1e-4)
    assert(math.abs(eff - math.exp(h)) < 2e-3)
    assert(maxShare >= 1.0 / k - 1e-4 && maxShare <= 1.0)
  }
}
