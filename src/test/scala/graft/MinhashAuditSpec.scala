package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the MinHash estimator-quality audit. */
class MinhashAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("minhash audit: est is a multiple of 1/16 in [0,1]; universe = exact near-dup pairs") {
    val rows = SparkEntry.queries("q_dedup_minhash_audit")(spark, TestSpark.sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (pair, jac, est, err) =>
      assert(est >= 0.0 && est <= 1.0)
      // 16 permutations -> est quantized to sixteenths (r4-rounded)
      assert(math.abs(est * 16 - math.round(est * 16)) < 0.002,
        s"$pair: est $est is not a multiple of 1/16")
      assert(jac >= 0.05 - 1e-4, s"$pair: below the audit threshold")
      assert(math.abs(err - math.abs(jac - est)) < 2e-4)
    }
    // the audited universe IS q_dedup_ngram's pair set
    val ngramPairs = SparkEntry.queries("q_dedup_ngram")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(_._1).toSet == ngramPairs)
    // estimator sanity: per-permutation match probability equals jac, so
    // the MEAN absolute error across pairs must sit well inside the
    // 16-perm binomial noise envelope (sd <= 0.125)
    val meanErr = rows.map(_._4).sum / rows.length
    assert(meanErr < 0.125, s"mean |est - jac| = $meanErr: estimator is off")
  }

  test("wide one-pass signature spelling is value-identical to the seed-exploded oracle spelling") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // shingle-shaped relation with shared and private tokens across docs
    val sh = (1 to 40).flatMap { i =>
      val doc = (i % 7).toLong
      Seq((doc, s"tok a$i"), (doc, s"shared ${i % 5}"), (doc, s"b$i c"))
    }.toDF("doc_id", "s").distinct()
    val wide = graft.llm.Dedup.minhashSigWide(sh, 16)
    val exploded = graft.llm.Dedup.minhashSigExploded(sh, 16)
    assert(wide.count() == exploded.count())
    assert(wide.except(exploded).isEmpty && exploded.except(wide).isEmpty,
      "one-pass signatures diverge from the seed-exploded md5 family")
  }
}
