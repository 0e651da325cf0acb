package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("cosine_similarity matches a hand-computed value and handles zero vectors") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 0.0), Array(1.0, 0.0), 1.0),
      (Array(1.0, 0.0), Array(0.0, 1.0), 0.0),
      (Array(1.0, 2.0), Array(2.0, 4.0), 1.0),
      (Array(1.0, 1.0), Array(1.0, -1.0), 0.0),
      (Array(0.0, 0.0), Array(1.0, 1.0), 0.0) // zero vector → defined 0
    ).toDF("a", "b", "expected")
    val got = df.select(
      VectorFunctions.cosineSim(col("a"), col("b")).as("cos"), col("expected"))
      .collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("cosine approx_count agreement between codegen and interpreted paths") {
    import spark.implicits._
    val df = (1 to 100).map(i =>
      (Array.tabulate(16)(j => (i * 31 + j * 7 % 13).toDouble),
       Array.tabulate(16)(j => (i * 17 + j * 3 % 11).toDouble))).toDF("a", "b")
    // wholestage on vs off must agree bit-for-bit
    val on = df.select(VectorFunctions.cosineSim(col("a"), col("b"))).collect().map(_.getDouble(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val off = try df.select(VectorFunctions.cosineSim(col("a"), col("b"))).collect().map(_.getDouble(0))
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(on.sameElements(off))
  }

  test("simhash: near-duplicate token lists have smaller hamming distance than unrelated") {
    import spark.implicits._
    val a = Seq.tabulate(40)(i => s"tok$i")
    val near = a.updated(3, "changed")
    val far = Seq.tabulate(40)(i => s"other$i")
    val df = Seq((a, near, far)).toDF("a", "near", "far")
    val r = df.select(
      bit_count(VectorFunctions.simhash(col("a"))
        .bitwiseXOR(VectorFunctions.simhash(col("near")))).as("d_near"),
      bit_count(VectorFunctions.simhash(col("a"))
        .bitwiseXOR(VectorFunctions.simhash(col("far")))).as("d_far"))
      .head()
    assert(r.getInt(0) < r.getInt(1))
    assert(r.getInt(0) <= 12)
  }

  test("approx_count_distinct within rsd bound of exact") {
    val li = Tables(spark, TestSpark.sf, "lineitem")
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), 0.02)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1)
  }

  test("cms_estimate never underestimates and respects the eps*N bound") {
    import spark.implicits._
    // skewed corpus: key k appears k times, 1..100 (N = 5050)
    val rows = (1L to 100L).flatMap(k => Seq.fill(k.toInt)(k))
    rows.toDF("k").createOrReplaceTempView("cms_corpus")
    val out = spark.sql("""
      SELECT k, COUNT(*) AS exact,
             cms_estimate((SELECT count_min_sketch(k, 0.001d, 0.99d, 42)
                           FROM cms_corpus), k) AS est
      FROM cms_corpus GROUP BY k""").collect()
    assert(out.length == 100)
    out.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"CMS underestimated key ${r.getLong(0)}")
      assert(est <= exact + math.ceil(3 * 0.001 * 5050).toLong,
        s"CMS overestimate out of bound for key ${r.getLong(0)}: $est vs $exact")
    }
  }

  test("multi_pattern_count matches brute-force sliding counts incl. unicode") {
    import spark.implicits._
    val pats = Seq("ab", "bc", "abcab", "é x", "zz")
    def brute(s: String, p: String): Long =
      (0 to s.length - p.length).count(i => s.startsWith(p, i)).toLong
    val texts = Seq("abcabcab", "", "xyz", "é xé x", "aébc x",
      "ababab zz abcab", "ab" * 500 + "é x")
    val got = texts.toDF("t")
      .select(col("t"),
        VectorFunctions.multiPatternCount(col("t"), pats).as("c"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { t =>
      pats.zipWithIndex.foreach { case (p, i) =>
        assert(got(t)(i) == brute(t, p),
          s"'$t' / '$p': got ${got(t)(i)}, want ${brute(t, p)}")
      }
    }
  }

  test("multi_pattern_count counts ALL occurrences, overlapping included") {
    import spark.implicits._
    val got = Seq("aaaa").toDF("t")
      .select(VectorFunctions.multiPatternCount(col("t"), Seq("aa", "aaa"))
        .as("c"))
      .head().getSeq[Long](0)
    assert(got == Seq(3L, 2L), s"overlap semantics broke: $got")
  }

  test("multi_pattern_count stays in whole-stage codegen (no fallback)") {
    import spark.implicits._
    // a literal input constant-folds to LocalTableScan (the interpreted
    // eval path, covered above) — codegen only materializes over a real
    // scan, so assert on the registered query's plan
    val df = SparkEntry.queries("q_text_substring_scan")(spark, TestSpark.sf)
    df.collect() // materialize the AQE final plan so codegen explain sees it
    val code = df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)
    assert(code.contains(".countAll("),
      "generated code does not call the automaton — expression fell back")
    // null text → null result, not a crash
    val n = Seq[Option[String]](None).toDF("t")
      .select(VectorFunctions.multiPatternCount(col("t"), Seq("b")).as("c"))
      .head()
    assert(n.isNullAt(0))
  }

  test("md_plane_dots / quantize16 / cosine_similarity_int16 match their HOF reference spellings") {
    import spark.implicits._
    val planes = 11 // deliberately not a multiple of anything
    val vecs = Seq(
      (1L, Array(0.4999f, -0.0004f, 0.0005f, 1.0f, -0.57f)), // round boundaries
      (2L, Array(0.1f, 0.2f, -0.3f, 0.25f, 0.5f)),
      (3L, Array(0f, 0f, 0f, 0f, 0f))) // zero vector → cos 0.0
    val df = vecs.toDF("id", "v")
    // reference: the r9 interpreted spelling, driver-side
    def q(x: Float): Long = math.floor(x.toDouble * 1000.0 + 0.5).toLong
    def sgn(p: Int, i: Int): Long =
      if ((graft.functions.VectorKernels.md5Lower64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"hp-$p-$i")) & 1L) == 1L) 1L
      else -1L
    val gotDots = df.select(col("id"),
        VectorFunctions.mdPlaneDots(col("v"), planes).as("d"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    vecs.foreach { case (id, v) =>
      val want = (0 until planes).map(p =>
        v.indices.map(i => q(v(i)) * sgn(p, i)).sum)
      assert(gotDots(id) == want, s"dots mismatch for vec $id")
    }
    val gotQ = df.select(col("id"), VectorFunctions.quantize16(col("v")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Short](1)).toMap
    vecs.foreach { case (id, v) =>
      assert(gotQ(id) == v.map(x => q(x).toShort).toSeq, s"quantize mismatch $id")
    }
    val pairs = df.select(col("id"), VectorFunctions.quantize16(col("v")).as("q"))
    val cos = pairs.as("a").crossJoin(pairs.as("b"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        VectorFunctions.cosineSimQ(col("a.q"), col("b.q")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def ref(a: Array[Float], b: Array[Float]): Double = {
      val (qa, qb) = (a.map(q), b.map(q))
      val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
      val (na, nb) = (qa.map(x => x * x).sum, qb.map(x => x * x).sum)
      if (na == 0L || nb == 0L) 0.0
      else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    for ((ia, va) <- vecs.map(v => v._1 -> v._2);
         (ib, vb) <- vecs.map(v => v._1 -> v._2)) {
      assert(cos((ia, ib)) == ref(va, vb), s"cos_q mismatch ($ia,$ib)")
    }
    // sqrt(n)·sqrt(n) can round a ulp off n, so self-cosine is ≈1, not ==1
    assert(cos((3L, 1L)) == 0.0 && math.abs(cos((1L, 1L)) - 1.0) < 1e-12)
  }
}
