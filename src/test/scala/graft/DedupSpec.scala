package graft

import graft.llm.Dedup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MinHash+LSH vs brute-force shingle-set Jaccard on sf0.001:
  * every reported pair must truly have J ≥ τ (precision 100% — the exact
  * re-check guarantees it) and high-similarity pairs (J ≥ 0.8) must be
  * recalled (8 bands × 4 rows ⇒ P[detect J=0.8] ≈ 1 - (1-0.8^4)^8 ≈ 0.99). */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def shingleSets = {
    val docs = Tables(spark, TestSpark.sf, "documents")
    docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "w")))
      .withColumn("n1", lead(col("w"), 1).over(Window.partitionBy("doc_id").orderBy("i")))
      .withColumn("n2", lead(col("w"), 2).over(Window.partitionBy("doc_id").orderBy("i")))
      .filter(col("n2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("n1"), col("n2")).as("s"))
      .groupBy("doc_id").agg(collect_set(col("s")).as("tokens"))
  }

  private lazy val bruteForce: Map[(Long, Long), Double] = {
    val sets = shingleSets.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    (for {
      (a, sa) <- sets.toSeq
      (b, sb) <- sets.toSeq if a < b
      inter = (sa & sb).size
      if inter > 0
      j = inter.toDouble / (sa | sb).size
    } yield (a, b) -> j).toMap
  }

  private lazy val lsh: Map[(Long, Long), Double] =
    Dedup.minHashDedup(shingleSets, numHashes = 32, bands = 8, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("precision: every reported pair truly has J >= 0.3") {
    lsh.foreach { case (pair, j) =>
      val truth = bruteForce.getOrElse(pair, 0.0)
      assert(truth >= 0.3, s"pair $pair reported j=$j but true j=$truth")
      assert(math.abs(truth - j) < 1e-3)
    }
  }

  test("recall: all J >= 0.8 pairs are found") {
    val strong = bruteForce.filter(_._2 >= 0.8).keySet
    assert(strong.nonEmpty, "corpus should contain planted near-dups")
    val missed = strong -- lsh.keySet
    assert(missed.isEmpty, s"missed strong pairs: $missed")
  }

  test("exact dedup is idempotent") {
    val once = SparkEntry.queries("q_dedup_exact")(spark, TestSpark.sf)
    assert(once.count() == once.distinct().count())
  }

  test("64/32 banding (the q_dedup_fuzzy oracle contract) equals brute force exactly") {
    // Precision is exact by construction (re-check); recall at J>=0.9 is
    // 1-(1-J^2)^32 ~ 1-1e-23, and the corpus has no pairs between 0.15 and
    // 0.9 — so the LSH pair set must EQUAL the brute-force one.
    val lsh6432 = Dedup.minHashDedup(shingleSets, numHashes = 64, bands = 32, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = bruteForce.filter(_._2 >= 0.3).keySet
    assert(lsh6432 == exact,
      s"missing=${exact -- lsh6432} extra=${lsh6432 -- exact}")
  }

  test("connectedComponents: min-label propagation over chain, triangle, singleton pair") {
    import spark.implicits._
    // chain 1-2-3-4, triangle 10-11-12 (+edge 11-12), pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: pointer jumping converges a diameter-60 chain within 20 iterations") {
    import spark.implicits._
    // A chain is the deepest component per edge: min-label propagation
    // needed `diameter` rounds for it, and 60 is past the default cap of
    // 20. Union-find needs ⌈log2 P⌉+1 rounds whatever the diameter; every
    // vertex must be labelled 0.
    val edges = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 61 && got.values.forall(_ == 0L),
      s"chain not fully labeled: ${got.filter(_._2 != 0L)}")
  }

  test("connectedComponents: non-convergence throws instead of returning partial labels") {
    import spark.implicits._
    // Two edge partitions need two rounds; a cap of one must throw before
    // any round runs rather than label each partition on its own.
    val edges = (0L until 10L).map(i => (i, i + 1)).toDF("a", "b").repartition(2)
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, maxIter = 1)
    }
    assert(e.getMessage.contains("over maxIter = 1"), e.getMessage)
  }

  test("connectedComponents: min-id labels across partitions within ceil(log2 P)+1 rounds") {
    import spark.implicits._
    def labels(edges: org.apache.spark.sql.DataFrame, maxIter: Int) =
      Dedup.connectedComponents(edges, maxIter).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // A 61-vertex chain dealt round-robin over 4 partitions, so adjacent
    // edges land in different partitions and labels must cross them. 4
    // partitions take 3 rounds.
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b").repartition(4)
    val got = labels(chain, maxIter = 3)
    assert(got == (0L to 60L).map(_ -> 0L).toMap,
      s"chain not fully labeled: ${got.filter(_._2 != 0L)}")
    // Two components, one per partition, joined only through vertex 150,
    // which both partitions hold; the minimum, 7, is in the second. The
    // pair 200-201 never leaves the first partition.
    val joined = spark.sparkContext
      .parallelize(Seq(Seq((100L, 150L), (150L, 120L), (200L, 201L)),
        Seq((150L, 130L), (130L, 7L))), numSlices = 2)
      .flatMap(identity).toDF("a", "b")
    assert(labels(joined, maxIter = 2) == Map(
      7L -> 7L, 100L -> 7L, 120L -> 7L, 130L -> 7L, 150L -> 7L,
      200L -> 200L, 201L -> 200L))
  }

  test("connectedComponents: an empty edge list yields no labels and does not throw") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(edges).collect().isEmpty)
  }

  test("connectedComponents: a DECIMAL(38,0) label-sum overflow throws rather than reading as null") {
    // The convergence check compares consecutive label sums; a null from
    // overflow would equal the previous null and stop the loop early.
    import spark.implicits._
    val e = intercept[ArithmeticException] {
      Seq("9" * 38, "9" * 38).toDF("lbl")
        .agg(sum(col("lbl").cast("decimal(38,0)"))).first()
    }
    assert(e.asInstanceOf[org.apache.spark.SparkThrowable].getCondition
      .startsWith("NUMERIC_VALUE_OUT_OF_RANGE"), e.toString)
  }

  test("cluster query: labels are closed under the pair graph and survivors are minima") {
    val pairs = Dedup.minHashDedup(shingleSets, numHashes = 64, bands = 32, tau = 0.3)
      .select(col("da"), col("db")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = SparkEntry.queries("q_dedup_cluster")(spark, TestSpark.sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl, s"cluster $lbl survivor is not the min id")
    }
  }

  /** Brute-force Jaccard pair set over an in-memory (doc_id, text) corpus. */
  private def bruteJac(corpus: Seq[(Long, String)], tau: Double): Map[(Long, Long), Double] = {
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val sets = corpus.map { case (id, t) => id -> sh(t) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size if inter > 0
      j = inter.toDouble / (sa | sb).size if j >= tau
    } yield (a, b) -> j).toMap
  }

  private def shingleDF(corpus: Seq[(Long, String)]) = {
    import spark.implicits._
    corpus.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "w")))
      .withColumn("n1", lead(col("w"), 1).over(Window.partitionBy("doc_id").orderBy("i")))
      .withColumn("n2", lead(col("w"), 2).over(Window.partitionBy("doc_id").orderBy("i")))
      .filter(col("n2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("w"), col("n1"), col("n2")).as("s"))
      .distinct()
  }

  private def ngramOn(corpus: Seq[(Long, String)], tau: Double, cap: Option[Int]) =
    Dedup.ngramPairs(shingleDF(corpus), tau, cap)

  /** Brute-force DIRECTED containment pair set: (sub, sup) -> |∩| / |sub|. */
  private def bruteCont(corpus: Seq[(Long, String)], tau: Double): Map[(Long, Long), Double] = {
    def sh(t: String) = t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sets = corpus.map { case (id, t) => id -> sh(t) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      inter = (sa & sb).size if inter > 0
      c = inter.toDouble / sa.size if c >= tau
    } yield (a, b) -> c).toMap
  }

  test("capped ngram blocking: hot shingle removed from the join, pair set stays exact") {
    // 40 docs sharing one universal shingle ("h0 h1 h2" via a common
    // 3-token prefix, df=40 >> cap=8) + two true near-dups. The guard
    // holds (1 stop shingle per doc, far under the tau=0.3 bound), so the
    // capped path must engage (left-anti prune of the blocking input) and
    // still return the exact brute-force pair set, hot shingle INCLUDED
    // in every intersection count via the stop-mask.
    val base = (0L until 40L).map(i =>
      i -> (s"h0 h1 h2 " + (0 until 30).map(k => s"u${i}_$k").mkString(" ")))
    val nearDup = Seq(41L -> (s"h0 h1 h2 " + (0 until 30).map(k => s"u7_$k").mkString(" ") + " extra"))
    val corpus = base ++ nearDup
    val got = ngramOn(corpus, 0.3, Some(8))
    assert(got.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "df cap did not engage on a corpus where it is provably safe")
    val gotPairs = got.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = bruteJac(corpus, 0.3)
    assert(gotPairs.keySet == want.keySet,
      s"missing=${want.keySet -- gotPairs.keySet} extra=${gotPairs.keySet -- want.keySet}")
    gotPairs.foreach { case (p, j) => assert(math.abs(j - want(p)) < 1e-12) }
  }

  test("capped ngram falls back to the exact join when the cap is unsound") {
    // Ten identical tiny docs: every shingle is hot AND every doc is
    // mostly stop shingles — dropping them would lose the J=1 pairs. The
    // guard must detect the violation and run the uncapped join.
    val corpus = (0L until 10L).map(i => i -> "a b c d e")
    val got = ngramOn(corpus, 0.3, Some(4))
    assert(!got.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "cap engaged on a corpus where dropping hot shingles loses pairs")
    val gotPairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == bruteJac(corpus, 0.3).keySet)
  }

  test("capped containment blocking: hot shingle removed from the join, directed pair set stays exact") {
    // 40 docs sharing one universal shingle (df=41 >> cap=8) + one doc
    // whose token sequence is a PREFIX of doc 7's — containment 1.0 in the
    // sub→sup direction while Jaccard stays low (the asymmetric signal).
    // Each doc holds exactly 1 stop shingle, far under the ⌈τ·n⌉ guard
    // bound, so the capped path must engage (left-anti prune) and still
    // return the exact brute-force directed pair set, hot shingle INCLUDED
    // in every intersection count via the stop-mask.
    val base = (0L until 40L).map(i =>
      i -> ("h0 h1 h2 " + (0 until 30).map(k => s"u${i}_$k").mkString(" ")))
    val sub = Seq(41L -> ("h0 h1 h2 " + (0 until 10).map(k => s"u7_$k").mkString(" ")))
    val corpus = base ++ sub
    val got = Dedup.containmentPairs(shingleDF(corpus), 0.7, Some(8))
    assert(got.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "df cap did not engage on a corpus where it is provably safe")
    val gotPairs = got.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = bruteCont(corpus, 0.7)
    assert(want.contains((41L, 7L)), "test corpus must contain a planted containment pair")
    assert(gotPairs.keySet == want.keySet,
      s"missing=${want.keySet -- gotPairs.keySet} extra=${gotPairs.keySet -- want.keySet}")
    gotPairs.foreach { case (p, c) => assert(math.abs(c - want(p)) < 1e-12) }
  }

  test("capped containment falls back to the exact join when the cap is unsound") {
    // Ten identical tiny docs: every shingle is hot AND every doc is
    // entirely stop shingles — dropping them would lose the C=1 pairs.
    // The per-doc ⌈τ·n⌉ guard must detect the violation and run the
    // uncapped join.
    val corpus = (0L until 10L).map(i => i -> "a b c d e")
    val got = Dedup.containmentPairs(shingleDF(corpus), 0.8, Some(4))
    assert(!got.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "cap engaged on a corpus where dropping hot shingles loses pairs")
    val gotPairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == bruteCont(corpus, 0.8).keySet)
  }

  test("substring spans: arbitrary-boundary repeats found exactly (incl. off-stride), matching brute force") {
    // Sequential ExactSubstr reference: global window census → duplicated
    // window starts → merged covers. The planted repeat starts at token 3
    // of doc 2 (length 11 ≥ L=8) — an offset no stride-8 window grid
    // hits, i.e. the class q_dedup_span structurally misses. A second
    // intra-doc repeat (doc 3 repeats its own opening 8 tokens at offset
    // 20) checks the "occurs more than once ANYWHERE" semantic.
    val L = 8
    def uniq(tag: String, n: Int) = (0 until n).map(k => s"$tag$k")
    val rep = (0 until 11).map(k => s"r$k") // 11-token repeated run
    val corpus = Seq(
      1L -> (uniq("a", 9) ++ rep ++ uniq("b", 7)).mkString(" "),
      2L -> (uniq("c", 3) ++ rep ++ uniq("d", 9)).mkString(" "),
      3L -> (uniq("e", L) ++ uniq("f", 12) ++ uniq("e", L) ++ uniq("g", 5)).mkString(" "),
      4L -> uniq("h", 30).mkString(" "))
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val counts = toks.flatMap { case (_, t) =>
      (0 to t.length - L).map(w => t.slice(w, w + L).mkString(" ")) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val want = toks.flatMap { case (id, t) =>
      val dws = (0 to t.length - L)
        .filter(w => counts(t.slice(w, w + L).mkString(" ")) > 1)
      dws.foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, w) if w <= e0 => (s0, math.max(e0, w + L)) :: rest
        case (acc, w) => (w, w + L) :: acc
      }.reverse.map { case (s0, e0) => (id, s0.toLong, e0.toLong) }
    }.toSet
    assert(want.exists { case (id, s0, _) => id == 2L && s0 == 3L },
      "corpus must plant an off-stride repeat")
    assert(want.exists { case (id, _, _) => id == 3L },
      "corpus must plant an intra-doc repeat")
    import spark.implicits._
    val got = Dedup.substrSpans(corpus.toDF("doc_id", "text"), L)
      .select("doc_id", "start_pos", "end_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("bloom ingest gate probes map-side: no join, no shuffle of the batch") {
    graft.functions.VectorFunctions.register(spark)
    Tables.registerViews(spark, TestSpark.sf)
    // the production shape: flag arrivals against the standing corpus's
    // sketch — corpus collapses to one binary via a scalar subquery, the
    // batch never joins anything (q_dedup_bloom adds exact-truth columns
    // for the oracle contract, which do join; this is the shipped probe)
    val probe = spark.sql("""
      SELECT doc_id,
             graft_might_contain(
               (SELECT graft_bloom_agg(xxhash64(text), 5000L, 400000L)
                FROM documents WHERE doc_id % 10 <> 0),
               xxhash64(text)) AS hit
      FROM documents WHERE doc_id % 10 = 0""")
    val p = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("Join"), "probe plan must not contain any join")
    // bloom guarantee: zero false negatives vs the exact duplicate set
    val hits = probe.collect().filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    val exact = spark.sql("""
      SELECT b.doc_id FROM documents b
      WHERE b.doc_id % 10 = 0 AND b.text IN
        (SELECT text FROM documents WHERE doc_id % 10 <> 0)""")
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(hits),
      s"false negatives from the bloom probe: ${(exact -- hits).take(5)}")
  }

  test("simhash pigeonhole banding finds EVERY pair within hamming <= 3") {
    graft.functions.VectorFunctions.register(spark)
    val sigs = Tables(spark, TestSpark.sf, "documents")
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhash(split(col("text"), " ")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- sigs; (b, hb) <- sigs if a < b
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (a, b)).toSet
    val blocked = SparkEntry.queries("q_dedup_simhash")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute,
      s"pigeonhole blocking must be exhaustive: missing=${brute -- blocked} extra=${blocked -- brute}")
  }

  test("q_lsh_tuning: candidate volume shrinks monotonically as rows-per-band grows") {
    val rows = SparkEntry.queries("q_lsh_tuning")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._2)
    assert(rows.map(r => (r._1, r._2)).toSeq ==
      Seq((16L, 1L), (8L, 2L), (4L, 4L)))
    // longer band signatures are strictly harder to collide on: candidate
    // pairs and colliding buckets must be non-increasing in rows-per-band
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.reverse.toSeq,
      s"candidate pairs not monotone: ${rows.map(_._3).toSeq}")
    assert(rows.map(_._4).toSeq == rows.map(_._4).sorted.reverse.toSeq)
    rows.foreach { case (b, r, pairs, bk, maxB) =>
      assert(b * r == 16)
      assert(maxB >= 1 && pairs >= bk, s"($b,$r): pairs $pairs buckets $bk")
    }
  }

  test("q_dedup_semantic: suppression matches brute-force cosine within the query's clusters") {
    // Given the (oracle-hash-checked) cluster assignment the query emits,
    // the greedy suppression rule must hold exactly: a vector is kept iff
    // NO lower-id clustermate has cos >= tau, and nn_id is the SMALLEST
    // suppressor. Brute force recomputes every within-cluster cosine from
    // the raw embeddings with the same float->double cast and index-order
    // accumulation as the kernel.
    val out = SparkEntry.queries("q_dedup_semantic")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val emb = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x =>
          math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)
      .toMap
    // r10 contract: the suppression cosine runs on the ⌊1000x+0.5⌋
    // quantized vectors (long-exact dot/norms, one double division)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0L || nb == 0L) 0.0
      else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val byCluster = out.groupBy(_._2)
    var suppressed = 0
    out.foreach { case (vid, cid, keep, nnId) =>
      if (cid < 0) // no colliding seed: unclustered vectors are always kept
        assert(keep && nnId.isEmpty, s"unclustered vec $vid not kept")
      else {
        val sims = byCluster(cid).map(_._1).filter(_ < vid)
          .filter(m => cos(emb(m), emb(vid)) >= 0.4)
        if (keep) assert(sims.isEmpty && nnId.isEmpty,
          s"vec $vid kept but suppressors exist: ${sims.sorted.take(3).toSeq}")
        else {
          assert(sims.nonEmpty, s"vec $vid suppressed with no suppressor")
          assert(nnId.contains(sims.min),
            s"vec $vid nn_id ${nnId} != min suppressor ${sims.min}")
          suppressed += 1
        }
      }
    }
    assert(suppressed > 0, "tau vacuous on the test corpus — nothing suppressed")
    assert(out.exists(_._2 >= 0), "no vector got a cluster — banding vacuous")
  }

  test("q_dedup_span_rate: per-source rates match a brute-force span census") {
    val docs = Tables(spark, TestSpark.sf, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ")))
    val spans = docs.filter(_._3.length >= 16).flatMap { case (id, src, t) =>
      (0 to (t.length - 16) / 8).map(k =>
        (id, src, t.slice(k * 8, k * 8 + 16).mkString(" ")))
    }
    val dupSpans = spans.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.length > 1).keySet
    val expected = spans.groupBy(_._2).map { case (src, ss) =>
      src -> (ss.length.toLong, ss.count(s => dupSpans(s._3)).toLong)
    }
    val got = SparkEntry.queries("q_dedup_span_rate")(spark, TestSpark.sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (src, (n, dup)) =>
      val (gn, gdup, grate) = got(src)
      assert(gn == n && gdup == dup, s"$src: ($gn,$gdup) vs ($n,$dup)")
      assert(math.abs(grate - dup.toDouble / n) < 1e-12, s"$src rate")
    }
    assert(expected.values.exists(_._2 > 0),
      "no duplicated spans on the corpus — rate table vacuous")
  }

  test("q_dedup_coverage: per-doc coverage equals the span relation's disjoint sum") {
    val spans = SparkEntry.queries("q_dedup_substr")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sumByDoc = spans.groupBy(_._1).view
      .mapValues(_.map(s => s._3 - s._2).sum).toMap
    // islands are maximal and disjoint per doc, so the sum IS the coverage
    spans.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._2 > a._3, s"overlapping islands in doc ${a._1}")
        case _ =>
      }
    }
    val cov = SparkEntry.queries("q_dedup_coverage")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    val nDocs = Tables(spark, TestSpark.sf, "documents")
      .filter(size(split(col("text"), " ")) >= 8).count()
    assert(cov.length == nDocs, "coverage must emit every >=8-token doc")
    cov.foreach { case (doc, n, dup, frac, drop) =>
      assert(dup == sumByDoc.getOrElse(doc, 0L), s"doc $doc dup_tokens")
      assert(dup <= n, s"doc $doc coverage exceeds its length")
      assert(math.abs(frac - dup.toDouble / n) < 1e-12, s"doc $doc frac")
      assert(drop == (dup * 2 > n), s"doc $doc drop verdict")
    }
    assert(cov.exists(_._3 > 0) && cov.exists(_._3 == 0),
      "coverage vacuous — need both covered and clean docs")
  }

  test("q_dedup_substr_apply: cleaned text equals a sequential cut of the flagged spans") {
    val spans = SparkEntry.queries("q_dedup_substr")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val docsRaw = Tables(spark, TestSpark.sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = SparkEntry.queries("q_dedup_substr_apply")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.length == docsRaw.size, "apply must emit every document")
    got.foreach { case (doc, n, kept, fp) =>
      val t = docsRaw(doc).split(" ", -1)
      assert(n == t.length, s"doc $doc n_tokens")
      val cut = spans.getOrElse(doc, Array.empty).map(s => (s._2, s._3))
      val keptToks = t.zipWithIndex.collect {
        case (tok, i) if !cut.exists(c => i >= c._1 && i < c._2) => tok }
      assert(kept == keptToks.length.toLong, s"doc $doc kept_tokens")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(keptToks.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(fp == md, s"doc $doc clean_fp")
    }
    assert(got.exists(r => r._3 < r._2), "need at least one actually-cut doc")
    assert(got.exists(r => r._3 == r._2), "need at least one untouched doc")
  }
}
