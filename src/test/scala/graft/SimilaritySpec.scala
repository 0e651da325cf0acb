package graft

import graft.llm.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** ANN variants vs exact brute force: the probed subset must be scanned
  * exactly, and recall is reported against the exact top-k. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val exact: Map[Long, Seq[Long]] =
    SparkEntry.queries("q_similarity_topk")(spark, TestSpark.sf)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq.take(3) }

  test("ivf: reported neighbors are exact within the probed cells") {
    val e = Tables(spark, TestSpark.sf, "embeddings")
    val ivf = Similarity.ivfTopK(spark, e, k = 3, nlist = 16, nprobe = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }

    // cosine within each query's result must be non-increasing, ranks 1..k
    ivf.foreach { case (q, rows) =>
      assert(rows.size <= 3)
      rows.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 >= b._2, s"query $q not sorted")
        case _ =>
      }
    }
  }

  test("ivf and lsh recall vs exact top-3") {
    val e = Tables(spark, TestSpark.sf, "embeddings")
    def recall(got: Map[Long, Seq[Long]]): Double = {
      val hits = exact.map { case (q, top) =>
        (top.toSet intersect got.getOrElse(q, Nil).toSet).size.toDouble / top.size
      }
      hits.sum / hits.size
    }
    val ivf = Similarity.ivfTopK(spark, e, 3, 16, 4).collect()
      .groupBy(_.getLong(0)).map { case (q, r) => q -> r.map(_.getLong(1)).toSeq }
    val lsh = Similarity.annTopK(spark, e, 3).collect()
      .groupBy(_.getLong(0)).map { case (q, r) => q -> r.map(_.getLong(1)).toSeq }
    val (rIvf, rLsh) = (recall(ivf), recall(lsh))
    info(f"IVF recall@3 = $rIvf%.2f, LSH recall@3 = $rLsh%.2f")
    // corpus neighbors sit at cos ~ 0.33 -> theoretical LSH recall ~ 0.64
    // (5-plane x 12-table md-plane geometry; measured 0.67-0.80 across the
    // sf dirs); 0.4 is a safe floor across sf dirs
    assert(rIvf >= 0.8, f"IVF recall degraded: $rIvf%.2f")
    assert(rLsh >= 0.4, f"LSH recall degraded: $rLsh%.2f")
    // both must return ≤ k results per present query
    assert(ivf.values.forall(_.size <= 3) && lsh.values.forall(_.size <= 3))
  }

  test("every annTopK neighbour shares a (tbl, bucket) with its query under mdPlaneBanded(12, 5)") {
    val e = Tables(spark, TestSpark.sf, "embeddings")
    val buckets: Map[Long, Set[(Int, Long)]] =
      Similarity.mdPlaneBanded(e.select("vec_id", "embedding"),
          tables = 12, rowsPerTable = 5)
        .collect().groupBy(_.getLong(0))
        .map { case (id, rows) => id -> rows.map(r => (r.getInt(1), r.getLong(2))).toSet }
    val pairs = Similarity.annTopK(spark, e, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(pairs.nonEmpty)
    pairs.foreach { case (q, n) =>
      assert((buckets(q) intersect buckets(n)).nonEmpty,
        s"neighbour $n of query $q shares no (tbl, bucket) with it")
    }
  }

  test("brute-force top-k matches a driver-side computation") {
    val vecs = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q0 = vecs(0L)
    val expected = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => id -> cos(q0, v) }
      .sortBy { case (id, c) => (-math.rint(c * 10000) / 10000, id) }
      .take(5).map(_._1)
    val got = exact // from q_similarity_topk (top 3 of query 0)
    assert(got(0L) == expected.take(3))
  }

  test("PQ codes are the true argmin per subspace (brute recompute)") {
    import org.apache.spark.sql.functions._
    def cent(m: Int, k: Int, j: Int): Double =
      (graft.functions.VectorKernels.md5Lower64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"pq-$m-$k-$j"))
        >>> 11) / 4503599627370496.0 - 1.0
    val vecs = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val codes = SparkEntry.queries("q_similarity_pq")(spark, TestSpark.sf)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    assert(codes.size == vecs.size)
    vecs.foreach { case (id, v) =>
      val expected = (0 until 4).map { m =>
        (0 until 16).map { k =>
          val d2 = (0 until 16).map { j =>
            val diff = v(m * 16 + j) - cent(m, k, j); diff * diff
          }.sum
          (d2, k)
        }.min._2.toLong
      }
      assert(codes(id) == expected, s"vec $id: ${codes(id)} vs $expected")
    }
  }

  test("int8 quantization: codes fit [-127,127], brute recompute, bounded error") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q_vector_quantize")(spark, TestSpark.sf).collect()
    assert(out.nonEmpty)
    val raw = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    out.foreach { r =>
      // codes are serialized ("3,-7,0,...") — the oracle harness cannot
      // sort raw list cells, so the query emits the q_agg_collect string form
      val (id, scale, codes, mse) =
        (r.getLong(0), r.getDouble(1),
          r.getString(2).split(",").map(_.toLong).toSeq, r.getDouble(3))
      val v = raw(id)
      val expScale = v.map(math.abs).max / 127.0
      assert(scale == expScale, s"vec $id scale")
      codes.foreach(c => assert(c >= -127 && c <= 127, s"vec $id code $c out of int8"))
      val expCodes = v.map(x => math.round(x / expScale))
      // java round is half-up (toward +inf) vs Spark/BigDecimal half-away;
      // compare values not ties — differences only possible at exact .5
      codes.zip(expCodes).zip(v).foreach { case ((got, exp), x) =>
        assert(math.abs(got - exp) <= (if ((x / expScale * 2) % 1 == 0) 1 else 0),
          s"vec $id: code $got vs $exp for $x")
      }
      // reconstruction error must be far below the quantization step bound
      assert(mse <= (expScale / 2) * (expScale / 2) + 1e-9, s"vec $id mse $mse")
    }
  }

  test("q_knn_graph: edges, ranks and mutual flags match brute force within label") {
    val vecs = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("label"), col("vec_id"),
        transform(col("embedding"), _.cast(DoubleType)).as("v"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byLabel = vecs.groupBy(_._1)
    val expectedEdges: Map[Long, Seq[(Long, Long, Double)]] = vecs.map {
      case (lbl, vid, v) =>
        val top = byLabel(lbl).filter(_._2 != vid)
          .map { case (_, nid, nv) => (nid, cos(v, nv)) }
          .sortBy { case (nid, c) => (-c, nid) }.take(3)
        vid -> top.zipWithIndex.map { case ((nid, c), i) => (i + 1L, nid, c) }.toSeq
    }.toMap
    val edgeSet = expectedEdges.toSeq.flatMap { case (vid, es) =>
      es.map(e => (vid, e._2)) }.toSet
    val got = SparkEntry.queries("q_knn_graph")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getBoolean(5)))
    assert(got.length == expectedEdges.values.map(_.size).sum)
    got.foreach { case (vid, rnk, nid, c, mutual) =>
      val exp = expectedEdges(vid).find(_._1 == rnk).get
      assert(exp._2 == nid, s"vec $vid rank $rnk: $nid vs ${exp._2}")
      assert(math.abs(exp._3 - c) < 1e-9, s"vec $vid rank $rnk cos")
      assert(mutual == edgeSet.contains((nid, vid)),
        s"vec $vid -> $nid mutual flag")
    }
    // the flag must be non-vacuous in both directions on the corpus
    assert(got.exists(_._5) && got.exists(!_._5), "mutual flag vacuous")
  }

  test("annOperatingPoint resolves targets against the measured calibration ladder") {
    // the measured q_ann_recall table (r13, sf0.1): L=1→0.100, 2→0.233,
    // 4→0.400, 8→0.633; cap scales as 8·L; above-calibration saturates.
    assert(graft.llm.Similarity.annOperatingPoint(0.05) == ((1, 8)))
    assert(graft.llm.Similarity.annOperatingPoint(0.20) == ((2, 16)))
    assert(graft.llm.Similarity.annOperatingPoint(0.40) == ((4, 32)))
    assert(graft.llm.Similarity.annOperatingPoint(0.60) == ((8, 64)))
    assert(graft.llm.Similarity.annOperatingPoint(0.99) == ((8, 64)))
  }

  test("q_knn_graph_ann_fast: the cheap operating point emits ranked rows over fewer candidates") {
    val fast = SparkEntry.queries("q_knn_graph_ann_fast")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(fast.nonEmpty)
    // per-vector rank sanity: rnk contiguous from 1, cos_q non-increasing
    fast.groupBy(_._1).foreach { case (vid, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.head._2 == 1L, s"vec $vid first rank ${byRank.head._2}")
      byRank.map(_._4).sliding(2).foreach {
        case Array(a, b) => assert(a >= b, s"vec $vid cos order")
        case _ =>
      }
    }
    // 4 tables probe a strict subset of the 8-table candidate space, so
    // the fast point must not discover MORE neighbors than the flagship.
    val full = SparkEntry.queries("q_knn_graph_ann")(spark, TestSpark.sf)
      .collect().map(_.getLong(0)).toSet
    assert(fast.map(_._1).toSet.subsetOf(full))
  }

  test("q_knn_graph_ann: bucket candidates and re-rank match a first-principles recompute") {
    import org.apache.spark.unsafe.types.UTF8String
    val raw = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def sgn(p: Int, i: Int): Long =
      if ((graft.functions.VectorKernels.md5Lower64(
        UTF8String.fromString(s"hp-$p-$i")) & 1L) == 1L) 1L else -1L
    // r10 contract: 8 tables x sizedRowsPerTable(N)-bit buckets from
    // 8·rpt integer dot products; re-rank on the quantized vectors
    val rpt = graft.llm.Similarity.sizedRowsPerTable(raw.size.toLong)
    def quant(v: Array[Double]): Array[Long] =
      v.map(x => math.floor(x * 1000 + 0.5).toLong)
    val sigs: Map[Long, Seq[(Int, Long)]] = raw.map { case (id, v) =>
      val vq = quant(v)
      val dps = (0 until 8 * rpt).map(p =>
        vq.indices.map(i => vq(i) * sgn(p, i)).sum)
      id -> (0 until 8).map { t =>
        t -> (0 until rpt).map(j =>
          if (dps(t * rpt + j) >= 0) 1L << j else 0L).sum
      }
    }
    // candidate side capped at the 64 lowest vec_ids per (table, bucket)
    val byBucket = sigs.toSeq
      .flatMap { case (id, tb) => tb.map { case (t, b) => ((t, b), id) } }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.take(64)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val (qa, qb) = (quant(a), quant(b))
      var d = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < qa.length) { d += qa(i) * qb(i); na += qa(i) * qa(i); nb += qb(i) * qb(i); i += 1 }
      if (na == 0L || nb == 0L) 0.0
      else d.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val expected: Map[Long, Seq[(Long, Long)]] = sigs.map { case (id, tb) =>
      val cand = tb.flatMap { case (t, b) => byBucket((t, b)) }
        .distinct.filter(_ != id)
      val top = cand.map(n => (n, cos(raw(id), raw(n))))
        .sortBy { case (n, c) => (-c, n) }.take(3)
      id -> top.zipWithIndex.map { case ((n, _), i) => (i + 1L, n) }
    }.filter(_._2.nonEmpty)
    val got = SparkEntry.queries("q_knn_graph_ann")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(e => (e._2, e._3)).toSeq).toMap
    assert(got.keySet == expected.keySet,
      s"vector sets differ: +${(got.keySet -- expected.keySet).take(3)} " +
        s"-${(expected.keySet -- got.keySet).take(3)}")
    expected.foreach { case (id, top) =>
      assert(got(id) == top, s"vec $id: ${got(id)} vs $top")
    }
    // non-vacuous: the bucketing must actually PRUNE the candidate space
    // (some vector's collider set well under corpus-1), and the graph must
    // differ from the exact all-pairs graph for at least one vector —
    // i.e. this is a real ANN, not a disguised brute force
    val candCounts = sigs.map { case (id, tb) =>
      tb.flatMap { case (t, b) => byBucket((t, b)) }.distinct.count(_ != id)
    }
    assert(candCounts.min < raw.size / 2,
      s"min candidate count ${candCounts.min} of ${raw.size} — no pruning")
    val exactTop = raw.map { case (id, v) =>
      id -> raw.toSeq.filter(_._1 != id).map { case (n, nv) => (n, cos(v, nv)) }
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1)
    }
    assert(expected.exists { case (id, top) => top.map(_._2) != exactTop(id) },
      "ANN graph equals the exact graph everywhere — approximation untested")
  }

  test("q_graph_pagerank: integer power iteration matches a sequential recompute; mass conserved") {
    // brute-force edges: exact top-3 cosine within label (the q_knn_graph
    // contract), then the scaled integer recurrence run sequentially.
    val vecs = Tables(spark, TestSpark.sf, "embeddings")
      .select(col("label"), col("vec_id"),
        transform(col("embedding"), _.cast(DoubleType)).as("v"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byLabel = vecs.groupBy(_._1)
    val edges: Seq[(Long, Long)] = vecs.toSeq.flatMap { case (lbl, vid, v) =>
      byLabel(lbl).filter(_._2 != vid)
        .map { case (_, nid, nv) => (nid, cos(v, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }.take(3)
        .map { case (nid, _) => (vid, nid) }
    }
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var p: Map[Long, Long] = outdeg.map { case (v, _) => v -> 1L }
    for (t <- 1 to 4) {
      val teleport = 6L * Seq(1L, 12L, 144L, 1728L)(t - 1)
      val inflow = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (src, dst) =>
        inflow(dst) += p(src) * (6L / outdeg(src)) }
      p = p.map { case (v, _) => v -> (teleport + inflow(v)) }
    }
    val got = SparkEntry.queries("q_graph_pagerank")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == p.size)
    got.foreach { case (vid, od, ps, pr) =>
      assert(od == outdeg(vid), s"vec $vid outdeg")
      assert(ps == p(vid), s"vec $vid pr_scaled: $ps vs ${p(vid)}")
      assert(math.abs(pr - ps / 20736.0) < 1e-12, s"vec $vid pr")
    }
    // Σpr_t = N exactly (total mass conservation under the integer scaling)
    assert(got.map(_._3).sum == p.size.toLong * 20736L, "mass not conserved")
    // centrality must be non-vacuous: hubs and periphery separate
    assert(got.map(_._3).distinct.length > 10, "degenerate PR distribution")
  }

  test("q_knn_clusters: components, sizes, exemplars match a union-find over mutual edges") {
    val mutual = SparkEntry.queries("q_knn_graph")(spark, TestSpark.sf)
      .collect().filter(_.getBoolean(5))
      .map(r => (r.getLong(1), r.getLong(3)))
    val nodes = mutual.flatMap(e => Seq(e._1, e._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    // union by min: the component root is always its smallest vec_id
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = nodes.map(n => n -> find(n)).toMap
    val sizes = comp.values.groupBy(identity).view.mapValues(_.size).toMap
    val got = SparkEntry.queries("q_knn_clusters")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.map(_._1).toSet == nodes.toSet,
      "cluster membership differs from the mutual-edge node set")
    got.foreach { case (vid, cid, sz, ex) =>
      assert(cid == comp(vid), s"vec $vid cluster $cid vs ${comp(vid)}")
      assert(sz == sizes(comp(vid)).toLong, s"vec $vid size")
      assert(ex == (vid == cid), s"vec $vid exemplar flag")
    }
    // non-vacuous: at least one multi-node component beyond a single pair
    assert(sizes.values.exists(_ >= 3),
      "no component of size >= 3 — propagation untested beyond one hop")
  }

  test("sizedRowsPerTable: smallest r >= 5 with 2^r >= ceil(n/32), capped at 16") {
    import graft.llm.Similarity.sizedRowsPerTable
    // exact power-of-two boundaries are where a float log2 could flip
    assert(sizedRowsPerTable(1) == 5)
    assert(sizedRowsPerTable(1024) == 5)     // m = 32 = 2^5
    assert(sizedRowsPerTable(1025) == 6)     // m = 33
    assert(sizedRowsPerTable(2000) == 6)     // sf0.1: m = 63
    assert(sizedRowsPerTable(2048) == 6)     // m = 64 = 2^6
    assert(sizedRowsPerTable(2049) == 7)     // m = 65
    assert(sizedRowsPerTable(20000) == 10)   // sf1: m = 625
    assert(sizedRowsPerTable(200000) == 13)  // sf10: m = 6250
    assert(sizedRowsPerTable(2000000) == 16) // sf100: m = 62500
    assert(sizedRowsPerTable(Long.MaxValue / 2) == 16) // cap
    // parity with the SQL ladder semantics: 5 + #{j in [5,15] : m > 2^j}
    for (n <- Seq(1L, 31L, 1024L, 1025L, 4096L, 123457L, 2000000L, 1L << 40)) {
      val m = (n + 31) / 32
      val ladder = 5 + (5 to 15).count(j => m > (1L << j))
      assert(sizedRowsPerTable(n) == ladder, s"ladder mismatch at n=$n")
    }
  }
}
