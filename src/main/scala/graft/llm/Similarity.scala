package graft.llm

import graft.{Q, Tables}
import graft.Q._
import graft.functions.{TopKAgg, VectorFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector similarity search (SURVEY.md §2.5): brute-force cosine top-k as
  * the exact baseline, and an LSH-bucketed (random-hyperplane) approximate
  * variant as the scale path.
  *
  * 100 TB design: brute force broadcasts the (small) query set against the
  * partitioned corpus — a map-side nested loop with no shuffle until the
  * final per-query top-k (WindowGroupLimit keeps k rows per partition before
  * the exchange). Every LSH variant bands through one cross-engine
  * random-hyperplane family, [[mdPlaneBanded]]; [[annTopK]] sizes its
  * geometry to the corpus's measured similarity profile.
  */
object Similarity {

  // PQ codebook contract: centroid (m, k, j) = uniform [-1, 1) dyadic from
  // md5-lower-64 of "pq-m-k-j" — derived in VectorKernels.pqCodebook and
  // reproduced bit-for-bit by the DuckDB oracles' md5_number_lower math.

  /** Round count for q_graph_pagerank — ONE constant drives both the Spark
    * iteration loop and the unrolled oracle, so the two can never silently
    * diverge. Declared ABOVE `qs`: the oracle string is built
    * eagerly during object init, and object vals initialize in declaration
    * order. */
  private[graft] val pagerankIters = 4

  /** 12^e as an exact long (no float pow; e is tiny). Long-safe for any
    * e ≤ 16 — far beyond a sensible power-iteration count, and the
    * mass-conservation bound P_t ≤ N·12^t constrains iters first. */
  private[graft] def pow12(e: Int): Long =
    (0 until e).foldLeft(1L)((a, _) => a * 12)

  val qs: Map[String, Q] = Map(

    // Product quantization (PQ) encoding — the compression member of the
    // ANN family (exact top-k / LSH / IVF / PQ): each 64-dim embedding is
    // split into 4 subspaces of 16 dims; each subspace is assigned its
    // nearest of 16 hash-derived centroids (argmin of squared L2,
    // tie-break by centroid id), compressing the vector to 4 small codes
    // (16 bytes -> 4 nibbles; asymmetric-distance search then scans codes,
    // not floats). Everything is stateless map-side expression math over
    // plan-time literal centroids — no shuffle, no state; at 100 TB the
    // encode pass is embarrassingly parallel and the codebook is bytes.
    // Distances sum (x-c)^2 in INDEX ORDER on both engines (Scala reduce /
    // DuckDB list_reduce), so d2 is bit-identical and the argmin —
    // hash-checked per row — must agree exactly.
    "q_similarity_pq" -> Q(
      fn = (s, d) => {
        val codes = VectorFunctions.pqEncode(
          transform(col("embedding"), _.cast(DoubleType)))
        Tables(s, d, "embeddings")
          .withColumn("codes", codes)
          .select(col("vec_id") +:
            (0 until 4).map(m => element_at(col("codes"), m + 1).as(s"code_$m")): _*)
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH dists AS (
          SELECT vec_id, m, k,
                 list_reduce(
                   list_transform(generate_series(0, 15), j ->
                     (CAST(embedding[m*16 + j + 1] AS DOUBLE)
                       - (CAST(md5_number_lower('pq-'||m||'-'||k||'-'||j) >> 11 AS DOUBLE)
                          / 4503599627370496.0 - 1.0))
                     * (CAST(embedding[m*16 + j + 1] AS DOUBLE)
                       - (CAST(md5_number_lower('pq-'||m||'-'||k||'-'||j) >> 11 AS DOUBLE)
                          / 4503599627370496.0 - 1.0))),
                   (a, b) -> a + b) AS d2
          FROM embeddings, range(4) t(m), range(16) u(k)),
        best AS (
          SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
            FROM dists)
          WHERE rn = 1)
        SELECT vec_id,
               MAX(CASE WHEN m = 0 THEN k END) AS code_0,
               MAX(CASE WHEN m = 1 THEN k END) AS code_1,
               MAX(CASE WHEN m = 2 THEN k END) AS code_2,
               MAX(CASE WHEN m = 3 THEN k END) AS code_3
        FROM best GROUP BY vec_id ORDER BY vec_id""")),

    // PQ asymmetric-distance search (ADC) — the end-to-end use of the PQ
    // codes: each query computes its per-(subspace, centroid) distance
    // table against the PLAN-TIME literal codebook (4x16 entries), then
    // every corpus vector is scored by 4 table lookups on its codes —
    // floats are never touched on the corpus side at query time, which is
    // the whole point of PQ at 100 TB (scan 2 B of codes, not 256 B of
    // floats; queries broadcast; top-k via rank pushdown). Exactness:
    // per-subspace partial sums then a left-assoc total reproduce the
    // identical rounding in DuckDB, so the full ranking (adc, vec_id) is
    // hash-checked, not just a recall bound.
    "q_similarity_pq_search" -> Q(
      fn = (s, d) => {
        val corpusCodes = Tables(s, d, "embeddings")
          .withColumn("codes", VectorFunctions.pqEncode(
            transform(col("embedding"), _.cast(DoubleType))))
          .select(col("vec_id") +:
            (0 until 4).map(m =>
              element_at(col("codes"), m + 1).as(s"code_$m")): _*)
        // the 4x16 distance table is computed ONCE per query row
        // (pq_dtable kernel), not per candidate pair; the pair expression
        // is 4 array lookups + 3 adds
        val queries = Tables(s, d, "embeddings").filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"),
            VectorFunctions.pqDtable(
              transform(col("embedding"), _.cast(DoubleType))).as("dt"))
        val adc = (0 until 4).map { m =>
          element_at(col("dt"),
            (lit(m * 16) + col(s"code_$m").cast(IntegerType) + 1))
        }.reduce(_ + _)
        // topk_pairs tail (asc = smaller ADC distance is better): ≤5 pairs
        // per (query, partition) reach the only exchange — no sort, no
        // full scored-relation shuffle.
        corpusCodes.join(broadcast(queries), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), adc.as("adc"), col("vec_id"))
          .groupBy("q_id")
          .agg(TopKAgg.topkPairs(col("adc"), col("vec_id"), 5, asc = true)
            .as("top"))
          .select(col("q_id"), posexplode(col("top")))
          .select(col("q_id"), (col("pos") + 1).cast(LongType).as("rnk"),
            col("col.id").as("vec_id"), col("col.score").as("adc"))
          .orderBy("q_id", "rnk", "vec_id")
      },
      oracle = Some("""
        WITH dists AS (
          SELECT vec_id, m, k,
                 list_reduce(
                   list_transform(generate_series(0, 15), j ->
                     (CAST(embedding[m*16 + j + 1] AS DOUBLE)
                       - (CAST(md5_number_lower('pq-'||m||'-'||k||'-'||j) >> 11 AS DOUBLE)
                          / 4503599627370496.0 - 1.0))
                     * (CAST(embedding[m*16 + j + 1] AS DOUBLE)
                       - (CAST(md5_number_lower('pq-'||m||'-'||k||'-'||j) >> 11 AS DOUBLE)
                          / 4503599627370496.0 - 1.0))),
                   (a, b) -> a + b) AS d2
          FROM embeddings, range(4) t(m), range(16) u(k)),
        codes AS (
          SELECT vec_id, m, k AS code FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
            FROM dists)
          WHERE rn = 1),
        qd AS (
          SELECT q.vec_id AS q_id, d.m, d.k,
                 list_reduce(
                   list_transform(generate_series(0, 15), j ->
                     (CAST(q.embedding[d.m*16 + j + 1] AS DOUBLE)
                       - (CAST(md5_number_lower('pq-'||d.m||'-'||d.k||'-'||j) >> 11 AS DOUBLE)
                          / 4503599627370496.0 - 1.0))
                     * (CAST(q.embedding[d.m*16 + j + 1] AS DOUBLE)
                       - (CAST(md5_number_lower('pq-'||d.m||'-'||d.k||'-'||j) >> 11 AS DOUBLE)
                          / 4503599627370496.0 - 1.0))),
                   (a, b) -> a + b) AS d2
          FROM (SELECT DISTINCT m, k FROM dists) d,
               (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q),
        scored AS (
          SELECT c0.q_id, c0.vec_id,
                 ((c0.d2 + c1.d2) + c2.d2) + c3.d2 AS adc
          FROM (SELECT qd.q_id, codes.vec_id, qd.d2 FROM codes
                JOIN qd ON qd.m = codes.m AND qd.k = codes.code
                WHERE codes.m = 0 AND codes.vec_id <> qd.q_id) c0
          JOIN (SELECT qd.q_id, codes.vec_id, qd.d2 FROM codes
                JOIN qd ON qd.m = codes.m AND qd.k = codes.code
                WHERE codes.m = 1) c1 ON c1.q_id = c0.q_id AND c1.vec_id = c0.vec_id
          JOIN (SELECT qd.q_id, codes.vec_id, qd.d2 FROM codes
                JOIN qd ON qd.m = codes.m AND qd.k = codes.code
                WHERE codes.m = 2) c2 ON c2.q_id = c0.q_id AND c2.vec_id = c0.vec_id
          JOIN (SELECT qd.q_id, codes.vec_id, qd.d2 FROM codes
                JOIN qd ON qd.m = codes.m AND qd.k = codes.code
                WHERE codes.m = 3) c3 ON c3.q_id = c0.q_id AND c3.vec_id = c0.vec_id),
        ranked AS (
          SELECT q_id, vec_id, adc,
                 rank() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rnk
          FROM scored)
        SELECT q_id, rnk, vec_id, adc FROM ranked WHERE rnk <= 5
        ORDER BY q_id, rnk, vec_id""")),

    // Exact top-5 cosine neighbors for query vectors (vec_id < 10), via the
    // codegen'd CosineSimilarity expression; tie-break by vec_id.
    "q_similarity_topk" -> Q(
      fn = (s, d) => exactTopK(s, Tables(s, d, "embeddings"), k = 5)
        .orderBy("q_id", "rnk", "vec_id"),
      oracle = Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        scored AS (
          SELECT q.q_id, e.vec_id,
                 list_dot_product(q.qv, e.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
          FROM q JOIN e ON e.vec_id <> q.q_id),
        ranked AS (
          SELECT q_id, vec_id, cos,
                 rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
          FROM scored)
        SELECT q_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 5
        ORDER BY q_id, rnk, vec_id""")),

    // Corpus-wide k-NN GRAPH (the graph-construction member of the
    // similarity family — the input to SemDeDup-style pruning, diversity
    // sampling, and hub detection, where q_similarity_topk answers ad-hoc
    // queries): every vector's exact top-3 cosine neighbors WITHIN its
    // label block, plus the `mutual` flag (reciprocated edges are what
    // agglomerative curation keeps). Label blocking is the same contract as
    // q_dedup_embed/q_dedup_semantic: candidate work is O(Σ|block|²),
    // bounded by block size, never corpus² — at 100 TB the label becomes an
    // IVF cell or LSH signature.
    //
    // Scale shape: ONE label-keyed exchange per join side; the rank window
    // partitions by (label, vec_id) so the label-hash partitioning already
    // satisfies its distribution (vec→label is functional — no second
    // corpus exchange, and WindowGroupLimit prunes to ≤k per vector before
    // the sort); the mutual join touches only the N·k edge relation.
    "q_knn_graph" -> Q(
      fn = (s, d) => knnGraph(Tables(s, d, "embeddings"), k = 3)
        .orderBy("vec_id", "rnk", "nbr_id"),
      oracle = Some("""
        WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        scored AS (
          SELECT a.label, a.vec_id, b.vec_id AS nbr_id,
                 list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))) AS cos
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
        ranked AS (
          SELECT label, vec_id, nbr_id, cos,
                 rank() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, nbr_id ASC) AS rnk
          FROM scored),
        edges AS (SELECT label, vec_id, rnk, nbr_id, cos
                  FROM ranked WHERE rnk <= 3)
        SELECT g.label, g.vec_id, CAST(g.rnk AS BIGINT) AS rnk, g.nbr_id,
               g.cos, (r.vec_id IS NOT NULL) AS mutual
        FROM edges g LEFT JOIN edges r
          ON r.vec_id = g.nbr_id AND r.nbr_id = g.vec_id
        ORDER BY g.vec_id, g.rnk, g.nbr_id""")),

    // ANN: multi-table random-hyperplane LSH over mdPlaneBanded (see annTopK
    // for the recall math). The driver-visible contract is the
    // boolean-validated form (same pattern as q_agg_approx_*): the ANN picks
    // are scored against the EXACT top-k (computed independently on both
    // engines), and the query emits one row of engine-independent anchors
    // (query count, min/max k-th exact cosine — raw doubles, order-
    // insensitive aggregates) plus `recall_ok` = mean recall >= 0.3. The
    // bucket bits themselves are cross-engine (q_ann_recall hash-checks the
    // same planes); the hash-checked per-pick form of this search is
    // q_knn_graph_ann. The floor is meaningful (random picks score
    // ~k/N ~= 0.005; measured mean is 0.80 @ sf0.001, 0.67 @ sf0.01,
    // 0.77 @ sf0.1) yet safe against per-query variance (individual
    // queries range 0..1).
    "q_similarity_ann" -> Q(
      fn = (s, d) => {
        val ann = annTopK(s, Tables(s, d, "embeddings"), k = 3)
          .select("q_id", "vec_id")
        val exact = exactTopK(s, Tables(s, d, "embeddings"), k = 3)
        val anchors = exact
          .groupBy("q_id").agg(max(when(col("rnk") === 3, col("cos"))).as("kth"))
          .agg(count(lit(1)).cast(LongType).as("n_queries"),
            min(col("kth")).as("min_kth_cos"), max(col("kth")).as("max_kth_cos"))
        val hits = ann.join(exact.select("q_id", "vec_id"),
            Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        anchors.crossJoin(hits)
          .select(col("n_queries"), col("min_kth_cos"), col("max_kth_cos"),
            (col("hits") / (col("n_queries") * 3.0) >= 0.3).as("recall_ok"))
      },
      oracle = Some(s"""
        WITH $exactTopKSql
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
               MIN(kth) AS min_kth_cos, MAX(kth) AS max_kth_cos,
               true AS recall_ok
        FROM (SELECT q_id, MAX(CASE WHEN rnk = 3 THEN cos END) AS kth
              FROM ranked WHERE rnk <= 3 GROUP BY q_id)""")),

    // ANN recall CALIBRATION (the q_dedup_minhash_audit analog for
    // hyperplane LSH): measured candidate recall vs the exact top-3 per
    // TABLE COUNT L ∈ {1,2,4,8} (5-bit tables), alongside the candidate
    // volume each L costs — the banding-decision table a production run
    // consults before committing an ANN geometry to 100 TB (theory gives
    // the per-plane collision S-curve; the actual recall/cost trade
    // depends on the corpus's similarity profile).
    //
    // The audit bands through mdPlaneBanded, the CROSS-ENGINE hash family,
    // so every bucket bit is reproduced in DuckDB and the whole table is
    // hash-checked: planes are ±1
    // sign-random-projections seeded by md5-lower-64 of "hp-<p>-<i>"
    // (constant-folded — data never feeds the plane hash), and vectors
    // are quantized to integers (⌊1000·x+0.5⌋) so the per-plane dot
    // product is EXACT integer arithmetic — no float-summation-order
    // divergence between engines, and quantization is part of the
    // operator contract (a legitimate SRP variant).
    //
    // Scale shape: one pass computes all 40 plane projections per vector
    // map-side (the signature kernel shape); the corpus shuffles only by
    // (table, bucket); the per-L expansion and hit join touch the
    // candidate relation, never corpus²; totals are 1-row broadcasts.
    "q_ann_recall" -> Q(
      fn = (s, d) => {
        val banded = mdPlaneBanded(
          Tables(s, d, "embeddings").select("vec_id", "embedding"),
          tables = 8, rowsPerTable = 5)
        val e = Tables(s, d, "embeddings").select(col("vec_id"))
        val queries = banded.filter(col("vec_id") < 10)
          .select(col("tbl"), col("bucket"), col("vec_id").as("q_id"))
        val collide = banded.join(queries, Seq("tbl", "bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy("q_id", "vec_id").agg(min(col("tbl")).as("ft"))
        val exact = exactTopK(s, Tables(s, d, "embeddings"), k = 3)
          .select(col("q_id"), col("vec_id"), lit(1L).as("is_hit"))
        val tot = exact.agg(count(lit(1)).as("n_exact"))
        val nq = e.filter(col("vec_id") < 10).agg(count(lit(1)).as("n_q"))
        collide
          .join(exact, Seq("q_id", "vec_id"), "left")
          .withColumn("n_tables", explode(lit(Array(1, 2, 4, 8))))
          .filter(col("ft") < col("n_tables"))
          .groupBy("n_tables")
          .agg(count(lit(1)).as("n_cand"),
            sum(coalesce(col("is_hit"), lit(0L))).as("n_hits"))
          .crossJoin(tot).crossJoin(nq)
          .select(col("n_tables").cast(LongType).as("n_tables"),
            col("n_cand"), col("n_hits"),
            (col("n_hits").cast(DoubleType) / col("n_exact")).as("recall"),
            (col("n_cand").cast(DoubleType) / col("n_q")).as("avg_cand"))
          .orderBy("n_tables")
      },
      oracle = Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        eq AS (SELECT vec_id,
                      list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS vq
               FROM e),
        dp AS (
          SELECT vec_id, p,
                 list_sum(list_transform(range(64), i ->
                   vq[i + 1] * CASE WHEN (md5_number_lower('hp-' || p || '-' || i) & 1) = 1
                                    THEN 1 ELSE -1 END)) AS dp
          FROM eq, (SELECT unnest(range(40)) AS p)),
        sig AS (
          SELECT vec_id, p // 5 AS tbl,
                 SUM(CASE WHEN dp >= 0 THEN (1 << (p % 5)) ELSE 0 END) AS bucket
          FROM dp GROUP BY vec_id, p // 5),
        coll AS (
          SELECT q.vec_id AS q_id, c.vec_id AS vec_id, MIN(c.tbl) AS ft
          FROM sig q JOIN sig c ON q.tbl = c.tbl AND q.bucket = c.bucket
          WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
          GROUP BY 1, 2),
        scored AS (
          SELECT q.vec_id AS q_id, c.vec_id,
                 list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
          FROM e q JOIN e c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 10),
        ranked AS (
          SELECT q_id, vec_id,
                 rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
          FROM scored),
        topk AS (SELECT q_id, vec_id FROM ranked WHERE rnk <= 3),
        expanded AS (
          SELECT cfg.L AS n_tables, coll.q_id, coll.vec_id,
                 CASE WHEN topk.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_hit
          FROM coll
          JOIN (SELECT unnest([1, 2, 4, 8]) AS L) cfg ON coll.ft < cfg.L
          LEFT JOIN topk ON topk.q_id = coll.q_id AND topk.vec_id = coll.vec_id)
        SELECT CAST(n_tables AS BIGINT) AS n_tables,
               CAST(COUNT(*) AS BIGINT) AS n_cand,
               CAST(SUM(is_hit) AS BIGINT) AS n_hits,
               CAST(SUM(is_hit) AS DOUBLE) /
                 (SELECT COUNT(*) FROM topk) AS recall,
               CAST(COUNT(*) AS DOUBLE) /
                 (SELECT COUNT(*) FROM e WHERE vec_id < 10) AS avg_cand
        FROM expanded GROUP BY n_tables ORDER BY n_tables""")),

    // Mutual-kNN clustering — the curation step the k-NN graph exists FOR:
    // connected components over the RECIPROCATED edge set (a↔b both in
    // each other's top-3). Mutual-kNN components are the standard
    // conservative cluster construction (one-directional edges chain hubs
    // into mega-clusters; mutual edges don't), used for near-dup group
    // review and diversity-preserving selection. Exemplar = min vec_id of
    // the component (the same survivor rule as q_dedup_cluster).
    //
    // Scale shape: the expensive stage is knnGraph (one label-keyed
    // corpus exchange, see q_knn_graph); everything here downstream runs
    // on the N·k EDGE relation — two-phase union-find (the
    // q_dedup_cluster kernel), sizes a |clusters|-row aggregate.
    "q_knn_clusters" -> Q(
      fn = (s, d) => {
        val g = knnGraph(Tables(s, d, "embeddings"), k = 3)
        val mutualEdges = g
          .filter(col("mutual") && col("vec_id") < col("nbr_id"))
          .select(col("vec_id").as("a"), col("nbr_id").as("b"))
        val cc = Dedup.connectedComponents(mutualEdges)
        val sizes = cc.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, Seq("lbl"))
          .select(col("id").as("vec_id"), col("lbl").as("cluster_id"),
            col("cluster_size"), (col("id") === col("lbl")).as("is_exemplar"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH RECURSIVE e AS (
          SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        scored AS (
          SELECT a.vec_id, b.vec_id AS nbr_id,
                 list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))) AS cos
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
        ranked AS (
          SELECT vec_id, nbr_id,
                 rank() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, nbr_id ASC) AS rnk
          FROM scored),
        g AS (SELECT vec_id, nbr_id FROM ranked WHERE rnk <= 3),
        mut AS (
          SELECT g.vec_id AS a, g.nbr_id AS b
          FROM g JOIN g r ON r.vec_id = g.nbr_id AND r.nbr_id = g.vec_id
          WHERE g.vec_id < g.nbr_id),
        sym AS (SELECT a, b FROM mut UNION SELECT b, a FROM mut),
        reach(id, r) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM sym)
          UNION
          SELECT reach.id, s.b FROM reach JOIN sym s ON s.a = reach.r),
        lab AS (SELECT id AS vec_id, MIN(r) AS cluster_id
                FROM reach GROUP BY id),
        sz AS (SELECT cluster_id, COUNT(*) AS cluster_size
               FROM lab GROUP BY cluster_id)
        SELECT l.vec_id, l.cluster_id, sz.cluster_size,
               (l.vec_id = l.cluster_id) AS is_exemplar
        FROM lab l JOIN sz USING (cluster_id)
        ORDER BY l.vec_id""")),

    // PageRank centrality over the k-NN graph — the HUB-DETECTION member
    // of the graph family (q_knn_graph's Scaladoc names hub detection as
    // a consumer; this is it): high-PR vectors sit in dense neighborhood
    // cores (over-represented modes a diversity-sampling pass
    // down-weights), low-PR vectors are periphery. The same centrality
    // the CommonCrawl-style curation stacks run on the domain link graph,
    // here on the similarity graph.
    //
    // INTEGER-EXACT power iteration (the cross-engine trick that makes an
    // iterative float algorithm hash-checkable): with damping d = 1/2 and
    // out-degrees ∈ {1,2,3} (top-3 edges), scaling round t by 12^t turns
    //   pr_t(v) = 1/2 + 1/2 · Σ_{u→v} pr_{t-1}(u)/out(u),  pr_0 = 1
    // into the all-integer recurrence
    //   P_t(v) = 6·12^(t-1) + Σ_{u→v} P_{t-1}(u) · (6 DIV out(u)),
    // P_0 = 1 — every contribution is a long, sums are order-free, and
    // the final pr = P_4/12^4 is ONE division of identical operands
    // (correctly rounded identically by both engines). Total mass is
    // conserved (Σpr_t = N), so P_4 ≤ N·12^4 — long-safe beyond sf100.
    //
    // Scale shape: the edge relation (N·k rows, checkpointed once) is all
    // any round touches — per round ONE dst-keyed exchange (the inflow
    // agg) plus a node-keyed left join; the corpus embeddings are read
    // exactly once to build the edges. 4 rounds = fixed small constant
    // (power iteration converges geometrically; rank ordering stabilizes
    // in a handful of rounds).
    "q_graph_pagerank" -> Q(
      fn = (s, d) => {
        val edges = Tables.checkpoint(
          knnEdges(Tables(s, d, "embeddings"), k = 3)
            .select(col("vec_id").as("src"), col("nbr_id").as("dst")))
        val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
        val ew = Tables.checkpoint(
          edges.join(deg, "src")
            .select(col("src"), col("dst"),
              expr("CAST(6 AS BIGINT) DIV outdeg").as("w")))
        val gens = new Tables.Generations
        var p = deg.select(col("src").as("vec_id"), lit(1L).as("p"))
        for (t <- 1 to pagerankIters) {
          val teleport = 6L * pow12(t - 1)
          val inflow = ew.join(p, ew("src") === p("vec_id"))
            .groupBy(ew("dst")).agg(sum(col("p") * col("w")).as("inflow"))
          p = gens.next(
            deg.select(col("src").as("vec_id"))
              .join(inflow, col("vec_id") === col("dst"), "left")
              .select(col("vec_id"),
                (lit(teleport) + coalesce(col("inflow"), lit(0L))).as("p")))
        }
        p.join(deg.select(col("src").as("vec_id"), col("outdeg")),
            Seq("vec_id"))
          .select(col("vec_id"), col("outdeg"), col("p").as("pr_scaled"),
            (col("p").cast(DoubleType) / lit(pow12(pagerankIters).toDouble))
              .as("pr"))
          .orderBy("vec_id")
      },
      oracle = Some(pagerankOracle(pagerankIters))),

    // Corpus-wide ANN k-NN graph — the 100-TB construction q_knn_graph's
    // label blocking stands in for: EVERY vector's top-3 cosine neighbors
    // among its hyperplane-LSH bucket colliders. The cross-engine
    // md5-seeded plane family (mdPlaneBanded) and the long-exact int16
    // cosine make the whole graph hash-checkable in DuckDB.
    //
    // Three scale invariants:
    //   1. GEOMETRY IS CORPUS-SIZED, not fixed: 8 tables of
    //      rowsPerTable = sizedRowsPerTable(N) bits each — the smallest
    //      r ≥ 5 with 2^r ≥ ⌈N/32⌉ — so RANDOM collisions stay ~32 per
    //      bucket at any corpus size, with no hand-tuned width. N is a
    //      plan-time statistics read (the count a production planner
    //      takes from table stats; geometry must be literal so the plane
    //      sign vectors constant-fold); the oracle re-derives r from
    //      COUNT(*) with an integer comparison ladder — no float log2.
    //   2. CANDIDATE LISTS ARE CAPPED at 64 per (table, bucket): on
    //      CLUSTERED data similar vectors collide by design at ANY bit
    //      width, so bucket population is Ω(cluster size) and the
    //      uncapped in-bucket explode measured 62× per decade on the
    //      sweep corpus. The capped scan (keep the 64 lowest vec_ids per
    //      bucket as candidates — every vector still PROBES its bucket)
    //      is the standard bounded-list ANN trade (IVF list caps /
    //      Manku-style hot-bucket truncation) and makes total pair work
    //      ≤ N·8·64 — a hard linear bound, deterministic and
    //      oracle-mirrorable (row_number by vec_id).
    //   3. VECTORS NEVER RIDE THE PAIR RELATION: the int16-quantized
    //      vectors (2 B/dim) travel once on the banding relation, cosine
    //      is scored IN the bucket join (codegen'd kernel, long-exact
    //      dots), and everything downstream — per-pair table dedup and
    //      the rank window — moves only (vec_id, nbr_id, cos_q) rows.
    //      cos_q is bit-exact cross-engine (integer dots ≪ 2^53, one
    //      double division). The exact-double re-rank lives in
    //      q_knn_graph; quantization is this operator's contract.
    //
    // Scale shape: one map pass computes all 8·rpt projections
    // (md_plane_dots kernel); ONE (tbl, bucket) exchange of
    // (ids + 128 B vq) rows; pair work hard-bounded by the cap; the whole
    // tail (cross-table pair dedup + per-vector top-3) is ONE
    // `topk_pairs` typed aggregate (TopKAgg.scala) — map-side partial
    // buffers of ≤3 pairs per vector, ZERO sorts, and the pair relation
    // itself never crosses an exchange (a dedup agg + rank-window tail
    // shuffles it once and sorts it twice: ~4× at sf100, BENCH_NOTES).
    "q_knn_graph_ann" -> Q(
      fn = (s, d) => knnGraphAnn(s, d, tables = 8, cap = 64),
      oracle = Some(knnGraphAnnOracle(tables = 8, cap = 64))),

    // SECOND ANN OPERATING POINT: the same k-NN graph at the CHEAP end of
    // the measured recall/cost curve — (tables, cap) resolved by [[annOperatingPoint]] from a 0.40 recall
    // target (q_ann_recall's calibrated L=4 row), pair work bounded by
    // N·4·32 = 1/4 of the flagship point's N·8·64. The decade sweep
    // measures both keys at sf10 so the cost curve is a table, not a
    // claim; the oracle re-derives the identical geometry from the same
    // integer ladder, so the cheap point stays hash-checked end to end.
    "q_knn_graph_ann_fast" -> Q(
      fn = (s, d) => {
        val (t, c) = annOperatingPoint(0.40)
        knnGraphAnn(s, d, tables = t, cap = c)
      },
      oracle = Some(knnGraphAnnOracle(tables = 4, cap = 32))),

    // IVF: coarse-quantize every vector to its nearest centroid cell; each
    // query probes only its `nprobe` closest cells. The codebook is
    // deterministic (first `nlist` vectors), so unlike the LSH path the
    // whole algorithm is plain relational algebra — the oracle re-runs IVF
    // itself in SQL (assign cells, probe top-nprobe cells, exact top-k
    // inside) and the result is hash-checked end to end.
    "q_similarity_ivf" -> Q(
      fn = (s, d) => ivfTopK(s, Tables(s, d, "embeddings"), k = 3,
          nlist = 16, nprobe = 4)
        .orderBy("q_id", "rnk", "vec_id"),
      oracle = Some("""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cb AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 16),
        acell AS (
          SELECT vec_id, cent_id,
                 rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS crnk
          FROM (SELECT e.vec_id, cb.cent_id,
                       list_dot_product(e.v, cb.cv) /
                         (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cb.cv, cb.cv))) AS ccos
                FROM e CROSS JOIN cb)),
        assigned AS (
          SELECT a.vec_id, a.cent_id, e.v
          FROM acell a JOIN e USING (vec_id) WHERE crnk = 1),
        qcell AS (
          SELECT q_id, cent_id, qv FROM (
            SELECT vec_id AS q_id, cent_id, v AS qv,
                   rank() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS crnk
            FROM (SELECT e.vec_id, cb.cent_id, e.v,
                         list_dot_product(e.v, cb.cv) /
                           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cb.cv, cb.cv))) AS ccos
                  FROM e CROSS JOIN cb WHERE e.vec_id < 10))
          WHERE crnk <= 4),
        scored AS (
          SELECT q.q_id, a.vec_id,
                 list_dot_product(q.qv, a.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cos
          FROM assigned a JOIN qcell q USING (cent_id)
          WHERE a.vec_id <> q.q_id),
        ranked AS (
          SELECT q_id, vec_id, cos,
                 rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
          FROM (SELECT DISTINCT q_id, vec_id, cos FROM scored))
        SELECT q_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 3
        ORDER BY q_id, rnk, vec_id""")),

    // INT8 scalar quantization — the simplest compression member of the
    // vector family (PQ's counterpart for on-disk embedding stores):
    // per-vector symmetric scale = max|x|/127, code_i = round(x_i/scale),
    // plus the reconstruction MSE as the quality metric. Stateless
    // map-side; every step is a single IEEE op on identical operands
    // (division, round-half-away, multiply) so codes are bit-exact
    // cross-engine and the error sum reduces left-assoc in index order.
    // A zero vector degrades to scale=0 / all-zero codes via an identical
    // CASE on both engines.
    "q_vector_quantize" -> Q(
      fn = (s, d) => {
        val v = transform(col("embedding"), _.cast(DoubleType))
        val scale = array_max(transform(col("embedding"), x => abs(x.cast(DoubleType)))) / lit(127.0)
        Tables(s, d, "embeddings")
          .select(col("vec_id"), v.as("v"), scale.as("scale"))
          .select(col("vec_id"), col("scale"),
            // Serialized codes (not raw array<bigint>): the correctness
            // harness cannot sort/hash list cells — q_agg_collect convention.
            concat_ws(",",
              when(col("scale") === 0.0, transform(col("v"), _ => lit(0L)))
                .otherwise(transform(col("v"),
                  x => round(x / col("scale")).cast(LongType)))
                .cast("array<string>")).as("codes"),
            r4(when(col("scale") === 0.0, lit(0.0)).otherwise(
              aggregate(transform(col("v"), x => {
                val e = x - round(x / col("scale")) * col("scale")
                e * e
              }), lit(0.0), (acc, e) => acc + e) / size(col("v")))).as("mse"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
          FROM embeddings)
        SELECT vec_id, scale,
               array_to_string(
                 CASE WHEN scale = 0.0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) END,
                 ',') AS codes,
               CAST(ROUND(CASE WHEN scale = 0.0 THEN 0.0 ELSE
                 list_reduce(list_transform(v,
                   x -> (x - round(x / scale) * scale) * (x - round(x / scale) * scale)),
                   (a, b) -> a + b) / len(v) END, 4) AS DOUBLE) AS mse
        FROM e ORDER BY vec_id""")),

    // Distributed Lloyd's k-means over the embedding corpus (k = 8, three
    // assign/update rounds, deterministic init = the 8 lowest vec_ids) —
    // the codebook TRAINER the IVF/PQ members of this family presuppose.
    // The 100-TB shape per round: broadcast the k centroids (bytes), assign
    // map-side (argmin of index-ordered squared L2, tie-break by centroid
    // id), recompute centroids with one (cluster, dim) hash agg — the
    // corpus is scanned once per round and never shuffled at row width.
    // Each round's 8-row centroid table is a checkpoint generation, so
    // round N+1 reads an RDD instead of re-executing round N's whole
    // lineage (the q_graph_triangles lesson), and the superseded
    // generation's blocks release immediately; the returned plan depends
    // only on the LIVE final checkpoint. Centroid means quantize to 6 dp
    // between rounds ON BOTH ENGINES, so cross-engine 1e-15 summation
    // drift cannot flip a later assignment. Output: per surviving cluster,
    // member count and mean in-cluster squared distance under the final
    // centroids, plus the centroid serialized as 1e6-scaled integers (the
    // q_agg_collect convention — integer serialization sidesteps
    // double-formatting divergence between the engines).
    "q_kmeans" -> Q(
      fn = (s, d) => {
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"), _.cast(DoubleType)).as("v"))
        val d2 = expr(
          "aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), 0D, (acc, z) -> acc + z)")
        def assign(centroids: DataFrame) =
          e.crossJoin(broadcast(centroids))
            .withColumn("d2", d2)
            .groupBy("vec_id")
            .agg(min(struct(col("d2"), col("cid"))).as("m"),
              first(col("v")).as("v"))
        val gens = new Tables.Generations
        var centroids = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("v").as("cv"))
        for (_ <- 1 to 3) {
          centroids = gens.next(assign(centroids)
            .select(col("m.cid").as("cid"), posexplode(col("v")).as(Seq("i", "x")))
            .groupBy("cid", "i").agg(avg(col("x")).as("mx"))
            .groupBy("cid")
            .agg(transform(array_sort(collect_list(struct(col("i"), col("mx")))),
              p => round(p.getField("mx"), 6)).as("cv")))
        }
        assign(centroids)
          .select(col("m.cid").as("cluster_id"), col("m.d2").as("d2"))
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_members"), r4(avg(col("d2"))).as("mean_d2"))
          .join(centroids.select(col("cid").as("cluster_id"),
            concat_ws(",", transform(col("cv"),
              x => round(x * 1000000).cast(LongType))).as("centroid")),
            Seq("cluster_id"))
          .orderBy("cluster_id")
      },
      oracle = Some(kmeansOracle)))

  /** DuckDB spelling of the same three-round Lloyd's iteration, unrolled:
    * assign rounds a1..a4 / update rounds c1..c3 mirror the Spark loop
    * exactly (same init, same index-ordered d2 fold, same (d2, cid)
    * tie-break, same 6 dp inter-round quantization). Generated rather than
    * hand-written so the per-round SQL cannot drift between rounds. */
  private def kmeansOracle: String = {
    def d2(v: String, cv: String) =
      s"list_reduce(list_transform(list_zip($v, $cv), s -> (s[1] - s[2]) * (s[1] - s[2])), (a, b) -> a + b)"
    def assign(a: String, c: String) = s"""$a AS (
          SELECT vec_id, v, cid, d2 FROM (
            SELECT e.vec_id, e.v, c.cid, ${d2("e.v", "c.cv")} AS d2,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${d2("e.v", "c.cv")} ASC, c.cid ASC) AS rn
            FROM e CROSS JOIN $c c) WHERE rn = 1)"""
    def update(c: String, a: String) = s"""$c AS (
          SELECT cid, list(ROUND(m, 6) ORDER BY i) AS cv FROM (
            SELECT cid, i, AVG(x) AS m FROM (
              SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS i FROM $a) z
            GROUP BY cid, i) zz GROUP BY cid)"""
    s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        ${assign("a1", "c0")},
        ${update("c1", "a1")},
        ${assign("a2", "c1")},
        ${update("c2", "a2")},
        ${assign("a3", "c2")},
        ${update("c3", "a3")},
        ${assign("a4", "c3")},
        stats AS (
          SELECT cid, COUNT(*) AS n_members,
                 CAST(ROUND(AVG(d2), 4) AS DOUBLE) AS mean_d2
          FROM a4 GROUP BY cid)
        SELECT s.cid AS cluster_id, s.n_members, s.mean_d2,
               array_to_string(list_transform(c3.cv,
                 x -> CAST(round(x * 1000000) AS BIGINT)), ',') AS centroid
        FROM stats s JOIN c3 ON s.cid = c3.cid
        ORDER BY cluster_id"""
  }

  /** Corpus-sized LSH table width: the smallest r ≥ 5 with 2^r ≥ ⌈n/32⌉,
    * capped at 16 — per-bucket population targets ~32 vectors at any
    * corpus size, which is what keeps the in-bucket pair explode linear
    * in n. Integer arithmetic only (a float ceil(log2(·)) could flip by
    * 1 ulp between engines at exact powers of two); [[sizedRptLadderSql]]
    * is the DuckDB spelling of the identical comparison ladder. */
  /** Shared k-NN-graph-by-hyperplane-LSH plan, parameterized on the ANN
    * operating point: `tables` hash tables of
    * corpus-sized bit width (sizedRowsPerTable — random collisions ~32 per
    * bucket at any N), candidate lists capped at `cap` per (table, bucket).
    * Total pair work is hard-bounded by N·tables·cap; recall is whatever
    * q_ann_recall's calibration table says the table count buys on THIS
    * corpus's similarity profile. Full scale rationale on the
    * q_knn_graph_ann registration comment above.
    */
  private def knnGraphAnn(
      s: SparkSession, d: String, tables: Int, cap: Int): DataFrame = {
    val emb = Tables(s, d, "embeddings")
    val rpt = sizedRowsPerTable(emb.count())
    val vq = emb.select(col("vec_id"),
      VectorFunctions.quantize16(col("embedding")).as("vq"))
    val banded = mdPlaneBanded(emb.select("vec_id", "embedding"),
        tables = tables, rowsPerTable = rpt)
      .join(vq, Seq("vec_id"))
    val capped = banded
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("tbl"), col("bucket"))
          .orderBy(col("vec_id").asc)))
      .filter(col("rn") <= cap)
      .select(col("tbl"), col("bucket"), col("vec_id").as("nbr_id"),
        col("vq").as("nvq"))
    banded
      .join(capped, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        VectorFunctions.cosineSimQ(col("vq"), col("nvq")).as("cos_q"))
      .groupBy("vec_id")
      .agg(TopKAgg.topkPairs(col("cos_q"), col("nbr_id"), 3).as("top"))
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("rnk"),
        col("col.id").as("nbr_id"), col("col.score").as("cos_q"))
      .orderBy("vec_id", "rnk", "nbr_id")
  }

  /** DuckDB mirror of [[knnGraphAnn]] for the same (tables, cap) point —
    * geometry re-derived from the same integer ladder, so every operating
    * point stays hash-checked. */
  private def knnGraphAnnOracle(tables: Int, cap: Int): String = s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        eq AS (SELECT vec_id,
                      list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS vq
               FROM e),
        geo AS (SELECT 5 $sizedRptLadderSql AS rpt
                FROM (SELECT (COUNT(*) + 31) // 32 AS m FROM e)),
        dp AS (
          SELECT vec_id, p,
                 list_sum(list_transform(range(64), i ->
                   vq[i + 1] * CASE WHEN (md5_number_lower('hp-' || p || '-' || i) & 1) = 1
                                    THEN 1 ELSE -1 END)) AS dp
          FROM eq, geo, (SELECT unnest(range(128)) AS p)
          WHERE p < $tables * geo.rpt),
        sig AS (
          SELECT vec_id, p // geo.rpt AS tbl,
                 SUM(CASE WHEN dp >= 0 THEN (1 << (p % geo.rpt)) ELSE 0 END) AS bucket
          FROM dp, geo GROUP BY vec_id, p // geo.rpt),
        sigc AS (
          SELECT tbl, bucket, vec_id FROM (
            SELECT tbl, bucket, vec_id,
                   row_number() OVER (PARTITION BY tbl, bucket
                                      ORDER BY vec_id ASC) AS rn
            FROM sig) WHERE rn <= $cap),
        nrm AS (SELECT vec_id, vq,
                       list_sum(list_transform(vq, t -> t * t)) AS n2
                FROM eq),
        coll AS (
          SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr_id
          FROM sig a JOIN sigc b ON a.tbl = b.tbl AND a.bucket = b.bucket
          WHERE a.vec_id <> b.vec_id),
        scored AS (
          SELECT c.vec_id, c.nbr_id,
                 CASE WHEN x.n2 = 0 OR y.n2 = 0 THEN 0.0
                      ELSE CAST(list_sum(list_transform(list_zip(x.vq, y.vq),
                             s -> s[1] * s[2])) AS DOUBLE) /
                           (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE)))
                 END AS cos_q
          FROM coll c
          JOIN nrm x ON x.vec_id = c.vec_id
          JOIN nrm y ON y.vec_id = c.nbr_id),
        ranked AS (
          SELECT vec_id, nbr_id, cos_q,
                 rank() OVER (PARTITION BY vec_id
                              ORDER BY cos_q DESC, nbr_id ASC) AS rnk
          FROM scored)
        SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, nbr_id, cos_q
        FROM ranked WHERE rnk <= 3
        ORDER BY vec_id, rnk, nbr_id"""

  /** Target recall → (tables, candidate cap), resolved against
    * q_ann_recall's MEASURED calibration table rather than LSH theory
    * — the recall/cost trade is a parameter, not the fixed price of ~0.6
    * recall (912.9 s at sf100). Measured on the sf0.1 corpus (2000
    * vectors, 5-bit tables, engine-computed and DuckDB-verified):
    *
    *   tables L :  1      2      4      8
    *   recall@3 :  0.100  0.233  0.400  0.633
    *   avg cand :  71.6   138.7  257.8  467.2
    *
    * The cap scales with L (cap = 8·L) so the per-vector candidate bound
    * tables·cap shrinks quadratically toward the cheap end — at target
    * 0.40 the bound is 4·32 = 1/4 of the 0.63-point's 8·64. Targets above
    * the calibrated maximum saturate at the (8, 64) flagship point; a
    * deployment wanting more recall adds tables/bits and re-runs the
    * q_ann_recall calibration, it doesn't extrapolate.
    */
  def annOperatingPoint(targetRecall: Double): (Int, Int) = {
    // (calibrated recall, tables): the smallest table count whose measured
    // recall meets the target.
    val ladder = Seq((0.100, 1), (0.233, 2), (0.400, 4), (0.633, 8))
    val t = ladder.find(_._1 >= targetRecall).map(_._2).getOrElse(8)
    (t, 8 * t)
  }

  private[graft] def sizedRowsPerTable(n: Long, targetBucket: Long = 32L): Int = {
    val m = (n + targetBucket - 1) / targetBucket
    var r = 5
    while (r < 16 && (1L << r) < m) r += 1
    r
  }

  /** SQL fragment computing the same r from a column `m` = ⌈n/32⌉:
    * `5 + Σ_{j=5..15} [m > 2^j]` — identical to the while loop above.
    * Shared with q_dedup_semantic's oracle (seed-banding geometry). */
  private[graft] def sizedRptLadderSql: String =
    (5 to 15).map(j => s"+ (CASE WHEN m > ${1L << j} THEN 1 ELSE 0 END)")
      .mkString(" ")

  /** The one LSH banding of the similarity and dedup code: every row of
    * `embeddings` under the cross-engine ±1 sign-random-projection family
    * (planes seeded by md5-lower-64 of "hp-<p>-<i>", constant-folded;
    * vectors integer-quantized to ⌊1000·x+0.5⌋ so the per-plane dot
    * product is exact integer arithmetic), each at its own array width.
    * All `tables × rowsPerTable` projections are computed in ONE map
    * pass. One output row per
    * (vector, table): the caller's columns other than `embedding`, plus
    * `tbl` and `bucket` — id-only (3 longs) for a `(vec_id, embedding)`
    * input. */
  private[graft] def mdPlaneBanded(embeddings: DataFrame,
      tables: Int, rowsPerTable: Int): DataFrame = {
    val planes = tables * rowsPerTable
    val kept = embeddings.columns.filter(_ != "embedding").map(col).toSeq
    // All projections in ONE codegen'd kernel pass (md_plane_dots): the
    // same dots spelled as aggregate ∘ zip_with over literal ±1 arrays
    // never enter codegen (higher-order functions are interpreted) and
    // cost planes×dims lambda dispatches per row (~1.5 s of every sf0.1
    // banding query). The kernel's sign table derives from the same
    // md5Lower64("hp-p-i") & 1 family the DuckDB oracles replicate.
    val e = embeddings.select(kept :+
      VectorFunctions.mdPlaneDots(col("embedding"), planes).as("dps"): _*)
    // One bucket expression of rowsPerTable terms, indexed by the exploded
    // table number. Spelled per table with literal indices, the banding is
    // tables × rowsPerTable CASE terms that every plan and AQE re-plan of
    // every join side walks: at 12 × 5 that planned annTopK ~40 ms slower.
    val bucket = (0 until rowsPerTable).map { j =>
      when(element_at(col("dps"), col("tbl") * rowsPerTable + (j + 1)) >= 0,
        lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    e.select(kept ++ Seq(col("dps"), explode(lit((0 until tables).toArray)).as("tbl")): _*)
      .select(kept ++ Seq(col("tbl"), bucket.as("bucket")): _*)
  }

  /** Ranked within-label k-NN edges (the expensive stage of q_knn_graph).
    * The rank window partitions by (label, vec_id): the label-keyed join
    * partitioning already satisfies that distribution (vec→label is
    * functional), so no second corpus exchange is planned, and the
    * rank ≤ k filter plans a WindowGroupLimit below the sort — PlanSpec
    * pins both. */
  private[graft] def knnEdges(embeddings: DataFrame, k: Int): DataFrame = {
    val e = embeddings
      .select(col("label"), col("vec_id"),
        transform(col("embedding"), _.cast(DoubleType)).as("v"))
    val nbrs = e.select(col("label"), col("vec_id").as("nbr_id"),
      col("v").as("nv"))
    // topk_pairs tail (TopKAgg.scala): grouping by (label, vec_id) is
    // already satisfied by the join's label-hash partitioning, so the
    // whole top-k costs ZERO extra exchanges AND zero sorts (a rank window
    // would sort the full pair relation per partition before
    // WindowGroupLimit could prune).
    e.join(nbrs, Seq("label"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("label"), col("vec_id"),
        VectorFunctions.cosineSim(col("v"), col("nv")).as("cos"), col("nbr_id"))
      .groupBy("label", "vec_id")
      .agg(TopKAgg.topkPairs(col("cos"), col("nbr_id"), k).as("top"))
      .select(col("label"), col("vec_id"), posexplode(col("top")))
      .select(col("label"), col("vec_id"),
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("col.id").as("nbr_id"), col("col.score").as("cos"))
  }

  /** Within-label exact k-NN graph with mutual flags (see q_knn_graph).
    * The edge relation is checkpointed ONCE: without it the mutual
    * self-join replans the whole join+window subtree for the reversed side
    * (ReusedExchange saves only the shuffles — the in-label pair scoring,
    * the most expensive stage, would execute twice). */
  private[graft] def knnGraph(embeddings: DataFrame, k: Int): DataFrame = {
    val edges = Tables.checkpoint(knnEdges(embeddings, k))
    val rev = edges.select(col("nbr_id").as("r_vec"),
      col("vec_id").as("r_nbr"))
    edges.join(rev,
        edges("vec_id") === rev("r_vec") &&
          edges("nbr_id") === rev("r_nbr"), "left")
      .select(col("label"), col("vec_id"), col("rnk"), col("nbr_id"),
        col("cos"), col("r_vec").isNotNull.as("mutual"))
  }

  /** Exact brute-force cosine top-k for the query set (vec_id < 10) —
    * the ground truth the approximate paths are validated against.
    * Broadcast query set, map-side scoring, per-query rank. */
  private def exactTopK(spark: SparkSession, embeddings: DataFrame, k: Int): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // topk_pairs tail: the map-side nested loop reduces to ≤k pairs per
    // (query, partition) BEFORE the only exchange — a rank window would
    // shuffle the full N·|queries| scored relation to |queries|
    // partitions and sort it there.
    e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        VectorFunctions.cosineSim(col("qv"), col("v")).as("cos"), col("vec_id"))
      .groupBy("q_id")
      .agg(TopKAgg.topkPairs(col("cos"), col("vec_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("vec_id"),
        col("col.score").as("cos"), (col("pos") + 1).cast(LongType).as("rnk"))
  }

  /** Unrolled integer-exact PageRank oracle (q_graph_pagerank): the
    * q_knn_graph edge CTEs, then `iters` rounds of the scaled recurrence
    * P_t = 6·12^(t-1) + Σ_in P_{t-1}·(6 // outdeg). DuckDB's SUM(BIGINT)
    * widens to HUGEINT, so every round re-casts to BIGINT (values are
    * long-safe by the mass-conservation bound). */
  private def pagerankOracle(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      val teleport = 6L * pow12(t - 1)
      s"""p$t AS (SELECT d.src AS vec_id,
                  CAST($teleport + COALESCE(SUM(p${t - 1}.p * ew.w), 0)
                    AS BIGINT) AS p
           FROM deg d
           LEFT JOIN ew ON ew.dst = d.src
           LEFT JOIN p${t - 1} ON p${t - 1}.vec_id = ew.src
           GROUP BY d.src)"""
    }.mkString(",\n        ")
    val scale = pow12(iters)
    s"""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        scored AS (
          SELECT a.vec_id, b.vec_id AS nbr_id,
                 list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))) AS cos
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
        ranked AS (
          SELECT vec_id, nbr_id,
                 rank() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, nbr_id ASC) AS rnk
          FROM scored),
        edges AS (SELECT vec_id AS src, nbr_id AS dst FROM ranked
                  WHERE rnk <= 3),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
                FROM edges GROUP BY src),
        ew AS (SELECT e.src, e.dst, 6 // d.outdeg AS w
               FROM edges e JOIN deg d ON d.src = e.src),
        p0 AS (SELECT src AS vec_id, CAST(1 AS BIGINT) AS p FROM deg),
        $rounds
        SELECT p$iters.vec_id, d.outdeg, p$iters.p AS pr_scaled,
               CAST(p$iters.p AS DOUBLE) / $scale.0 AS pr
        FROM p$iters JOIN deg d ON d.src = p$iters.vec_id
        ORDER BY vec_id"""
  }

  /** Shared oracle fragment: exact cosine ranking of the full corpus
    * against the query set, as DuckDB SQL (CTE bodies `e`,`q`,`scored`,
    * `ranked`). */
  private def exactTopKSql: String = """e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        scored AS (
          SELECT q.q_id, e.vec_id,
                 list_dot_product(q.qv, e.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
          FROM q JOIN e ON e.vec_id <> q.q_id),
        ranked AS (
          SELECT q_id, vec_id, cos,
                 rank() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rnk
          FROM scored)"""

  /** IVF-style ANN: a deterministic coarse quantizer (here: the first
    * `nlist` vectors as the codebook; on a real corpus a KMeans-trained
    * codebook, still tiny and broadcast) assigns every vector to its
    * highest-cosine cell. A query probes its `nprobe` closest cells and
    * runs exact cosine top-k inside them — scanning ~nprobe/nlist of the
    * corpus. Centroid assignment is a broadcast nested-loop against the
    * codebook (no shuffle of the corpus); the probe join shuffles only by
    * cell id.
    */
  def ivfTopK(spark: SparkSession, embeddings: DataFrame, k: Int,
      nlist: Int, nprobe: Int): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), transform(col("embedding"), _.cast(DoubleType)).as("v"))
    val codebook = broadcast(e.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cent_id"), col("v").as("cv")))

    // Cell assignment via topk_pairs (TopKAgg.scala): the broadcast
    // nested loop reduces to one ≤n-cell buffer per point map-side (a
    // rank window would exchange the N·nlist scored relation and sort
    // it); the vector rides the aggregate as first() — groupwise
    // constant — instead of a second join back to the corpus.
    def nearestCells(points: DataFrame, idCol: String, vecCol: String, n: Int) =
      points.crossJoin(codebook)
        .select(col(idCol), col(vecCol),
          VectorFunctions.cosineSim(col(vecCol), col("cv")).as("__ccos"),
          col("cent_id"))
        .groupBy(idCol)
        .agg(TopKAgg.topkPairs(col("__ccos"), col("cent_id"), n).as("__top"),
          first(col(vecCol)).as(vecCol))
        .select(col(idCol), col(vecCol),
          explode(col("__top").getField("id")).as("cent_id"))

    val assigned = nearestCells(e, "vec_id", "v", 1)
    val queries = nearestCells(
      e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv")),
      "q_id", "qv", nprobe)
      .select(col("cent_id"), col("q_id"), col("qv"))

    assigned.join(queries, Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        VectorFunctions.cosineSim(col("qv"), col("v")).as("cos"), col("vec_id"))
      .groupBy("q_id")
      .agg(TopKAgg.topkPairs(col("cos"), col("vec_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("vec_id"),
        col("col.score").as("cos"), (col("pos") + 1).cast(LongType).as("rnk"))
  }

  /** Multi-TABLE random-hyperplane LSH (the standard cosine-ANN
    * construction) over [[mdPlaneBanded]]: L = 12 independent tables of
    * b = 5 planes each. A neighbor at angle θ shares a vector's bucket in
    * at least one table with probability 1 − (1 − (1−θ/π)^b)^L. The table
    * geometry is sized to the corpus's actual similarity profile: its
    * nearest neighbors sit at cos ≈ 0.33 (θ≈71°, collision p≈0.61/plane),
    * so 8-plane tables give p⁸≈0.02 and near-zero recall no matter how
    * many tables; 5-plane × 12 tables gives 1−(1−0.61⁵)¹²≈0.64 while
    * scanning ~12/32 of the corpus — the honest LSH trade at weak
    * similarity (measured recall@3: 0.80 / 0.67 / 0.77 at sf0.001 /
    * sf0.01 / sf0.1). Dedup-grade cos≥0.9 neighbors would recall ≈1 with
    * the same geometry. The corpus is banded once and joins the (tiny,
    * broadcast) query buckets on (tbl, bucket); the query rows are a
    * filter of that same banded frame. The 64-dim double vectors ride the
    * banding explode (512 bytes); at real embedding width band ids only
    * and join vectors back per candidate (see minHashDedup). */
  def annTopK(spark: SparkSession, embeddings: DataFrame, k: Int): DataFrame = {
    val corpus = mdPlaneBanded(
      embeddings.select(col("vec_id"), col("embedding"),
        transform(col("embedding"), _.cast(DoubleType)).as("v")),
      tables = 12, rowsPerTable = 5)
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("tbl"), col("bucket"), col("vec_id").as("q_id"), col("v").as("qv"))
    // topk_pairs tail: a candidate found by several tables collapses inside
    // the aggregate (per-id dedup), so the cross-table dedup and the
    // per-query rank cost no exchange or sort beyond the one aggregation.
    corpus.join(queries, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        VectorFunctions.cosineSim(col("qv"), col("v")).as("cos"), col("vec_id"))
      .groupBy("q_id")
      .agg(TopKAgg.topkPairs(col("cos"), col("vec_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("vec_id"),
        col("col.score").as("cos"), (col("pos") + 1).cast(LongType).as("rnk"))
  }
}
