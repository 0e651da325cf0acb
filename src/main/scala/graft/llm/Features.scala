package graft.llm

import graft.{Q, Tables}
import graft.Q._
import graft.functions.{TopKAgg, VectorFunctions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Feature-engineering operators — the bridge from curated corpus to model
  * input: hashing-trick sparse features, smoothed target encoding, and
  * per-dimension embedding health stats.
  *
  * The reference (jiazhi110/Top-produce-ETL) stops at the ranked rollup
  * (`config/config_dev.yaml:10-13`); these are the §2.6 extension queries
  * that turn the same tables into trainable features. Determinism contract
  * as everywhere (Q.scala): cross-engine-identical hashing (md5-lower-64 ==
  * DuckDB md5_number_lower), exact integer/decimal sufficient statistics,
  * doubles only in final single-expression emissions.
  */
object Features {

  val qs: Map[String, Q] = Map(

    // Hashing-trick featurization (Weinberger et al. 2009): token →
    // md5-lower-64 → one of 64 buckets; per-doc bucket counts are the
    // sparse feature vector. Collisions are the accepted trade for a FIXED
    // feature space with no vocabulary build, no dictionary broadcast, no
    // OOV path — the property that matters when the corpus is 100 TB and
    // the vocabulary would not fit an executor.
    //
    // Scale shape: explode + one (doc, bucket) hash agg — map-side
    // combine bounds the exchange by docs × 64, not token volume.
    // Cross-engine: the bucket is (md5-lower-64 >> 11) % 64 — both engines
    // shift into the positive 2^53 range first (q_sample_reservoir
    // convention), so signed-% can't diverge.
    "q_feature_hashing" -> Q(
      fn = (s, d) => {
        Tables(s, d, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("token"))
          .select(col("doc_id"),
            (shiftrightunsigned(
              graft.functions.VectorFunctions.md5Lower(col("token")), 11)
              % 64).as("bucket"))
          .groupBy("doc_id", "bucket")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("doc_id", "bucket")
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                   FROM documents),
        b AS (SELECT doc_id,
                     CAST(md5_number_lower(token) >> 11 AS BIGINT) % 64 AS bucket
              FROM t)
        SELECT doc_id, bucket, COUNT(*) AS cnt
        FROM b GROUP BY doc_id, bucket ORDER BY doc_id, bucket""")),

    // Smoothed target encoding of p_brand against lineitem revenue
    // (m-estimate, m=20 pseudo-observations of the global mean): the
    // category feature every gradient-boosted model wants, computed
    // leakage-aware at the aggregate level. High-volume brands converge to
    // their own mean; thin brands shrink toward the global mean instead of
    // memorizing noise.
    //
    // Scale shape: ONE fact pass to per-brand exact DECIMAL (sum, n)
    // partials (dim join broadcast); the global mean is a rollup of the
    // 25-row brand relation, broadcast back. Every emitted double is one
    // scalar expression over exact decimal/long inputs, identically
    // parenthesized in the oracle.
    "q_target_encoding" -> Q(
      fn = (s, d) => {
        val dim = Tables(s, d, "part").select(col("p_partkey"), col("p_brand"))
        val perBrand = Tables(s, d, "lineitem")
          .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(sum(revenue).as("srev"), count(lit(1)).as("n"))
        val glob = perBrand.agg(
          sum(col("srev")).as("gs"), sum(col("n")).as("gn"))
        val gmean = col("gs").cast(DoubleType) / col("gn").cast(DoubleType)
        perBrand.crossJoin(broadcast(glob))
          .select(
            col("p_brand"), col("n"),
            r4(col("srev").cast(DoubleType) / col("n").cast(DoubleType))
              .as("raw_mean"),
            r4((col("srev").cast(DoubleType) + lit(20.0) * gmean) /
              (col("n").cast(DoubleType) + lit(20.0))).as("enc"))
          .orderBy("p_brand")
      },
      oracle = Some(s"""
        WITH pb AS (SELECT p_brand,
                           SUM(${revenueSql}) AS srev,
                           COUNT(*) AS n
                    FROM lineitem JOIN part ON l_partkey = p_partkey
                    GROUP BY p_brand),
        g AS (SELECT SUM(srev) AS gs, SUM(n) AS gn FROM pb)
        SELECT p_brand, n,
               CAST(ROUND(CAST(srev AS DOUBLE) / CAST(n AS DOUBLE), 4)
                    AS DOUBLE) AS raw_mean,
               CAST(ROUND((CAST(srev AS DOUBLE) +
                           20.0 * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE))) /
                          (CAST(n AS DOUBLE) + 20.0), 4) AS DOUBLE) AS enc
        FROM pb, g ORDER BY p_brand""")),

    // Per-dimension embedding health stats (dead/low-variance dimension
    // detector — the pre-ANN audit: a dimension whose std ~ 0 wastes index
    // bits and distorts cosine): mean/std/min/max for each of the 64 dims.
    //
    // Scale shape: posexplode + one dim-keyed hash agg — map-side combine
    // bounds the exchange at 64 × partitions rows regardless of corpus
    // size. Sufficient statistics are EXACT: float32→double is exact, the
    // 1e7-scaled values are exact longs, and Σx/Σx² accumulate as
    // DECIMAL(38,0) (a long Σx² would overflow past ~10⁵ vectors; decimal
    // adds are exact and order-independent). Mean/std are single final
    // expressions; min/max are selected inputs.
    "q_embedding_dim_stats" -> Q(
      fn = (s, d) => {
        val v7 = round(col("v") * 1e7).cast(DecimalType(38, 0))
        Tables(s, d, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("pos", "v")))
          .select((col("pos") + 1).cast(LongType).as("dim"),
            col("v").cast(DoubleType).as("v"))
          .groupBy("dim")
          .agg(
            count(lit(1)).as("n"),
            sum(v7).as("s1"),
            sum((v7 * v7).cast(DecimalType(38, 0))).as("s2"),
            min(col("v")).as("vmin"), max(col("v")).as("vmax"))
          .select(
            col("dim"), col("n"),
            r4(col("s1").cast(DoubleType) /
              (col("n").cast(DoubleType) * 1e7)).as("mean"),
            r4(sqrt(greatest(lit(0.0),
              col("s2").cast(DoubleType) / (col("n").cast(DoubleType) * 1e14) -
                (col("s1").cast(DoubleType) /
                  (col("n").cast(DoubleType) * 1e7)) *
                (col("s1").cast(DoubleType) /
                  (col("n").cast(DoubleType) * 1e7))))).as("std"),
            r4(col("vmin")).as("vmin"), r4(col("vmax")).as("vmax"))
          .orderBy("dim")
      },
      oracle = Some("""
        WITH x AS (SELECT gs.i AS dim,
                          CAST(embedding[gs.i] AS DOUBLE) AS v
                   FROM embeddings, generate_series(1, 64) gs(i)),
        sc AS (SELECT dim, v,
                      CAST(ROUND(v * 1e7) AS DECIMAL(38,0)) AS v7
               FROM x),
        agg AS (SELECT dim, COUNT(*) AS n,
                       SUM(v7) AS s1,
                       SUM(CAST(v7 * v7 AS DECIMAL(38,0))) AS s2,
                       MIN(v) AS vmin, MAX(v) AS vmax
                FROM sc GROUP BY dim)
        SELECT CAST(dim AS BIGINT) AS dim, n,
               CAST(ROUND(CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e7), 4)
                    AS DOUBLE) AS mean,
               CAST(ROUND(SQRT(GREATEST(0.0,
                 CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e14) -
                 (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e7)) *
                 (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e7)))), 4)
                    AS DOUBLE) AS std,
               CAST(ROUND(vmin, 4) AS DOUBLE) AS vmin,
               CAST(ROUND(vmax, 4) AS DOUBLE) AS vmax
        FROM agg ORDER BY dim""")),

    // Positional n-gram profile via the custom Catalyst Generator
    // (VectorFunctions.ShingleGenerate — the §7.2 UDTF-class stretch
    // goal): top-30 trigrams by total frequency with document frequency
    // alongside. The generator streams one (pos, shingle) row at a time —
    // no intermediate shingle array per document — and, unlike the
    // shingle_set path the dedup family uses, preserves duplicates and
    // positions (what positional n-gram LMs consume).
    //
    // Scale shape: generate + one hash agg (map-side combined) + top-30
    // TakeOrdered; the (tf DESC, shingle) sort key is a total order
    // because shingle is the group key.
    "q_text_shingle_profile" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          WITH sh AS (
            SELECT doc_id, s.shingle
            FROM documents
            LATERAL VIEW shingle_gen(split(text, ' '), 3) s AS pos, shingle)
          SELECT shingle, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
          FROM sh GROUP BY shingle
          ORDER BY tf DESC, shingle LIMIT 30""")
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        ix AS (SELECT doc_id, toks,
                      unnest(generate_series(1, len(toks) - 2)) AS i
               FROM t WHERE len(toks) >= 3),
        sh AS (SELECT doc_id,
                      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
               FROM ix)
        SELECT shingle, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM sh GROUP BY shingle
        ORDER BY tf DESC, shingle LIMIT 30""")),

    // Johnson–Lindenstrauss random projection: 64-dim embeddings → 8
    // dims through a deterministic ±1 sign matrix (Achlioptas 2003 —
    // database-friendly projections; sign(i,j) derives from
    // md5-lower-64 of "proj-i-j", so the matrix needs no storage, no
    // broadcast of learned state, and regenerates identically anywhere).
    // The dimensionality-reduction front door for the ANN family: cuts
    // index build cost ~8× while approximately preserving distances.
    //
    // Determinism: inputs quantize to integers (floor(x·1e6) — float→
    // double cast and the multiply are IEEE-identical cross-engine), so
    // every projection is an exact BIGINT dot product EMITTED IN
    // MICRO-UNITS — no float leaves the query. (A /1e6 + round(4) emission
    // was tried first and hit a genuine half-way case: micro-unit sums
    // ending in …50 sit exactly on the 4dp rounding boundary, where the
    // engines' ROUND need not agree.) Scale shape: posexplode + ONE
    // map-side-combined hash agg keyed by vec_id; the 64×8 sign matrix
    // joins as a broadcast — no corpus shuffle beyond the vec_id agg.
    "q_embed_project" -> Q(
      fn = (s, d) => {
        val K = 8
        val signs = s.range(64).toDF("j").crossJoin(s.range(K).toDF("i"))
          .select(col("j"), col("i"),
            ((shiftrightunsigned(graft.functions.VectorFunctions.md5Lower(
              concat(lit("proj-"), col("i").cast(StringType), lit("-"),
                col("j").cast(StringType))), 11) % 2) * 2 - 1).as("sgn"))
        val ex = Tables(s, d, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "x")))
          .select(col("vec_id"), col("j"),
            floor(col("x").cast(DoubleType) * 1e6).cast(LongType).as("xi"))
        val ys = (0 until K).map(i =>
          sum(when(col("i") === i, col("sgn") * col("xi")).otherwise(0L))
            .as(s"y${i}_u"))
        ex.join(broadcast(signs), "j")
          .groupBy("vec_id")
          .agg(ys.head, ys.tail: _*)
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH x AS (
          SELECT vec_id, unnest(range(len(embedding))) AS j,
                 unnest(embedding) AS x
          FROM embeddings),
        xi AS (
          SELECT vec_id, j,
                 CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xi
          FROM x),
        signs AS (
          SELECT j.j, i.i,
                 (CAST(md5_number_lower(
                    'proj-' || i.i || '-' || j.j) >> 11 AS BIGINT) % 2)
                   * 2 - 1 AS sgn
          FROM range(64) j(j), range(8) i(i))
        SELECT vec_id,
               CAST(SUM(CASE WHEN i = 0 THEN sgn * xi ELSE 0 END)
                 AS BIGINT) AS y0_u,
               CAST(SUM(CASE WHEN i = 1 THEN sgn * xi ELSE 0 END)
                 AS BIGINT) AS y1_u,
               CAST(SUM(CASE WHEN i = 2 THEN sgn * xi ELSE 0 END)
                 AS BIGINT) AS y2_u,
               CAST(SUM(CASE WHEN i = 3 THEN sgn * xi ELSE 0 END)
                 AS BIGINT) AS y3_u,
               CAST(SUM(CASE WHEN i = 4 THEN sgn * xi ELSE 0 END)
                 AS BIGINT) AS y4_u,
               CAST(SUM(CASE WHEN i = 5 THEN sgn * xi ELSE 0 END)
                 AS BIGINT) AS y5_u,
               CAST(SUM(CASE WHEN i = 6 THEN sgn * xi ELSE 0 END)
                 AS BIGINT) AS y6_u,
               CAST(SUM(CASE WHEN i = 7 THEN sgn * xi ELSE 0 END)
                 AS BIGINT) AS y7_u
        FROM xi JOIN signs ON xi.j = signs.j
        GROUP BY vec_id ORDER BY vec_id""")),

    // Time-lagged feature table: per (user, active day), the features a
    // churn/propensity model trains on — yesterday's spend, the spend a
    // week ago, and the trailing-7-day total and active-day count. Lags
    // are DAY-indexed (RANGE frames over the integer dayno), not
    // row-indexed: a lag(1) row offset would silently fetch whatever the
    // user's previous ACTIVE day was, which is a different feature.
    // sum() over an empty range frame is NULL → coalesce to the true 0.
    //
    // Determinism: spend in exact cent longs; day counts are exact; the
    // only division is none — features emit as cents. Scale shape: ONE
    // corpus exchange — the user repartition is shared by the daily
    // rollup and all three RANGE windows (same partitioning + ordering,
    // one sort); the q_interpolate pattern.
    "q_feature_lags" -> Q(
      fn = (s, d) => {
        val epoch = lit("1970-01-01").cast(DateType)
        val daily = Tables(s, d, "events")
          .filter(col("event_type") === "purchase")
          .repartition(col("user_id"))
          .groupBy(col("user_id"),
            datediff(to_date(col("ts")), epoch).as("dayno"))
          .agg((sum(dec2(col("value"))) * 100).cast(LongType).as("cents"))
        val w = Window.partitionBy("user_id").orderBy("dayno")
        daily
          .withColumn("lag1_cents",
            coalesce(sum(col("cents")).over(w.rangeBetween(-1, -1)), lit(0L)))
          .withColumn("lag7_cents",
            coalesce(sum(col("cents")).over(w.rangeBetween(-7, -7)), lit(0L)))
          .withColumn("trail7_cents",
            sum(col("cents")).over(w.rangeBetween(-6, 0)))
          .withColumn("trail7_days",
            count(lit(1)).over(w.rangeBetween(-6, 0)))
          .select(col("user_id"),
            date_add(epoch, col("dayno")).as("day"), col("cents"),
            col("lag1_cents"), col("lag7_cents"), col("trail7_cents"),
            col("trail7_days"))
          .orderBy("user_id", "day")
      },
      oracle = Some("""
        WITH daily AS (
          SELECT user_id,
                 date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                   AS dayno,
                 CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT)
                   AS cents
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        f AS (
          SELECT user_id, dayno, cents,
                 COALESCE(SUM(cents) OVER (PARTITION BY user_id ORDER BY dayno
                   RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING), 0)
                   AS lag1_cents,
                 COALESCE(SUM(cents) OVER (PARTITION BY user_id ORDER BY dayno
                   RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING), 0)
                   AS lag7_cents,
                 SUM(cents) OVER (PARTITION BY user_id ORDER BY dayno
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS trail7_cents,
                 COUNT(*) OVER (PARTITION BY user_id ORDER BY dayno
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS trail7_days
          FROM daily)
        SELECT user_id, DATE '1970-01-01' + CAST(dayno AS INTEGER) AS day,
               cents,
               CAST(lag1_cents AS BIGINT) AS lag1_cents,
               CAST(lag7_cents AS BIGINT) AS lag7_cents,
               CAST(trail7_cents AS BIGINT) AS trail7_cents,
               CAST(trail7_days AS BIGINT) AS trail7_days
        FROM f ORDER BY user_id, day""")),

    // Label-balance audit over the embedding corpus: class counts,
    // Shannon entropy of the label distribution, effective number of
    // classes (exp H — "how many classes is this REALLY"), and the
    // majority share — the first table read before training any
    // classifier on the corpus (a 0.9 max_share dataset needs
    // reweighting before it needs architecture). Entropy terms enter as
    // round(1e8·p·ln p) fixed-point longs (term8 convention: a k-row
    // double sum is order-dependent, an integer sum is not); p itself is
    // a single division of exact counts.
    //
    // Scale shape: one map-side-combined hash agg to |labels| rows, then
    // constant-sized arithmetic via a window over that relation.
    // Cluster-balanced diversity sampling (the ClusterClip / SemDeDup-
    // pipeline "keep m per cluster" step): every cluster contributes its
    // m = 5 lowest-PRIORITY members, priority = a deterministic per-vector
    // hash — a reproducible uniform draw with no RNG state to coordinate
    // across 1000 executors (q_sample_weighted convention). The label
    // column is the cluster id here; at 100 TB it is the k-means / IVF
    // cell id the similarity family already produces (q_dedup_semantic's
    // assignment), so the shape is one keyed exchange regardless of what
    // produced the clustering.
    //
    // Scale shape: the per-cluster selection is the topk_pairs typed
    // aggregate (TopKAgg.scala, asc on the hash priority) fused with the
    // cluster-size count in the SAME aggregation — map-side partial
    // buffers of <=5 pairs per (cluster, partition), zero sorts, and the
    // corpus crosses exactly one label-keyed exchange.
    "q_sample_cluster" -> Q(
      fn = (s, d) => {
        val pr = shiftrightunsigned(VectorFunctions.md5Lower(
          concat(lit("cb-"), col("vec_id").cast(StringType))), 11)
          .cast(DoubleType)
        Tables(s, d, "embeddings")
          .select(col("label"), col("vec_id"), pr.as("pr"))
          .groupBy("label")
          .agg(TopKAgg.topkPairs(col("pr"), col("vec_id"), 5, asc = true)
            .as("top"), count(lit(1)).as("cluster_size"))
          .select(col("label"), col("cluster_size"), posexplode(col("top")))
          .select(col("label"), col("cluster_size"),
            (col("pos") + 1).cast(LongType).as("rank"),
            col("col.id").as("vec_id"), col("col.score").as("priority"))
          .orderBy("label", "rank")
      },
      oracle = Some("""
        WITH pr AS (
          SELECT label, vec_id,
                 CAST(md5_number_lower('cb-' || vec_id) >> 11 AS DOUBLE)
                   AS pr
          FROM embeddings),
        r AS (SELECT label, vec_id, pr,
                     row_number() OVER (PARTITION BY label
                       ORDER BY pr, vec_id) AS rnk,
                     COUNT(*) OVER (PARTITION BY label) AS cluster_size
              FROM pr)
        SELECT label, CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(rnk AS BIGINT) AS rank, vec_id, pr AS priority
        FROM r WHERE rnk <= 5 ORDER BY label, rank""")),

    "q_label_balance" -> Q(
      fn = (s, d) => {
        val g = Tables(s, d, "embeddings")
          .groupBy("label").agg(count(lit(1)).as("n"))
        val wT = Window.orderBy("label")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val p = col("n").cast(DoubleType) / col("tot").cast(DoubleType)
        g.withColumn("tot", sum(col("n")).over(wT))
          .select(col("label"), col("n"), col("tot"),
            round(lit(1e8) * p * log(p)).cast(LongType).as("term8"),
            p.as("share"))
          .agg(count(lit(1)).as("n_classes"),
            first(col("tot")).as("n_vectors"),
            sum(col("term8")).as("t8"),
            max(col("share")).as("max_share"))
          .select(col("n_classes"), col("n_vectors"),
            r4(-col("t8").cast(DoubleType) / 1e8).as("entropy"),
            r4(exp(-col("t8").cast(DoubleType) / 1e8))
              .as("effective_classes"),
            r4(col("max_share")).as("max_share"))
      },
      oracle = Some("""
        WITH g AS (SELECT label, COUNT(*) AS n FROM embeddings
                   GROUP BY label),
        w AS (SELECT *, SUM(n) OVER () AS tot FROM g),
        t AS (
          SELECT label, n, tot,
                 CAST(ROUND(1e8 * (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
                   * ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)))
                   AS BIGINT) AS term8,
                 CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share
          FROM w),
        f AS (
          SELECT COUNT(*) AS n_classes, CAST(MIN(tot) AS BIGINT)
                   AS n_vectors,
                 SUM(term8) AS t8, MAX(share) AS max_share
          FROM t)
        SELECT n_classes, n_vectors,
               CAST(ROUND(-CAST(t8 AS DOUBLE) / 1e8, 4) AS DOUBLE)
                 AS entropy,
               CAST(ROUND(EXP(-CAST(t8 AS DOUBLE) / 1e8), 4) AS DOUBLE)
                 AS effective_classes,
               CAST(ROUND(max_share, 4) AS DOUBLE) AS max_share
        FROM f"""))
  )
}
