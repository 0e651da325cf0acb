package graft.llm

import graft.{Q, Tables}
import graft.Q._
import graft.functions.VectorFunctions
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication family for training-data pipelines (SURVEY.md §2.5):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * 100 TB design: none of these cross-join the corpus. Candidate pairs come
  * from key-partitioned self-joins on *blocking keys* (shingle, LSH band
  * signature, simhash prefix, label block) — shuffle volume is
  * O(docs × keys-per-doc), pairs are generated per-bucket, and skewed
  * buckets (stop-shingles) are handled by AQE skew splitting. The exact
  * Jaccard / Hamming / cosine re-check runs only on candidates.
  */
object Dedup {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def toks: Column = split(col("text"), " ")

  /** Distinct 3-gram shingle ARRAY per doc, built in-row with a transform
    * over token indices — no window, no shuffle (the windowed-lead
    * formulation costs a doc_id shuffle + sort before any dedup work
    * starts; this is pure map-side).
    */
  private def shingleSets(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    docs(s, d)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.shingleSet(toks, 3).as("tokens"))
      .filter(size(col("tokens")) > 0)
  }

  /** Exploded distinct (doc_id, shingle) rows for the blocking join.
    * Explodes a cheap integer index sequence and builds each shingle on the
    * generated row — exploding the prebuilt shingle array re-evaluates the
    * array expression per output row (measured ~16× slower).
    */
  private def shingles(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), greatest(size(col("t")) - 2, lit(1)))).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("t"), col("i")),
        element_at(col("t"), col("i") + 1),
        element_at(col("t"), col("i") + 2)).as("s"))
      .distinct()

  /** 16-permutation md5-family MinHash signature as a (doc_id, seed, mh)
    * relation, computed in ONE pass: every permutation's hash is a column
    * of the same row, the per-doc mins are one wide map-side-combined
    * aggregate (one row per doc crosses the exchange), and the 16-row
    * per-doc shape comes from a post-agg explode of the doc relation —
    * never a 16× explode of the corpus-sized shingle relation. Value-
    * identical to the seed-exploded spelling (MinhashAuditSpec asserts).
    */
  private[graft] def minhashSigWide(sh: DataFrame, perms: Int): DataFrame = {
    val mins = sh.groupBy("doc_id").agg(
      min(shiftrightunsigned(graft.functions.VectorFunctions.md5Lower(
        concat(lit("mh0-"), col("s"))), 11)).as("m0"),
      (1 until perms).map(k =>
        min(shiftrightunsigned(graft.functions.VectorFunctions.md5Lower(
          concat(lit(s"mh$k-"), col("s"))), 11)).as(s"m$k")): _*)
    mins.select(col("doc_id"),
      explode(array((0 until perms).map(k =>
        struct(lit(k).as("seed"), col(s"m$k").as("mh"))): _*)).as("e"))
      .select(col("doc_id"), col("e.seed").as("seed"), col("e.mh").as("mh"))
  }

  /** Seed-exploded spelling of [[minhashSigWide]] — the shape the DuckDB
    * oracle writes; kept only as the parity reference for the spec. */
  private[graft] def minhashSigExploded(sh: DataFrame, perms: Int): DataFrame =
    sh.withColumn("seed", explode(sequence(lit(0), lit(perms - 1))))
      .groupBy("doc_id", "seed")
      .agg(min(shiftrightunsigned(graft.functions.VectorFunctions.md5Lower(
        concat(lit("mh"), col("seed").cast(StringType), lit("-"), col("s"))),
        11)).as("mh"))

  val qs: Map[String, Q] = Map(

    // Exact dedup: survivor = min doc_id per identical text. Deliberately a
    // rank window, NOT dropDuplicates (whose survivor is partition-order
    // nondeterministic) — SURVEY §7.4 rule 5.
    "q_dedup_exact" -> Q(
      fn = (s, d) =>
        docs(s, d)
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("text")).orderBy(col("doc_id"))))
          .filter(col("rn") === 1)
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id, lang, source, n_chars FROM (
          SELECT doc_id, lang, source, n_chars,
                 row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM documents)
        WHERE rn = 1 ORDER BY doc_id""")),

    // n-gram (3-shingle) Jaccard near-dup pairs, exact: candidates share at
    // least one shingle (blocking join), then J = |∩| / (|A|+|B|-|∩|) ≥ 0.05.
    // τ=0.05 is below any sound frequency cap on this corpus (a qualifying
    // pair may share a single hot shingle), so this key ships the uncapped
    // exact join; q_dedup_ngram_capped is the bounded-bucket scale path.
    "q_dedup_ngram" -> Q(
      fn = (s, d) => ngramPairs(shingles(s, d), tau = 0.05, dfCap = None)
        .orderBy("da", "db"),
      oracle = Some("""
        WITH sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            LATERAL (SELECT generate_subscripts(t, 1) AS i) u,
            LATERAL (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s) g
          WHERE i + 2 <= len(t)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT da, db,
               CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
        FROM shared
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.05
        ORDER BY da, db""")),

    // Containment similarity C(sub→sup) = |A∩B| / |A|: the asymmetric
    // dedup signal that catches a document EMBEDDED in a larger one, where
    // Jaccard stays low because the union is dominated by the superset.
    // Same shingle-blocking candidate generation as q_dedup_ngram_capped —
    // frequency-capped blocking with the stop-shingle mask keeping counts
    // exact, under the ASYMMETRIC guard bound (a missed directed pair
    // needs ⌈τ·n_sub⌉ stop shingles in the subset doc; see
    // containmentPairs). Each unordered candidate pair yields up to two
    // directed rows. This was the last uncapped corpus-pair join (839 s /
    // d3 17.3 at sf100 in round 8); capped, it rides the
    // q_dedup_ngram_capped curve.
    "q_dedup_containment" -> Q(
      fn = (s, d) => containmentPairs(shingles(s, d), tau = 0.8, dfCap = Some(16))
        .orderBy("d_sub", "d_sup"),
      oracle = Some("""
        WITH sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            LATERAL (SELECT generate_subscripts(t, 1) AS i) u,
            LATERAL (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s) g
          WHERE i + 2 <= len(t)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        sized AS (
          SELECT da, db, c, sa.n AS na, sb.n AS nb
          FROM shared
          JOIN sizes sa ON sa.doc_id = da
          JOIN sizes sb ON sb.doc_id = db),
        directed AS (
          SELECT da AS d_sub, db AS d_sup, CAST(c AS DOUBLE) / na AS cont FROM sized
          UNION ALL
          SELECT db AS d_sub, da AS d_sup, CAST(c AS DOUBLE) / nb AS cont FROM sized)
        SELECT d_sub, d_sup, cont FROM directed
        WHERE cont >= 0.8 ORDER BY d_sub, d_sup""")),

    // The SAME exact pair join with the frequency-capped blocking key —
    // the bounded-bucket formulation that survives 100 TB (see ngramPairs
    // for the completeness bound and the runtime guard). τ=0.3 exactly
    // mirrors q_dedup_fuzzy's ground truth, so three independent
    // algorithms (LSH+recheck, capped exact blocking, DuckDB brute force)
    // must agree on the identical pair set.
    "q_dedup_ngram_capped" -> Q(
      fn = (s, d) => ngramPairs(shingles(s, d), tau = 0.3, dfCap = Some(16))
        .orderBy("da", "db"),
      oracle = Some("""
        WITH sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            LATERAL (SELECT generate_subscripts(t, 1) AS i) u,
            LATERAL (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s) g
          WHERE i + 2 <= len(t)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT da, db,
               CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
        FROM shared
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3
        ORDER BY da, db""")),

    // INCREMENTAL dedup — the ingest shape: a small new batch (doc_id ≡ 0
    // mod 20, ~5%) checked against the standing corpus. The batch's
    // shingles BROADCAST to the corpus scan, so the corpus is never
    // shuffled: candidate counting is map-side, the (new, old) pair agg
    // shuffles only matched candidate rows, and corpus per-doc sizes are
    // computed AFTER a semi-join down to candidate docs. At 100 TB this is
    // the only viable daily-ingest plan — per-batch cost scales with the
    // batch, not the corpus.
    "q_dedup_incremental" -> Q(
      fn = (s, d) => {
        val sh = shingles(s, d)
        val batchSh = sh.filter(col("doc_id") % 20 === 0)
        val corpusSh = sh.filter(col("doc_id") % 20 =!= 0)
        val shared = corpusSh.select(col("doc_id").as("dc"), col("s"))
          .join(broadcast(batchSh.select(col("doc_id").as("db"), col("s"))), "s")
          .groupBy("db", "dc").agg(count(lit(1)).as("c"))
        val sizesB = batchSh.groupBy("doc_id").agg(count(lit(1)).as("nb"))
          .withColumnRenamed("doc_id", "db")
        val cand = shared.select(col("dc")).distinct()
        val sizesC = corpusSh
          .join(broadcast(cand), corpusSh("doc_id") === cand("dc"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("nc"))
          .withColumnRenamed("doc_id", "dc")
        shared
          .join(broadcast(sizesB), "db")
          .join(broadcast(sizesC), "dc")
          .withColumn("jac", col("c").cast(DoubleType) /
            (col("nb") + col("nc") - col("c")))
          .filter(col("jac") >= 0.3)
          .select(col("db").as("new_doc"), col("dc").as("dup_of"), col("jac"))
          .orderBy("new_doc", "dup_of")
      },
      oracle = Some("""
        WITH sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            LATERAL (SELECT generate_subscripts(t, 1) AS i) u,
            LATERAL (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s) g
          WHERE i + 2 <= len(t)),
        bsh AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
        csh AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
        shared AS (
          SELECT b.doc_id AS db, c.doc_id AS dc, COUNT(*) AS c
          FROM bsh b JOIN csh c ON b.s = c.s GROUP BY 1, 2),
        sb AS (SELECT doc_id, COUNT(*) AS nb FROM bsh GROUP BY 1),
        sc AS (SELECT doc_id, COUNT(*) AS nc FROM csh GROUP BY 1)
        SELECT db AS new_doc, dc AS dup_of,
               CAST(c AS DOUBLE) / (nb + nc - c) AS jac
        FROM shared JOIN sb ON sb.doc_id = db JOIN sc ON sc.doc_id = dc
        WHERE CAST(c AS DOUBLE) / (nb + nc - c) >= 0.3
        ORDER BY new_doc, dup_of""")),

    // ----------------------------------------------------------------
    // Sketch-based ingest membership dedup: the standing corpus (90% of
    // docs) tree-aggregates into ONE bloom-filter binary (KBs) via Spark's
    // internal BloomFilterAggregate; the ingest batch (10%) probes it as a
    // scalar subquery — the batch is never joined against the corpus at
    // all, which is the cheapest possible "have I seen this exact text"
    // gate at 100 TB: one corpus scan to (re)build or load the sketch,
    // then pure map-side probing of every arriving row. Bloom semantics
    // give the contract: NO false negatives ever (every exact duplicate
    // is flagged — checked row by row against the exact semi-join), and a
    // false-positive rate bounded by the sketch sizing (400k bits for
    // ≤5k distinct texts ⇒ fpp ≪ 1%; asserted ≤ max(5 rows, 5%)).
    // ----------------------------------------------------------------
    "q_dedup_bloom" -> Q(
      fn = (s, d) => {
        VectorFunctions.register(s)
        graft.Tables.registerViews(s, d)
        s.sql("""
          WITH corpus AS (SELECT text FROM documents WHERE doc_id % 10 <> 0),
          batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
          probed AS (
            SELECT doc_id,
                   graft_might_contain(
                     (SELECT graft_bloom_agg(xxhash64(text), 5000L, 400000L) FROM corpus),
                     xxhash64(text)) AS hit,
                   text IN (SELECT text FROM corpus) AS dup
            FROM batch)
          SELECT COUNT(*) AS n_batch,
                 SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS n_exact_dup,
                 every(hit OR NOT dup) AS no_false_negatives,
                 (SUM(CASE WHEN hit THEN 1 ELSE 0 END)
                    - SUM(CASE WHEN dup THEN 1 ELSE 0 END))
                   <= greatest(5L, CAST(0.05 * (COUNT(*)
                        - SUM(CASE WHEN dup THEN 1 ELSE 0 END)) AS BIGINT)) AS fpr_ok
          FROM probed""")
      },
      oracle = Some("""
        WITH corpus AS (SELECT text FROM documents WHERE doc_id % 10 <> 0),
        batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)
        SELECT COUNT(*) AS n_batch,
               CAST(SUM(CASE WHEN text IN (SELECT text FROM corpus) THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
               true AS no_false_negatives,
               true AS fpr_ok
        FROM batch""")),

    // MinHash (64 perms) + LSH (32 bands × 2 rows) candidate generation over
    // 3-gram shingle sets (token sets don't discriminate in a small-vocab
    // corpus), then exact shingle-set Jaccard re-check ≥ 0.3.
    //
    // Oracle: the exact Jaccard pair set at the same threshold. Sound
    // because the re-check removes all false positives, and the corpus's
    // pair-similarity distribution is bimodal (noise ≤0.15, near-dups ≥0.9,
    // measured at sf0.01/0.1): a J≥0.9 pair escapes all 32 bands with
    // probability (1−0.9²)³² ≈ 1e-23 — recall is 1 up to cosmic rays. The
    // banding parameters are part of the operator's contract for this
    // corpus-style workload; DedupSpec asserts the recall math.
    // LSH band-tuning decision table: for 16 MinHash permutations split as
    // 16×1 / 8×2 / 4×4 (bands × rows), the EMPIRICAL candidate-pair
    // volume, collision-bucket census and worst bucket size on this
    // corpus — the table that decides q_dedup_fuzzy's banding before a
    // 100 TB run (theory gives the S-curve; the candidate VOLUME — the
    // actual shuffle+recheck cost — depends on the corpus). Candidate
    // counts come from bucket-size arithmetic (Σ n(n−1)/2), never pair
    // materialization.
    //
    // Determinism: permutation hashes are md5-lower-64 of "kk#shingle"
    // shifted to the positive 2^53 range (the q_sample_reservoir
    // convention — signed-vs-unsigned MIN cannot diverge), so DuckDB
    // reproduces every signature bit.
    //
    // Scale shape (round 9 — this is a PLANNING table, it estimates
    // RATES, not pairs): it runs on a deterministic 25% doc sample
    // (doc_id ≡ 0 mod 4 — reproducible on both engines, so the oracle
    // samples identically and the hash-match is exact), and the
    // signatures come from the ONE-PASS wide shape: all 16 permutation
    // mins are columns of a single map-side-combined aggregate (one row
    // per doc crosses the exchange), and every (r, band) signature of all
    // three configs is a string built FROM that row — no 16× row explode
    // of the shingle relation, no checkpoint, no collect_list sort. The
    // round-8 spelling cost 502 s at sf100 (16 md5 digests per shingle
    // over the FULL corpus + a doc×16-row shuffle); this one pays 1/4 the
    // digests and one exchange. The production signature path
    // (q_dedup_fuzzy) keeps the 1-hash XXH64+avalanche family and the
    // full corpus — only the tuning census samples.
    "q_lsh_tuning" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val sh = Tables(s, d, "documents")
          .filter(col("doc_id") % 4 === 0)
          .select(col("doc_id"),
            explode(graft.functions.VectorFunctions.shingleSet(
              split(col("text"), " "), 3)).as("sh"))
          .distinct()
        def mhMin(k: Int) = min(shiftrightunsigned(
          graft.functions.VectorFunctions.md5Lower(concat(
            lit(f"$k%02d#"), col("sh"))), 11)).as(s"m$k")
        val mins = sh.groupBy("doc_id")
          .agg(mhMin(0), (1 until 16).map(mhMin): _*)
        val sigStructs = for { r <- Seq(1, 2, 4); band <- 0 until 16 / r }
          yield struct(lit(r).as("r"), lit(band).as("band"),
            concat_ws("-", (band * r until (band + 1) * r).map(k =>
              concat(lit(f"$k%02d:"), col(s"m$k").cast(StringType))): _*).as("sig"))
        val sigs = mins.select(explode(array(sigStructs: _*)).as("e"))
          .select(col("e.r").as("r"), col("e.band").as("band"),
            col("e.sig").as("sig"))
        sigs.groupBy("r", "band", "sig").agg(count(lit(1)).as("n"))
          .groupBy("r")
          .agg(sum(expr("n * (n - 1) div 2")).as("candidate_pairs"),
            sum(when(col("n") > 1, 1L).otherwise(0L)).as("buckets_gt1"),
            max(col("n")).as("max_bucket"))
          .select(expr("16 div r").cast(LongType).as("bands"),
            col("r").cast(LongType).as("rows_per_band"),
            col("candidate_pairs").cast(LongType).as("candidate_pairs"),
            col("buckets_gt1"), col("max_bucket"))
          .orderBy("rows_per_band")
      },
      oracle = Some("""
        WITH sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE doc_id % 4 = 0),
            LATERAL (SELECT generate_subscripts(t, 1) AS i) u,
            LATERAL (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s) g
          WHERE i + 2 <= len(t)),
        perms AS (SELECT unnest(range(16)) AS k),
        mh AS (
          SELECT doc_id, k,
                 MIN(md5_number_lower(lpad(CAST(k AS VARCHAR), 2, '0') ||
                   '#' || s) >> 11) AS m
          FROM sh, perms GROUP BY doc_id, k),
        cfg AS (SELECT unnest([1, 2, 4]) AS r),
        sigs AS (
          SELECT doc_id, r, k // r AS band,
                 string_agg(lpad(CAST(k AS VARCHAR), 2, '0') || ':' ||
                   CAST(m AS VARCHAR), '-' ORDER BY k) AS sig
          FROM mh, cfg GROUP BY doc_id, r, k // r),
        buckets AS (
          SELECT r, band, sig, COUNT(*) AS n
          FROM sigs GROUP BY r, band, sig)
        SELECT CAST(16 // r AS BIGINT) AS bands,
               CAST(r AS BIGINT) AS rows_per_band,
               CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs,
               CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS buckets_gt1,
               CAST(MAX(n) AS BIGINT) AS max_bucket
        FROM buckets GROUP BY r ORDER BY rows_per_band""")),

    "q_dedup_fuzzy" -> Q(
      fn = (s, d) =>
        minHashDedup(shingleSets(s, d), numHashes = 64, bands = 32, tau = 0.3)
          .orderBy("da", "db"),
      oracle = Some("""
        WITH sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            LATERAL (SELECT generate_subscripts(t, 1) AS i) u,
            LATERAL (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s) g
          WHERE i + 2 <= len(t)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT da, db,
               CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
        FROM shared
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3
        ORDER BY da, db""")),

    // SimHash near-dup: 64-bit fingerprint (custom Catalyst expression) with
    // PIGEONHOLE banding (Manku et al., WWW'07): the fingerprint splits into
    // 4 bands of 16 bits; any pair within Hamming distance ≤ 3 has at most 3
    // differing bits, so at least one of the 4 bands is IDENTICAL — blocking
    // on (band, band-bits) finds every qualifying pair deterministically
    // (complete, not probabilistic; DedupSpec asserts equality with the
    // brute-force pair set).
    //
    // Oracle: the per-token hash is md5-lower-64 — a value DuckDB computes
    // natively as `md5_number_lower` — so the oracle rebuilds the EXACT
    // fingerprints in SQL (per-bit majority vote over the same tokens) and
    // brute-forces the hamming<=3 pair set. The banded plan must therefore
    // reproduce the full pair set, rows+schema+hash.
    "q_dedup_simhash" -> Q(
      fn = (s, d) => {
        VectorFunctions.register(s)
        val sh = docs(s, d)
          .select(col("doc_id"), VectorFunctions.simhash(toks).as("sh"))
        val banded = sh.select(col("doc_id"), col("sh"),
          posexplode(array((0 until 4).map(i =>
            shiftrightunsigned(col("sh"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
            .as(Seq("band", "bits")))
        val a = banded.select(col("band"), col("bits"),
          col("doc_id").as("da"), col("sh").as("ha"))
        val b = banded.select(col("band"), col("bits"),
          col("doc_id").as("db"), col("sh").as("hb"))
        a.join(b, Seq("band", "bits")).filter(col("da") < col("db"))
          .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast(LongType))
          .filter(col("hamming") <= 3)
          .select("da", "db", "hamming").distinct()
          .orderBy("da", "db")
      },
      oracle = Some("""
        WITH tk AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        votes AS (
          SELECT doc_id, b,
                 SUM(CASE WHEN (md5_number_lower(t) >> b) & 1 = 1
                     THEN 1 ELSE -1 END) AS v
          FROM tk, (SELECT unnest(generate_series(0, 63)) AS b)
          GROUP BY doc_id, b),
        fp AS (
          SELECT doc_id,
                 bit_or(CASE WHEN v > 0 THEN (CAST(1 AS UBIGINT) << b)
                        ELSE CAST(0 AS UBIGINT) END) AS sh
          FROM votes GROUP BY doc_id)
        SELECT a.doc_id AS da, b.doc_id AS db,
               CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
        ORDER BY da, db""")),

    // Near-dup CLUSTERING — the step between pair detection and an actual
    // deduplicated corpus: connected components over the LSH pair graph
    // (J ≥ 0.3, same recall-1 argument as q_dedup_fuzzy), each doc labeled
    // with its cluster's canonical survivor (min doc_id). Oracle: recursive
    // transitive closure over the exact Jaccard pair set.
    "q_dedup_cluster" -> Q(
      fn = (s, d) => {
        val pairs = minHashDedup(shingleSets(s, d),
            numHashes = 64, bands = 32, tau = 0.3)
          .select(col("da").as("a"), col("db").as("b"))
        connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
            (col("id") === col("lbl")).as("is_survivor"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH RECURSIVE pairs AS (
          WITH sh AS (
            SELECT DISTINCT doc_id, s FROM (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              LATERAL (SELECT generate_subscripts(t, 1) AS i) u,
              LATERAL (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s) g
            WHERE i + 2 <= len(t)),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          shared AS (
            SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
          SELECT da, db FROM shared
          JOIN sizes sa ON sa.doc_id = da
          JOIN sizes sb ON sb.doc_id = db
          WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3),
        edges AS (SELECT da AS a, db AS b FROM pairs
                  UNION SELECT db, da FROM pairs),
        reach(id, r) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM edges)
          UNION
          SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r)
        SELECT id AS doc_id, MIN(r) AS cluster_id,
               (id = MIN(r)) AS is_survivor
        FROM reach GROUP BY id ORDER BY doc_id""")),

    // Embedding-cosine near-dup pairs, blocked by label (the corpus's
    // cluster attribute): exact cosine ≥ 0.3 within block. At 100 TB the
    // block key becomes an LSH signature (see Similarity.annTopK).
    "q_dedup_embed" -> Q(
      fn = (s, d) => {
        VectorFunctions.register(s)
        val e = Tables(s, d, "embeddings")
          .select(col("label"), col("vec_id"),
            transform(col("embedding"), _.cast(DoubleType)).as("v"))
        val a = e.select(col("label"), col("vec_id").as("va"), col("v").as("xa"))
        val b = e.select(col("label"), col("vec_id").as("vb"), col("v").as("xb"))
        a.join(b, Seq("label")).filter(col("va") < col("vb"))
          .withColumn("cos", VectorFunctions.cosineSim(col("xa"), col("xb")))
          .filter(col("cos") >= 0.3)
          .select("label", "va", "vb", "cos")
          .orderBy("label", "va", "vb")
      },
      oracle = Some("""
        WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.label, a.vec_id AS va, b.vec_id AS vb,
               list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
        ORDER BY a.label, va, vb""")),

    // Repeated-SPAN detection — the exact-substring member of the dedup
    // family (the Lee et al. 2022 "Deduplicating Training Data" signal at
    // span rather than suffix-array granularity): 16-token windows at
    // stride 8 across every document; a span seen in >1 distinct doc is
    // boilerplate/template material that survives document-level dedup
    // because the surrounding text differs. Bounded explode (n/8 spans per
    // doc), one hash agg keyed by the span — no self-join anywhere; at
    // 100 TB the group key becomes the span's 64-bit rolling hash and the
    // span text never crosses the exchange (the md5 emitted here stands in
    // for exactly that fingerprint).
    "q_dedup_span" -> Q(
      fn = (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 16)
          .select(col("doc_id"), col("t"), explode(sequence(lit(0),
            floor((size(col("t")) - 16) / 8).cast(IntegerType))).as("k"))
          .select(col("doc_id"),
            concat_ws(" ", slice(col("t"), col("k") * 8 + 1, lit(16))).as("span"))
          .groupBy("span")
          .agg(countDistinct(col("doc_id")).as("ndocs"),
            count(lit(1)).as("n_occur"), min(col("doc_id")).as("first_doc"))
          .filter(col("ndocs") > 1)
          .select(md5(to_binary(col("span"), lit("utf-8"))).as("span_fp"),
            col("ndocs"), col("n_occur"), col("first_doc"))
          .orderBy("span_fp"),
      oracle = Some("""
        WITH sp AS (
          SELECT doc_id, array_to_string(t[k*8+1 : k*8+16], ' ') AS span
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                WHERE len(string_split(text, ' ')) >= 16),
               LATERAL (SELECT unnest(generate_series(0, (len(t)-16)//8)) AS k))
        SELECT md5(span) AS span_fp, COUNT(DISTINCT doc_id) AS ndocs,
               COUNT(*) AS n_occur, MIN(doc_id) AS first_doc
        FROM sp GROUP BY span HAVING COUNT(DISTINCT doc_id) > 1
        ORDER BY span_fp""")),

    // Per-SOURCE span-duplication profile — the telemetry table a pipeline
    // consults BEFORE committing to an ExactSubstr pass over 100 TB (Lee et
    // al. 2022 report exactly this rate per source to size the dedup): for
    // each source, the fraction of its 16-token stride-8 span instances
    // whose text occurs in more than one document corpus-wide. Sources with
    // a high rate are boilerplate-heavy (headers, templates) and are where
    // substring dedup pays for itself.
    //
    // Scale shape: bounded explode (n/8 spans per doc), fingerprinted to
    // md5-lower-64 immediately (both engines compute the identical hash, so
    // dup-by-fingerprint is oracle-exact; the span text never crosses an
    // exchange). The corpus crosses exactly ONE exchange — keyed
    // (h, source) with map-side partial (count, min doc, max doc) — into a
    // distinct-span-sized relation, CHECKPOINTED for its two consumers
    // (without it the dup side replans the whole explode+md5+aggregate —
    // measured as a doubled corpus scan at every decade); "occurs in >1
    // distinct doc" is then min(doc) ≠ max(doc) per fingerprint (identical
    // semantics to COUNT(DISTINCT doc_id) > 1 with none of the
    // two-exchange distinct-aggregate machinery), computed on the reduced
    // relation, joined back to it h-keyed, and rolled up to a
    // |sources|-row table. (The first spelling — countDistinct census +
    // left-join mark over the raw span relation — measured 113.6 s at
    // sf100, the same as q_dedup_substr with 8× the windows; this shape
    // crosses the corpus through one exchange and touches it once.)
    "q_dedup_span_rate" -> Q(
      fn = (s, d) => {
        VectorFunctions.register(s)
        val spans = docs(s, d)
          .select(col("doc_id"), col("source"), toks.as("t"))
          .filter(size(col("t")) >= 16)
          .select(col("doc_id"), col("source"), col("t"),
            explode(sequence(lit(0),
              floor((size(col("t")) - 16) / 8).cast(IntegerType))).as("k"))
          .select(col("doc_id"), col("source"),
            VectorFunctions.md5Lower(
              concat_ws(" ", slice(col("t"), col("k") * 8 + 1, lit(16))))
              .as("h"))
        val bySrc = Tables.checkpoint(
          spans.groupBy("h", "source")
            .agg(count(lit(1)).as("cnt"),
              min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx")))
        val dup = bySrc.groupBy("h")
          .agg((min(col("mn")) =!= max(col("mx"))).as("isdup"))
        bySrc.join(dup, Seq("h"))
          .groupBy("source")
          .agg(sum(col("cnt")).as("n_spans"),
            sum(when(col("isdup"), col("cnt")).otherwise(lit(0L)))
              .as("dup_spans"))
          .withColumn("dup_rate",
            col("dup_spans").cast(DoubleType) / col("n_spans"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH sp AS (
          SELECT doc_id, source,
                 md5_number_lower(array_to_string(t[k*8+1 : k*8+16], ' ')) AS h
          FROM (SELECT doc_id, source, string_split(text, ' ') AS t
                FROM documents
                WHERE len(string_split(text, ' ')) >= 16),
               LATERAL (SELECT unnest(generate_series(0, (len(t)-16)//8)) AS k)),
        dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN h IN (SELECT h FROM dup)
                             THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
               CAST(SUM(CASE WHEN h IN (SELECT h FROM dup)
                             THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_rate
        FROM sp GROUP BY source ORDER BY source""")),

    // TRUE repeated-substring dedup at ARBITRARY boundaries (the Lee et
    // al. 2022 ExactSubstr semantic at token granularity, completing what
    // q_dedup_span approximates with stride-8/16-token windows): a
    // substring of ≥ 8 tokens occurring more than once in the corpus
    // (any doc, any offset — intra-doc repeats included) is duplicated
    // text; the query reports, per doc, the MAXIMAL position ranges
    // covered by duplicated substrings — exactly the spans an ExactSubstr
    // pass would cut.
    //
    // Equivalence (why 8-token windows at stride 1 are exact, not an
    // approximation): a duplicated substring of length ≥ 8 makes every
    // 8-window inside it duplicated, and every duplicated 8-window IS a
    // duplicated substring — so the union of duplicated-substring
    // positions equals the union of [w, w+8) over duplicated window
    // starts w, and merging overlapping/adjacent covers yields the
    // maximal spans. DedupSpec asserts equality with a sequential
    // brute-force reference, including a planted repeat at a
    // non-multiple-of-8 boundary that q_dedup_span's strided windows
    // cannot see.
    //
    // Scale shape: the window explode is a bounded ~1× row blow-up of
    // the corpus, checkpointed ONCE as (doc, w, fingerprint) — the census
    // and the probe both read the materialized relation; the census is
    // one FINGERPRINT-keyed exchange (three longs per row, map-side
    // partial counts — the span text never survives an exchange; both
    // engines compute the identical md5-lower-64, so dup-by-fingerprint
    // is oracle-exact); duplicated windows come back via a
    // fingerprint-keyed left-semi join (AQE skew-splits a pathological
    // hot span); interval merging is one per-doc window (cummax sweep —
    // doc-keyed, never a single reducer); the final token re-slice joins
    // the tiny island relation back by doc_id.
    "q_dedup_substr" -> Q(
      fn = (s, d) => substrSpans(docs(s, d), L = 8)
        .orderBy("doc_id", "start_pos"),
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        wins AS (
          SELECT doc_id, w,
                 md5_number_lower(array_to_string(t[w+1 : w+8], ' ')) AS h
          FROM d, LATERAL (SELECT unnest(generate_series(0, len(t)-8)) AS w)),
        dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
        dw AS (SELECT doc_id, w FROM wins WHERE h IN (SELECT h FROM dup)),
        marked AS (
          SELECT doc_id, w,
                 CASE WHEN max(w + 8) OVER pw IS NULL OR w > max(w + 8) OVER pw
                      THEN 1 ELSE 0 END AS new_isl
          FROM dw
          WINDOW pw AS (PARTITION BY doc_id ORDER BY w
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        isl AS (
          SELECT doc_id, w,
                 SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY w
                                    ROWS UNBOUNDED PRECEDING) AS isl
          FROM marked),
        spans AS (
          SELECT doc_id, isl, MIN(w) AS start_pos, MAX(w) + 8 AS end_pos,
                 COUNT(*) AS n_windows
          FROM isl GROUP BY doc_id, isl)
        SELECT s.doc_id, s.start_pos, s.end_pos,
               s.end_pos - s.start_pos AS span_len, s.n_windows,
               md5(array_to_string(d.t[s.start_pos+1 : s.end_pos], ' ')) AS span_fp
        FROM spans s JOIN d USING (doc_id)
        ORDER BY doc_id, start_pos""")),

    // Per-DOCUMENT duplication coverage — the ExactSubstr DOC-level
    // decision (Lee et al. 2022 drop documents whose duplicated-substring
    // coverage crosses a threshold): the fraction of each doc's tokens
    // covered by maximal ≥8-token substrings recurring anywhere in the
    // corpus, plus the drop verdict at τ = 0.5. Every ≥8-token doc appears
    // (coverage 0 when clean) — a filter has to SEE every doc to keep it.
    //
    // Scale shape: q_dedup_substr's fingerprint-keyed census machinery
    // (windows checkpointed once, span text never crosses an exchange)
    // plus one doc-keyed rollup of the TINY island relation, left-joined
    // onto the doc spine — the join is doc-keyed, output-sized.
    "q_dedup_coverage" -> Q(
      fn = (s, d) => {
        val spans = substrSpans(docs(s, d), L = 8)
        val base = docs(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
          .filter(col("n_tokens") >= 8)
        base.join(
            spans.groupBy("doc_id").agg(sum(col("span_len")).as("dup")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("dup"), lit(0L)).as("dup_tokens"),
            (coalesce(col("dup"), lit(0L)).cast(DoubleType) / col("n_tokens"))
              .as("dup_frac"),
            (coalesce(col("dup"), lit(0L)) * 2 > col("n_tokens")).as("drop_doc"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE len(string_split(text, ' ')) >= 8),
        wins AS (
          SELECT doc_id, w,
                 md5_number_lower(array_to_string(t[w+1 : w+8], ' ')) AS h
          FROM d, LATERAL (SELECT unnest(generate_series(0, len(t)-8)) AS w)),
        dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
        dw AS (SELECT doc_id, w FROM wins WHERE h IN (SELECT h FROM dup)),
        marked AS (
          SELECT doc_id, w,
                 CASE WHEN max(w + 8) OVER pw IS NULL OR w > max(w + 8) OVER pw
                      THEN 1 ELSE 0 END AS new_isl
          FROM dw
          WINDOW pw AS (PARTITION BY doc_id ORDER BY w
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        isl AS (
          SELECT doc_id, w,
                 SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY w
                                    ROWS UNBOUNDED PRECEDING) AS isl
          FROM marked),
        sp AS (
          SELECT doc_id, isl, MIN(w) AS s, MAX(w) + 8 AS e
          FROM isl GROUP BY doc_id, isl),
        cov AS (SELECT doc_id, SUM(e - s) AS dup_tokens FROM sp GROUP BY doc_id)
        SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
               CAST(COALESCE(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE) / len(d.t) AS dup_frac,
               (COALESCE(cov.dup_tokens, 0) * 2 > len(d.t)) AS drop_doc
        FROM d LEFT JOIN cov USING (doc_id)
        ORDER BY doc_id""")),

    // ExactSubstr APPLY — the Lee et al. 2022 end state the span/coverage
    // queries report on: actually CUT every flagged duplicated span and
    // re-emit the cleaned corpus. Composition of substrSpans (maximal
    // ≥8-token ranges occurring more than once corpus-wide) with a
    // positional token filter; every document appears (short and clean
    // docs pass through untouched), and the cleaned text is emitted as an
    // md5 fingerprint plus kept-token count so the row stays hash-narrow.
    // DedupSpec asserts the cleaned text equals a sequential brute-force
    // cut on the raw corpus.
    //
    // Scale shape: substrSpans' fingerprint-keyed census (see
    // q_dedup_substr); the cut itself is a doc-keyed join of the TINY
    // span relation onto the corpus (spans collect_list'ed per doc —
    // bounded by n_tokens/8) followed by a stateless positional filter:
    // one output-sized pass, no extra corpus exchange beyond the join.
    "q_dedup_substr_apply" -> Q(
      fn = (s, d) => {
        val spans = substrSpans(docs(s, d), L = 8)
          .groupBy("doc_id")
          .agg(collect_list(struct(col("start_pos"), col("end_pos"))).as("sp"))
        docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .join(spans, Seq("doc_id"), "left")
          .withColumn("kept",
            when(col("sp").isNull, col("t")).otherwise(
              filter(col("t"), (tok, i) =>
                !exists(col("sp"), r =>
                  i >= r.getField("start_pos") && i < r.getField("end_pos")))))
          .select(col("doc_id"),
            size(col("t")).cast(LongType).as("n_tokens"),
            size(col("kept")).cast(LongType).as("kept_tokens"),
            md5(to_binary(concat_ws(" ", col("kept")), lit("utf-8")))
              .as("clean_fp"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        d AS (SELECT doc_id, t FROM d0 WHERE len(t) >= 8),
        wins AS (
          SELECT doc_id, w,
                 md5_number_lower(array_to_string(t[w+1 : w+8], ' ')) AS h
          FROM d, LATERAL (SELECT unnest(generate_series(0, len(t)-8)) AS w)),
        dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
        dw AS (SELECT doc_id, w FROM wins WHERE h IN (SELECT h FROM dup)),
        marked AS (
          SELECT doc_id, w,
                 CASE WHEN max(w + 8) OVER pw IS NULL OR w > max(w + 8) OVER pw
                      THEN 1 ELSE 0 END AS new_isl
          FROM dw
          WINDOW pw AS (PARTITION BY doc_id ORDER BY w
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        isl AS (
          SELECT doc_id, w,
                 SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY w
                                    ROWS UNBOUNDED PRECEDING) AS isl
          FROM marked),
        spans AS (SELECT doc_id, isl, MIN(w) AS s, MAX(w) + 8 AS e
                  FROM isl GROUP BY doc_id, isl),
        toks AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
                 FROM d0, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
        keep AS (SELECT tk.doc_id, tk.pos, tk.tok FROM toks tk
                 WHERE NOT EXISTS (SELECT 1 FROM spans sp
                                   WHERE sp.doc_id = tk.doc_id
                                     AND tk.pos >= sp.s AND tk.pos < sp.e)),
        clean AS (SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS ct
                  FROM keep GROUP BY doc_id)
        SELECT d0.doc_id, CAST(len(d0.t) AS BIGINT) AS n_tokens,
               CAST(len(d0.t) - COALESCE(cov.cut, 0) AS BIGINT) AS kept_tokens,
               md5(COALESCE(clean.ct, '')) AS clean_fp
        FROM d0
        LEFT JOIN (SELECT doc_id, SUM(e - s) AS cut
                   FROM spans GROUP BY doc_id) cov USING (doc_id)
        LEFT JOIN clean USING (doc_id)
        ORDER BY d0.doc_id""")),

    // MinHash estimator-quality audit: for every true near-dup pair
    // (exact Jaccard ≥ 0.05 — the q_dedup_ngram universe), compare the
    // 16-permutation MinHash estimate (matching mins / 16) against the
    // exact Jaccard. This is the sketch-calibration query a production
    // dedup pipeline runs before trusting banding thresholds: E[est] =
    // jac per permutation, so systematic drift here means a broken hash
    // family. Permutations use the cross-engine md5-lower-64 convention
    // (positive 2^53 range) so BOTH engines derive identical signatures.
    //
    // Scale shape: the shingle relation is checkpointed ONCE (four
    // consumers: sizes, both self-join sides, signatures — each would
    // otherwise replay the corpus explode+distinct). Signatures compute
    // all 16 permutations in ONE pass over that relation: a wide 16-column
    // min-aggregate (map-side combined, one row per doc crosses the
    // exchange) instead of a 16× row explode — the same one-row-pass shape
    // as the production MinHashSignature kernel, but over the md5-lower-64
    // family the DuckDB oracle replicates verbatim (the kernel's XXH64+
    // splitmix64 family has no DuckDB spelling). MinhashAuditSpec asserts
    // the wide spelling is value-identical to the seed-exploded one. The
    // audited pair set is near-dup-sized, so the signature join touches
    // pairs × 16 rows, never corpus².
    "q_dedup_minhash_audit" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val sh = Tables.checkpoint(shingles(s, d))
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val pairs = sh.select(col("doc_id").as("da"), col("s"))
          .join(sh.select(col("doc_id").as("db"), col("s")), Seq("s"))
          .filter(col("da") < col("db"))
          .groupBy("da", "db").agg(count(lit(1)).as("c"))
          // no broadcast hints: the per-doc size relation is corpus-
          // proportional (one row per doc) — AQE broadcasts it while it is
          // actually small and falls back to a keyed shuffle join at scale
          // (the forced spelling was the q_dedup_fuzzy sf100 failure class)
          .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
          .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
          .withColumn("jac", col("c").cast(DoubleType) /
            (col("na") + col("nb") - col("c")).cast(DoubleType))
          .filter(col("jac") >= 0.05)
          .select("da", "db", "jac")
        val sig = minhashSigWide(sh, 16)
        pairs
          .join(sig.select(col("doc_id").as("da"), col("seed"),
            col("mh").as("ma")), "da")
          .join(sig.select(col("doc_id").as("db"), col("seed"),
            col("mh").as("mb")), Seq("db", "seed"))
          .groupBy("da", "db", "jac")
          .agg((sum(when(col("ma") === col("mb"), 1L).otherwise(0L))
            .cast(DoubleType) / 16.0).as("est"))
          .select(col("da"), col("db"), r4(col("jac")).as("jac"),
            r4(col("est")).as("est"),
            r4(abs(col("jac") - col("est"))).as("abs_err"))
          .orderBy("da", "db")
      },
      oracle = Some("""
        WITH sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            LATERAL (SELECT generate_subscripts(t, 1) AS i) u,
            LATERAL (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s) g
          WHERE i + 2 <= len(t)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT da, db, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jac
          FROM shared
          JOIN sizes sa ON sa.doc_id = da
          JOIN sizes sb ON sb.doc_id = db
          WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.05),
        seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
        sig AS (SELECT doc_id, seed,
                       MIN(CAST(md5_number_lower('mh' || seed || '-' || s) >> 11
                           AS BIGINT)) AS mh
                FROM sh, seeds GROUP BY doc_id, seed),
        m AS (SELECT p.da, p.db, p.jac,
                     SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS hits
              FROM pairs p
              JOIN sig a ON a.doc_id = p.da
              JOIN sig b ON b.doc_id = p.db AND b.seed = a.seed
              GROUP BY 1, 2, 3)
        SELECT da, db, CAST(ROUND(jac, 4) AS DOUBLE) AS jac,
               CAST(ROUND(hits / 16.0, 4) AS DOUBLE) AS est,
               CAST(ROUND(ABS(jac - hits / 16.0), 4) AS DOUBLE) AS abs_err
        FROM m ORDER BY da, db""")),

    // SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    // embedding corpus, then suppress within each cluster every vector
    // that is cosine-similar (≥ τ) to a lower-id clustermate — the
    // embedding-space member of the dedup family, catching paraphrases
    // that share no shingles (invisible to MinHash/SimHash/ngram). The
    // suppression rule is the one-pass greedy form: keep(v) ⇔ no
    // smaller-id clustermate with cos ≥ τ, nn_id = the smallest such
    // suppressor (deterministic, no cascade).
    //
    // Round-10 design, LINEAR end to end (two r9/r10-interim flaws fixed):
    //   1. CLUSTER COUNT GROWS WITH THE CORPUS (SemDeDup's own recipe —
    //      cluster count is the constant-cluster-SIZE knob): centroids are
    //      the sampled seeds vec_id ≡ 0 (mod stride), stride =
    //      clamp(N div 8, 1, 250), so k ≈ max(8, N/250) and within-cluster
    //      pair work is O(N·250). (r9 hardcoded k = 8 ⇒ O(N²/8).)
    //   2. ASSIGNMENT IS LSH-PREFILTERED, not a broadcast scan of all k
    //      centroids: with k ∝ N the classic crossJoin-argmin assign is
    //      itself O(N·k) = O(N²/250). Instead seeds and vectors band under
    //      the md-seeded hyperplane family (geometry sized to the SEED
    //      count — sizedRowsPerTable(k), ~32 seeds per bucket), and each
    //      vector takes argmin exact quantized L2 over only its COLLIDING
    //      seeds — candidates per vector are geometry-bounded, so assign
    //      is O(N·const). A vector colliding with no seed in any of the 8
    //      tables gets cluster_id = −1 and is KEPT (SemDeDup only
    //      suppresses within clusters) — the deterministic fallback. This
    //      is "the label becomes an IVF cell" applied to the assignment
    //      itself; the exact-Lloyd trainer remains q_kmeans.
    // All arithmetic is exact integer (⌊1000·x+0.5⌋ quantization: L2
    // argmin ties by cid, suppression cosine = one double division of
    // long-exact operands), so the oracle reproduces every step
    // bit-identically. stride/k/geometry are plan-time integer statistics
    // (the oracle re-derives them from COUNT(*) with the same integer
    // ladder — no float log2).
    "q_dedup_semantic" -> Q(
      fn = (s, d) => {
        VectorFunctions.register(s)
        val tau = 0.4
        val emb = Tables(s, d, "embeddings")
        val n = emb.count()
        val stride = math.max(1L, math.min(250L, n / 8))
        val rpt = Similarity.sizedRowsPerTable(n / stride)
        val vq = emb.select(col("vec_id"),
          VectorFunctions.quantize16(col("embedding")).as("vq"))
        val seedEmb = emb.filter(pmod(col("vec_id"), lit(stride)) === 0)
        val bandedV = Similarity.mdPlaneBanded(
          emb.select("vec_id", "embedding"), tables = 8,
          rowsPerTable = rpt, dims = 64)
        val bandedC = Similarity.mdPlaneBanded(
            seedEmb.select("vec_id", "embedding"), tables = 8,
            rowsPerTable = rpt, dims = 64)
          .select(col("tbl"), col("bucket"), col("vec_id").as("cid"))
        val cands = bandedV.join(bandedC, Seq("tbl", "bucket"))
          .select("vec_id", "cid").distinct()
        val seedsQ = vq.filter(pmod(col("vec_id"), lit(stride)) === 0)
          .select(col("vec_id").as("cid"), col("vq").as("cq"))
        val assigned = cands
          .join(vq, Seq("vec_id"))
          .join(seedsQ, Seq("cid"))
          .withColumn("d2", VectorFunctions.l2sqQ(col("vq"), col("cq")))
          .groupBy("vec_id")
          .agg(min(struct(col("d2"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cid"))
        val alla = Tables.checkpoint(
          vq.join(assigned, Seq("vec_id"), "left")
            .select(col("vec_id"), coalesce(col("cid"), lit(-1L)).as("cid"),
              col("vq")))
        val a = alla.filter(col("cid") >= 0)
          .select(col("cid"), col("vec_id").as("va"), col("vq").as("qa"))
        val b = alla.filter(col("cid") >= 0)
          .select(col("cid"), col("vec_id").as("vb"), col("vq").as("qb"))
        val sup = a.join(b, Seq("cid")).filter(col("va") < col("vb"))
          .filter(VectorFunctions.cosineSimQ(col("qa"), col("qb")) >= tau)
          .groupBy(col("vb").as("vec_id")).agg(min(col("va")).as("nn_id"))
        alla.join(sup, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cid").as("cluster_id"),
            col("nn_id").isNull.as("keep"), col("nn_id"))
          .orderBy("vec_id")
      },
      oracle = Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        eq AS (SELECT vec_id,
                      list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS vq
               FROM e),
        par AS (SELECT stride, COUNT(*) // stride AS k FROM e,
                  (SELECT GREATEST(1, LEAST(250, COUNT(*) // 8)) AS stride FROM e) s
                GROUP BY stride),
        geo AS (SELECT 5 ${Similarity.sizedRptLadderSql} AS rpt
                FROM (SELECT (k + 31) // 32 AS m FROM par)),
        dp AS (
          SELECT vec_id, p,
                 list_sum(list_transform(range(64), i ->
                   vq[i + 1] * CASE WHEN (md5_number_lower('hp-' || p || '-' || i) & 1) = 1
                                    THEN 1 ELSE -1 END)) AS dp
          FROM eq, geo, (SELECT unnest(range(128)) AS p)
          WHERE p < 8 * geo.rpt),
        sig AS (
          SELECT vec_id, p // geo.rpt AS tbl,
                 SUM(CASE WHEN dp >= 0 THEN (1 << (p % geo.rpt)) ELSE 0 END) AS bucket
          FROM dp, geo GROUP BY vec_id, p // geo.rpt),
        cand AS (
          SELECT DISTINCT a.vec_id, b.vec_id AS cid
          FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
          CROSS JOIN par
          WHERE b.vec_id % par.stride = 0),
        assigned AS (
          SELECT vec_id, cid FROM (
            SELECT c.vec_id, c.cid,
                   row_number() OVER (PARTITION BY c.vec_id ORDER BY
                     list_sum(list_transform(list_zip(x.vq, s.vq),
                       z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC, c.cid ASC) AS rn
            FROM cand c
            JOIN eq x ON x.vec_id = c.vec_id
            JOIN eq s ON s.vec_id = c.cid) WHERE rn = 1),
        alla AS (
          SELECT e.vec_id, COALESCE(a.cid, -1) AS cid
          FROM e LEFT JOIN assigned a USING (vec_id)),
        sup AS (
          SELECT bb.vec_id, MIN(aa.vec_id) AS nn_id
          FROM alla aa JOIN alla bb
            ON aa.cid = bb.cid AND aa.cid >= 0 AND aa.vec_id < bb.vec_id
          JOIN eq xa ON xa.vec_id = aa.vec_id
          JOIN eq xb ON xb.vec_id = bb.vec_id
          WHERE (CASE WHEN list_sum(list_transform(xa.vq, t -> t * t)) = 0
                        OR list_sum(list_transform(xb.vq, t -> t * t)) = 0
                      THEN 0.0
                      ELSE CAST(list_sum(list_transform(list_zip(xa.vq, xb.vq),
                             z -> z[1] * z[2])) AS DOUBLE) /
                           (sqrt(CAST(list_sum(list_transform(xa.vq, t -> t * t)) AS DOUBLE)) *
                            sqrt(CAST(list_sum(list_transform(xb.vq, t -> t * t)) AS DOUBLE)))
                 END) >= 0.4
          GROUP BY bb.vec_id)
        SELECT alla.vec_id, alla.cid AS cluster_id,
               sup.nn_id IS NULL AS keep, sup.nn_id
        FROM alla LEFT JOIN sup USING (vec_id)
        ORDER BY alla.vec_id""")))

  /** ExactSubstr span detection (see q_dedup_substr for semantics and
    * scale notes): maximal per-doc position ranges covered by ≥L-token
    * substrings that occur more than once in the corpus. Input: a
    * (doc_id, text) relation. */
  private[graft] def substrSpans(docsDF: DataFrame, L: Int): DataFrame = {
    VectorFunctions.register(docsDF.sparkSession)
    val docsT = docsDF
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= L)
    // The census is keyed by the 64-bit md5-lower fingerprint of each
    // window, NOT the window text: the corpus-sized exchange carries three
    // longs per row instead of an ~L·|token| string (the "text never
    // survives the exchange" contract the Scaladoc promises — the r9 sweep
    // measured the string-keyed spelling superlinear at sf10, 25× wall for
    // 10× data, from shipping+hash-grouping raw spans twice). Both engines
    // compute the identical fingerprint (DuckDB `md5_number_lower`), so
    // dup-detection by fingerprint is oracle-exact; a 64-bit collision
    // (≈2⁻⁶⁴ per pair, the Lee et al. production trade) would merge two
    // distinct spans on BOTH engines identically. Checkpointed once —
    // census and probe both read the materialized (doc,w,h) relation
    // instead of replaying the explode+concat.
    val wins = Tables.checkpoint(
      docsT
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0), size(col("t")) - L)).as("w"))
        .select(col("doc_id"), col("w"),
          VectorFunctions.md5Lower(
            concat_ws(" ", slice(col("t"), col("w") + 1, lit(L)))).as("h")))
    val dup = wins.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("h")
    val dupWins = wins.join(dup, Seq("h"), "left_semi")
    val wDoc = Window.partitionBy("doc_id").orderBy("w")
    val isl = dupWins
      .withColumn("prev_end", max(col("w") + L).over(
        wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_isl",
        when(col("prev_end").isNull || col("w") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "isl")
      .agg(min("w").as("start_pos"), (max(col("w")) + L).as("end_pos"),
        count(lit(1)).as("n_windows"))
    isl.join(docsT, "doc_id")
      .select(col("doc_id"),
        col("start_pos").cast(LongType).as("start_pos"),
        col("end_pos").cast(LongType).as("end_pos"),
        (col("end_pos") - col("start_pos")).cast(LongType).as("span_len"),
        col("n_windows"),
        md5(to_binary(concat_ws(" ",
          slice(col("t"), col("start_pos") + 1,
            col("end_pos") - col("start_pos"))), lit("utf-8"))).as("span_fp"))
  }

  /** Connected components of an undirected edge list `(a, b)` of long vertex
    * ids, labelled with each component's minimum id: two-phase union-find
    * by local contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014).
    *
    * Round 1 runs union-find inside each of the edge list's P partitions
    * and maps every vertex to the least vertex of its local component (its
    * local root). A vertex seen in more than one partition links its local
    * roots: those links are the contracted edge list, and a component that
    * stays inside one partition is already labelled. Each later round runs
    * the same local union-find on the contracted edges with half as many
    * partitions, down to one, where it is global. So there are exactly
    * ⌈log2 P⌉+1 rounds, known before the first: no convergence check, and
    * all rounds are one lineage that the caller's first action runs. A
    * task holds union-find state only for the vertices of its partition.
    *
    * Each round maps a vertex to the least of its local roots, and a
    * vertex's label follows that map through the later rounds until it
    * reaches a root that left the contracted graph (its component was
    * whole) or the last round. A component's minimum is the local root of
    * every partition it is seen in, so it survives every round and ends as
    * the label of all its vertices.
    *
    * `maxIter` caps the rounds: an edge list with more partitions than
    * `maxIter` rounds can contract throws before any round runs, instead of
    * returning partial labels.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // Materialize the edge list once: it is tiny (near-dup pairs), but its
    // lineage is the whole pair-generation pipeline. The materialized
    // partitions fix P.
    val e = Tables.checkpoint(edges.select(col("a"), col("b"))).rdd
      .map(r => (r.getLong(0), r.getLong(1)))
    // Partitions per round: P, ⌈P/2⌉, ..., 1.
    val widths = Iterator.iterate(math.max(e.getNumPartitions, 1))(p => (p + 1) / 2)
      .takeWhile(_ > 1).toList :+ 1
    if (widths.size > maxIter)
      throw new IllegalStateException(
        s"connectedComponents needs ${widths.size} rounds for " +
          s"${e.getNumPartitions} edge partitions, over maxIter = $maxIter " +
          "(labels would be silently partial)")
    // (vertex, label) for every vertex of `round`'s edges; `next` are the
    // partition counts of the rounds after it.
    def label(round: RDD[(Long, Long)], next: List[Int]): RDD[(Long, Long)] = {
      val roots = round.mapPartitions(localRoots)
      next match {
        case Nil => roots
        case w :: rest =>
          val seen = roots.aggregateByKey(List.empty[Long], w)(
            (rs, r) => if (rs.contains(r)) rs else r :: rs,
            (rs, qs) => (rs ++ qs).distinct)
          val contracted = seen.flatMap { case (_, rs) =>
            val g = rs.min
            rs.filter(_ != g).map(r => (g, r))
          }
          seen.map { case (v, rs) => (rs.min, v) }
            .leftOuterJoin(label(contracted, rest), w)
            .map { case (g, (v, l)) => (v, l.getOrElse(g)) }
      }
    }
    edges.sparkSession.createDataFrame(label(e, widths.tail)).toDF("id", "lbl")
  }

  /** Union-find over one partition's edges: each vertex paired with the
    * least vertex of its component within the partition. The smaller root
    * always wins a union, so every root is its component's minimum. */
  private def localRoots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new scala.collection.mutable.LongMap[Long]
    def find(v0: Long): Long = {
      var v = v0
      var p = parent.getOrElseUpdate(v, v)
      while (p != v) { // path halving
        val gp = parent(p)
        parent(v) = gp
        v = gp
        p = parent(v)
      }
      v
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.map(v => (v, find(v)))
  }

  /** Exact n-gram Jaccard pair join over distinct (doc_id, s) shingle rows,
    * optionally with a frequency-capped blocking key.
    *
    * Uncapped (`dfCap = None`): candidates are every pair sharing a
    * shingle — exact, but in-bucket pair work is O(df²) per shingle and a
    * stop-shingle bucket at 100 TB explodes.
    *
    * Capped (`dfCap = Some(cap)`): the hottest shingles (df > cap, at most
    * 63 of them — one bit each) are REMOVED from the blocking join, so no
    * bucket in the self-join exceeds max(cap, 64th-hottest df). The
    * intersection count stays EXACT: each doc carries a 64-bit membership
    * mask over the stop set, and a found pair's shared-stop count is
    * recovered as bit_count(maskA & maskB) — the mask rides the join as
    * one long per doc.
    *
    * Completeness bound: a qualifying pair shares
    * c ≥ ⌈τ/(1+τ)·(nA+nB)⌉ shingles, so it can only be missed (shares
    * stop shingles exclusively) if some doc holds ≥ ⌈τ/(1+τ)·(nX+n_min)⌉
    * stop shingles. The operator CHECKS that condition on the data (one
    * aggregate over the tiny mask table) and falls back to the uncapped
    * exact join when capping would be unsound — exactness is
    * unconditional; the cap engages exactly when provably safe. For the
    * near-dup regime (τ ≥ 0.3, documents of hundreds of shingles) the
    * guard passes with wide margin; it is low-τ tiny-doc corpora that
    * legitimately need the full join.
    */
  def ngramPairs(shInput: DataFrame, tau: Double, dfCap: Option[Int]): DataFrame =
    // Guard bound (symmetric Jaccard): a qualifying pair shares
    // c ≥ ⌈τ/(1+τ)·(nA+nB)⌉ shingles, so a MISSED pair (all shared
    // shingles stop) needs some doc holding ≥ ⌈τ/(1+τ)·(nX+n_min)⌉ stop
    // shingles — the bound checked per doc against its own mask.
    sharedShingleCounts(shInput, dfCap,
      (n, nMin) => ceil(lit(tau / (1.0 + tau)) * (n + nMin)))
      // raw ratio, not rounded: rounding a rational can land on an
      // exact .xxxx5 boundary where the engines' round() diverge; the
      // unrounded division is bit-identical (same IEEE ops both sides)
      .withColumn("jac", col("c").cast(DoubleType) /
        (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= tau)
      .select("da", "db", "jac")

  /** Directed containment pairs C(sub→sup) = |A∩B| / |A_sub| ≥ tau over the
    * same (optionally frequency-capped) shingle blocking as [[ngramPairs]].
    * Each unordered candidate pair yields up to two directed rows.
    *
    * Guard bound (asymmetric): a qualifying DIRECTED pair shares
    * c ≥ ⌈τ·n_sub⌉ shingles, all of which the sub doc holds — so a missed
    * pair requires some doc to hold ≥ ⌈τ·n_doc⌉ stop shingles. The runtime
    * guard checks exactly that per-doc condition (tighter than the
    * ⌈τ·n_min⌉ corpus-wide bound: it uses each doc's own size) and falls
    * back to the uncapped exact join on violation — exactness is
    * unconditional, the cap engages exactly when provably safe.
    */
  def containmentPairs(shInput: DataFrame, tau: Double, dfCap: Option[Int]): DataFrame = {
    val shared = sharedShingleCounts(shInput, dfCap,
      (n, _) => ceil(lit(tau) * n))
    val fwd = shared.select(col("da").as("d_sub"), col("db").as("d_sup"),
      (col("c").cast(DoubleType) / col("na")).as("cont"))
    val rev = shared.select(col("db").as("d_sub"), col("da").as("d_sup"),
      (col("c").cast(DoubleType) / col("nb")).as("cont"))
    fwd.union(rev).filter(col("cont") >= tau)
  }

  /** Shared kernel of [[ngramPairs]] / [[containmentPairs]]: the EXACT
    * per-pair shared-shingle counts `(da < db, c, na, nb)` from a
    * shingle-blocking self-join, optionally with frequency-capped blocking.
    *
    * Uncapped (`dfCap = None`): candidates are every pair sharing a
    * shingle — exact, but in-bucket pair work is O(df²) per shingle and a
    * stop-shingle bucket at 100 TB explodes.
    *
    * Capped (`dfCap = Some(cap)`): the hottest shingles (df > cap, at most
    * 63 of them — one bit each) are REMOVED from the blocking join, so no
    * bucket in the self-join exceeds max(cap, 64th-hottest df). The
    * intersection count stays EXACT: each doc carries a 64-bit membership
    * mask over the stop set, and a found pair's shared-stop count is
    * recovered as bit_count(maskA & maskB) — the mask rides the join as
    * one long per doc.
    *
    * Completeness: a qualifying pair can only be missed if ALL its shared
    * shingles are stop shingles. `violationBound(n, nMin)` gives, for a doc
    * of size n, the minimum stop-shingle count that could hide a
    * qualifying pair under the CALLER's similarity predicate; the kernel
    * CHECKS that condition on the data (one aggregate over the tiny mask
    * table) and falls back to the uncapped exact join when capping would
    * be unsound — exactness is unconditional; the cap engages exactly when
    * provably safe. For the near-dup regime (τ ≥ 0.3, documents of
    * hundreds of shingles) the guard passes with wide margin; it is low-τ
    * tiny-doc corpora that legitimately need the full join.
    */
  private def sharedShingleCounts(
      shInput: DataFrame, dfCap: Option[Int],
      violationBound: (Column, Column) => Column): DataFrame = {
    // The capped path reads the shingle relation from five sub-plans (df
    // table, stop-mask build, sizes, guard, blocking) plus the guard's
    // separate action — materialize it once instead of re-running the
    // shingle pipeline per consumer (measured ~25% faster than lazy at
    // sf0.1 despite the extra action). The uncapped path reads it twice
    // within one plan and exchange reuse covers it, so it stays lazy.
    // (r13 A/B note: re-keying this checkpoint by the blocking key at 2×
    // parallelism was tried and REJECTED — the checkpoint's AQE-coalesced
    // 4 partitions looked like a parallelism bound (pair expansion: 4
    // tasks, 1.7 s task time on 32 cores), but the quiet-window A/B
    // measured 3.6/4.7 s vs 2.7/3.5 s medians for capped/containment:
    // the blocking join's small side already broadcasts, so the explicit
    // exchange bought nothing and its own shuffle + 64-way block
    // bookkeeping cost ~1 s. Latency-, not parallelism-bound at sf0.1.)
    val sh = if (dfCap.isDefined) Tables.checkpoint(shInput) else shInput
    // The capped path reads per-doc sizes from two separate actions (the
    // guard count, then the final pair plan) — cache the tiny relation so
    // the 1M-row groupBy shuffle behind it runs once, not twice. The
    // uncapped path has a single action; exchange reuse already covers it.
    val sizesRaw = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sizes = if (dfCap.isDefined) sizesRaw.cache() else sizesRaw

    def countsFrom(blocking: DataFrame, stopShared: Option[DataFrame]): DataFrame = {
      val a = blocking.select(col("doc_id").as("da"), col("s"))
      val b = blocking.select(col("doc_id").as("db"), col("s"))
      val low = a.join(b, Seq("s")).filter(col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("c_low"))
      val shared = stopShared match {
        case None => low.withColumn("c", col("c_low"))
        case Some(masks) =>
          low
            .join(masks.select(col("doc_id").as("da"), col("mask").as("ma")), Seq("da"), "left")
            .join(masks.select(col("doc_id").as("db"), col("mask").as("mb")), Seq("db"), "left")
            .withColumn("c", col("c_low") + bit_count(
              coalesce(col("ma"), lit(0L)).bitwiseAND(coalesce(col("mb"), lit(0L)))).cast(LongType))
      }
      shared
        .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .select("da", "db", "c", "na", "nb")
    }

    dfCap match {
      case None => countsFrom(sh, None)
      case Some(cap) =>
        // Bit positions 0..62 for the ≤63 stop shingles. orderBy+limit
        // plans TakeOrderedAndProject (single output partition, already
        // sorted); re-asserting the order locally and numbering with
        // monotonically_increasing_id gives the same deterministic rank
        // WITHOUT a WindowExec — an unpartitioned row_number() here is
        // harmless at 63 rows but logs a "No Partition Defined" warning
        // per evaluation, flooding the bench log tail.
        val stop = sh.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .orderBy(col("df").desc, col("s")).limit(63)
          .coalesce(1)
          .sortWithinPartitions(col("df").desc, col("s"))
          .withColumn("bit", monotonically_increasing_id().cast(IntegerType))
          .select("s", "bit")
        val masks = sh.join(broadcast(stop), "s")
          .groupBy("doc_id")
          .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), bit)")).as("mask"))
          .cache() // tiny; the guard count below materializes it lazily
        val nMin = sizes.agg(min(col("n")).as("n_min"))
        val violations = masks.join(sizes, "doc_id").crossJoin(nMin)
          .filter(bit_count(col("mask")) >= violationBound(col("n"), col("n_min")))
          .count()
        val result =
          if (violations > 0) countsFrom(sh, None) // cap unsound here: stay exact
          else countsFrom(sh.join(broadcast(stop), Seq("s"), "left_anti"), Some(masks))
        result
    }
  }

  /** MinHash+LSH near-dup detection, reusable operator.
    *
    * Input: (doc_id, tokens: array<string>) set rows. Signature:
    * sig[i] = min over set elements of XXH64(element, seed=i),
    * i < numHashes. Banding: `bands` bands of numHashes/bands rows; docs
    * sharing any band signature become candidates (one shuffle keyed by
    * (band, bandSig) — never a cross join). Candidates are re-checked with
    * exact token-set Jaccard ≥ tau.
    */
  def minHashDedup(docSets: DataFrame, numHashes: Int, bands: Int, tau: Double): DataFrame = {
    graft.functions.VectorFunctions.register(docSets.sparkSession)
    val rowsPerBand = numHashes / bands
    // Candidate generation shuffles ONLY (band, bandSig, doc_id). The
    // previous formulation carried each doc's full shingle array through
    // the banding explode — at 32 bands that replicated every array 32×
    // into the exchange (~60× the bytes of the ids; measured 8.9 s at
    // sf0.1, 2.5 s after this change). The signature kernel runs once per
    // doc (GenerateExec evaluates its child once per input row).
    val withSig = docSets.select(col("doc_id"),
      graft.functions.VectorFunctions.minhashSig(col("tokens"), numHashes).as("sig"))
    val banded = withSig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand)))).as(Seq("band", "bsig")))

    // ONE exchange keyed by (band, bandSig); in-bucket pair expansion via an
    // indexed-lambda combination explode (no self-join). Buckets of size 1 —
    // the overwhelming majority — are dropped before any pair work;
    // least/greatest orient each pair as (da < db) deterministically, and
    // the distinct collapses pairs caught by several bands BEFORE the
    // token arrays are fetched.
    val candPairs = banded
      .groupBy("band", "bsig")
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> IF(x < y, struct(x AS a, y AS b), struct(y AS a, x AS b)))))"))
        .as("p"))
      .select(col("p.a").as("da"), col("p.b").as("db"))
      .distinct()

    // Exact re-check joins the (few) candidates back to the shingle sets.
    // NO broadcast hints here: the pair relation is near-dup-sized — a
    // vanishing fraction of the corpus, but still corpus-PROPORTIONAL, and
    // the second join's build side would carry a token array per pair. A
    // forced broadcast of that relation grew past the 1 GiB driver-collect
    // ceiling in the sf100 decade run (~5M candidate pairs × tokens);
    // unhinted, AQE's runtime size check broadcasts while the pairs are
    // actually small and degrades to a key-partitioned shuffle join at
    // scale — the shape that survives 100 TB.
    val withTa = candPairs
      .join(docSets.select(col("doc_id").as("da"), col("tokens").as("ta")), "da")
    withTa
      .join(docSets.select(col("doc_id").as("db"), col("tokens").as("tb")), "db")
      .withColumn("jac",
        size(array_intersect(col("ta"), col("tb"))).cast(DoubleType) /
          size(array_union(col("ta"), col("tb"))))
      .filter(col("jac") >= tau)
      .select("da", "db", "jac")
  }
}
