package graft.llm

import graft.{PrefixSum, Q, Tables}
import graft.Q._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline (SURVEY.md §2.5 +
  * north-star): token statistics, corpus stats, quality scoring, language
  * ID heuristic, document fingerprinting. All pure column expressions —
  * whole-stage codegen, no UDFs, embarrassingly parallel at 100 TB (the only
  * shuffles are the final group-bys on low-cardinality keys).
  */
object TextAnalysis {

  private val stopwords = Seq("a", "key", "value", "row", "data")

  /** Marker-token sets per language for the langid heuristic. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("table", "join", "query"),
    "de" -> Seq("spark", "hash", "merge"),
    "es" -> Seq("scan", "fast", "slow"),
    "fr" -> Seq("agg", "window", "batch"),
    "zh" -> Seq("line", "order", "part"))

  private def toks: Column = split(col("text"), " ")

  /** The ≥20%-doc-frequency token co-occurrence edge relation (a < b,
    * canonical orientation), checkpointed once per call and consumed by the
    * graph quartet: q_graph_degree, q_graph_triangles, q_text_rank, and
    * q_recursive_cte (SetSort).
    *
    * Scale (the r12 fix): pair generation is APRIORI-PRUNED — a pair can
    * reach ≥20% doc frequency only if BOTH tokens individually do
    * (n(a,b) ≤ min(df(a), df(b)), the frequent-itemset bound), so the
    * per-doc pair expansion runs over each doc's FREQUENT-token subset
    * only. The frequent set is corpus-size-INDEPENDENT by pigeonhole
    * (Σ df = N·t̄ ⟹ |{tokens : df ≥ N/5}| ≤ 5·t̄ where t̄ = mean distinct
    * tokens per doc), so pair volume is O(docs · C(f, 2)) with f bounded —
    * versus the unpruned O(docs · C(t̄, 2)) whose pair-keyed aggregation
    * crossed the spill threshold at sf10 (measured 41–90× per decade;
    * linear after the prune). Result-identical by the apriori bound, so
    * every consumer's DuckDB oracle keeps the direct unpruned SQL.
    *
    * Plan shape: one (token → df) agg (map-side combine makes the shuffle
    * vocab-sized), one UNHINTED prune join (the freq side is
    * pigeonhole-bounded but corpus-derived — the fleet-invariant class AQE
    * sizes at runtime), one doc_id regroup of the pruned rows, the
    * intra-row token_pairs expansion, and the pair-keyed agg — now over
    * the pruned volume. The checkpoint gives consumers exact stats and a
    * corpus-free final plan (PlanSpec pins zero parquet scans above it). */
  def cooccurEdges(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val docs = Tables(s, d, "documents")
    // zero-column count: parquet row-group metadata speed, folded in as a
    // literal so the threshold costs no extra scan in the edge plan
    val total = docs.count()
    def dt = docs.select(col("doc_id"),
      explode(array_distinct(toks)).as("token"))
    val freq = dt.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") * 5 >= lit(total))
      .select(col("token"))
    val pairs = dt.join(freq, "token")
      .groupBy("doc_id").agg(sort_array(collect_list(col("token"))).as("t"))
      .select(explode(graft.functions.VectorFunctions.tokenPairs(col("t"))).as("p"))
      .select(col("p.ta").as("a"), col("p.tb").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
    Tables.checkpoint(
      pairs.filter(col("n") * 5 >= lit(total)).select(col("a"), col("b")))
  }

  /** Unrolled `iters`-round BPE training oracle (q_bpe_train): same
    * word-count base, same count-weighted pair argmax (ties by lhs, rhs),
    * same greedy-fold merge application — DuckDB's `list_reduce` seeds the
    * accumulator with the first element, exactly matching the Spark fold's
    * empty-init + first-element CASE. Each round is one (p_i, b_i, w_i)
    * CTE triple chained on the previous round's word relation.
    */
  /** The shared CTE chain for the BPE oracles: w0 is the word-count base
    * (word identity CARRIED — w_i maps each distinct word to its symbol
    * string after i merges), and each round is a (p_i, b_i, w_i) triple
    * chained on the previous round's word relation. `list_reduce` seeds
    * the accumulator with the first element, exactly matching the Spark
    * fold's empty-init + first-element CASE. */
  private def bpeCtes(iters: Int): String = {
    val base = """w0 AS (
          SELECT w, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS syms,
                 COUNT(*) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE w <> '' GROUP BY 1, 2)"""
    val steps = (1 to iters).map { i =>
      s"""p$i AS (
          SELECT t[j] AS lhs, t[j + 1] AS rhs, CAST(SUM(cnt) AS BIGINT) AS n
          FROM (SELECT t, cnt, unnest(generate_series(1, len(t) - 1)) AS j
                FROM (SELECT string_split(syms, ' ') AS t, cnt FROM w${i - 1})
                WHERE len(t) >= 2)
          GROUP BY 1, 2),
        b$i AS (SELECT lhs, rhs, n FROM p$i ORDER BY n DESC, lhs, rhs LIMIT 1),
        w$i AS (
          SELECT w, list_reduce(string_split(syms, ' '), (acc, x) ->
                   CASE WHEN (acc = b.lhs OR ends_with(acc, ' ' || b.lhs))
                             AND x = b.rhs
                        THEN acc || b.rhs ELSE acc || ' ' || x END) AS syms,
                 cnt
          FROM w${i - 1}, b$i b)"""
    }.mkString(",\n        ")
    s"$base,\n        $steps"
  }

  /** Unrolled `iters`-round BPE training oracle (q_bpe_train). */
  private def bpeTrainOracle(iters: Int): String = {
    val union = (1 to iters).map(i =>
      s"SELECT CAST($i AS BIGINT) AS iter, lhs, rhs, n FROM b$i")
      .mkString("\n        UNION ALL ")
    s"""WITH ${bpeCtes(iters)}
        $union
        ORDER BY iter"""
  }

  /** BPE ENCODE oracle (q_bpe_encode): the trained vocabulary w_iters maps
    * every distinct word to its final symbol string; per-doc rollups are
    * all ASSOCIATIVE (count/sum/bit_xor) — the fingerprint is the XOR of
    * position-tagged md5-lower-64 word hashes (shifted into 53 bits so the
    * unsigned/signed BIGINT boundary can't bite), which encodes order
    * without re-assembling the document string. */
  private def bpeEncodeOracle(iters: Int): String =
    s"""WITH ${bpeCtes(iters)},
        dw AS (SELECT doc_id,
                      unnest(list_transform(string_split(text, ' '),
                        (x, i) -> struct_pack(w := x, pos := i))) AS u
               FROM documents),
        dx AS (SELECT doc_id, u.w AS w, u.pos AS pos FROM dw
               WHERE u.w <> ''),
        enc AS (SELECT d.doc_id, d.pos, v.syms
                FROM dx d JOIN w$iters v ON v.w = d.w)
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(len(string_split(syms, ' '))) AS BIGINT) AS n_tokens,
               bit_xor(CAST(md5_number_lower(CAST(pos AS VARCHAR) || ':' || syms)
                 >> 11 AS BIGINT)) AS tok_fp
        FROM enc GROUP BY doc_id ORDER BY doc_id"""

  /** Iterative BPE merge-table training (Sennrich et al. 2016,
    * arXiv:1508.07909): `iters` rounds over the corpus word-frequency
    * relation. Returns the final (w, syms, cnt) vocabulary — each distinct
    * word mapped to its symbol string after all merges (the ENCODER) —
    * plus the learned (iter, lhs, rhs, n) merge table. The corpus is
    * touched once (the word-count agg); every round then works on the
    * checkpointed vocabulary relation alone: pair counts are a per-word
    * adjacency explode weighted by word count, the winning pair is a
    * 1-row TakeOrderedAndProject collected to the driver (the q_kmeans
    * control-loop pattern), and the merge is applied as an exact
    * left-to-right greedy fold over each word's symbol string (see
    * q_bpe_train's fold-encoding note). */
  private def bpeTrain(s: SparkSession, d: String, iters: Int)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    val gens = new Tables.Generations
    var words = gens.next(
      Tables(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("w"),
          trim(regexp_replace(col("w"), "(.)", "$1 ")).as("syms"),
          col("cnt")))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (it <- 1 to iters) {
      val bestRow = words
        .select(col("cnt"), split(col("syms"), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(t) - 2), i -> " +
            "struct(t[i] AS lhs, t[i+1] AS rhs))")).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      require(bestRow.nonEmpty,
        s"bpeTrain: vocabulary exhausted before iteration $it")
      val (l, r, n) =
        (bestRow(0).getString(0), bestRow(0).getString(1),
          bestRow(0).getLong(2))
      merges += ((it.toLong, l, r, n))
      val (lhs, rhs) = (lit(l), lit(r))
      words = gens.next(
        words.select(col("w"),
          aggregate(split(col("syms"), " "), lit(""),
            (acc, x) => when(acc === "", x)
              .when((acc === lhs ||
                  acc.endsWith(concat(lit(" "), lhs))) && x === rhs,
                concat(acc, rhs))
              .otherwise(concat(acc, lit(" "), x))).as("syms"),
          col("cnt")))
    }
    (words, merges.result())
  }

  private def markerScore(words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Deterministic argmax over marker scores, ties broken by declaration
    * order (en > de > es > fr > zh) — identical CASE chain in the oracle.
    *
    * Two-level shape ON PURPOSE: the five `size(filter(split(text)))`
    * scores land in a lower projection and the CASE/greatest argmax above
    * references them as plain ATTRIBUTES. Inlining the scores into the CASE
    * chain (the pre-r7 shape) re-evaluates each score up to 6× per row —
    * every `when` arm carries its own copy of the full 5-way `greatest` —
    * which benched q_lang_confusion at 3-6 s vs 0.3 s for the same logic
    * evaluated once. CollapseProject keeps the split because non-cheap
    * aliases referenced more than once are not collapsed.
    */
  private def withPredicted(df: DataFrame): DataFrame = {
    val scored = df.select(col("*") +:
      markers.map { case (lang, words) => markerScore(words).as(s"_s_$lang") }: _*)
    val best = markers.map { case (l, _) => col(s"_s_$l") }
      .reduce((a, b) => greatest(a, b))
    val predicted = markers.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(col(s"_s_$lang") === best, lang).otherwise(acc)
    }
    scored.withColumn("predicted", predicted)
      .drop(markers.map { case (l, _) => s"_s_$l" }: _*)
  }

  private def langCaseSql: String = {
    def score(words: Seq[String]) =
      s"len(list_filter(string_split(text,' '), t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    val scores = markers.map { case (l, ws) => l -> score(ws) }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    scores.reverse.foldLeft("'und'") { case (acc, (lang, sc)) =>
      s"CASE WHEN $sc = best THEN '$lang' ELSE $acc END"
    }.replace("best", best)
  }

  val qs: Map[String, Q] = Map(

    "q_text_tokens" -> Q(
      fn = (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), explode(toks).as("token"))
          .groupBy("token")
          .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
          .orderBy(col("df").desc, col("tf").desc, col("token").asc)
          .limit(100),
      oracle = Some("""
        SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
        ORDER BY df DESC, tf DESC, token ASC LIMIT 100""")),

    // TF-IDF: term frequency per (doc, token) × inverse document frequency.
    // One explode + two hash aggs + a broadcast-able df join — the final
    // global top-200 is TakeOrderedAndProject (O(k) per partition). The
    // (tfidf, doc_id, token) sort chain is a total order, so the LIMIT
    // boundary is deterministic.
    //
    // Single-scan shape: df derives from tf (tf's rows are already distinct
    // per (doc, token), so counting rows per token IS the document
    // frequency) — the two branches share one scan + one (doc_id, token)
    // exchange, which Catalyst deduplicates via ReusedExchange. The corpus
    // size N is a lazy 1-row broadcast agg, not a driver-side count(): no
    // eager extra pass, and the N-side scan prunes to zero columns.
    "q_text_tfidf" -> Q(
      fn = (s, d) => {
        val docs = Tables(s, d, "documents")
        val n = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
        val dt = docs.select(col("doc_id"), explode(toks).as("token"))
        val tf = dt.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        // Min-term-frequency gate (the knob real TF-IDF pipelines expose;
        // 1 = keep everything). It also pins the df branch to CONSUME tf,
        // so ColumnPruning can't strip count(1) from this side's aggregate
        // and diverge it from the tf branch — with both subtrees identical,
        // ReuseExchange collapses them onto one scan + one exchange.
        val df = tf.filter(col("tf") >= 1)
          .groupBy("token").agg(count(lit(1)).as("df"))
        tf.join(df, "token")
          .crossJoin(broadcast(n))
          .withColumn("tfidf", r4(col("tf") * log(col("n_docs") / col("df"))))
          .select("doc_id", "token", "tf", "df", "tfidf")
          .orderBy(col("tfidf").desc, col("doc_id").asc, col("token").asc)
          .limit(200)
      },
      oracle = Some("""
        WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
        df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM dt GROUP BY 1)
        SELECT tf.doc_id, tf.token AS token, tf.tf, df.df,
               CAST(ROUND(tf.tf * ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) / df.df), 4)
                    AS DOUBLE) AS tfidf
        FROM tf JOIN df ON tf.token = df.token
        ORDER BY tfidf DESC, doc_id ASC, tf.token ASC LIMIT 200""")),

    "q_text_stats" -> Q(
      fn = (s, d) =>
        Tables(s, d, "documents")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("n_sources"),
            avg(col("n_chars")).as("avg_chars"),
            avg(size(toks)).as("avg_tokens"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy("lang"),
      oracle = Some("""
        SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
               CAST(AVG(n_chars) AS DOUBLE) AS avg_chars,
               CAST(AVG(len(string_split(text, ' '))) AS DOUBLE) AS avg_tokens,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM documents GROUP BY lang ORDER BY lang""")),

    "q_text_quality" -> Q(
      fn = (s, d) =>
        Tables(s, d, "documents").select(
          col("doc_id"),
          size(toks).cast(LongType).as("n_tokens"),
          length(col("text")).cast(LongType).as("text_len"),
          // raw ratios, not rounded: int/int division is bit-identical on
          // both engines, while round(ratio, 4) diverges when the rational
          // lands exactly on a .xxxx5 boundary (possible when the
          // denominator divides 2*10^4)
          (length(regexp_replace(col("text"), "[^ ]", "")).cast(DoubleType) /
             greatest(length(col("text")), lit(1))).as("space_ratio"),
          (size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast(DoubleType) /
             greatest(size(toks), lit(1))).as("stopword_ratio"),
          ((length(col("text")) - length(regexp_replace(col("text"), "[aeiou]", "")))
            .cast(DoubleType) / greatest(length(col("text")), lit(1))).as("vowel_ratio"),
          (size(array_distinct(toks)).cast(DoubleType) /
             greatest(size(toks), lit(1))).as("distinct_ratio"))
          .orderBy("doc_id"),
      oracle = Some(s"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) AS text_len,
               CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
                    / greatest(length(text), 1) AS space_ratio,
               CAST(len(list_filter(string_split(text, ' '),
                      t -> t IN (${stopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE)
                    / greatest(len(string_split(text, ' ')), 1) AS stopword_ratio,
               CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE)
                    / greatest(length(text), 1) AS vowel_ratio,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / greatest(len(string_split(text, ' ')), 1) AS distinct_ratio
        FROM documents ORDER BY doc_id""")),

    "q_text_langid" -> Q(
      fn = (s, d) =>
        withPredicted(Tables(s, d, "documents"))
          .select(col("doc_id"), col("lang"), col("predicted"))
          .withColumn("hit", (col("predicted") === col("lang")).cast(LongType))
          .orderBy("doc_id"),
      oracle = Some(s"""
        SELECT doc_id, lang, predicted,
               CAST(predicted = lang AS BIGINT) AS hit
        FROM (SELECT doc_id, lang, $langCaseSql AS predicted FROM documents)
        ORDER BY doc_id""")),

    // Token counting two ways: whitespace tokens and a BPE-ish regex
    // lexer (word / number / punctuation runs — no lookarounds, so the
    // same pattern behaves identically under Java regex and RE2).
    "q_text_token_count" -> Q(
      fn = (s, d) =>
        Tables(s, d, "documents").select(
          col("doc_id"),
          size(toks).cast(LongType).as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))).cast(LongType).as("bpe_tokens"))
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               len(string_split(text, ' ')) AS ws_tokens,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens
        FROM documents ORDER BY doc_id""")),

    // Token co-occurrence: document frequency of token PAIRS via per-doc
    // bounded pair expansion (token_pairs kernel — no self-join, only the
    // final low-cardinality count shuffles).
    "q_text_cooccur" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        Tables(s, d, "documents")
          .select(col("doc_id"),
            explode(graft.functions.VectorFunctions.tokenPairs(
              array_sort(array_distinct(toks)))).as("p"))
          .select(col("p.ta").as("ta"), col("p.tb").as("tb"))
          .groupBy("ta", "tb").agg(count(lit(1)).as("ndocs"))
          .orderBy(col("ndocs").desc, col("ta").asc, col("tb").asc)
          .limit(50)
      },
      oracle = Some("""
        WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                    FROM documents)
        SELECT a.token AS ta, b.token AS tb, COUNT(*) AS ndocs
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
        GROUP BY ta, tb
        ORDER BY ndocs DESC, ta ASC, tb ASC LIMIT 50""")),

    // The composed training-data pipeline, end to end: near-dup cluster
    // dedup (keep each cluster's canonical survivor) → quality filter →
    // language selection → per-language corpus stats. One query exercising
    // the operators together the way a real corpus build chains them; every
    // stage is oracle-replicated (the dedup stage via recursive closure
    // over the exact Jaccard pair graph — same recall-1 argument as
    // q_dedup_fuzzy).
    "q_pipeline_e2e" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val pairs = Dedup.minHashDedup(
            Tables(s, d, "documents")
              .select(col("doc_id"),
                graft.functions.VectorFunctions.shingleSet(toks, 3).as("tokens"))
              .filter(size(col("tokens")) > 0),
            numHashes = 64, bands = 32, tau = 0.3)
          .select(col("da").as("a"), col("db").as("b"))
        val dropped = Dedup.connectedComponents(pairs)
          .filter(col("id") =!= col("lbl"))
          .select(col("id").as("doc_id"))
        // unhinted anti-join: the dropped-id relation is near-dup-sized —
        // corpus-proportional — so AQE broadcasts it while small and keys
        // the exchange at scale (the q_dedup_fuzzy sf100 failure class)
        Tables(s, d, "documents")
          .join(dropped, Seq("doc_id"), "left_anti")
          .withColumn("n_tokens", size(toks).cast(LongType))
          .withColumn("space_ratio",
            length(regexp_replace(col("text"), "[^ ]", "")).cast(DoubleType) /
              greatest(length(col("text")), lit(1)))
          .filter(col("n_tokens").between(20, 80) && col("space_ratio") <= 0.18 &&
            col("lang").isin("en", "de", "es"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            avg(col("n_chars")).as("avg_chars"))
          .orderBy("lang")
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
          SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
        dropped AS (SELECT id FROM reach GROUP BY id HAVING id <> MIN(r)),
        kept AS (
          SELECT lang, n_chars,
                 len(string_split(text, ' ')) AS n_tokens,
                 CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1) AS space_ratio
          FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped))
        SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(AVG(n_chars) AS DOUBLE) AS avg_chars
        FROM kept
        WHERE n_tokens BETWEEN 20 AND 80 AND space_ratio <= 0.18
          AND lang IN ('en', 'de', 'es')
        GROUP BY lang ORDER BY lang""")),

    "q_text_fingerprint" -> Q(
      fn = (s, d) =>
        Tables(s, d, "documents").select(
          col("doc_id"),
          md5(to_binary(
            regexp_replace(lower(col("text")), " +", " "), lit("utf-8"))).as("fp"),
          substring(md5(to_binary(col("text"), lit("utf-8"))), 1, 8).as("fp_short"))
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fp,
               substr(md5(text), 1, 8) AS fp_short
        FROM documents ORDER BY doc_id""")),

    // Overlapping token-window chunking — the step that turns documents
    // into training-window rows. Window W=32, stride S=24 (8-token
    // overlap); the final window may be shorter. Chunk starts come from an
    // exploded integer sequence (k·S < n), the slice is taken on the
    // projected token array — nothing recomputed per generated row.
    "q_text_chunk" -> Q(
      fn = (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(0),
              floor(greatest(size(col("t")) - 1, lit(0)) / 24).cast(IntegerType))).as("k"))
          .select(col("doc_id"), col("k").cast(LongType).as("chunk_id"),
            least(size(col("t")) - col("k") * 24, lit(32)).cast(LongType).as("n_tokens"),
            concat_ws(" ", slice(col("t"), col("k") * 24 + 1, lit(32))).as("chunk"))
          .orderBy("doc_id", "chunk_id"),
      oracle = Some("""
        SELECT doc_id, k AS chunk_id,
               CAST(least(len(t) - k * 24, 32) AS BIGINT) AS n_tokens,
               array_to_string(t[k * 24 + 1 : k * 24 + 32], ' ') AS chunk
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             LATERAL (SELECT unnest(generate_series(0, greatest(len(t) - 1, 0) // 24)) AS k)
        ORDER BY doc_id, chunk_id""")),

    // Greedy sequence PACKING — documents filled into token-budget-bounded
    // training groups (budget 2048): per language, docs in deterministic
    // order accumulate until the budget crosses, then a new pack starts
    // (pack id = completed budget multiples BEFORE this doc — the standard
    // streaming-fill semantics; a pack may overflow by at most one doc).
    // One keyed window cumsum + one hash agg: shuffle keyed by language,
    // integer arithmetic throughout ⇒ exact cross-engine. A per-key
    // sequential fill serializes per language — at 100 TB the partition
    // key becomes (lang, shard) (date or hash shard) and pack ids compose
    // (shard, local_pack): same plan, parallelism restored, packs still
    // budget-bounded since the fill never crosses shards.
    "q_pack_sequences" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast(LongType).as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("pack_id", expr("(cum - n_tok) div 2048"))
          .groupBy("lang", "pack_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"))
          .orderBy("lang", "pack_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT lang, n_tok,
                 SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
        SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
        FROM c GROUP BY 1, 2 ORDER BY lang, pack_id""")),

    // Text scrubbing — the normalization pass before fingerprinting/dedup:
    // mask emails and URLs, normalize digit runs, strip stray punctuation,
    // collapse whitespace, lowercase. Every rule is a codegen'd
    // regexp_replace; the `changed` flag makes the pass auditable.
    "q_text_scrub" -> Q(
      fn = (s, d) => {
        val scrubbed =
          trim(regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(lower(col("text")),
                    "[a-z0-9._%+-]+@[a-z0-9.-]+", "<email>"),
                  "https?://[^ ]+", "<url>"),
                "[0-9]+", "0"),
              "[^a-z0-9<> ]", ""),
            " +", " "))
        Tables(s, d, "documents")
          .select(col("doc_id"), scrubbed.as("clean"),
            (scrubbed =!= col("text")).as("changed"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH s AS (
          SELECT doc_id, text,
                 trim(regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(lower(text),
                           '[a-z0-9._%+-]+@[a-z0-9.-]+', '<email>', 'g'),
                         'https?://[^ ]+', '<url>', 'g'),
                       '[0-9]+', '0', 'g'),
                     '[^a-z0-9<> ]', '', 'g'),
                   ' +', ' ', 'g')) AS clean
          FROM documents)
        SELECT doc_id, clean, clean <> text AS changed
        FROM s ORDER BY doc_id""")),

    // Token-distribution (Shannon) entropy per document — the repetition
    // signal quality filters use: boilerplate and generated spam sit far
    // below natural text. H = ln(n) − Σc·ln(c)/n (the algebraic form needs
    // ONE aggregation over (doc, token) counts instead of a join back for
    // the total). Natural-log entropy, rounded — ln is transcendental so
    // engine libms may differ in the last ulp.
    "q_text_entropy" -> Q(
      fn = (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n"),
            sum(col("c").cast(DoubleType) * log(col("c"))).as("clnc"))
          .select(col("doc_id"), col("n"),
            r4(log(col("n")) - col("clnc") / col("n")).as("entropy"))
          .orderBy("doc_id"),
      oracle = Some("""
        WITH tc AS (
          SELECT doc_id, t, COUNT(*) AS c FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
          GROUP BY doc_id, t)
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS DOUBLE) AS entropy
        FROM tc GROUP BY doc_id ORDER BY doc_id""")),

    // Inverted-index build — token → sorted posting list of containing
    // docs, for the top-50 tokens by document frequency. The search-index
    // materialization a retrieval layer runs over the corpus: one explode +
    // one hash agg keyed by token; posting lists are sorted inside the
    // aggregate (array_sort of collect_list — deterministic), and the
    // top-50 boundary is a total order (df desc, token asc). At 100 TB a
    // posting list for a stopword-class token is the scale risk: the df
    // column computed in the same pass is exactly the signal to shard such
    // lists ((token, bucket) key) — the hot-key diagnosis costs nothing
    // extra here.
    "q_text_inverted_index" -> Q(
      fn = (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"), explode(toks).as("token")).distinct()
          .groupBy("token")
          .agg(count(lit(1)).as("df"),
            // Serialized, not raw array<bigint>: the correctness harness
            // sorts output columns and cannot hash list cells (the
            // q_agg_collect convention for every list-shaped result).
            concat_ws(",", array_sort(collect_list(col("doc_id")))).as("postings"))
          .orderBy(col("df").desc, col("token").asc)
          .limit(50),
      oracle = Some("""
        WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                    FROM documents)
        SELECT token, COUNT(*) AS df,
               array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        FROM dt GROUP BY token
        ORDER BY df DESC, token ASC LIMIT 50""")),

    // BM25 ranked retrieval over the inverted-index statistics — the
    // scoring function actual search/RAG retrieval uses (k1=1.2, b=0.75,
    // Robertson +1 idf). Every input to the score is an exact integer
    // (tf, df, doclen) or an exact ratio of integer aggregates (N, avgdl
    // as sum/count — NOT a float avg(), whose partial-merge order differs
    // per engine); ln is the only transcendental, the q_text_tfidf-proven
    // path. Per-doc totals add the (≤3) per-term scores through conditional
    // single-value aggregates in fixed term order — no cross-row double
    // accumulation anywhere. Corpus stats broadcast; the candidate set
    // shuffles once, keyed by doc.
    "q_text_bm25" -> Q(
      fn = (s, d) => {
        val qterms = Seq("table", "query", "vector")
        // Single-scan shape (the q_text_tfidf pattern): ONE explode + one
        // (doc_id, token) exchange feeds tf, doclen (Σ tf per doc — equal
        // to size(split) by construction), df, and the corpus stats.
        val tfAll = Tables(s, d, "documents")
          .select(col("doc_id"), explode(toks).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dl = tfAll.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
        val stats = dl.agg(
          count(lit(1)).cast(DoubleType).as("n_docs"),
          (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
        val tf = tfAll.filter(col("token").isin(qterms.map(lit): _*))
        val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val scored = tf.join(broadcast(df), "token")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
          .withColumn("s",
            col("idf") * (col("tf") * lit(2.2)) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        val perTerm = qterms.zipWithIndex.map { case (t, i) =>
          max(when(col("token") === t, col("s"))).as(s"s_$i")
        }
        scored.groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"), perTerm: _*)
          .withColumn("score",
            r4(qterms.indices.map(i => coalesce(col(s"s_$i"), lit(0.0)))
              .reduce(_ + _)))
          .select("doc_id", "n_terms", "score")
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(100)
      },
      oracle = Some("""
        WITH tf_all AS (SELECT doc_id, token, COUNT(*) AS tf FROM (
                 SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
               GROUP BY doc_id, token),
        dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf_all GROUP BY doc_id),
        stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        tf AS (SELECT doc_id, token, tf FROM tf_all
               WHERE token IN ('table', 'query', 'vector')),
        df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
                   (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
          FROM tf JOIN df ON tf.token = df.token
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats)
        SELECT doc_id, COUNT(*) AS n_terms,
               CAST(ROUND(coalesce(MAX(CASE WHEN token = 'table' THEN s END), 0.0)
                        + coalesce(MAX(CASE WHEN token = 'query' THEN s END), 0.0)
                        + coalesce(MAX(CASE WHEN token = 'vector' THEN s END), 0.0), 4)
                    AS DOUBLE) AS score
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 100""")),

    // TextRank keyword extraction — PageRank over the token co-occurrence
    // graph (Mihalcea & Tarau 2004), the graph-analytics member of the
    // text family. Determinism is the interesting part: the whole
    // iteration runs in FIXED-POINT INTEGER arithmetic (rank scaled by
    // 1e6; damping 0.85 as ×17 ÷20 integral ops; per-neighbor share as
    // integral division by degree), so 10 iterations are bit-exact
    // cross-engine with no float accumulation anywhere. Edges are token
    // pairs co-occurring in ≥20% of docs (ndocs·5 ≥ N — integer compare);
    // the bounded per-doc pair expansion (token_pairs kernel) keeps
    // candidate generation linear, and each iteration is one keyed
    // join + hash agg over the (tiny) edge relation — the same
    // localCheckpoint-per-iteration shape as connected components, with
    // superseded generations unpersisted.
    "q_text_rank" -> Q(
      fn = (s, d) => {
        // the shared apriori-pruned ≥20% co-occurrence edge relation —
        // see cooccurEdges for the prune argument and plan shape
        val edges = cooccurEdges(s, d)
        val und = edges.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
        // Degree attaches to the edge list ONCE; each iteration joins the
        // (nodes-sized) rank table back in UNHINTED: the node set is
        // vocabulary-derived — it GROWS with the corpus (the broadcast-
        // hint fleet-invariant class) — so AQE sizes the join per
        // iteration: broadcast while the rank table is actually small
        // (every tested SF), keyed join when the vocabulary outgrows the
        // executors. The only per-iteration exchange either way is the
        // |nodes|-row share aggregation.
        val adj = Tables.checkpoint(
          und.join(und.groupBy("src").agg(count(lit(1)).as("deg")), "src"))
        val gens = new Tables.Generations
        var pr = gens.next(
          adj.select(col("src").as("token")).distinct()
            .select(col("token"), lit(1000000L).as("pr")))
        for (_ <- 1 to 10) {
          pr = gens.next(adj
            .join(pr.select(col("token").as("src"), col("pr")), "src")
            .select(col("dst").as("token"), expr("pr div deg").as("share"))
            .groupBy("token")
            .agg((lit(150000L) + expr("(sum(share) * 17) div 20")).as("pr")))
        }
        pr.orderBy(col("pr").desc, col("token").asc).limit(50)
      },
      oracle = Some({
        val iters = (1 to 10).map { i =>
          s"""pr$i AS (
            SELECT und.dst AS token,
                   150000 + (SUM(p.pr // g.deg) * 17) // 20 AS pr
            FROM und JOIN pr${i - 1} p ON und.src = p.token
            JOIN deg g ON und.src = g.src
            GROUP BY und.dst)"""
        }.mkString(",\n")
        s"""
        WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
                    FROM documents),
        pairs AS (
          SELECT a.token AS ta, b.token AS tb, COUNT(*) AS ndocs
          FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
          GROUP BY ta, tb),
        edges AS (
          SELECT ta, tb FROM pairs
          WHERE ndocs * 5 >= (SELECT COUNT(*) FROM documents)),
        und AS (SELECT ta AS src, tb AS dst FROM edges
                UNION ALL SELECT tb, ta FROM edges),
        deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
        pr0 AS (SELECT src AS token, CAST(1000000 AS BIGINT) AS pr FROM deg),
        $iters
        SELECT token, CAST(pr AS BIGINT) AS pr FROM pr10
        ORDER BY pr DESC, token ASC LIMIT 50"""
      })),

    // Unigram-LM quality scoring — the CCNet-perplexity-style filter with
    // the corpus itself as the language model: score(d) = Σ c·ln(p(t)) / n
    // where p(t) = corpus frequency of t over total tokens. Low (very
    // negative) scores = rare-token soup; high = common fluent text. The
    // same single-scan derivation chain as bm25 (one explode/(doc,token)
    // exchange feeds per-doc tf, corpus freqs AND the total). The freq
    // join is UNHINTED: vocab ≪ corpus but the vocabulary GROWS with it
    // (sublinearly — the same growth law that moved the rank quartet onto
    // PrefixSum), so AQE sizes the join at runtime: broadcast while the
    // vocab is actually small, keyed shuffle at 100 TB. The per-doc
    // Σ c·ln(p) is the q_text_entropy aggregation shape.
    "q_text_lm_score" -> Q(
      fn = (s, d) => {
        val tfAll = Tables(s, d, "documents")
          .select(col("doc_id"), explode(toks).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
        val freq = tfAll.groupBy("token").agg(sum(col("c")).as("cf"))
        val total = freq.agg(sum(col("cf")).cast(DoubleType).as("n_total"))
        tfAll.join(freq, "token")
          .crossJoin(broadcast(total))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_tokens"),
            sum(col("c").cast(DoubleType) * log(col("cf") / col("n_total"))).as("lp"))
          .select(col("doc_id"), col("n_tokens"),
            r4(col("lp") / col("n_tokens")).as("avg_logprob"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH tf AS (SELECT doc_id, token, COUNT(*) AS c FROM (
                 SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
               GROUP BY doc_id, token),
        freq AS (SELECT token, SUM(c) AS cf FROM tf GROUP BY token),
        total AS (SELECT CAST(SUM(cf) AS DOUBLE) AS n_total FROM freq)
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(ROUND(SUM(c * ln(cf / n_total)) / SUM(c), 4) AS DOUBLE) AS avg_logprob
        FROM tf JOIN freq USING (token) CROSS JOIN total
        GROUP BY doc_id ORDER BY doc_id""")),

    // BPE merge induction, step 1 (the tokenizer-training primitive): count
    // adjacent character pairs inside words across the corpus; the top pair
    // is the first merge a byte-pair encoder would learn. One explode chain
    // into a hash agg keyed by the 2-char pair (bounded key space ≤ 26²) —
    // map-side partials absorb the skew, top-20 is a TakeOrderedAndProject.
    // Iterating (re-segment on the merged vocab, recount) is the same job
    // per round; the heavy lifting is this count.
    "q_bpe_merges" -> Q(
      fn = (s, d) =>
        Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(20),
      oracle = Some("""
        WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        pairs AS (SELECT substr(w, CAST(i AS INT), 2) AS pair
                  FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
                        FROM words WHERE length(w) >= 2))
        SELECT pair, COUNT(*) AS n FROM pairs
        GROUP BY pair ORDER BY n DESC, pair LIMIT 20""")),

    // FULL BPE merge-table training (Sennrich et al. 2016, arXiv:1508.07909
    // — the iterative completion of q_bpe_merges' single counting step),
    // run the way a tokenizer trainer actually scales on Spark: the corpus
    // is touched ONCE (a word-frequency aggregation — vocab ≪ corpus; at
    // 100 TB this is the only corpus-sized pass), and each of the 8 merge
    // rounds then works on the checkpointed word-count relation alone —
    // pair counts are a per-word adjacency explode WEIGHTED BY word count,
    // the winning pair is a 1-row TakeOrderedAndProject collected to the
    // driver (the merge RULE is a scalar; the same driver-side control
    // loop as the q_kmeans trainer), and the merge is applied as an exact
    // left-to-right greedy fold over each word's symbol string.
    //
    // Fold-encoding exactness (identical lambda in the DuckDB oracle):
    // symbols are space-joined (symbols themselves can't contain spaces —
    // words are whitespace-split), so "last symbol == lhs" is exactly
    // `acc = lhs OR endswith(acc, ' '||lhs)`, and a merge appends rhs with
    // NO space. A merged symbol can never chain-merge in the same pass
    // (lhs||rhs ≠ lhs, and merged output contains no ' '||lhs suffix), so
    // the fold reproduces Sennrich's non-overlapping left-to-right re.sub
    // exactly — e.g. merging (a,a) over "a a a" yields "aa a", never "aaa".
    "q_bpe_train" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val (_, merges) = bpeTrain(s, d, iters = 8)
        merges.toDF("iter", "lhs", "rhs", "n").orderBy("iter")
      },
      oracle = Some(bpeTrainOracle(8))),

    // BPE ENCODE — the application step that completes the tokenizer
    // family (q_bpe_merges counts pairs, q_bpe_train learns the merge
    // table, THIS tokenizes the corpus with it; q_tokenizer_fertility /
    // q_vocab_coverage then audit the result): every document re-emitted
    // as (word count, BPE token count, order-encoding fingerprint of the
    // tokenized stream). Encoding a word with the trained table is
    // exactly the training fold applied merge-by-merge, so the final w8
    // vocabulary relation (word → symbols after all 8 merges) IS the
    // encoder — no re-derivation, and train/encode can never disagree.
    //
    // Scale shape: the corpus is touched twice (the word-count base the
    // training rounds aggregate once, and the positional explode here);
    // the trained vocabulary is ≪ corpus and AQE broadcasts it onto the
    // word stream — tokenization itself is embarrassingly parallel, and
    // the only corpus exchange is the doc_id rollup. Every rollup is
    // ASSOCIATIVE (count / sum / bit_xor of longs — one codegen'd hash
    // agg with map-side partials): the fingerprint is the XOR of
    // position-tagged md5-lower-64 word hashes, which encodes order
    // without re-assembling the document string. The first spelling
    // (md5 of the space-joined stream via sort_array(collect_list))
    // measured d3 = 15-18 on the decade sweep — 5M docs of full-text
    // object-agg buffers put the tail in the sort/spill regime; the
    // associative rollup removed the object buffers entirely.
    "q_bpe_encode" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val (vocab, _) = bpeTrain(s, d, iters = 8)
        val docWords = Tables(s, d, "documents")
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
          .filter(col("w") =!= "")
        val wordFp = shiftrightunsigned(
          graft.functions.VectorFunctions.md5Lower(
            concat((col("pos") + 1).cast(StringType), lit(":"), col("syms"))),
          11)
        // no broadcast HINT: the vocabulary is corpus-derived (sublinear
        // but unbounded — a real 100 TB corpus has a many-million-word
        // vocabulary), so the PlanSpec domain-bounded-broadcast invariant
        // applies; the checkpointed relation carries exact stats and AQE
        // broadcasts it at runtime whenever it actually fits.
        docWords
          .join(vocab.select(col("w"), col("syms")), "w")
          .withColumn("_fp", wordFp)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(size(split(col("syms"), " "))).as("n_tokens"),
            expr("bit_xor(_fp)").as("tok_fp"))
          .orderBy("doc_id")
      },
      oracle = Some(bpeEncodeOracle(8))),

    // Triangle enumeration on the >=20% co-occurrence token graph — the
    // clustering-coefficient / community-density primitive beyond
    // reachability (q_recursive_cte) and centrality (q_text_rank). The
    // canonical a<b<c orientation makes each triangle appear exactly once
    // and bounds the join: two hash joins over the (tiny) thresholded edge
    // relation, never over the corpus.
    "q_graph_triangles" -> Q(
      fn = (s, d) => {
        // The thresholded edge relation is referenced three times (e1/e2/e3)
        // by the triangle join; Spark inlines CTEs, so an inline `ed` would
        // re-run the pair derivation once per reference. The shared
        // apriori-pruned builder materializes it ONCE (cooccurEdges — also
        // the r12 fix that keeps pair generation linear at scale); the
        // triangle joins then run over the tiny in-memory edge list.
        cooccurEdges(s, d).createOrReplaceTempView("graft_triangle_edges")
        s.sql("""
          SELECT e1.a AS a, e1.b AS b, e2.b AS c
          FROM graft_triangle_edges e1
          JOIN graft_triangle_edges e2 ON e2.a = e1.b
          JOIN graft_triangle_edges e3 ON e3.a = e1.a AND e3.b = e2.b
          ORDER BY a, b, c""")
      },
      oracle = Some("""
        WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
               FROM documents),
        pairs AS (SELECT a.token AS ta, b.token AS tb, COUNT(*) AS n
                  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
                  GROUP BY 1, 2),
        ed AS (SELECT ta AS a, tb AS b FROM pairs
               WHERE n * 5 >= (SELECT COUNT(*) FROM documents))
        SELECT e1.a AS a, e1.b AS b, e2.b AS c
        FROM ed e1
        JOIN ed e2 ON e2.a = e1.b
        JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b
        ORDER BY a, b, c""")),

    // Adjacent-token bigram language model (the n-gram-LM training
    // primitive ABOVE the character level of q_bpe_merges): count ordered
    // token successions and the conditional P(w2|w1). One explode of the
    // per-doc adjacency (array index arithmetic, no self-join — adjacency
    // is positional, unlike q_text_cooccur's doc-level pairs), one hash
    // agg keyed by the pair, and the per-w1 normalizer comes from a window
    // over the (already tiny) aggregated pair relation, never the corpus.
    "q_text_bigrams" -> Q(
      fn = (s, d) => {
        val pairs = Tables(s, d, "documents")
          .select(split(col("text"), " ").as("t"))
          // size >= 2 guard: Spark's sequence(0, -1) would DESCEND ([0,-1])
          // for a 1-token doc and fabricate a null-w2 pair
          .filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
            .as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
        pairs
          .withColumn("p_cond",
            r4(col("n") / sum(col("n")).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("w1")))))
          .orderBy(col("n").desc, col("w1").asc, col("w2").asc)
          .limit(50)
      },
      oracle = Some("""
        WITH t AS (SELECT string_split(text, ' ') AS a FROM documents
                   WHERE len(string_split(text, ' ')) >= 2),
        adj AS (SELECT a[i] AS w1, a[i + 1] AS w2
                FROM (SELECT a, unnest(generate_series(1, len(a) - 1)) AS i FROM t)),
        pairs AS (SELECT w1, w2, COUNT(*) AS n FROM adj GROUP BY w1, w2)
        SELECT w1, w2, n,
               CAST(ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY w1), 4)
                 AS DOUBLE) AS p_cond
        FROM pairs
        ORDER BY n DESC, w1 ASC, w2 ASC LIMIT 50""")),

    // Degree distribution of the >=20% co-occurrence token graph — the
    // structure-audit primitive alongside reachability (q_recursive_cte),
    // centrality (q_text_rank) and triangles (q_graph_triangles).
    //
    // Scale design: the oracle phrases co-occurrence as a (doc,token)
    // self-join, but the engine side consumes the shared apriori-pruned
    // edge relation (cooccurEdges — intra-row pair expansion over each
    // doc's FREQUENT-token subset; the r12 fix that keeps pair volume
    // linear at scale). The degree census itself is dimension-sized and
    // the final plan reads the materialized edges — zero parquet scans,
    // zero joins (PlanSpec).
    "q_graph_degree" -> Q(
      fn = (s, d) => {
        cooccurEdges(s, d)
          .select(explode(array(col("a"), col("b"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("degree"))
          .groupBy("degree")
          .agg(count(lit(1)).as("n_tokens"), min(col("tok")).as("example_token"))
          .orderBy("degree")
      },
      oracle = Some("""
        WITH dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
               FROM documents),
        pairs AS (SELECT a.token AS ta, b.token AS tb, COUNT(*) AS n
                  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
                  GROUP BY 1, 2),
        ed AS (SELECT ta AS a, tb AS b FROM pairs
               WHERE n * 5 >= (SELECT COUNT(*) FROM documents)),
        deg AS (SELECT tok, COUNT(*) AS degree FROM (
                  SELECT unnest([a, b]) AS tok FROM ed) GROUP BY tok)
        SELECT degree, COUNT(*) AS n_tokens, min(tok) AS example_token
        FROM deg GROUP BY degree ORDER BY degree""")),

    // Vocabulary building + out-of-vocabulary audit: the tokenizer-prep
    // step of a training pipeline — pick the top-V tokens by corpus
    // frequency, then report each language's OOV token rate against that
    // vocabulary.
    //
    // Scale design: ONE corpus explode feeds a (lang, token) count whose
    // output is dimension-sized (distinct-token × lang), checkpointed so
    // the three consumers (global vocab, per-lang totals, per-lang OOV)
    // never re-run the fact scan. The vocab derives from the checkpoint
    // by a tiny re-aggregation (token-keyed, vocab-sized) with a
    // TakeOrdered top-V — total order (count DESC, token ASC) so the
    // boundary is deterministic — and probes back as a broadcast anti
    // join. No consumer touches the corpus again (PlanSpec pins one
    // documents scan).
    "q_text_vocab" -> Q(
      fn = (s, d) => {
        val V = 50
        val ltc = Tables.checkpoint(
          Tables(s, d, "documents")
            .select(col("lang"), explode(toks).as("token"))
            .groupBy("lang", "token")
            .agg(count(lit(1)).as("cnt")))
        val vocab = ltc.groupBy("token")
          .agg(sum(col("cnt")).as("gcnt"))
          .orderBy(col("gcnt").desc, col("token").asc)
          .limit(V)
          .select(col("token"))
        val totals = ltc.groupBy("lang")
          .agg(sum(col("cnt")).as("total_tokens"))
        val oov = ltc
          .join(broadcast(vocab), Seq("token"), "left_anti")
          .groupBy("lang")
          .agg(sum(col("cnt")).as("oov_tokens"))
        totals.join(oov, Seq("lang"), "left")
          .select(col("lang"), col("total_tokens"),
            coalesce(col("oov_tokens"), lit(0L)).as("oov_tokens"),
            r4(coalesce(col("oov_tokens"), lit(0L)).cast("double") /
              col("total_tokens")).as("oov_rate"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH lt AS (SELECT lang, unnest(string_split(text, ' ')) AS token
                    FROM documents),
        ltc AS (SELECT lang, token, COUNT(*) AS cnt FROM lt GROUP BY 1, 2),
        vocab AS (SELECT token FROM (
                    SELECT token, SUM(cnt) AS gcnt FROM ltc GROUP BY token)
                  ORDER BY gcnt DESC, token ASC LIMIT 50),
        totals AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total_tokens
                   FROM ltc GROUP BY lang),
        oov AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS oov_tokens FROM ltc
                WHERE token NOT IN (SELECT token FROM vocab) GROUP BY lang)
        SELECT totals.lang, total_tokens,
               COALESCE(oov_tokens, 0) AS oov_tokens,
               CAST(ROUND(CAST(COALESCE(oov_tokens, 0) AS DOUBLE)
                 / total_tokens, 4) AS DOUBLE) AS oov_rate
        FROM totals LEFT JOIN oov ON totals.lang = oov.lang
        ORDER BY totals.lang""")),

    // Language-ID confusion matrix + per-language recall — the quality
    // audit OF q_text_langid (per-doc predictions are useless operationally
    // until aggregated into "which languages does the classifier confuse").
    // ONE corpus pass to (lang, predicted) cells; the row margin is a
    // window over the tiny cells relation (|langs|×|langs+1| rows), so the
    // expensive classify+aggregate never re-executes (the pre-r7 join shape
    // consumed `cells` twice — two full corpus passes). Cells and margins
    // are exact longs; recall is one division, r4.
    "q_lang_confusion" -> Q(
      fn = (s, d) => {
        val cells = withPredicted(Tables(s, d, "documents"))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
        val rowm = org.apache.spark.sql.expressions.Window.partitionBy("lang")
        cells
          .select(col("lang"), col("predicted"), col("n"),
            graft.Q.r4(col("n").cast(DoubleType) /
              sum(col("n")).over(rowm).cast(DoubleType)).as("recall"))
          .orderBy("lang", "predicted")
      },
      oracle = Some(s"""
        WITH p AS (SELECT lang, $langCaseSql AS predicted FROM documents),
        cells AS (SELECT lang, predicted, COUNT(*) AS n
                  FROM p GROUP BY lang, predicted),
        rowm AS (SELECT lang, SUM(n) AS row_n FROM cells GROUP BY lang)
        SELECT lang, predicted, CAST(n AS BIGINT) AS n,
               CAST(ROUND(CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE), 4)
                    AS DOUBLE) AS recall
        FROM cells JOIN rowm USING (lang)
        ORDER BY lang, predicted""")),

    // PMI-scored collocations: q_text_cooccur ranks pairs by raw document
    // co-occurrence, which just surfaces the most frequent tokens; PMI
    // normalizes by the marginals — ln(P(ab)/(P(a)P(b))) — so what ranks
    // is genuine ASSOCIATION (the collocation-extraction standard, Church
    // & Hanks 1990). Support floor ndocs≥5 kills the low-count PMI noise.
    //
    // Scale shape: the per-doc distinct-token relation materializes ONCE
    // (Tables.checkpoint) and feeds all three consumers — pair counts,
    // token marginals, corpus size — so documents is never re-scanned;
    // the marginals broadcast to the pair relation. PMI's argument is an
    // exact integer ratio ndocs·N / (df_a·df_b) evaluated in one
    // division; ln + r4 per the transcendental convention.
    "q_text_pmi" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val arr = Tables.checkpoint(
          Tables(s, d, "documents")
            .select(col("doc_id"), array_sort(array_distinct(toks)).as("ts")))
        val dfRel = arr.select(explode(col("ts")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("df"))
        val nDocs = arr.agg(count(lit(1)).as("n_docs"))
        val pairs = arr
          .select(explode(
            graft.functions.VectorFunctions.tokenPairs(col("ts"))).as("p"))
          .select(col("p.ta").as("ta"), col("p.tb").as("tb"))
          .groupBy("ta", "tb").agg(count(lit(1)).as("ndocs"))
          .filter(col("ndocs") >= 5)
        // marginal joins UNHINTED: the df relation is vocabulary-sized and
        // the vocabulary grows with the corpus (the q_text_lm_score class)
        // — AQE broadcasts while small, keys the exchange at 100 TB
        pairs
          .join(dfRel.select(col("token").as("ta"),
            col("df").as("df_a")), "ta")
          .join(dfRel.select(col("token").as("tb"),
            col("df").as("df_b")), "tb")
          .crossJoin(broadcast(nDocs))
          .select(col("ta"), col("tb"), col("ndocs"), col("df_a"), col("df_b"),
            r4(log((col("ndocs") * col("n_docs")).cast(DoubleType) /
              (col("df_a") * col("df_b")).cast(DoubleType))).as("pmi"))
          .orderBy(col("pmi").desc, col("ta").asc, col("tb").asc)
          .limit(30)
      },
      oracle = Some("""
        WITH dt AS (
          SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        dfr AS (SELECT token, COUNT(*) AS df FROM dt GROUP BY token),
        pairs AS (
          SELECT a.token AS ta, b.token AS tb, COUNT(*) AS ndocs
          FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
          GROUP BY ta, tb HAVING COUNT(*) >= 5)
        SELECT ta, tb, ndocs, da.df AS df_a, db.df AS df_b,
               CAST(ROUND(LN(CAST(ndocs * n_docs AS DOUBLE) /
                 CAST(da.df * db.df AS DOUBLE)), 4) AS DOUBLE) AS pmi
        FROM pairs
        JOIN dfr da ON pairs.ta = da.token
        JOIN dfr db ON pairs.tb = db.token
        CROSS JOIN n
        ORDER BY pmi DESC, ta ASC, tb ASC LIMIT 30""")),

    // Cross-lingual vocabulary overlap matrix: pairwise Jaccard of the
    // per-language token vocabularies — the contamination/transfer signal
    // a multilingual corpus audit leads with (high overlap between two
    // "languages" usually means mislabeled docs or shared boilerplate;
    // near-zero overlap means a shared tokenizer will fragment one of
    // them). Lower-triangle pairs only (lang_a < lang_b), exact counts,
    // Jaccard as one division.
    //
    // Scale shape: the corpus collapses ONCE to the distinct (lang,
    // token) relation — VOCABULARY-sized, not corpus-sized, and
    // checkpointed: three consumers (sizes + both self-join sides) would
    // otherwise each replay the corpus explode+distinct (ADVICE r8). The
    // pairwise intersection joins the materialized relation with itself
    // on token (vocab-sized exchange) and the per-language sizes
    // broadcast back onto the |langs|² result.
    "q_cross_lingual_overlap" -> Q(
      fn = (s, d) => {
        val vl = Tables.checkpoint(
          Tables(s, d, "documents")
            .select(col("lang"), explode(split(col("text"), " ")).as("token"))
            .distinct())
        val sizes = vl.groupBy("lang").agg(count(lit(1)).as("n"))
        val inter = vl.as("a")
          .join(vl.as("b"), Seq("token"))
          .filter(col("a.lang") < col("b.lang"))
          .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(sizes.withColumnRenamed("lang", "lang_a")
            .withColumnRenamed("n", "na")), "lang_a")
          .join(broadcast(sizes.withColumnRenamed("lang", "lang_b")
            .withColumnRenamed("n", "nb")), "lang_b")
          .select(col("lang_a"), col("lang_b"), col("inter"),
            (col("na") + col("nb") - col("inter")).as("vocab_union"),
            r4(col("inter").cast(DoubleType) /
              (col("na") + col("nb") - col("inter")).cast(DoubleType))
              .as("jaccard"))
          .orderBy("lang_a", "lang_b")
      },
      oracle = Some("""
        WITH tok AS (
          SELECT lang, unnest(string_split(text, ' ')) AS token
          FROM documents),
        vl AS (SELECT DISTINCT lang, token FROM tok),
        sizes AS (SELECT lang, COUNT(*) AS n FROM vl GROUP BY lang),
        inter AS (
          SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS inter
          FROM vl a JOIN vl b ON a.token = b.token AND a.lang < b.lang
          GROUP BY 1, 2)
        SELECT lang_a, lang_b, inter,
               sa.n + sb.n - inter AS vocab_union,
               CAST(ROUND(CAST(inter AS DOUBLE) /
                 CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS DOUBLE)
                 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.lang = lang_a
        JOIN sizes sb ON sb.lang = lang_b
        ORDER BY lang_a, lang_b""")),

    // Vocabulary-size-for-coverage decision table: the smallest
    // frequency-ranked vocabulary covering 50/90/95/99% of corpus token
    // mass — THE table read before fixing a tokenizer's vocab budget
    // (the Zipf tail q_zipf_slope measures is exactly what makes the 99%
    // row explode). Threshold crossing in exact integer cross-multiply
    // (cum·100 ≥ pct·total — no division), rank ties broken token-ASC.
    //
    // Scale shape: corpus → token-frequency rollup ONCE (map-side
    // combined, checkpointed); rank AND cumulative mass come from a
    // single PrefixSum pass over the vocabulary (one bucket exchange, no
    // single-reducer sort as the vocab grows), the grand total rides a
    // 1-row broadcast, and the four threshold rows derive by explode +
    // min-rank argmin.
    "q_vocab_coverage" -> Q(
      fn = (s, d) => {
        val freq = Tables.checkpoint(
          Tables(s, d, "documents")
            .select(explode(split(col("text"), " ")).as("token"))
            .groupBy("token").agg(count(lit(1)).as("c")))
        val ranked = PrefixSum.withOrderStats(freq, Seq.empty, col("c"),
            asc = false, tieBreaks = Seq(col("token").asc),
            rankOut = Some("rank"), cumWeights = Seq(col("c") -> "cum"))
          .crossJoin(broadcast(freq.agg(sum(col("c")).as("total"))))
        ranked
          .select(col("rank"), col("cum"), col("total"),
            explode(lit(Array(50, 90, 95, 99))).as("coverage_pct"))
          .filter(col("cum") * 100 >= col("coverage_pct") * col("total"))
          .groupBy("coverage_pct")
          .agg(min(struct(col("rank"), col("cum"), col("total"))).as("m"))
          .select(col("coverage_pct").cast(LongType).as("coverage_pct"),
            col("m.rank").as("vocab_size"),
            col("m.cum").as("tokens_covered"),
            col("m.total").as("total_tokens"))
          .orderBy("coverage_pct")
      },
      oracle = Some("""
        WITH freq AS (
          SELECT token, COUNT(*) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents)
          GROUP BY token),
        ranked AS (
          SELECT token, c,
                 row_number() OVER (ORDER BY c DESC, token ASC) AS rank,
                 SUM(c) OVER (ORDER BY c DESC, token ASC) AS cum,
                 SUM(c) OVER () AS total
          FROM freq),
        t AS (
          SELECT p.pct AS coverage_pct, MIN(rank) AS vocab_size
          FROM ranked, (SELECT unnest([50, 90, 95, 99]) AS pct) p
          WHERE cum * 100 >= p.pct * total
          GROUP BY p.pct)
        SELECT CAST(coverage_pct AS BIGINT) AS coverage_pct,
               vocab_size,
               CAST((SELECT cum FROM ranked r WHERE r.rank = t.vocab_size)
                 AS BIGINT) AS tokens_covered,
               CAST((SELECT MIN(total) FROM ranked) AS BIGINT)
                 AS total_tokens
        FROM t ORDER BY coverage_pct""")),

    // Retrieval ranking metrics — NDCG@10 and MRR for three fixed term
    // queries, ranked by exact term frequency (ties doc_id ASC) with
    // graded relevance = frequency of an independent validation term.
    // This is the EVALUATION half the retrieval family (inverted index,
    // BM25, TextRank) was missing: a ranking change now moves a pinned,
    // oracle-checked quality number instead of just reordering rows.
    //
    // Determinism: gains and discounts enter as round(1e8·rel/log2(i+1))
    // fixed-point longs (the q_chisq_independence term8 convention —
    // double sums over a handful of rows are order-dependent; integer
    // sums are not); NDCG/MRR are single divisions at the end. log2 hits
    // only i+1 ∈ 2..11; /1,/2 are exact and the irrational discounts are
    // nowhere near the 5e-9 rounding boundary.
    //
    // Scale shape: the 3-query relation broadcasts onto ONE corpus scan;
    // scoring is a map-side higher-order filter; both rankings are
    // rank-pushdown windows (WindowGroupLimit keeps per-partition state
    // at k=10) partitioned by qid.
    "q_rank_ndcg" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val qs = Seq(("q1", "spark", "join"), ("q2", "merge", "table"),
          ("q3", "stream", "batch")).toDF("qid", "term", "relterm")
        val scored = Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
          .crossJoin(broadcast(qs))
          .select(col("qid"), col("doc_id"),
            expr("size(filter(ts, t -> t = term))").cast(LongType)
              .as("score"),
            expr("size(filter(ts, t -> t = relterm))").cast(LongType)
              .as("rel"))
        val wScore = Window.partitionBy("qid")
          .orderBy(col("score").desc, col("doc_id").asc)
        val top = scored.filter(col("score") > 0)
          .withColumn("rk", row_number().over(wScore))
          .filter(col("rk") <= 10)
        val dcg = top.groupBy("qid").agg(
          sum(round(lit(1e8) * col("rel") / log2(col("rk") + 1))
            .cast(LongType)).as("dcg8"),
          min(when(col("rel") > 0, col("rk"))).as("first_rel"))
        val wRel = Window.partitionBy("qid")
          .orderBy(col("rel").desc, col("doc_id").asc)
        val idcg = scored.filter(col("rel") > 0)
          .withColumn("rk", row_number().over(wRel))
          .filter(col("rk") <= 10)
          .groupBy("qid").agg(
            sum(round(lit(1e8) * col("rel") / log2(col("rk") + 1))
              .cast(LongType)).as("idcg8"))
        dcg.join(idcg, "qid")
          .select(col("qid"),
            r4(col("dcg8").cast(DoubleType) / col("idcg8").cast(DoubleType))
              .as("ndcg10"),
            r4(coalesce(lit(1.0) / col("first_rel"), lit(0.0))).as("mrr"))
          .orderBy("qid")
      },
      oracle = Some("""
        WITH qs AS (SELECT * FROM (VALUES ('q1', 'spark', 'join'),
                      ('q2', 'merge', 'table'), ('q3', 'stream', 'batch'))
                    t(qid, term, relterm)),
        scored AS (
          SELECT qid, doc_id,
                 len(list_filter(string_split(text, ' '), x -> x = term))
                   AS score,
                 len(list_filter(string_split(text, ' '), x -> x = relterm))
                   AS rel
          FROM documents, qs),
        top AS (
          SELECT * FROM (
            SELECT qid, doc_id, rel,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY score DESC, doc_id ASC) AS rk
            FROM scored WHERE score > 0)
          WHERE rk <= 10),
        dcg AS (
          SELECT qid,
                 SUM(CAST(ROUND(1e8 * rel / log2(rk + 1)) AS BIGINT))
                   AS dcg8,
                 MIN(CASE WHEN rel > 0 THEN rk END) AS first_rel
          FROM top GROUP BY qid),
        ideal AS (
          SELECT * FROM (
            SELECT qid, rel,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY rel DESC, doc_id ASC) AS rk
            FROM scored WHERE rel > 0)
          WHERE rk <= 10),
        idcg AS (
          SELECT qid,
                 SUM(CAST(ROUND(1e8 * rel / log2(rk + 1)) AS BIGINT))
                   AS idcg8
          FROM ideal GROUP BY qid)
        SELECT qid,
               CAST(ROUND(CAST(dcg8 AS DOUBLE) / CAST(idcg8 AS DOUBLE), 4)
                 AS DOUBLE) AS ndcg10,
               CAST(ROUND(COALESCE(1.0 / first_rel, 0.0), 4) AS DOUBLE)
                 AS mrr
        FROM dcg JOIN idcg USING (qid) ORDER BY qid""")),

    // Tokenizer fertility per language: BPE-ish subword tokens emitted
    // per whitespace word (Σ subword / Σ word, corpus-weighted) — THE
    // cross-lingual tokenizer-fairness number (a fertility of 2 means a
    // language pays twice the sequence length, and with it twice the
    // compute and half the effective context, for the same text). Uses
    // the SAME two lexers as q_text_token_count, rolled up per lang.
    //
    // Determinism: both counts are exact ints; fertility is one division
    // r4. Scale: one map-side-combined hash agg, exchange carries |langs|
    // partials.
    "q_tokenizer_fertility" -> Q(
      fn = (s, d) => {
        Tables(s, d, "documents")
          .groupBy("lang")
          .agg(
            sum(size(split(col("text"), " ")).cast(LongType)).as("ws_tokens"),
            sum(size(regexp_extract_all(col("text"),
              lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
              .cast(LongType)).as("bpe_tokens"))
          .select(col("lang"), col("ws_tokens"), col("bpe_tokens"),
            r4(col("bpe_tokens").cast(DoubleType) /
              col("ws_tokens").cast(DoubleType)).as("fertility"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH m AS (
          SELECT lang,
                 SUM(len(string_split(text, ' '))) AS ws_tokens,
                 SUM(len(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS bpe_tokens
          FROM documents GROUP BY lang)
        SELECT lang, CAST(ws_tokens AS BIGINT) AS ws_tokens,
               CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
               CAST(ROUND(CAST(bpe_tokens AS DOUBLE)
                 / CAST(ws_tokens AS DOUBLE), 4) AS DOUBLE) AS fertility
        FROM m ORDER BY lang""")),

    // Context-length budget planning: for candidate max-sequence-lengths,
    // how many documents truncate, what share of token mass is lost, and
    // how well a naive one-doc-per-row layout utilizes the window — the
    // table read BEFORE choosing seq_len and deciding whether
    // q_pack_sequences' packing is worth running. Budgets explode
    // map-side; everything is one conditional aggregation.
    //
    // Determinism: token counts, losses, and min(n,B) sums are exact
    // longs; the two shares are single divisions r4.
    "q_context_budget" -> Q(
      fn = (s, d) => {
        Tables(s, d, "documents")
          .select(size(split(col("text"), " ")).cast(LongType).as("n"),
            explode(lit(Array(32, 64, 128))).as("budget"))
          .groupBy("budget")
          .agg(count(lit(1)).as("docs"),
            sum(when(col("n") > col("budget"), 1L).otherwise(0L))
              .as("truncated_docs"),
            sum(col("n")).as("tokens_total"),
            sum(greatest(col("n") - col("budget"), lit(0L)))
              .as("tokens_lost"),
            sum(least(col("n"), col("budget").cast(LongType))).as("kept"))
          .select(col("budget").cast(LongType).as("budget"), col("docs"),
            col("truncated_docs"),
            r4(col("truncated_docs").cast(DoubleType) /
              col("docs").cast(DoubleType)).as("truncated_share"),
            col("tokens_total"), col("tokens_lost"),
            r4(col("kept").cast(DoubleType) /
              (col("docs") * col("budget")).cast(DoubleType))
              .as("utilization"))
          .orderBy("budget")
      },
      oracle = Some("""
        WITH n AS (SELECT len(string_split(text, ' ')) AS n FROM documents),
        b AS (SELECT CAST(unnest([32, 64, 128]) AS BIGINT) AS budget),
        g AS (
          SELECT budget, COUNT(*) AS docs,
                 SUM(CASE WHEN n > budget THEN 1 ELSE 0 END)
                   AS truncated_docs,
                 SUM(n) AS tokens_total,
                 SUM(GREATEST(n - budget, 0)) AS tokens_lost,
                 SUM(LEAST(n, budget)) AS kept
          FROM n, b GROUP BY budget)
        SELECT budget, docs,
               CAST(truncated_docs AS BIGINT) AS truncated_docs,
               CAST(ROUND(CAST(truncated_docs AS DOUBLE)
                 / CAST(docs AS DOUBLE), 4) AS DOUBLE) AS truncated_share,
               CAST(tokens_total AS BIGINT) AS tokens_total,
               CAST(tokens_lost AS BIGINT) AS tokens_lost,
               CAST(ROUND(CAST(kept AS DOUBLE)
                 / CAST(docs * budget AS DOUBLE), 4) AS DOUBLE)
                 AS utilization
        FROM g ORDER BY budget""")),

    // Per-source token-distribution drift: PSI of each source against the
    // REST of the corpus over the global top-20 tokens — q_psi_drift's
    // idea (population stability) applied to the signal corpus mixing
    // cares about (a high-PSI source writes in a different register than
    // the blend; mixing it at weight w shifts the token distribution
    // detectably). Laplace +1 smoothing keeps ln defined when a source
    // never uses a top token; shares renormalize within the top-20
    // subset (documented — PSI over a fixed token panel, the standard
    // monitoring practice).
    //
    // Determinism: counts exact; each PSI term is round(1e8·(p−q)·ln(p/q))
    // from single-expression doubles over exact ints (term8 convention).
    // Scale shape: corpus → (source, token) counts ONCE — checkpointed,
    // because three consumers (top-20 panel, source grid, cells join)
    // would otherwise each replay the corpus explode+agg (ADVICE r8);
    // the panel, the 20×|sources| grid, and every PSI sum are panel-sized.
    "q_token_drift" -> Q(
      fn = (s, d) => {
        val counts = Tables.checkpoint(
          Tables(s, d, "documents")
            .select(col("source"),
              explode(split(col("text"), " ")).as("token"))
            .groupBy("source", "token").agg(count(lit(1)).as("c")))
        val top = counts.groupBy("token").agg(sum(col("c")).as("g"))
          .orderBy(col("g").desc, col("token").asc).limit(20)
        val grid = counts.select(col("source")).distinct()
          .crossJoin(broadcast(top))
        val cells = grid.join(counts, Seq("source", "token"), "left")
          .select(col("source"), col("token"), col("g"),
            coalesce(col("c"), lit(0L)).as("c"))
        val wS = Window.partitionBy("source")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val p = (col("c") + 1).cast(DoubleType) /
          (col("ct") + 20).cast(DoubleType)
        val q = (col("g") - col("c") + 1).cast(DoubleType) /
          (col("gt") - col("ct") + 20).cast(DoubleType)
        cells
          .withColumn("ct", sum(col("c")).over(wS))
          .withColumn("gt", sum(col("g")).over(wS))
          .select(col("source"),
            round(lit(1e8) * (p - q) * log(p / q)).cast(LongType)
              .as("term8"))
          .groupBy("source")
          .agg(r4(sum(col("term8")).cast(DoubleType) / 1e8).as("psi"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH counts AS (
          SELECT source, token, COUNT(*) AS c FROM (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents)
          GROUP BY source, token),
        top AS (
          SELECT token, SUM(c) AS g FROM counts GROUP BY token
          ORDER BY g DESC, token ASC LIMIT 20),
        grid AS (
          SELECT s.source, t.token, t.g
          FROM (SELECT DISTINCT source FROM counts) s, top t),
        cells AS (
          SELECT g.source, g.token, g.g, COALESCE(c.c, 0) AS c
          FROM grid g LEFT JOIN counts c
            ON g.source = c.source AND g.token = c.token),
        w AS (
          SELECT *, SUM(c) OVER (PARTITION BY source) AS ct,
                 SUM(g) OVER (PARTITION BY source) AS gt
          FROM cells),
        t AS (
          SELECT source,
                 CAST(ROUND(1e8 *
                   (CAST(c + 1 AS DOUBLE) / CAST(ct + 20 AS DOUBLE)
                     - CAST(g - c + 1 AS DOUBLE)
                       / CAST(gt - ct + 20 AS DOUBLE)) *
                   ln((CAST(c + 1 AS DOUBLE) / CAST(ct + 20 AS DOUBLE)) /
                      (CAST(g - c + 1 AS DOUBLE)
                        / CAST(gt - ct + 20 AS DOUBLE)))) AS BIGINT)
                   AS term8
          FROM w)
        SELECT source,
               CAST(ROUND(CAST(SUM(term8) AS DOUBLE) / 1e8, 4) AS DOUBLE)
                 AS psi
        FROM t GROUP BY source ORDER BY source""")),

    // Corpus-comparison log-odds ("Fightin' Words", Monroe et al. 2008,
    // uniform Dirichlet prior alpha=1): which tokens are over-represented
    // in the English slice vs the rest of the corpus, as smoothed
    // log-odds-ratio z-scores. The PSI table above says THAT sources
    // drifted; this says WHICH tokens carry the difference — the lead
    // table of any corpus-slice audit (quality tier vs rest, one crawl
    // snapshot vs the last). Tokens below 20 total occurrences are
    // excluded (their z is prior-dominated noise on both sides).
    //
    // Scale shape: ONE corpus pass explodes tokens with a 0/1 group flag
    // and collapses to the vocab-sized (token, y1, y2) relation — the only
    // data-sized exchange. Totals (n1, n2, V) reduce that relation to one
    // broadcast row; delta and z are then per-row arithmetic on the vocab
    // relation. Nothing downstream of the first group-by scales with the
    // corpus.
    "q_text_logodds" -> Q(
      fn = (s, d) => {
        val counts = Tables(s, d, "documents")
          .select(when(col("lang") === "en", 1L).otherwise(0L).as("g"),
            explode(toks).as("token"))
          .groupBy("token")
          .agg(sum(col("g")).as("y1"), sum(lit(1L) - col("g")).as("y2"))
        val tot = counts.agg(sum(col("y1")).as("n1"), sum(col("y2")).as("n2"),
          count(lit(1)).as("v"))
        val dlt =
          log((col("y1") + 1).cast(DoubleType) /
              (col("n1") + col("v") - col("y1") - 1).cast(DoubleType)) -
          log((col("y2") + 1).cast(DoubleType) /
              (col("n2") + col("v") - col("y2") - 1).cast(DoubleType))
        val sd = sqrt(lit(1.0) / (col("y1") + 1).cast(DoubleType) +
          lit(1.0) / (col("y2") + 1).cast(DoubleType))
        counts.crossJoin(broadcast(tot))
          .filter(col("y1") + col("y2") >= 20)
          .select(col("token"), col("y1").as("cnt_en"),
            col("y2").as("cnt_rest"), r4(dlt / sd).as("z"))
          .orderBy(col("z").desc, col("token").asc)
          .limit(30)
      },
      oracle = Some("""
        WITH tok AS (
          SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g,
                 unnest(string_split(text, ' ')) AS token
          FROM documents),
        c AS (
          SELECT token, CAST(SUM(g) AS BIGINT) AS y1,
                 CAST(SUM(1 - g) AS BIGINT) AS y2
          FROM tok GROUP BY token),
        t AS (SELECT SUM(y1) AS n1, SUM(y2) AS n2, COUNT(*) AS v FROM c)
        SELECT token, y1 AS cnt_en, y2 AS cnt_rest,
               CAST(ROUND(
                 (ln(CAST(y1 + 1 AS DOUBLE) / CAST(n1 + v - y1 - 1 AS DOUBLE))
                  - ln(CAST(y2 + 1 AS DOUBLE)
                       / CAST(n2 + v - y2 - 1 AS DOUBLE)))
                 / sqrt(1.0 / CAST(y1 + 1 AS DOUBLE)
                        + 1.0 / CAST(y2 + 1 AS DOUBLE)), 4) AS DOUBLE) AS z
        FROM c CROSS JOIN t
        WHERE y1 + y2 >= 20
        ORDER BY z DESC, token ASC LIMIT 30""")))
}
