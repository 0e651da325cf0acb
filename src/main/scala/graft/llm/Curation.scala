package graft.llm

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-corpus curation operators (SURVEY.md §2.5 north-star): the
  * selection / filtering / splitting passes a large-scale LLM data pipeline
  * runs between raw ingestion and tokenization. Everything here is either
  * pure map-side column math (quality rules, repetition metrics, PII
  * scrubbing, split assignment — zero shuffles, embarrassingly parallel at
  * 100 TB) or a broadcast-join against a tiny derived relation
  * (decontamination's eval shingle set, mixture sampling's per-source
  * rates) so the corpus itself is scanned once and never shuffled.
  *
  * Reference provenance: the reference (jiazhi110/Top-produce-ETL) declares
  * a config-driven ETL scaffold only (`config/config_dev.yaml:10-13`);
  * these operators are the north-star extension set recorded in
  * /root/repo/BASELINE.json.
  */
object Curation {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")

  private def toks: Column = split(col("text"), " ")

  /** Uniform in (0,1] derived from md5-lower-64 of a salted doc id — the
    * cross-engine-exact construction proven by q_sample_weighted: DuckDB
    * computes the identical value as
    * `(CAST(md5_number_lower(salt || doc_id) >> 11 AS DOUBLE) + 1) / 2^53`.
    */
  private def uniform(s: SparkSession, salt: String): Column = {
    val h = graft.functions.VectorFunctions.md5Lower(
      concat(lit(salt), col("doc_id").cast(StringType)))
    (shiftrightunsigned(h, 11).cast(DoubleType) + lit(1.0)) / lit(9007199254740992.0)
  }

  private def uniformSql(salt: String): String =
    s"(CAST(md5_number_lower('$salt' || CAST(doc_id AS VARCHAR)) >> 11 AS DOUBLE) + 1.0) / 9007199254740992.0"

  // ------------------------------------------------------------------
  // Reusable curation expressions — the SAME column trees drive the
  // oracle-checked batch queries below AND the micro-batch streaming
  // curation chain (graft.streaming.Streams.curationChain); StreamingSpec
  // asserts stream/batch output parity on the corpus.
  // ------------------------------------------------------------------

  private[graft] val gopherStopwords =
    Seq("a", "the", "to", "of", "and", "that", "with", "be")

  /** Gopher rule metrics over a `text` column:
    * (n_words, mean_word_len, alpha_frac, n_stopwords). */
  private[graft] def gopherMetrics(nChars: Column): (Column, Column, Column, Column) = {
    val n = size(toks)
    val meanLen = (nChars - (n - 1)).cast(DoubleType) / n
    val alphaFrac = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast(DoubleType) / n
    val stop = size(filter(toks, t => t.isin(gopherStopwords.map(lit): _*)))
    (n, meanLen, alphaFrac, stop)
  }

  /** The Gopher pass/fail gate as one predicate (streaming quality filter). */
  private[graft] def gopherPass(nChars: Column): Column = {
    val (n, meanLen, alphaFrac, stop) = gopherMetrics(nChars)
    n.between(20, 100000) && meanLen.between(3.0, 10.0) &&
      alphaFrac >= 0.8 && stop >= 2
  }

  /** Deterministic hash split assignment (train/val/test 80/10/10) for an
    * id column — map-side, stable under corpus growth, identical in batch
    * (q_split_hash) and streaming. */
  private[graft] def splitAssign(id: Column): Column = {
    val h = graft.functions.VectorFunctions.md5Lower(
      concat(lit("split-"), id.cast(StringType)))
    val bucket = shiftrightunsigned(h, 11) % 100
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  val qs: Map[String, Q] = Map(

    // ----------------------------------------------------------------
    // Benchmark decontamination: flag training docs sharing any 5-token
    // n-gram with a held-out eval split (the GPT-3/PaLM n-gram-overlap
    // decontamination shape). Eval set = doc_id % 97 == 0 — in production
    // the eval benchmarks are a few MB against a 100 TB corpus, so the
    // plan broadcasts the DISTINCT eval shingles to the corpus scan: the
    // training side is never shuffled, matching is map-side, and only the
    // (tiny) per-doc match counts aggregate. Every train doc is emitted
    // with its contamination count (left join against the match relation,
    // which is itself broadcast back).
    // ----------------------------------------------------------------
    "q_decontaminate" -> Q(
      fn = (s, d) => {
        val base = docs(s, d).select(col("doc_id"), toks.as("t"))
        // 5-gram shingles built on the exploded index row (building the
        // array first and exploding it re-evaluates the generator child
        // per output row — the measured ~16x trap, Dedup.scala).
        val sh = base
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1), greatest(size(col("t")) - 4, lit(1)))).as("i"))
          .filter(col("i") + 4 <= size(col("t")))
          .select(col("doc_id"), concat_ws(" ",
            (0 to 4).map(k => element_at(col("t"), col("i") + k)): _*).as("s"))
          .distinct()
        val evalSh = sh.filter(col("doc_id") % 97 === 0)
          .select(col("s")).distinct()
        val hits = sh.filter(col("doc_id") % 97 =!= 0)
          .join(broadcast(evalSh), "s")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        docs(s, d).filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"))
          .join(broadcast(hits), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared"),
            (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH sh AS (
          SELECT DISTINCT doc_id,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
               LATERAL (SELECT generate_subscripts(t, 1) AS i) u
          WHERE i + 4 <= len(t)),
        ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        hits AS (
          SELECT sh.doc_id, COUNT(*) AS n_shared
          FROM sh JOIN ev ON sh.s = ev.s
          WHERE sh.doc_id % 97 <> 0
          GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(h.n_shared, 0) AS n_shared,
               COALESCE(h.n_shared, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % 97 <> 0
        ORDER BY d.doc_id""")),

    // ----------------------------------------------------------------
    // Gopher-style quality rule bundle (Rae et al. 2021 §A1.1): word
    // count bounds, mean word length bounds, alphabetic-word fraction,
    // stopword floor. Pure column expressions — whole-stage codegen, no
    // shuffle at all; at 100 TB this is a single map-side pass. Ratios
    // emitted as raw doubles (same IEEE ops both engines — round(x,4)
    // diverges on exact .xxxx5 boundaries, see commit cb66774).
    // ----------------------------------------------------------------
    "q_quality_gopher" -> Q(
      fn = (s, d) => {
        val (n, meanLen, alphaFrac, stop) = gopherMetrics(col("n_chars"))
        docs(s, d)
          .select(col("doc_id"), n.as("n_words"), meanLen.as("mean_word_len"),
            alphaFrac.as("alpha_frac"), stop.as("n_stopwords"))
          .withColumn("word_count_ok", col("n_words").between(20, 100000))
          .withColumn("mean_len_ok", col("mean_word_len").between(3.0, 10.0))
          .withColumn("alpha_ok", col("alpha_frac") >= 0.8)
          .withColumn("stopword_ok", col("n_stopwords") >= 2)
          .withColumn("pass",
            col("word_count_ok") && col("mean_len_ok") && col("alpha_ok") && col("stopword_ok"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH m AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_words,
                 CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                   / len(string_split(text, ' ')) AS mean_word_len,
                 CAST(len(list_filter(string_split(text, ' '),
                        t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS alpha_frac,
                 len(list_filter(string_split(text, ' '),
                        t -> t IN ('a','the','to','of','and','that','with','be'))) AS n_stopwords
          FROM documents)
        SELECT doc_id, n_words, mean_word_len, alpha_frac, n_stopwords,
               n_words BETWEEN 20 AND 100000 AS word_count_ok,
               mean_word_len BETWEEN 3.0 AND 10.0 AS mean_len_ok,
               alpha_frac >= 0.8 AS alpha_ok,
               n_stopwords >= 2 AS stopword_ok,
               (n_words BETWEEN 20 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
                 AND alpha_frac >= 0.8 AND n_stopwords >= 2 AS pass
        FROM m ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // Repetition metrics (the Gopher repeated-content filters): distinct
    // token ratio, most-frequent-token fraction, most-frequent-bigram
    // fraction. Computed fully IN-ROW — the per-doc top-frequency values
    // come from an aggregate over the distinct list (O(n·v) per doc,
    // bounded by doc length), so the whole operator is one map-side pass
    // with ZERO shuffles; the explode+groupBy formulation would shuffle
    // every (doc, gram) row twice for the same answer.
    // ----------------------------------------------------------------
    "q_repetition" -> Q(
      fn = (s, d) => {
        val t = col("t")
        def topCount(arr: Column): Column =
          aggregate(array_distinct(arr), lit(0),
            (acc, x) => greatest(acc, size(filter(arr, y => y === x))))
        val bigrams = transform(sequence(lit(1), size(t) - 1),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))
        docs(s, d)
          .select(col("doc_id"), toks.as("t"))
          .filter(size(t) >= 2)
          .select(
            col("doc_id"),
            size(t).as("n_tok"),
            (size(array_distinct(t)).cast(DoubleType) / size(t)).as("distinct_ratio"),
            (topCount(t).cast(DoubleType) / size(t)).as("top_token_frac"),
            (topCount(bigrams).cast(DoubleType) / (size(t) - 1)).as("top_bigram_frac"))
          .withColumn("repetitive",
            col("distinct_ratio") < 0.3 || col("top_bigram_frac") > 0.18)
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        m AS (
          SELECT doc_id,
                 len(t) AS n_tok,
                 CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_ratio,
                 CAST(list_max(list_transform(list_distinct(t),
                        x -> len(list_filter(t, y -> y = x)))) AS DOUBLE)
                   / len(t) AS top_token_frac,
                 CAST(list_max(list_transform(
                        list_distinct(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])),
                        x -> len(list_filter(
                               list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]),
                               y -> y = x)))) AS DOUBLE)
                   / (len(t) - 1) AS top_bigram_frac
          FROM base)
        SELECT doc_id, n_tok, distinct_ratio, top_token_frac, top_bigram_frac,
               distinct_ratio < 0.3 OR top_bigram_frac > 0.18 AS repetitive
        FROM m ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // Deterministic train/val/test split: bucket = md5-lower-64 of the
    // salted doc id mod 100 → 80/10/10. Hash-based assignment is the only
    // split that is stable under corpus growth and needs no shuffle or
    // global sort — each row decides its own split map-side; the only
    // shuffle is the 3-row summary agg.
    // ----------------------------------------------------------------
    "q_split_hash" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        docs(s, d)
          .withColumn("split", splitAssign(col("doc_id")))
          .groupBy("split")
          .agg(count(lit(1)).as("n"),
            dec4(sum(dec2(col("n_chars")))).as("sum_chars"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy("split")
      },
      oracle = Some(s"""
        SELECT split, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(n_chars AS DECIMAL(12,2))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_chars,
               COUNT(DISTINCT source) AS n_sources
        FROM (
          SELECT *,
                 CASE WHEN (md5_number_lower('split-' || CAST(doc_id AS VARCHAR)) >> 11) % 100 < 80 THEN 'train'
                      WHEN (md5_number_lower('split-' || CAST(doc_id AS VARCHAR)) >> 11) % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
        GROUP BY split ORDER BY split""")),

    // ----------------------------------------------------------------
    // Domain-mixture resampling (temperature sampling, alpha = 0.5): each
    // source keeps rate_s = min(1, sqrt(avg_n / n_s)) of its docs —
    // heavy sources are downsampled toward the mean, rare sources kept
    // whole. The per-source stats relation is tiny (one row per source),
    // so it broadcasts back onto the corpus scan and selection is a
    // map-side predicate on the deterministic per-doc uniform: the corpus
    // is scanned once and never shuffled. sqrt and division are IEEE
    // correctly-rounded on both engines, and u is an exact dyadic, so the
    // u < rate comparison is cross-engine exact.
    // ----------------------------------------------------------------
    "q_mixture_resample" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val counts = docs(s, d).groupBy("source").agg(count(lit(1)).as("n_orig"))
        // Global mean via a 1-row broadcast, not an unpartitioned window —
        // same answer, no single-partition WindowExec in the plan.
        val rates = counts
          .crossJoin(broadcast(counts.agg(avg(col("n_orig")).as("avg_n"))))
          .withColumn("rate", least(lit(1.0), sqrt(col("avg_n") / col("n_orig"))))
          .select("source", "n_orig", "rate")
        docs(s, d)
          .withColumn("u", uniform(s, "mix-"))
          .join(broadcast(rates), "source")
          .filter(col("u") < col("rate"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_selected"),
            first(col("n_orig")).as("n_orig"),
            first(col("rate")).as("rate"))
          .select("source", "n_orig", "n_selected", "rate")
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH counts AS (SELECT source, COUNT(*) AS n_orig FROM documents GROUP BY 1),
        rates AS (
          SELECT source, n_orig,
                 least(1.0, sqrt((SELECT AVG(CAST(n_orig AS DOUBLE)) FROM counts) / n_orig)) AS rate
          FROM counts)
        SELECT d.source, r.n_orig, COUNT(*) AS n_selected, r.rate
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE ${uniformSql("mix-")} < r.rate
        GROUP BY d.source, r.n_orig, r.rate
        ORDER BY d.source""")),

    // Temperature-scaled mixture weights (alpha = 0.3, the multilingual-LM
    // sampling recipe: w_s ∝ p_s^alpha upweights tail sources) with the
    // per-source token budget and effective epochs under a 100k-token
    // draw — q_mixture_resample's PLANNING counterpart: that query executes
    // a mean-capped resample row by row; this one derives the sampling
    // schedule itself. One corpus pass for per-source token counts, then
    // two 1-row broadcasts for the normalizers (the house global-aggregate
    // idiom — no unpartitioned window). pow() may differ in the last ulp
    // across engines, so every pow-derived output is r4/integer-rounded.
    "q_mixture_temperature" -> Q(
      fn = (s, d) => {
        val stats = docs(s, d).groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " "))).as("n_tokens"))
        val p = stats
          .crossJoin(broadcast(
            stats.agg(sum(col("n_tokens")).cast(DoubleType).as("tot"))))
          .withColumn("p", col("n_tokens") / col("tot"))
          .withColumn("pw", pow(col("p"), 0.3))
        p.crossJoin(broadcast(p.agg(sum(col("pw")).as("sw"))))
          .withColumn("w", col("pw") / col("sw"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            r4(col("p")).as("p_natural"), r4(col("w")).as("w_temp"),
            round(col("w") * 100000).cast(LongType).as("budget_tokens"),
            r4(col("w") * 100000 / col("n_tokens")).as("epochs"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH s AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        t AS (
          SELECT s.*, n_tokens / tot AS p, POW(n_tokens / tot, 0.3) AS pw
          FROM s CROSS JOIN (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot FROM s) z),
        w AS (
          SELECT t.*, pw / sw AS w
          FROM t CROSS JOIN (SELECT SUM(pw) AS sw FROM t) z2)
        SELECT source, n_docs, n_tokens,
               CAST(ROUND(p, 4) AS DOUBLE) AS p_natural,
               CAST(ROUND(w, 4) AS DOUBLE) AS w_temp,
               CAST(round(w * 100000) AS BIGINT) AS budget_tokens,
               CAST(ROUND(w * 100000 / n_tokens, 4) AS DOUBLE) AS epochs
        FROM w ORDER BY source""")),

    // ----------------------------------------------------------------
    // PII detection + redaction. The corpus itself is clean, so each doc
    // deterministically synthesizes a contact tail (same expression on
    // both engines) and the operator detects emails / IPv4s / card-like
    // digit runs and emits redaction counts plus the md5 of the redacted
    // text. Regexes stay in the Java∩RE2 common subset. Pure map-side
    // column math — zero shuffles at any scale.
    // ----------------------------------------------------------------
    "q_text_pii" -> Q(
      fn = (s, d) => {
        val full = concat(col("text"),
          lit(" contact user"), col("doc_id").cast(StringType),
          lit("@mail.example.com from 10."), (col("doc_id") % 256).cast(StringType),
          lit(".0.1 card 4111-1111-1111-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0"))
        val emailRe = "[0-9A-Za-z._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
        val cardRe = "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"
        docs(s, d)
          .select(col("doc_id"), full.as("full"))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("full"), lit(emailRe), lit(0))).as("n_email"),
            size(regexp_extract_all(col("full"), lit(ipRe), lit(0))).as("n_ip"),
            size(regexp_extract_all(col("full"), lit(cardRe), lit(0))).as("n_card"),
            md5(regexp_replace(regexp_replace(regexp_replace(col("full"),
              emailRe, "<EMAIL>"), ipRe, "<IP>"), cardRe, "<CARD>")).as("redacted_md5"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH f AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                 '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
                 '.0.1 card 4111-1111-1111-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS full_text
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(full_text, '[0-9A-Za-z._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
               len(regexp_extract_all(full_text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ip,
               len(regexp_extract_all(full_text, '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}')) AS n_card,
               md5(regexp_replace(regexp_replace(regexp_replace(full_text,
                 '[0-9A-Za-z._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
                 '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}', '<CARD>', 'g')) AS redacted_md5
        FROM f ORDER BY doc_id""")),

    // Model-based quality filtering — the fastText-classifier-shaped gate
    // (score each doc with a linear model over token features, keep
    // positives) that pipelines run after the rule-based passes. Weights
    // are hash-derived per token (md5-lower-64 → dyadic uniform in [-1,1),
    // the q_sample_weighted construction — a stand-in for trained weights
    // that keeps the whole model cross-engine bit-exact); the logit is the
    // MEAN token weight, reduced left-assoc in token order on both engines
    // (aggregate HOF here ≡ DuckDB list_reduce — 0.0 + x is exact), so the
    // raw double and the keep decision are deterministic with no rounding.
    // Pure map-side column math: zero shuffles, the scan IS the classifier;
    // at 100 TB a real weight table would broadcast and element-lookup the
    // same shape.
    "q_quality_classifier" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val w = (t: Column) =>
          shiftrightunsigned(graft.functions.VectorFunctions.md5Lower(
            concat(lit("w-"), t)), 11).cast(DoubleType) /
            lit(4503599627370496.0) - lit(1.0)
        val logit = aggregate(transform(toks, w), lit(0.0), (acc, x) => acc + x) /
          size(toks)
        docs(s, d)
          .select(col("doc_id"), size(toks).cast(LongType).as("n_tokens"),
            logit.as("logit"))
          .withColumn("keep", col("logit") > 0.0)
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               list_reduce(
                 list_transform(string_split(text, ' '),
                   t -> CAST(md5_number_lower('w-' || t) >> 11 AS DOUBLE)
                        / 4503599627370496.0 - 1.0),
                 (a, b) -> a + b) / len(string_split(text, ' ')) AS logit,
               list_reduce(
                 list_transform(string_split(text, ' '),
                   t -> CAST(md5_number_lower('w-' || t) >> 11 AS DOUBLE)
                        / 4503599627370496.0 - 1.0),
                 (a, b) -> a + b) / len(string_split(text, ' ')) > 0.0 AS keep
        FROM documents ORDER BY doc_id""")),

    // Calibration (reliability) audit OF q_quality_classifier: bin the
    // model logit into 20 equal-width bins and measure, per bin, how often
    // the rule-based Gopher gate agrees — the curve every production
    // filter gets checked against before its threshold ships. Per-doc
    // logits are bit-exact cross-engine (proved by q_quality_classifier's
    // raw-double hash match), so the floor-binning is deterministic; bin
    // edges and rates are single exact expressions.
    //
    // Scale shape: both the score and the label are map-side column math
    // over ONE corpus scan; the only exchange carries 20 bin rows.
    "q_classifier_calibration" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val w = (t: Column) =>
          shiftrightunsigned(graft.functions.VectorFunctions.md5Lower(
            concat(lit("w-"), t)), 11).cast(DoubleType) /
            lit(4503599627370496.0) - lit(1.0)
        val logit = aggregate(transform(toks, w), lit(0.0), (acc, x) => acc + x) /
          size(toks)
        docs(s, d)
          .select(
            least(greatest(floor((logit + lit(0.5)) / lit(0.05)), lit(0.0)),
              lit(19.0)).cast(LongType).as("bin"),
            gopherPass(col("n_chars")).cast(LongType).as("label"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pass"))
          .select(col("bin"),
            r4(lit(-0.5) + col("bin").cast(DoubleType) * 0.05).as("bin_lo"),
            col("n"), col("n_pass"),
            r4(col("n_pass").cast(DoubleType) / col("n").cast(DoubleType))
              .as("pass_rate"))
          .orderBy("bin")
      },
      oracle = Some("""
        WITH m AS (
          SELECT doc_id,
                 list_reduce(
                   list_transform(string_split(text, ' '),
                     t -> CAST(md5_number_lower('w-' || t) >> 11 AS DOUBLE)
                          / 4503599627370496.0 - 1.0),
                   (a, b) -> a + b) / len(string_split(text, ' ')) AS logit,
                 len(string_split(text, ' ')) AS n_words,
                 CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                   / len(string_split(text, ' ')) AS mean_word_len,
                 CAST(len(list_filter(string_split(text, ' '),
                        t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS alpha_frac,
                 len(list_filter(string_split(text, ' '),
                        t -> t IN ('a','the','to','of','and','that','with','be')))
                   AS n_stopwords
          FROM documents),
        lb AS (
          SELECT CAST(LEAST(GREATEST(FLOOR((logit + 0.5) / 0.05), 0), 19)
                   AS BIGINT) AS bin,
                 CASE WHEN (n_words BETWEEN 20 AND 100000)
                       AND (mean_word_len BETWEEN 3.0 AND 10.0)
                       AND alpha_frac >= 0.8 AND n_stopwords >= 2
                 THEN 1 ELSE 0 END AS label
          FROM m)
        SELECT bin,
               CAST(ROUND(-0.5 + CAST(bin AS DOUBLE) * 0.05, 4) AS DOUBLE)
                 AS bin_lo,
               COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS n_pass,
               CAST(ROUND(CAST(SUM(label) AS DOUBLE) / COUNT(*), 4) AS DOUBLE)
                 AS pass_rate
        FROM lb GROUP BY bin ORDER BY bin""")),

    // ----------------------------------------------------------------
    // URL canonicalization + URL-level dedup (the web-corpus ingest
    // step before any content hashing): deterministic synthetic URLs
    // (host case noise, utm_* tracking params, fragments) normalize by
    // fragment strip → tracking-param strip → host lowercasing (path
    // case preserved); survivors are min-doc_id per canonical URL. All
    // map-side regex (Java∩RE2 subset, the q_text_pii discipline) + one
    // keyed window on the canonical key.
    // ----------------------------------------------------------------
    "q_url_canonicalize" -> Q(
      fn = (s, d) => {
        val id50 = (col("doc_id") % 50).cast(StringType)
        val raw = concat(
          lit("https://WWW."), col("source"), lit(".COM/Doc"), id50,
          lit("?id="), id50,
          lit("&utm_source=feed&utm_campaign=c"), col("doc_id").cast(StringType),
          lit("#sec"), col("doc_id").cast(StringType))
        val noFrag = regexp_replace(raw, "#.*$", "")
        // Stripping a leading `?utm_x=...` takes its '?' with it and would
        // leave the next param dangling as `&id=...`; the second replace
        // re-promotes the first '&' to '?' when no '?' survived (ADVICE r5
        // — latent only, the synthetic URLs never put utm first).
        val noUtm = regexp_replace(
          regexp_replace(noFrag, "(&|\\?)utm_[^&#]*", ""),
          "^([^?]*)&", "$1?")
        val host = regexp_extract(noUtm, "^https://([^/]*)", 1)
        val rest = regexp_extract(noUtm, "^https://[^/]*(.*)$", 1)
        val canon = concat(lit("https://"), lower(host), rest)
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("url_canon"))
        docs(s, d)
          .select(col("doc_id"), raw.as("url_raw"), canon.as("url_canon"))
          .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH u AS (
          SELECT doc_id,
                 'https://WWW.' || source || '.COM/Doc' || (doc_id % 50) ||
                   '?id=' || (doc_id % 50) ||
                   '&utm_source=feed&utm_campaign=c' || doc_id ||
                   '#sec' || doc_id AS url_raw
          FROM documents),
        c AS (
          SELECT doc_id, url_raw,
                 'https://' ||
                 lower(regexp_extract(
                   regexp_replace(
                     regexp_replace(regexp_replace(url_raw, '#.*$', ''),
                                    '(&|[?])utm_[^&#]*', '', 'g'),
                     '^([^?]*)&', '\1?'),
                   '^https://([^/]*)', 1)) ||
                 regexp_extract(
                   regexp_replace(
                     regexp_replace(regexp_replace(url_raw, '#.*$', ''),
                                    '(&|[?])utm_[^&#]*', '', 'g'),
                     '^([^?]*)&', '\1?'),
                   '^https://[^/]*(.*)$', 1) AS url_canon
          FROM u)
        SELECT doc_id, url_raw, url_canon,
               doc_id = MIN(doc_id) OVER (PARTITION BY url_canon) AS keep
        FROM c ORDER BY doc_id""")),

    // ----------------------------------------------------------------
    // k-anonymity release (k=5): generalize the quasi-identifier tuple
    // (nation, $1000 balance band, segment), publish only cohorts of
    // size >= k, collapse the rest into one '*' row — the
    // generalize-then-suppress step a privacy-constrained data release
    // runs after PII redaction. Two hash aggs (cohort count, then
    // re-group after suppression); nothing row-level leaves the
    // executors, so it scales as a pair of keyed aggregations.
    // ----------------------------------------------------------------
    "q_k_anonymity" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql(kAnonSql)
      },
      oracle = Some(kAnonSql)),

    // ----------------------------------------------------------------
    // Differentially-private counts (eps = 1, sensitivity 1): Laplace
    // noise by inverse CDF over the repo's deterministic dyadic uniform
    // (md5-lower-64 of the salted group key), so the "noise" is
    // reproducible cross-engine and the release is hash-checkable. The
    // noise column is per-GROUP, not per-row — one hash agg, noise
    // applied map-side to the 6-row result.
    // ----------------------------------------------------------------
    "q_dp_counts" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        Tables.registerViews(s, d)
        s.sql("""
          WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
          u AS (SELECT event_type, n,
                  (CAST(shiftrightunsigned(md5_lower64('dp-' || event_type), 11) AS DOUBLE)
                    + 1.0) / 9007199254740992.0 AS u
                FROM c)
          SELECT event_type, n,
                 CAST(ROUND(n + (CASE WHEN u < 0.5 THEN ln(2.0 * u)
                                      ELSE -ln(2.0 - 2.0 * u) END), 4) AS DOUBLE) AS noisy_n
          FROM u ORDER BY event_type""")
      },
      oracle = Some("""
        WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
        u AS (SELECT event_type, n,
                (CAST(md5_number_lower('dp-' || event_type) >> 11 AS DOUBLE)
                  + 1.0) / 9007199254740992.0 AS u
              FROM c)
        SELECT event_type, CAST(n AS BIGINT) AS n,
               CAST(ROUND(n + (CASE WHEN u < 0.5 THEN ln(2.0 * u)
                                    ELSE -ln(2.0 - 2.0 * u) END), 4) AS DOUBLE) AS noisy_n
        FROM u ORDER BY event_type""")),

    // Blocklist audit: per-term document frequency and total hit count for
    // a curated term list, including zero rows for terms the corpus never
    // contains — the first gate of every content-filter pipeline (and the
    // report reviewers ask for before approving the list). The list lives
    // as a RELATION, not a literal isin(): in production the blocklist is
    // a maintained table, and the broadcast-join shape means updating it
    // never changes the plan.
    //
    // Scale shape: the corpus explodes to tokens MAP-SIDE and the
    // broadcast inner join discards every non-blocklisted token before the
    // exchange — the shuffle carries only (term, doc_id) hits (terms are
    // rare by construction; that's why they're blocked). The LEFT join
    // restoring zero-count terms touches only the |blocklist|-row side.
    "q_text_blocklist" -> Q(
      fn = (s, d) => {
        import s.implicits._
        val bl = Seq("slow", "error", "crash", "spark", "deprecated")
          .toDF("term")
        val hits = Tables(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .join(broadcast(bl), col("token") === col("term"))
          .groupBy("term")
          .agg(countDistinct(col("doc_id")).as("docs"),
            count(lit(1)).as("hits"))
        bl.join(hits, Seq("term"), "left")
          .select(col("term"),
            coalesce(col("docs"), lit(0L)).as("docs"),
            coalesce(col("hits"), lit(0L)).as("hits"))
          .orderBy("term")
      },
      oracle = Some("""
        WITH bl AS (SELECT * FROM (VALUES ('slow'), ('error'), ('crash'),
                      ('spark'), ('deprecated')) t(term)),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents),
        h AS (SELECT term, COUNT(DISTINCT doc_id) AS docs, COUNT(*) AS hits
              FROM tok JOIN bl ON token = term GROUP BY term)
        SELECT bl.term, COALESCE(docs, 0) AS docs, COALESCE(hits, 0) AS hits
        FROM bl LEFT JOIN h USING (term) ORDER BY bl.term""")),

    // SUBSTRING-level blocklist scan — q_text_blocklist's token-exact
    // probe misses phrases and intra-token matches; this one counts every
    // occurrence of every pattern (multi-token phrases included) in ONE
    // pass over the text via the graft [[AhoAutomaton]] custom expression
    // (Aho–Corasick 1975). A regex alternation re-scans per alternative
    // and P × contains() re-traverses the text P times; the automaton is
    // O(bytes) no matter how many patterns — the only shape that holds
    // when the blocklist reaches 10k terms.
    //
    // Patterns here are border-free (no proper prefix = suffix), so the
    // all-occurrences automaton count equals the non-overlapping count
    // the oracle's replace()-arithmetic computes (the overlap semantics
    // themselves are pinned in VectorFunctionsSpec with "aa" in "aaaa").
    //
    // Scale shape: map-side expression + P-row explode; the exchange
    // carries P×partitions partial rows. Plan stays inside whole-stage
    // codegen — the automaton is a plan-time reference object, not a UDF.
    "q_text_substring_scan" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val pats = Seq("slow", "merge part", "stream spark", "data leak")
        Tables(s, d, "documents")
          .select(posexplode(graft.functions.VectorFunctions
            .multiPatternCount(col("text"), pats)).as(Seq("pos", "cnt")))
          .groupBy("pos")
          .agg(count(when(col("cnt") > 0, 1)).as("docs"),
            sum(col("cnt")).as("hits"))
          .select(
            element_at(lit(pats.toArray), col("pos") + 1).as("pattern"),
            col("docs"), col("hits"))
          .orderBy("pattern")
      },
      oracle = Some("""
        WITH pats AS (SELECT * FROM (VALUES ('slow'), ('merge part'),
                        ('stream spark'), ('data leak')) t(pattern)),
        h AS (
          SELECT pattern,
                 COUNT(CASE WHEN instr(text, pattern) > 0 THEN 1 END)
                   AS docs,
                 CAST(SUM((length(text) - length(replace(text, pattern, '')))
                   // length(pattern)) AS BIGINT) AS hits
          FROM documents, pats GROUP BY pattern)
        SELECT pattern, docs, hits FROM h ORDER BY pattern""")),

    // Quality-funnel census: per language, how many docs fall at each
    // FIRST-failing Gopher rule and how many survive — the attribution
    // table behind q_quality_gopher's per-doc booleans (a reviewer asks
    // "what would relaxing rule 2 buy us per language", which per-doc
    // flags can't answer without this rollup). Rules evaluate via the
    // SAME gopherMetrics expressions as q_quality_gopher — one
    // implementation, no drift; ordering is the documented funnel order.
    //
    // Scale shape: one corpus pass (map-side rule evaluation + hash agg
    // to |langs|×5 cells); shares via a window over the census relation.
    "q_quality_funnel" -> Q(
      fn = (s, d) => {
        val (n, meanLen, alphaFrac, stop) = gopherMetrics(col("n_chars"))
        val census = docs(s, d)
          .select(col("lang"), n.as("nw"), meanLen.as("ml"),
            alphaFrac.as("af"), stop.as("st"))
          .withColumn("stage",
            when(!col("nw").between(20, 100000), "1_word_count")
              .when(!col("ml").between(3.0, 10.0), "2_mean_word_len")
              .when(col("af") < 0.8, "3_alpha_frac")
              .when(col("st") < 2, "4_stopwords")
              .otherwise("5_pass"))
          .groupBy("lang", "stage").agg(count(lit(1)).as("n_docs"))
        val wl = Window.partitionBy("lang")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        census
          .withColumn("lang_total", sum(col("n_docs")).over(wl))
          .select(col("lang"), col("stage"), col("n_docs"),
            r4(col("n_docs").cast(DoubleType) /
              col("lang_total").cast(DoubleType)).as("share"))
          .orderBy("lang", "stage")
      },
      oracle = Some("""
        WITH m AS (
          SELECT lang,
                 len(string_split(text, ' ')) AS nw,
                 CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                   / len(string_split(text, ' ')) AS ml,
                 CAST(len(list_filter(string_split(text, ' '),
                        t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS af,
                 len(list_filter(string_split(text, ' '),
                        t -> t IN ('a','the','to','of','and','that','with','be')))
                   AS st
          FROM documents),
        c AS (
          SELECT lang,
                 CASE WHEN NOT (nw BETWEEN 20 AND 100000) THEN '1_word_count'
                      WHEN NOT (ml BETWEEN 3.0 AND 10.0) THEN '2_mean_word_len'
                      WHEN af < 0.8 THEN '3_alpha_frac'
                      WHEN st < 2 THEN '4_stopwords'
                      ELSE '5_pass' END AS stage,
                 COUNT(*) AS n_docs
          FROM m GROUP BY 1, 2),
        w AS (SELECT *, SUM(n_docs) OVER (PARTITION BY lang) AS lang_total
              FROM c)
        SELECT lang, stage, n_docs,
               CAST(ROUND(CAST(n_docs AS DOUBLE)
                 / CAST(lang_total AS DOUBLE), 4) AS DOUBLE) AS share
        FROM w ORDER BY lang, stage""")),

    // Source novelty audit: per source, the share of its distinct 3-gram
    // shingles that appear in NO other source — the "is this new corpus
    // actually new content" number read before paying to mix a source in
    // (a low-novelty source mostly re-states what the blend already has;
    // q_decontaminate asks the same question against an eval set, this
    // asks it between training sources). Same 3-gram shingle space as the
    // dedup family (shingle_set custom expression / identical DuckDB
    // spelling).
    //
    // Scale shape: the corpus collapses ONCE to the distinct (source,
    // shingle) relation and is CHECKPOINTED — it feeds both the
    // shingle-multiplicity rollup and the per-source join, and without
    // the barrier the corpus explode would re-execute per consumer (the
    // q_graph_triangles lesson). Everything downstream is shingle-
    // vocabulary-sized.
    "q_source_novelty" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val sh = Tables.checkpoint(
          Tables(s, d, "documents")
            .select(col("source"),
              explode(graft.functions.VectorFunctions.shingleSet(
                split(col("text"), " "), 3)).as("sh"))
            .distinct())
        val counts = sh.groupBy("sh").agg(count(lit(1)).as("n_sources"))
        sh.join(counts, "sh")
          .groupBy("source")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("n_sources") === 1, 1L).otherwise(0L))
              .as("n_unique"))
          .select(col("source"), col("n_shingles"), col("n_unique"),
            r4(col("n_unique").cast(DoubleType) /
              col("n_shingles").cast(DoubleType)).as("novelty"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH sh0 AS (
          SELECT DISTINCT source, s FROM (
            SELECT source, string_split(text, ' ') AS t FROM documents),
            LATERAL (SELECT generate_subscripts(t, 1) AS i) u,
            LATERAL (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s) g
          WHERE i + 2 <= len(t)),
        c AS (SELECT s, COUNT(*) AS n_sources FROM sh0 GROUP BY s)
        SELECT source, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_unique,
               CAST(ROUND(CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS novelty
        FROM sh0 JOIN c USING (s)
        GROUP BY source ORDER BY source""")),

    // DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every raw doc by
    // how much more likely its HASHED n-gram features are under the
    // target distribution (here: the English slice) than under the raw
    // corpus distribution — log w(d) = Σ_b n_d(b)·(ln p_tgt(b) −
    // ln p_raw(b)) with Laplace-smoothed bucket unigram models. The
    // feature space is the q_feature_hashing 64-bucket hashing trick, and
    // that is the scale point DSIR makes: the model is a FIXED 64-row
    // table regardless of corpus size — no vocabulary build, no OOV path,
    // nothing corpus-proportional is ever broadcast (contrast
    // q_text_lm_score, whose vocabulary table grows with the corpus and
    // had to be unhinted).
    //
    // Scale shape: one corpus explode collapses to the (doc, lang,
    // bucket) count relation [the only corpus-sized exchange, map-side
    // combined to ≤64 rows per doc] and is CHECKPOINTED — it feeds both
    // the 64-row bucket model and the per-doc scoring join (the
    // q_graph_triangles lesson). Totals ride a 1-row global-aggregate
    // broadcast (house idiom); the per-doc weight is an exact integer
    // Σ cnt·w8 over term8 fixed-point bucket weights (the
    // q_chisq_independence convention — identical single-expression ln
    // trees on both engines, rounded to 8 dp before any cross-row sum).
    "q_dsir" -> Q(
      fn = (s, d) => {
        graft.functions.VectorFunctions.register(s)
        val tfb = Tables.checkpoint(
          docs(s, d)
            .select(col("doc_id"), col("lang"),
              explode(toks).as("token"))
            .select(col("doc_id"), col("lang"),
              (shiftrightunsigned(
                graft.functions.VectorFunctions.md5Lower(col("token")), 11)
                % 64).as("bucket"))
            .groupBy("doc_id", "lang", "bucket")
            .agg(count(lit(1)).as("cnt")))
        val bw = tfb.groupBy("bucket")
          .agg(sum(col("cnt")).as("cr"),
            sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ct"))
        val tot = bw.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
        val w = bw.crossJoin(broadcast(tot))
          .select(col("bucket"),
            round(lit(1e8) * (log(col("ct") + 1) - log(col("nt") + 64)
              - log(col("cr") + 1) + log(col("nr") + 64)))
              .cast(LongType).as("w8"))
        tfb.join(w, "bucket")
          .groupBy("doc_id")
          .agg(sum(col("cnt")).as("n_tokens"),
            sum(col("cnt") * col("w8")).as("logw8"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, lang,
                          unnest(string_split(text, ' ')) AS token
                   FROM documents),
        tfb AS (SELECT doc_id, lang,
                       CAST(md5_number_lower(token) >> 11 AS BIGINT) % 64 AS bucket,
                       COUNT(*) AS cnt
                FROM t GROUP BY 1, 2, 3),
        bw AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cr,
                      CAST(SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END)
                        AS BIGINT) AS ct
               FROM tfb GROUP BY bucket),
        tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
                       CAST(SUM(cr) AS BIGINT) AS nr FROM bw),
        w AS (SELECT bucket,
                     CAST(ROUND(1e8 * (ln(ct + 1) - ln(nt + 64)
                       - ln(cr + 1) + ln(nr + 64))) AS BIGINT) AS w8
              FROM bw CROSS JOIN tot)
        SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(SUM(cnt * w8) AS BIGINT) AS logw8
        FROM tfb JOIN w USING (bucket)
        GROUP BY doc_id ORDER BY doc_id"""))
  )

  /** Shared Spark/DuckDB SQL for the k-anonymity release (identical text on
    * both engines: floor/CASE/SUM are semantics-aligned). */
  private lazy val kAnonSql: String = """
    WITH cohorts AS (
      SELECT n_name,
             CAST(floor(c_acctbal / 5000) * 5000 AS BIGINT) AS bal_band,
             COUNT(*) AS n
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2)
    SELECT nation, bal_band, CAST(SUM(n) AS BIGINT) AS n
    FROM (SELECT CASE WHEN n >= 5 THEN n_name ELSE '*' END AS nation,
                 CASE WHEN n >= 5 THEN bal_band END AS bal_band, n
          FROM cohorts)
    GROUP BY 1, 2
    ORDER BY nation, bal_band NULLS FIRST"""
}
