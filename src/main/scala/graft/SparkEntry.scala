package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers here as a
  * `queries` entry; oracle-checkable ones (✅ rows) also declare equivalent
  * DuckDB SQL in `oracleSql` over the bare corpus table names.
  */
object SparkEntry {

  /** All query modules, merged. Keys must be unique across modules. */
  private lazy val all: Map[String, Q] =
    Seq(
      operators.Flagship.qs,
      operators.Relational.qs,
      operators.Aggregates.qs,
      operators.Windows.qs,
      operators.SetSort.qs,
      operators.Skew.qs,
      sources.Sources.qs,
      operators.EventTime.qs,
      operators.Analytics.qs,
      operators.TpchMore.qs,
      operators.Science.qs,
      operators.Insights.qs,
      operators.Inference.qs,
      functions.Scalars.qs,
      llm.TextAnalysis.qs,
      llm.Dedup.qs,
      llm.Curation.qs,
      llm.Similarity.qs,
      llm.Multimodal.qs,
      llm.Features.qs
    ).reduce(_ ++ _)

  /** `query` on a session that holds the graft function library. The
    * caller may pass any session, not only one `Engine.session` built, so
    * each call registers the library (once per session) before the query
    * body resolves a name from it. */
  private def withLibrary(spark: SparkSession)(query: => DataFrame): DataFrame = {
    functions.VectorFunctions.register(spark)
    query
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = withLibrary(spark) {
    all("q_topn_flagship").fn(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) =>
      k -> ((s: SparkSession, d: String) => withLibrary(s)(q.fn(s, d))) }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.collect { case (k, Q(_, Some(sql))) => k -> sql.stripMargin.trim }
}
