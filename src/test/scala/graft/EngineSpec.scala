package graft

import org.scalatest.funsuite.AnyFunSuite

/** Config parsing (the reference's whole declared surface — reference
  * config/config_dev.yaml:1-13) and the one session builder's contract. */
class EngineSpec extends AnyFunSuite {

  test("parses the reference's config shape") {
    val cfg = Engine.parseConfig(
      """env: dev
        |input:
        |  source_type: csv
        |  path: "s3://bucket/raw/sales/"
        |output:
        |  path: "s3://bucket/processed/top3/"
        |processing:
        |  group_by_column: region
        |  target_metric: sales
        |  top_n: 3
        |""".stripMargin)
    assert(cfg.env == "dev")
    assert(cfg.inputPath == "s3://bucket/raw/sales/")
    assert(cfg.outputPath == "s3://bucket/processed/top3/")
    assert(cfg.groupByColumn == "region")
    assert(cfg.targetMetric == "sales")
    assert(cfg.topN == 3)
  }

  test("defaults hold for an empty config") {
    val cfg = Engine.parseConfig("")
    assert(cfg.topN == 3 && cfg.groupByColumn == "region")
  }

  test("comments and blank lines are ignored") {
    val cfg = Engine.parseConfig(
      """# comment
        |processing:
        |  top_n: 7  # trailing comment
        |""".stripMargin)
    assert(cfg.topN == 7)
  }

  test("the shared test session resolves the engine's session contract") {
    // Verify's parquet bytes depend on these, and the suite runs under the
    // same Engine.session every main uses.
    val c = TestSpark.spark.conf
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(c.get("spark.sql.shuffle.partitions") == "4")
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(TestSpark.spark.sparkContext.master == "local[4]")
  }

  test("Engine.session is the only SparkSession builder under src/main") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = java.nio.file.Files.walk(root)
    val builders = try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString).toList.sorted
    finally files.close()
    assert(builders == List("scala/graft/Engine.scala"),
      s"session builders outside Engine.session: $builders")
  }

  test("GraftExtensions injects the function library at session build time") {
    import org.apache.spark.sql.SparkSession
    val base = TestSpark.spark // ensures a SparkContext exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // spark.sql.extensions is a STATIC conf, unreadable once a context
      // exists in this JVM — inject through the public withExtensions
      // builder hook instead, which exercises the same
      // GraftExtensions.apply injection path the --conf route loads.
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s2 ne base, "expected a fresh session with extensions applied")
      val r = s2.sql("""
        SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
               md5_lower64('split-1') AS h,
               graft_might_contain(
                 (SELECT graft_bloom_agg(xxhash64(x), 10L, 1000L)
                  FROM VALUES ('a'), ('b') t(x)),
                 xxhash64('a')) AS hit""").head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getLong(1) != 0L)
      assert(r.getBoolean(2), "bloom probe of a present element must hit")
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("runScopedCheckpoint eagerly reclaims the superseded generation's blocks") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    import spark.implicits._
    def liveIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val base = liveIds
    val g1 = Tables.runScopedCheckpoint("enginespec.chk",
      Seq(1, 2, 3).toDF("x"))
    assert(g1.count() == 3)
    val afterG1 = liveIds.diff(base)
    assert(afterG1.nonEmpty, "first checkpoint registered no persistent RDD")
    val g2 = Tables.runScopedCheckpoint("enginespec.chk",
      Seq(4, 5).toDF("x"))
    assert(g2.count() == 2)
    val afterG2 = liveIds.diff(base)
    // generation 1's blocks are gone NOW (not when ContextCleaner gets to
    // them — Dataset.unpersist alone would leave them: ADVICE r6)
    assert(afterG1.intersect(afterG2).isEmpty,
      s"superseded checkpoint blocks still persistent: ${afterG1.intersect(afterG2)}")
    assert(afterG2.nonEmpty, "second checkpoint registered no persistent RDD")
  }
}
