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
    // Overflow throws instead of reading as null.
    assert(c.get("spark.sql.ansi.enabled") == "true")
    // CodegenReuseSpec: one compile per generated class per JVM.
    assert(c.get("spark.sql.codegen.cache.maxEntries") == "512")
    assert(c.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(c.get("spark.sql.codegen.useIdInClassName") == "false")
    assert(TestSpark.spark.sparkContext.master == "local[4]")
    // Pages and broadcast blocks are sized to this JVM's heap: static
    // confs, so they only hold if the suite's first session set them.
    val unit = Engine.allocationUnit(Runtime.getRuntime.maxMemory)
    val env = org.apache.spark.SparkEnv.get
    assert(env.memoryManager.pageSizeBytes == unit)
    assert(env.conf.getSizeAsKb("spark.broadcast.blockSize") * 1024 == unit)
  }

  test("the allocation unit addresses the whole memory pool and is never humongous") {
    val KiB = 1024L
    val MiB = 1024 * KiB
    // HotSpot 17's G1 region for a heap: heap / 2048 rounded up to a power
    // of two, within 1-32 MiB. An object over half a region is humongous.
    def g1Region(heap: Long): Long = {
      var r = MiB
      while (r < heap / 2048 && r < 32 * MiB) r <<= 1
      r
    }
    val expected = Seq(2 -> 256 * KiB, 4 -> 512 * KiB, 7 -> MiB, 8 -> MiB,
      24 -> 2 * MiB, 64 -> 8 * MiB)
    for ((gib, unit) <- expected) {
      val heap = gib * 1024 * MiB
      val pool = ((heap - 300 * MiB) * 0.6).toLong
      val s = Engine.allocationUnit(heap)
      assert(s == unit, s"$gib GiB")
      // 8192 pages (TaskMemoryManager's page table) cover the pool, and
      // no smaller power of two would.
      assert(s * 8192 >= pool && s / 2 * 8192 < pool, s"$gib GiB")
      assert(s < g1Region(heap) / 2, s"$gib GiB")
    }
    // The region model is this JVM's own, wherever G1 picked the size.
    val hs = java.lang.management.ManagementFactory.getPlatformMXBean(
      classOf[com.sun.management.HotSpotDiagnosticMXBean])
    val region = hs.getVMOption("G1HeapRegionSize")
    if (hs.getVMOption("UseG1GC").getValue == "true" &&
        region.getOrigin == com.sun.management.VMOption.Origin.ERGONOMIC)
      assert(region.getValue.toLong ==
        g1Region(hs.getVMOption("MaxHeapSize").getValue.toLong))
  }

  test("local writes fork no chmod process") {
    val spark = TestSpark.spark
    // Hadoop caches one FileSystem per scheme and ignores the conf on a
    // hit, so check the instance a write actually gets.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[NioLocalFileSystem])
    val chmods = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val out = java.nio.file.Files.createTempDirectory("graft_chmod")
    val marker = java.nio.file.Files.createFile(out.resolve("marker")).toString
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        if (cmd.split(' ').head.endsWith("chmod")) chmods.add(cmd)
      })
      rs.startAsync()
      spark.range(1000).repartition(4).write.parquet(s"$out/t")
      // A chmod of our own after the write: once the stream delivers it,
      // it has delivered every earlier event, and it shows that the
      // recording sees a chmod fork at all.
      new ProcessBuilder("chmod", "600", marker).start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!chmods.contains(s"chmod 600 $marker") && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally rs.close()
    import scala.jdk.CollectionConverters._
    assert(chmods.asScala.toSeq == Seq(s"chmod 600 $marker"))
    assert(spark.read.parquet(s"$out/t").count() == 1000)
  }

  /** Paths (relative to src/main) of the Scala sources containing `needle`. */
  private def mainSourcesContaining(needle: String): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains(needle))
      .map(p => root.relativize(p).toString).toList.sorted
    finally files.close()
  }

  private def mainSource(f: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get("src/main", f))

  test("Engine.session is the only SparkSession builder under src/main") {
    val builders = mainSourcesContaining("SparkSession.builder")
    assert(builders == List("scala/graft/Engine.scala"),
      s"session builders outside Engine.session: $builders")
  }

  test("Bench.Metrics is the only Spark or streaming-query listener under src/main") {
    // One listener measures what a key did; a second sees part of it.
    for (listener <- Seq("SparkListener", "StreamingQueryListener")) {
      val subclass = s"(extends|new|with)\\s+[\\w.]*\\b$listener\\b".r
      val found = mainSourcesContaining(listener).flatMap { f =>
        val n = subclass.findAllIn(mainSource(f)).size
        if (n > 0) Some(f -> n) else None
      }
      assert(found == List("scala/graft/Bench.scala" -> 1), s"$listener subclasses: $found")
    }
  }

  test("corpus files are read only through Tables") {
    // Tables memoizes each file's footer schema; a direct read would run
    // its own footer job.
    val found = mainSourcesContaining("read.parquet(s\"$d/")
    assert(found.forall(_ == "scala/graft/Tables.scala"),
      s"direct corpus reads outside Tables: $found")
  }

  test("checkpoint blocks are created and freed only in Tables") {
    for (needle <- Seq("localCheckpoint(", "getPersistentRDDs")) {
      val found = mainSourcesContaining(needle)
      assert(found == List("scala/graft/Tables.scala"),
        s"$needle outside Tables: $found")
    }
  }

  test("mdPlaneBanded is the only LSH banding under src/main") {
    // One plane family: a second banding kernel would split the
    // recall/cost curve q_ann_recall measures.
    val calls = mainSourcesContaining("mdPlaneDots(").flatMap { f =>
      val src = mainSource(f)
      val defs = """\n  (?:private(?:\[\w+\])? )?def (\w+)""".r.findAllMatchIn(src).toSeq
      "VectorFunctions\\.mdPlaneDots\\(".r.findAllMatchIn(src).map { m =>
        f -> defs.takeWhile(_.start < m.start).lastOption.map(_.group(1))
      }
    }
    assert(calls == List("scala/graft/llm/Similarity.scala" -> Some("mdPlaneBanded")),
      s"mdPlaneDots callers: $calls")
    for (kernel <- Seq("hyperplaneSig", "HyperplaneSig", "hyperplane_sig"))
      assert(mainSourcesContaining(kernel).isEmpty, s"$kernel remains in src/main")
  }

  test("src/main reads exactly six SPARK_GRAFT_ variables") {
    // A new knob must be added here: every variable is a mode each run
    // can take, so the set stays small on purpose.
    val knobs = Set("CPUS", "SF_DIR", "OUT", "ONLY", "WAIT_QUIET", "EXPLAIN_STREAM")
    val texts = mainSourcesContaining("SPARK_GRAFT_").map(mainSource)
    def names(re: scala.util.matching.Regex) =
      texts.flatMap(t => re.findAllMatchIn(t).map(_.group(1))).toSet
    // A quoted name is a read; comments may name only a variable that is read.
    assert(names("\"SPARK_GRAFT_([A-Z_]+)\"".r) == knobs)
    assert(names("SPARK_GRAFT_([A-Z_]+)".r) == knobs)
  }

  test("the function library is registered only where SparkEntry runs a query") {
    assert(mainSourcesContaining("VectorFunctions.register(") ==
      List("scala/graft/SparkEntry.scala"))
    val own = mainSource("scala/graft/functions/VectorFunctions.scala")
    assert("\\bregister\\(".r.findAllIn(own).size == 1 && own.contains("def register("))
  }

  test("SparkEntry.queries runs on a fresh session that holds no graft function") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val base = TestSpark.spark
    val fresh = base.newSession()
    def graftFunctions(s: org.apache.spark.sql.SparkSession) =
      graft.functions.VectorFunctions.functions.map(_._1)
        .filter(n => s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(graftFunctions(fresh).isEmpty)
    // One key from each module whose bodies used to register the library.
    val keys = Seq("q_dedup_simhash", "q_similarity_pq", "q_split_hash",
      "q_text_cooccur", "q_feature_hashing", "q_sample_weighted", "q_agg_cms",
      "q_bootstrap_ci", "q_text_normalize")
    def rows(s: org.apache.spark.sql.SparkSession, k: String) =
      try SparkEntry.queries(k)(s, TestSpark.sf).collect().map(_.toString).sorted.toSeq
      finally Tables.releaseAll(s)
    for (k <- keys) {
      val got = rows(fresh, k)
      assert(got.nonEmpty, s"$k returned no rows")
      assert(got == rows(base, k), k)
    }
    assert(graftFunctions(fresh) == graft.functions.VectorFunctions.functions.map(_._1))
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
      val missing = graft.functions.VectorFunctions.functions.map(_._1)
        .filterNot(n => s2.sessionState.functionRegistry
          .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  // The name predates Tables.Generations: the keyed registry it was written
  // for is gone, and Generations.next now gives the same eager reclamation.
  test("runScopedCheckpoint eagerly reclaims the superseded generation's blocks") {
    val spark = TestSpark.spark
    import spark.implicits._
    def liveIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val base = liveIds
    val gens = new Tables.Generations
    val g1 = gens.next(Seq(1, 2, 3).toDF("x"))
    val ids1 = liveIds.diff(base)
    assert(ids1.nonEmpty, "first generation registered no persistent RDD")
    val g2 = gens.next(g1.select(($"x" * 10).as("x")))
    val ids2 = liveIds.diff(base)
    // generation 1's blocks are gone NOW, not when the ContextCleaner
    // notices the frame is unreachable
    assert(ids1.intersect(ids2).isEmpty,
      s"superseded generation still persistent: ${ids1.intersect(ids2)}")
    assert(ids2.nonEmpty, "second generation registered no persistent RDD")
    assert(g2.as[Int].collect().sorted.toSeq == Seq(10, 20, 30))
  }

  test("releaseAll leaves no persistent RDD behind") {
    val spark = TestSpark.spark
    import spark.implicits._
    assert(Tables.checkpoint(Seq(1, 2).toDF("x")).count() == 2)
    assert(Seq(3).toDF("x").cache().count() == 1)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Tables.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a returned frame stays readable after another query rebuilds the relation it shares") {
    // q_graph_triangles and q_graph_degree both read cooccurEdges'
    // checkpoint; running the second must not free the first's blocks.
    val spark = TestSpark.spark
    val triangles = SparkEntry.queries("q_graph_triangles")(spark, TestSpark.sf)
    val first = triangles.collect().toSeq
    assert(first.nonEmpty, "no triangles at this scale: the check proves nothing")
    SparkEntry.queries("q_graph_degree")(spark, TestSpark.sf).collect()
    assert(triangles.collect().toSeq == first)
    // a fresh plan over the same frame re-reads the checkpoint itself
    assert(triangles.where("true").collect().toSeq == first)
  }
}
