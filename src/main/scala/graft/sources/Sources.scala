package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY.md §2.1/§2.2): the reference configures
  * `source_type` + paths (reference `config/config_dev.yaml:4-8`); here the
  * equivalents are schema-applied reads and overwrite writes. S3 vs local FS
  * is purely a path prefix — no code difference.
  *
  * Scale notes: CSV/JSON reads ALWAYS pass an explicit schema — schema
  * inference is a full extra pass over 100 TB. Parquet writes support
  * `partitionBy` for partition-pruned downstream reads, and
  * `maxRecordsPerFile` to bound file sizes.
  */
object Sources {

  /** CSV and JSON landing formats, oracle-checked as round trips: write the
    * corpus table out, read it back schema-applied, and the result must
    * hash-match the direct parquet read — the fidelity property a raw
    * landing zone relies on. */
  val qs: Map[String, graft.Q] = Map(
    "q_source_csv" -> graft.Q(
      fn = (s, d) => {
        val nation = graft.Tables(s, d, "nation")
        // Per-invocation scratch dir (same concurrency rationale as ORC).
        val path = graft.Scratch.fresh("src_csv_nation")
        writeCsv(nation, path)
        readCsv(s, path, nation.schema)
          .orderBy("n_nationkey")
      },
      oracle = Some("SELECT * FROM nation ORDER BY n_nationkey")),
    // XML round trip (Spark 4 built-in XML datasource, rowTag framing).
    // Doubles survive because Java's Double.toString is
    // shortest-round-trippable and the explicit read schema restores
    // types; the oracle is the original parquet relation.
    "q_source_xml" -> graft.Q(
      fn = (s, d) => {
        val part = graft.Tables(s, d, "part")
        val path = graft.Scratch.fresh("src_xml_part")
        part.write.mode(SaveMode.Overwrite)
          .option("rowTag", "part").format("xml").save(path)
        s.read.schema(part.schema).option("rowTag", "part")
          .format("xml").load(path)
          .orderBy("p_partkey")
      },
      oracle = Some("SELECT * FROM part ORDER BY p_partkey")),
    "q_source_json" -> graft.Q(
      fn = (s, d) => {
        val supplier = graft.Tables(s, d, "supplier")
        // Per-invocation scratch dir (same concurrency rationale as ORC).
        val path = graft.Scratch.fresh("src_json_supplier")
        writeJson(supplier, path)
        readJson(s, path, supplier.schema)
          .orderBy("s_suppkey")
      },
      oracle = Some("SELECT * FROM supplier ORDER BY s_suppkey")),
    // Partitioned sink round trip: write documents hive-partitioned by
    // lang, read back ONE partition. At 100 TB partitioning by a coarse
    // selective column is what turns a full-corpus scan into a
    // directory-listing prune — the read here plans PartitionFilters (not
    // data filters), asserted in SourcesSpec. Output must equal the
    // directly-filtered parquet original (fidelity through the partition
    // encoding, including the partition column's value round trip).
    "q_sink_partitioned" -> graft.Q(
      fn = (s, d) => {
        val docsDf = graft.Tables(s, d, "documents")
        val path = graft.Scratch.fresh("src_part_documents")
        writeParquet(docsDf, path, partitionBy = Seq("lang"))
        s.read.parquet(path)
          .filter(org.apache.spark.sql.functions.col("lang") === "en")
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE lang = 'en' ORDER BY doc_id""")),
    "q_source_orc" -> graft.Q(
      fn = (s, d) => {
        val customer = graft.Tables(s, d, "customer")
        // Per-invocation scratch dir: a fixed path races when two sessions
        // bench concurrently (one overwrites mid-read of the other).
        val path = graft.Scratch.fresh("src_orc_customer")
        customer.write.mode(SaveMode.Overwrite).orc(path)
        s.read.schema(customer.schema).orc(path)
          .orderBy("c_custkey")
      },
      oracle = Some("SELECT * FROM customer ORDER BY c_custkey")),
    // Schema evolution across parquet generations: a long-lived table's
    // early files lack columns later files carry. mergeSchema unions the
    // footers at planning time and null-extends old-generation rows —
    // the read-side contract a 100-TB table accumulated over years
    // depends on. (Per-file footer merge is a planning-time cost, so
    // production tables pin the merged schema in a catalog; the READ
    // semantics verified here are the same.) The oracle recomputes the
    // null-extension closed-form from the generation split.
    "q_source_evolution" -> graft.Q(
      fn = (s, d) => {
        import org.apache.spark.sql.functions._
        val docs = graft.Tables(s, d, "documents")
        val path = graft.Scratch.fresh("src_evo_documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "lang")
          .write.mode(SaveMode.Overwrite).parquet(s"$path/gen1")
        docs.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "lang", "source", "n_chars")
          .write.mode(SaveMode.Overwrite).parquet(s"$path/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$path/gen1", s"$path/gen2")
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id, lang,
               CASE WHEN doc_id % 2 = 1 THEN source END AS source,
               CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
        FROM documents ORDER BY doc_id""")),
    // Corrupt-record handling on a raw JSON landing zone: PERMISSIVE mode
    // parses what it can and quarantines the rest in _corrupt_record
    // instead of failing the job — at 100 TB of scraped input, malformed
    // rows are a certainty and a fail-fast read is an outage. Rows with
    // doc_id % 7 = 0 are written truncated (deterministic corruption),
    // so the oracle states the good/quarantined split closed-form.
    "q_source_corrupt" -> graft.Q(
      fn = (s, d) => {
        import org.apache.spark.sql.functions._
        val path = graft.Scratch.fresh("src_corrupt_json")
        graft.Tables(s, d, "documents")
          .select(when(col("doc_id") % 7 === 0,
              concat(lit("{\"doc_id\":"), col("doc_id"), lit(",\"lang\":")))
            .otherwise(to_json(struct(col("doc_id"), col("lang"))))
            .as("value"))
          .write.mode(SaveMode.Overwrite).text(path)
        s.read
          .schema("doc_id LONG, lang STRING, _corrupt_record STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(path)
          .agg(count(lit(1)).as("n_rows"),
            count(col("_corrupt_record")).as("n_quarantined"),
            count(col("doc_id")).as("n_parsed"))
      },
      oracle = Some("""
        SELECT COUNT(*) AS n_rows,
               COUNT(CASE WHEN doc_id % 7 = 0 THEN 1 END) AS n_quarantined,
               COUNT(CASE WHEN doc_id % 7 <> 0 THEN 1 END) AS n_parsed
        FROM documents""")),
    // Bucketed co-located fact⋈fact join, measured end to end: lay BOTH
    // sides out bucketed (+sorted) by the join key, then join them with
    // ZERO exchange on the join — HashPartitioning(orderkey, 8) is
    // already the join distribution on both scans (the one shuffle left
    // in the plan is the 5-group priority aggregate; PlanSpec pins it).
    // This is the repeated-workload answer at 100 TB: pay the layout
    // once, then every orderkey-keyed join or aggregate reads co-located
    // buckets instead of re-shuffling the fact. The merge hint keeps the
    // plan on the bucket-aware sort-merge path at oracle scale, where
    // orders would otherwise broadcast and hide the property being
    // exercised. Table names are per-JVM (pid tag): concurrent sessions
    // never overwrite each other mid-read, repeat invocations in one JVM
    // reuse their own tables via Overwrite.
    "q_join_bucketed" -> graft.Q(
      fn = (s, d) => {
        import org.apache.spark.sql.functions._
        import graft.Q._
        val tag = ProcessHandle.current().pid()
        val liT = s"li_jb_$tag"; val ordT = s"ord_jb_$tag"
        writeBucketed(graft.Tables(s, d, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
          liT, "l_orderkey", 8)
        writeBucketed(graft.Tables(s, d, "orders")
          .select("o_orderkey", "o_orderpriority"),
          ordT, "o_orderkey", 8)
        s.table(liT).hint("merge")
          .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(dec4(sum(revenue)).as("rev"), count(lit(1)).as("n"))
          .orderBy("o_orderpriority")
      },
      oracle = Some(s"""
        SELECT o_orderpriority,
               CAST(SUM(${graft.Q.revenueSql}) AS DOUBLE) AS rev,
               COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""")),

    // MERGE INTO-style upsert on a partitioned parquet sink, read-back
    // verified — the Delta-ish maintenance operation expressed in plain
    // Spark: target = the orders snapshot; source = a deterministic
    // changeset (UPDATE rows: keys ≡ 0 mod 7 with price uplifted 10%;
    // INSERT rows: negated keys ≡ 0 mod 97, disjoint from every real key).
    // MERGE semantics = target rows whose key has no source match
    // (left_anti, the WHEN NOT MATCHED BY SOURCE arm) ∪ source rows (the
    // WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT arms — source keys are
    // unique, so no survivor window is needed). The merged relation is
    // WRITTEN partitioned by priority and READ BACK before aggregating, so
    // the sink round-trip (partition pruning layout, decimal/flag
    // preservation through partition dirs) is inside the verified path.
    //
    // Scale shape: one key-hash exchange for the anti join (source side
    // broadcasts when small, as a real changeset is), a partitioned write
    // (the pay-layout-once pattern of q_join_bucketed), and a map-side
    // aggregate on read-back. All money stays DECIMAL; the 10% uplift is
    // an exact scale-4 decimal product on both engines.
    "q_merge_upsert" -> graft.Q(
      fn = (s, d) => {
        import org.apache.spark.sql.functions._
        import graft.Q._
        val target = graft.Tables(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
            dec2(col("o_totalprice")).as("price"),
            lit(0L).as("is_upd"), lit(0L).as("is_ins"))
        val updates = target.filter(col("k") % 7 === 0)
          .select(col("k"), col("pri"),
            (col("price") * lit(1.10).cast(Dec12)).as("price"),
            lit(1L).as("is_upd"), lit(0L).as("is_ins"))
        val inserts = target.filter(col("k") % 97 === 0)
          .select((-col("k")).as("k"), col("pri"),
            col("price").cast(updates.schema("price").dataType),
            lit(0L).as("is_upd"), lit(1L).as("is_ins"))
        val source = updates.union(inserts)
        val merged = target
          .join(source.select(col("k")), Seq("k"), "left_anti")
          .union(source)
        // Per-invocation scratch dir (same concurrency rationale as the
        // round-trip sources above: a fixed per-JVM path collides under
        // parallel execution, overwriting partition dirs mid-read-back).
        val out = graft.Scratch.fresh("src_merge")
        merged.write.mode(SaveMode.Overwrite).partitionBy("pri").parquet(out)
        s.read.parquet(out)
          .groupBy("pri")
          .agg(count(lit(1)).as("n_rows"),
            dec4(sum(col("price"))).as("total_price"),
            sum(col("is_upd")).as("n_updated"),
            sum(col("is_ins")).as("n_inserted"))
          .orderBy("pri")
      },
      oracle = Some("""
        WITH target AS (
          SELECT o_orderkey AS k, o_orderpriority AS pri,
                 CAST(o_totalprice AS DECIMAL(12,2)) AS price,
                 0 AS is_upd, 0 AS is_ins
          FROM orders),
        updates AS (
          SELECT k, pri, price * CAST(1.10 AS DECIMAL(12,2)) AS price,
                 1 AS is_upd, 0 AS is_ins
          FROM target WHERE k % 7 = 0),
        inserts AS (
          SELECT -k AS k, pri, CAST(price AS DECIMAL(25,4)) AS price,
                 0 AS is_upd, 1 AS is_ins
          FROM target WHERE k % 97 = 0),
        source AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
        merged AS (
          SELECT t.k, t.pri, CAST(t.price AS DECIMAL(25,4)) AS price,
                 t.is_upd, t.is_ins
          FROM target t ANTI JOIN source s ON t.k = s.k
          UNION ALL SELECT * FROM source)
        SELECT pri, COUNT(*) AS n_rows,
               CAST(CAST(SUM(price) AS DECIMAL(18,4)) AS DOUBLE) AS total_price,
               CAST(SUM(is_upd) AS BIGINT) AS n_updated,
               CAST(SUM(is_ins) AS BIGINT) AS n_inserted
        FROM merged GROUP BY pri ORDER BY pri""")))

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeParquet(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Compact a small-files dataset to ~targetBytes output files. The
    * small-files problem is the dominant operational failure of long-lived
    * 100 TB tables: a streaming or per-batch writer leaves thousands of
    * KB-scale files per partition, and every downstream scan pays a
    * file-open + footer-read per file. Sizing from the ACTUAL input bytes
    * (not a guessed partition count) keeps output files near the parquet
    * row-group sweet spot at any scale; coalesce (no shuffle) when
    * shrinking the file count, repartition only when growing it.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L << 20): Unit = {
    val df = spark.read.parquet(inPath)
    val inputBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1,
      (inputBytes / BigInt(targetBytes)).toInt +
        (if (inputBytes % BigInt(targetBytes) > 0) 1 else 0))
    val sized =
      if (nFiles <= df.rdd.getNumPartitions) df.coalesce(nFiles)
      else df.repartition(nFiles)
    sized.write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Bucketed + sorted table write: both sides of a co-located join
    * bucketed by the join key read shuffle-free (no Exchange in the plan) —
    * the pre-partitioning answer for repeated fact-fact joins at 100 TB.
    * Bucketing requires the table catalog (`saveAsTable`). */
  def writeBucketed(df: DataFrame, table: String, bucketBy: String,
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketBy)
      .sortBy(bucketBy)
      .format("parquet")
      .saveAsTable(table)
}
