package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the scratch-reaping, streaming-run and local checkpoint-I/O
  * internals: the tombstone queue (unique names, no overlap with timed
  * regions, no leak on rapid re-invocation), `Scratch.drain`'s scoped
  * confs and job-free read-back, and the direct-write checkpoint file
  * manager's contract (atomic-create semantics preserved, bytes round-trip
  * — the streaming family's per-batch commit path).
  */
class ScratchInfraSpec extends AnyFunSuite {

  test("fresh: rapid repeated invocations leak nothing once reaped") {
    val k = "spec_rapid"
    val dirs = (1 to 4).map { i =>
      val d = Scratch.fresh(k)
      // Drop a file in each generation so the tombstone tree is non-empty.
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(d, s"gen$i.txt"), s"gen $i")
      d
    }
    // Previous generations were renamed away immediately (ATOMIC_MOVE):
    // none of the earlier paths may still exist under their original name.
    dirs.dropRight(1).foreach { d =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d)),
        s"superseded scratch dir survived under its original name: $d")
    }
    Scratch.reapTombstones()
    // After the reap, no tombstone sibling of any generation remains.
    val tmp = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val leaked = {
      val s = java.nio.file.Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith(s"graft_${k}_") && n.contains("_tomb"))
          .toList
      } finally s.close()
    }
    assert(leaked.isEmpty, s"tombstones leaked after reap: $leaked")
    // The live (latest) dir still exists until the next fresh/exit.
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dirs.last)))
  }

  test("drain: a stream that throws mid-run leaves the session as it found it") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val parts = "spark.sql.shuffle.partitions"
    val ckptMgr = "spark.sql.streaming.checkpointFileManagerClass"
    val scoped = "spark.graft.spec.scoped"
    val sessionParts = spark.conf.get(parts)
    // Not drain's 4, so a missed restore shows.
    spark.conf.set(parts, "3")
    try {
      val before = spark.conf.getAll
      assert(!before.contains(ckptMgr) && !before.contains(scoped))
      val boom = udf { (id: Long) =>
        if (id >= 0) throw new IllegalStateException("boom")
        id
      }
      val failing = spark.readStream.schema(Scratch.inputSchema)
        .parquet(s"${Scratch.sharedInput(spark, TestSpark.sf)}/in")
        .select(boom(col("event_id")).as("event_id"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Scratch.withConf(spark, scoped -> "on") {
          Scratch.drain(spark, "spec_drain_fail", failing)
        }
      }
      assert(e.getMessage.contains("boom"), e.getMessage)
      val after = spark.conf.getAll
      val changed = (after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)
      assert(changed.isEmpty, s"session confs changed: $changed")
    } finally spark.conf.set(parts, sessionParts)
  }

  test("drain: building the read-back frame starts no Spark job") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val stream = spark.readStream.schema(Scratch.inputSchema)
      .parquet(s"${Scratch.sharedInput(spark, TestSpark.sf)}/in")
      .select(col("event_id"), col("event_type"))
    val events = Tables(spark, TestSpark.sf, "events").count()
    for ((mode, columns) <- Seq(
        "append" -> Seq("event_id", "event_type"),
        "update" -> Seq("event_id", "event_type", "batch_id"))) {
      var out: org.apache.spark.sql.DataFrame = null
      var runId = ""
      val groups = TestSpark.jobGroupsOf {
        val (back, progress) = Scratch.drain(spark, s"spec_drain_$mode", stream, mode)
        out = back
        runId = progress.head.runId.toString
      }
      // Every job belongs to the stream's own run (its job group is the
      // run id); a job in any other group came from the read-back.
      assert(groups.nonEmpty && groups.forall(_ == runId),
        s"$mode: jobs outside the stream's run: ${groups.filterNot(_ == runId)}")
      assert(out.columns.toSeq == columns, mode)
      assert(out.count() == events, mode)
    }
    Scratch.reapTombstones()
  }

  test("LocalDirectCheckpointFileManager: atomic-create contract and round trip") {
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = java.nio.file.Files.createTempDirectory("graft_ckptmgr_spec_")
    val base = new org.apache.hadoop.fs.Path(root.toUri)
    val fm = new streaming.LocalDirectCheckpointFileManager(base, conf)
    val f = new org.apache.hadoop.fs.Path(base, "offsets/0")

    // write + read back through the manager's own open()
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("v1\nbatch-0".getBytes("UTF-8")); out.close()
    val in = fm.open(f)
    val buf = new Array[Byte](64)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n, "UTF-8") == "v1\nbatch-0")

    // create-if-absent must throw on an existing file (HDFSMetadataLog's
    // concurrent-writer detection relies on it)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      fm.createAtomic(f, overwriteIfPossible = false)
    }
    // ... and overwrite-if-possible must succeed in place
    val out2 = fm.createAtomic(f, overwriteIfPossible = true)
    out2.write("v2".getBytes("UTF-8")); out2.close()
    val in2 = fm.open(f)
    val n2 = in2.read(buf); in2.close()
    assert(new String(buf, 0, n2, "UTF-8") == "v2")

    // cancel() removes the partial file
    val g = new org.apache.hadoop.fs.Path(base, "offsets/1")
    val out3 = fm.createAtomic(g, overwriteIfPossible = false)
    out3.write("partial".getBytes("UTF-8")); out3.cancel()
    assert(!fm.exists(g), "cancelled createAtomic left the file behind")

    // list() through the inherited manager sees what nio wrote
    assert(fm.list(new org.apache.hadoop.fs.Path(base, "offsets"))
      .map(_.getPath.getName).toSet == Set("0"))
  }

  test("LocalDirectCheckpointFileManager: a non-file scheme takes the stock rename path") {
    // A file-backed FileSystem under its own scheme: the bytes land on the
    // local disk, but the path says "not file", as an hdfs:// or s3a://
    // checkpoint would.
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.graftspec.impl", classOf[ScratchInfraSpec.SchemeLocalFs].getName)
    conf.setBoolean("fs.graftspec.impl.disable.cache", true)
    val root = java.nio.file.Files.createTempDirectory("graft_ckptmgr_scheme_")
    val base = new org.apache.hadoop.fs.Path(s"graftspec://${root.toUri.getPath}")
    val fm = new streaming.LocalDirectCheckpointFileManager(base, conf)
    val f = new org.apache.hadoop.fs.Path(base, "commits/0")
    val out = fm.createAtomic(f, overwriteIfPossible = false)
    out.write("v1".getBytes("UTF-8"))
    // The stock protocol writes a temp file and renames it into place on
    // close; a direct write would already have created the target.
    assert(!java.nio.file.Files.exists(root.resolve("commits/0")),
      "createAtomic wrote the target directly on a non-file scheme")
    out.close()
    assert(java.nio.file.Files.readString(root.resolve("commits/0")) == "v1")
  }

  test("streaming query through the direct manager equals the default manager") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    // Same watermarked tumbling aggregation over the same corpus slice,
    // run twice: stock manager vs the direct manager. Byte-identical
    // results pin that the manager changes I/O cost only.
    def run(useDirect: Boolean): Array[org.apache.spark.sql.Row] = {
      val in = s"${Scratch.sharedInput(spark, TestSpark.sf)}/in"
      val scratch = Scratch.fresh(
        if (useDirect) "spec_ckpt_direct" else "spec_ckpt_default")
      val agg = graft.streaming.Streams.tumblingWithWatermark(
        spark.readStream.schema(Scratch.inputSchema).parquet(in)
          .select(col("ts"), col("event_type"), col("value")), "10 minutes")
      val body = () => {
        agg.writeStream
          .format("parquet")
          .option("path", s"$scratch/out")
          .option("checkpointLocation", s"$scratch/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      if (useDirect) Scratch.withLocalCheckpointIo(spark)(body())
      else body()
      spark.read.parquet(s"$scratch/out")
        .orderBy("w_start", "event_type").collect()
    }
    val direct = run(useDirect = true)
    val stock = run(useDirect = false)
    assert(direct.nonEmpty)
    assert(direct.sameElements(stock),
      "direct checkpoint manager changed the query result")
    Scratch.reapTombstones()
  }
}

object ScratchInfraSpec {
  /** The local filesystem registered under the `graftspec` scheme. */
  class SchemeLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("graftspec:///")
    override def getScheme: String = "graftspec"
  }
}
