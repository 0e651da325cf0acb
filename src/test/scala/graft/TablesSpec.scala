package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` reads each corpus file's footer schema once per session. */
class TablesSpec extends AnyFunSuite {
  import TestSpark.jobGroupsOf
  private lazy val spark = TestSpark.spark

  test("a second Tables call starts no Spark job") {
    Tables(spark, TestSpark.sf, "region")
    var a, b: DataFrame = null
    val jobs = jobGroupsOf {
      a = Tables(spark, TestSpark.sf, "region")
      b = Tables(spark, TestSpark.sf, "region")
    }
    assert(jobs.isEmpty, s"a memoized read started ${jobs.size} jobs")
    // Each call is a fresh relation, so a self-join stays unambiguous.
    assert(a.join(b, a("r_regionkey") === b("r_regionkey")).count() == 5)
  }

  /** Writes `df` as one parquet file at `target`, replacing what is there. */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_tables_out")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.resolve("out").toString)
    val part = Files.list(tmp.resolve("out")).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("a file rewritten at the same path is read with its new schema") {
    val dir = Files.createTempDirectory("graft_tables_in")
    val file = dir.resolve("t.parquet")
    writeFile(spark.range(3).toDF("k"), file)
    assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("k"))
    writeFile(spark.range(3).toDF("k").selectExpr("k", "CAST(k AS STRING) AS s"), file)
    val again = Tables(spark, dir.toString, "t")
    assert(again.columns.toSeq == Seq("k", "s"))
    assert(again.count() == 3)
  }
}
