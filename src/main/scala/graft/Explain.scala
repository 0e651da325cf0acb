package graft

/** Plan-inspection tool: `runMain graft.Explain <sfDir> [query ...]` prints
  * the formatted physical plan per query — used to keep scans pruned/pushed,
  * dims broadcast, and whole-stage codegen spans wide (the builder's
  * .explain review loop; not part of the driver contract).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).toSet
    val spark = Engine.session("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        sb.append(s"\n===== $name =====\n")
        try sb.append(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case scala.util.control.NonFatal(e) => sb.append(s"explain failed: ${e.getMessage}\n") }
        finally Tables.releaseAll(spark)
      }
    }
    print(sb)
    // full dump for grep-based plan review (pane scrollback is finite)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/explain_all.txt"), sb.toString)
    spark.stop()
  }
}
