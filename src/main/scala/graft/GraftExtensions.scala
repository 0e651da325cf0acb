package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions wiring: registers the graft expression library
  * (every entry of [[VectorFunctions.functions]] — `cosine_similarity`,
  * `simhash64`, `minhash_signature`, `md_plane_dots`, `topk_pairs`, ...) at
  * session build time, so a cluster deployment gets them in plain SQL via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — no code changes.
  * (Per-session `VectorFunctions.register` installs the same table into
  * already-built sessions, e.g. the driver-owned ones in Verify/Bench.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit =
    VectorFunctions.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
}
