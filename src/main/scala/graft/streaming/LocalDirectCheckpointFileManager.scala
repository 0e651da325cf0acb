package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for SINGLE-PROCESS LOCAL-FILESYSTEM checkpoints:
  * `createAtomic` writes the destination file directly through java.nio
  * instead of the default Hadoop temp-file + rename protocol.
  *
  * Why (guide §6 / r13 verdict ask #3): every micro-batch commits at least
  * three checkpoint-metadata files (offset WAL, commit log, file-source
  * log) plus one state-store delta per store per partition, and the
  * streaming family's durationMs decomposition showed walCommit +
  * commitOffsets + latestOffset ≈ 120 ms of fixed overhead per trigger.
  * Raw local-FS cost is NOT the reason — a measured create+write+rename on
  * this host is 0.13 ms (1.5 ms with fsync). The overhead is the Hadoop
  * layer: without the native-hadoop library (absent here — the
  * NativeCodeLoader warning on every run), RawLocalFileSystem implements
  * setPermission by FORKING a `chmod` subprocess per created file, ~35 ms
  * each under a multi-GB JVM. Going through java.nio skips the fork; the
  * bytes and their on-disk layout are identical. The session's
  * [[graft.NioLocalFileSystem]] does not reach Spark's stock manager:
  * its FileContext path builds the local file system over a hard-coded
  * RawLocalFileSystem.
  *
  * What is kept: create-if-absent semantics (`overwriteIfPossible = false`
  * throws FileAlreadyExistsException when the file exists — HDFSMetadataLog
  * uses that to detect a concurrent writer of the same batch id), and all
  * read/list/delete paths from the stock FileSystem-based manager. What is
  * given up: crash-atomicity of a half-written metadata file — irrelevant
  * for per-run temp checkpoints inside one JVM (a torn file after a crash
  * is indistinguishable from the crash having hit one trigger earlier; the
  * run restarts from a fresh scratch dir either way).
  *
  * Scope: selected per streaming run by [[graft.Scratch.drain]] and
  * [[graft.Scratch.withLocalCheckpointIo]] via
  * `spark.sql.streaming.checkpointFileManagerClass`. The direct write
  * applies only to paths whose scheme is `file`; any other scheme (HDFS,
  * S3, ...) takes the stock temp-file + rename protocol, because
  * multi-writer atomicity is load-bearing there. So a checkpoint
  * configured on a remote store is never written through a local path.
  */
class LocalDirectCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private def toNio(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  /** True when `p` lives on the local filesystem (an unqualified path
    * resolves against this manager's filesystem). */
  private def onFileScheme(p: Path): Boolean =
    Option(p.toUri.getScheme).getOrElse(fs.getUri.getScheme) == "file"

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!onFileScheme(p)) super.createAtomic(p, overwriteIfPossible)
    else createDirect(p, overwriteIfPossible)

  private def createDirect(
      p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val nio = toNio(p)
    Option(nio.getParent).foreach(java.nio.file.Files.createDirectories(_))
    import java.nio.file.StandardOpenOption._
    val opts: Seq[java.nio.file.OpenOption] =
      if (overwriteIfPossible) Seq(CREATE, WRITE, TRUNCATE_EXISTING)
      else Seq(CREATE_NEW, WRITE)
    val out =
      try new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(nio, opts: _*))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(p.toString)
      }
    new CancellableFSDataOutputStream(out) {
      override def cancel(): Unit = {
        scala.util.Try(out.close())
        scala.util.Try(java.nio.file.Files.deleteIfExists(nio))
        ()
      }
    }
  }
}
