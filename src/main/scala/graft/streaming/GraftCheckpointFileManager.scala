package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager for every streaming query the engine starts:
  * offset and commit logs, file-sink logs and state-store delta and
  * snapshot files all go through it. `graft.GraftSession.builder`
  * registers it as `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * Why: Spark's default manager commits each checkpoint file through
  * Hadoop `FileContext.rename`, and `AbstractFileSystem.renameInternal`
  * looks up the link status of source and destination. On a `file:` root
  * without Hadoop's native library, Hadoop 3.4.2's
  * `RawLocalFileSystem.deprecatedGetFileLinkStatusInternal` answers that
  * by forking a `readlink` process (`FileUtil.readLink` → `Shell`). Every
  * micro-batch commits an offset file, a commit file and one delta file
  * per state partition, so the forks, not the writes, dominated the
  * per-batch commit time.
  *
  * Dispatch, on the checkpoint path's scheme (the default filesystem's
  * when the path has none):
  *  - `file` → Spark's [[FileSystemBasedCheckpointFileManager]]. Its
  *    rename is `FileSystem.rename`, which on the local filesystem is
  *    `File.renameTo`: one `rename(2)` call, atomic within a filesystem,
  *    and no process spawn.
  *  - any other scheme → exactly what Spark picks without this class
  *    (`FileContextBasedCheckpointFileManager`, falling back to the
  *    FileSystem-based one for stores without a `FileContext` binding),
  *    so HDFS and other URI roots behave as before.
  *
  * The no-overwrite contract is unchanged: with `overwriteIfPossible =
  * false` the FileSystem-based delegate checks that the destination does
  * not exist before it renames, and throws `FileAlreadyExistsException`
  * if it does. That exists-then-rename check is the one Spark already
  * uses for every store without `FileContext`, and it is what
  * `HDFSMetadataLog` relies on to detect a second writer of a batch.
  * `overwriteIfPossible = true` stays best effort, as Spark's contract
  * allows: `FileSystem.rename` may refuse an existing target (with Hive's
  * jars on the classpath, as in the Spark build this engine uses, `file:`
  * is served by Hive's `ProxyLocalFileSystem`, which does), and then the
  * existing file is kept and the temp file is left beside it. Only the
  * state store asks to overwrite, and it rewrites a version only when a
  * batch or task re-runs on the same input. Spark's own checkpoint
  * checksum files wrap this manager and stay on. */
class GraftCheckpointFileManager(path: Path, hadoopConf: Configuration)
  extends CheckpointFileManager {
  import GraftCheckpointFileManager._

  val delegate: CheckpointFileManager =
    if (isLocalScheme(scheme(path, hadoopConf)))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else {
      // Spark's own choice, made on a copy that does not name this class
      val sparkDefault = new Configuration(hadoopConf)
      sparkDefault.unset(ConfKey)
      CheckpointFileManager.create(path, sparkDefault)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
  : CancellableFSDataOutputStream = delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object GraftCheckpointFileManager {
  /** The Spark conf that names the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Schemes whose checkpoint files commit through the FileSystem API. */
  def isLocalScheme(scheme: String): Boolean = scheme == "file"

  private def scheme(path: Path, conf: Configuration): String =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
}
