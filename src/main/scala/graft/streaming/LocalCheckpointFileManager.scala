package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption,
  FileAlreadyExistsException => NioFileAlreadyExists}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's default checkpoint file manager with local files committed
  * through java.nio. Without libhadoop, every file Hadoop's local
  * filesystem creates runs `RawLocalFileSystem.setPermission`, which
  * forks a `chmod` process: 25-34 ms per checkpoint file against
  * 0.1-0.5 ms for an nio write + atomic move (100-file probe, 4-core
  * host), and a trigger writes several (offsets, commits, source and
  * `_spark_metadata` logs, state store files).
  *
  * Only the two steps behind `createAtomic` change, and only for paths
  * that resolve to `file:`; every other scheme and every read, list,
  * exists, delete and mkdirs goes to the stock manager. Overwrite is an
  * atomic move; no-overwrite is a hard link (the atomic no-replace step)
  * whose collision raises Hadoop's `FileAlreadyExistsException`, as
  * `HDFSMetadataLog` expects of a concurrent writer; a filesystem that
  * refuses hard links gets the stock rename. The destination's
  * `.<name>.crc` is removed first, so a checksum the stock manager left
  * cannot fail a later read. No fsync, as in the stock local path.
  *
  * The data files a sink writes (JSON and parquet part files) do not go
  * through a checkpoint manager; `install` routes those through
  * `graft.fs.NioLocalFileSystem`. Spark's stock manager still writes
  * through FileContext (`fs.AbstractFileSystem.file.impl`), which that
  * filesystem does not cover, so this manager stays.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private def local(p: Path): Option[java.nio.file.Path] = {
    val uri = fc.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri)) else None
  }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) =>
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f)), null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) =>
        Files.deleteIfExists(d.resolveSibling(s".${d.getFileName}.crc"))
        if (overwriteIfPossible) Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
        else {
          try Files.createLink(d, s)
          catch {
            case _: NioFileAlreadyExists =>
              Files.deleteIfExists(s)
              throw new FileAlreadyExistsException(s"$dst already exists")
            case _: UnsupportedOperationException | _: FileSystemException =>
              return super.renameTempFile(src, dst, overwriteIfPossible)
          }
          Files.delete(s)
        }
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }
}

object LocalCheckpointFileManager {
  /** Spark's own key for the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Use this manager for queries started on `spark` from now on, unless
    * the session already names a manager, and route the session's
    * `file:` part files through `graft.fs.NioLocalFileSystem` (see its
    * `install`). Every sink starter calls this before it builds a sink.
    */
  def install(spark: SparkSession): Unit = {
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)
    graft.fs.NioLocalFileSystem.install(spark)
  }
}
