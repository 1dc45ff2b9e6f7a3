package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files, NoSuchFileException, StandardCopyOption,
  FileAlreadyExistsException => NioFileAlreadyExists}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's checksummed local filesystem (`.crc` sidecars, verified
  * reads) over [[NioRawLocalFileSystem]]. Without libhadoop, stock
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and it
  * runs for every file and directory Hadoop creates: each JSON or
  * parquet part file and its `.crc`, each `_temporary` attempt dir.
  * Here the same umasked mode is set through java.nio, in-process.
  *
  * A checksum failure fails the read and leaves the file in place, as
  * `ChecksumFs` does; stock forks `df` and moves it to a `bad_files` dir.
  *
  * The `file:` scheme otherwise resolves to Hive's
  * `ProxyLocalFileSystem`, which the hive-exec jar registers through
  * Hadoop's FileSystem ServiceLoader (a FilterFileSystem over the
  * stock `LocalFileSystem`). Nothing under `src/` relies on that class.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
      sums: FSDataInputStream, sumsPos: Long): Boolean = false
}

/** `RawLocalFileSystem` whose `setPermission` is a java.nio call. The
  * contract is the stock one: the caller passes the mode already
  * umasked (create and mkdirs do), symlinks are followed, and a
  * missing path is an error (`FileNotFoundException`). Modes with
  * bits nio cannot express (sticky, setuid, setgid) and non-POSIX
  * filesystems take the stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      for ((perm, i) <- PosixFilePermission.values.zipWithIndex
           if (mode & (0x100 >> i)) != 0) perms.add(perm)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $p does not exist")
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }
  }
}

/** The FileContext side of [[NioLocalFileSystem]], through which Spark's
  * stock checkpoint manager writes: Hadoop's `LocalFs` over [[NioRawLocalFs]].
  * A rename moves the file's `.crc` with it; once the data has landed, that
  * `.crc` replaces any left without its file (deleted by hand to replay a
  * batch), which would otherwise fail a no-overwrite commit.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf)) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    getMyFs.rename(src, dst, if (overwrite) Options.Rename.OVERWRITE else Options.Rename.NONE)
    try getMyFs.rename(getChecksumFile(src), getChecksumFile(dst), Options.Rename.OVERWRITE)
    catch { case _: FileNotFoundException => } // written without one
  }
}

/** Hadoop's `RawLocalFs` (package-private constructors, so its four
  * overrides are repeated) over [[NioRawLocalFileSystem]]. Stock
  * `renameInternal` checks, then renames: a racing no-overwrite writer can
  * replace the winner's file, and both checks fork `readlink`. Here
  * overwrite is one atomic move; no-overwrite is a hard link (atomic
  * no-replace) then a source delete, and a collision raises Hadoop's
  * `FileAlreadyExistsException`, the source left in place. A refused link
  * (a directory) takes the stock rename. No fsync, as stock.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what they accept; the OS decides
  override def isValidName(src: String): Boolean = true

  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    val raw = fsImpl.asInstanceOf[RawLocalFileSystem]
    val (s, d) = (raw.pathToFile(src).toPath, raw.pathToFile(dst).toPath)
    if (overwrite) {
      try Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$src not found") }
    } else {
      try Files.createLink(d, s)
      catch {
        case _: NioFileAlreadyExists =>
          throw new FileAlreadyExistsException(s"$dst already exists")
        case _: UnsupportedOperationException | _: FileSystemException =>
          return super.renameInternal(src, dst, overwrite)
      }
      Files.delete(s)
    }
  }
}

object NioLocalFileSystem {
  /** Hadoop's key for the `file:` scheme's FileSystem class. */
  val ImplKey = "fs.file.impl"
  /** Hadoop's key that bypasses the per-scheme FileSystem cache. */
  val NoCacheKey = "fs.file.impl.disable.cache"
  /** Hadoop's key for the `file:` scheme's FileContext class. */
  val FcImplKey = "fs.AbstractFileSystem.file.impl"

  /** Route the `file:` writes of jobs and streams started on `spark` from
    * now on through this filesystem: part files (`fs.file.impl`) and
    * checkpoint files (`fs.AbstractFileSystem.file.impl`). Each key is set
    * unless the session or its context's Hadoop conf names a class for it
    * (the `graft.Session` preset names both; `core-default.xml`'s stock
    * `LocalFs` counts as none). `FileSystem.get` caches one instance per
    * scheme and JVM, which a session the engine did not build has filled
    * already, so the first key comes with `fs.file.impl.disable.cache=true`.
    */
  def install(spark: SparkSession): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    if (spark.conf.getOption(ImplKey).isEmpty && hc.get(ImplKey) == null) {
      spark.conf.set(ImplKey, classOf[NioLocalFileSystem].getName)
      if (spark.conf.getOption(NoCacheKey).isEmpty)
        spark.conf.set(NoCacheKey, "true")
    }
    if (spark.conf.getOption(FcImplKey).isEmpty &&
        Option(hc.getPropertySources(FcImplKey)).forall(_.forall(_ == "core-default.xml")))
      spark.conf.set(FcImplKey, classOf[NioLocalFs].getName)
  }
}
