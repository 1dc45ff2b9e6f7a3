package graft.fs

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's checksummed local filesystem (`.crc` sidecars, verified
  * reads) over [[NioRawLocalFileSystem]]. Without libhadoop, stock
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and it
  * runs for every file and directory Hadoop creates: each JSON or
  * parquet part file and its `.crc`, each `_temporary` attempt dir.
  * Here the same umasked mode is set through java.nio, in-process.
  *
  * The `file:` scheme otherwise resolves to Hive's
  * `ProxyLocalFileSystem`, which the hive-exec jar registers through
  * Hadoop's FileSystem ServiceLoader (a FilterFileSystem over the
  * stock `LocalFileSystem`). Nothing under `src/` relies on that class.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

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

object NioLocalFileSystem {
  /** Hadoop's key for the `file:` scheme's FileSystem class. */
  val ImplKey = "fs.file.impl"
  /** Hadoop's key that bypasses the per-scheme FileSystem cache. */
  val NoCacheKey = "fs.file.impl.disable.cache"

  /** Route the `file:` writes of jobs started on `spark` from now on
    * through this filesystem, unless the session or its context's
    * Hadoop conf already names a `file:` class (the `graft.Session`
    * preset names this one context-wide). `FileSystem.get` caches one
    * instance per scheme and JVM, so a session the engine did not build
    * would keep the stock instance cached before it; the session key
    * therefore comes with `fs.file.impl.disable.cache=true` (if unset),
    * and each Hadoop conf the session builds creates its own instance.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ImplKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ImplKey) == null) {
      spark.conf.set(ImplKey, classOf[NioLocalFileSystem].getName)
      if (spark.conf.getOption(NoCacheKey).isEmpty)
        spark.conf.set(NoCacheKey, "true")
    }
}
