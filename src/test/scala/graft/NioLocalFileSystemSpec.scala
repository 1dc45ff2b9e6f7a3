package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.NioLocalFileSystem

/** NioLocalFileSystem keeps the stock local filesystem's contract: the
  * same umasked modes on created files and dirs, explicit modes set
  * as given, an error on a missing path, and `.crc` sidecars the stock
  * checksum read verifies; a file that fails it stays where it is.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {
  /** An uncached, initialized instance with the given umask. */
  private def init(fs: LocalFileSystem, umask: String = "022"): LocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
  private def stock(umask: String = "022") = init(new LocalFileSystem, umask)
  private def nio(umask: String = "022") = init(new NioLocalFileSystem, umask)

  private def mode(p: NioPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The modes of a file, its `.crc` and a nested dir pair written by `fs`. */
  private def written(fs: LocalFileSystem): Seq[String] = {
    val dir = Files.createTempDirectory("niofs_modes")
    val out = fs.create(new Path(dir.toUri.toString, "part-0"))
    out.write("payload".getBytes("UTF-8"))
    out.close()
    assert(fs.mkdirs(new Path(dir.toUri.toString, "a/b")))
    Seq("part-0", ".part-0.crc", "a", "a/b").map(n => mode(dir.resolve(n)))
  }

  test("files, .crc sidecars and dirs get the umasked modes stock sets") {
    for (umask <- Seq("022", "027", "077")) {
      val want = written(stock(umask))
      assert(written(nio(umask)) == want, umask)
    }
    assert(written(nio()) == Seq("rw-r--r--", "rw-r--r--", "rwxr-xr-x", "rwxr-xr-x"))
  }

  test("an explicit mode is set as given; a missing path is an error") {
    val dir = Files.createTempDirectory("niofs_explicit")
    val f = Files.write(dir.resolve("f"), Array[Byte](1))
    val fs = nio()
    fs.setPermission(new Path(f.toUri), new FsPermission("640"))
    assert(mode(f) == "rw-r-----")
    val missing = new Path(dir.resolve("missing").toUri)
    intercept[IOException](stock().setPermission(missing, new FsPermission("644")))
    intercept[FileNotFoundException](fs.setPermission(missing, new FsPermission("644")))
  }

  test("a corrupted byte in a nio-written file fails the stock checksum read") {
    val dir = Files.createTempDirectory("niofs_crc")
    val p = new Path(dir.toUri.toString, "part-0")
    val body = ("line\n" * 200).getBytes("UTF-8")
    val fs = nio()
    val out = fs.create(p)
    out.write(body)
    out.close()
    assert(Files.isRegularFile(dir.resolve(".part-0.crc")))
    def readBack(): Array[Byte] = {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }
    assert(readBack().sameElements(body))
    val f = dir.resolve("part-0")
    val bytes = Files.readAllBytes(f)
    bytes(100) = (bytes(100) ^ 1).toByte
    Files.write(f, bytes)
    intercept[ChecksumException](readBack())
    // failed in place: not moved to a `bad_files` dir
    assert(Files.readAllBytes(f).sameElements(bytes))
    assert(Files.isRegularFile(dir.resolve(".part-0.crc")))
  }
}
