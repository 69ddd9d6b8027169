package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}
import org.scalatest.funsuite.AnyFunSuite

/** The in-process `setPermission` of [[NioRawLocalFileSystem]] against
  * Hadoop's own: the stock `RawLocalFileSystem` (which forks `chmod`
  * without libhadoop) is the reference for every mode.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def local[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val nio = local(new NioRawLocalFileSystem)
  private val stock = local(new RawLocalFileSystem)

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_nio_perm")
    try body(dir) finally FileUtils.deleteDirectory(dir.toFile)
  }

  private def bits(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The whole mode, the sticky, setuid and setgid bits included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves the rwx bits Hadoop's chmod leaves, for files and mkdirs") {
    withDir { dir =>
      for (octal <- Seq("644", "755", "700", "600")) {
        val perm = new FsPermission(octal)
        val want = perm.toString
        val (mine, theirs) = (dir.resolve(s"nio$octal"), dir.resolve(s"stock$octal"))
        Seq(mine, theirs).foreach { f =>
          Files.createFile(f)
          Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("rwxrwxrwx"))
        }
        nio.setPermission(new Path(mine.toUri), perm)
        stock.setPermission(new Path(theirs.toUri), perm)
        assert(bits(mine) == want && bits(theirs) == want, s"file $octal")

        // mkdirs creates the parent with the default mode and the leaf
        // with `perm` under the umask
        val (myDir, theirDir) = (dir.resolve(s"d_nio$octal/leaf"), dir.resolve(s"d_stock$octal/leaf"))
        assert(nio.mkdirs(new Path(myDir.toUri), perm))
        assert(stock.mkdirs(new Path(theirDir.toUri), perm))
        assert(bits(myDir) == bits(theirDir), s"mkdirs $octal")
        assert(bits(myDir.getParent) == bits(theirDir.getParent), s"mkdirs parent $octal")
        assert(mode(myDir) == mode(theirDir))
      }
      // files the checksummed file system creates get their mode in-process too
      val fs = new NioLocalFileSystem
      fs.initialize(URI.create("file:///"), new Configuration())
      val created = dir.resolve("created")
      fs.create(new Path(created.toUri)).close()
      assert(bits(created) == "rw-r--r--")
      assert(bits(dir.resolve(".created.crc")) == "rw-r--r--")
    }
  }

  test("setPermission passes sticky, setuid and setgid modes to Hadoop's chmod") {
    /** A permission whose mode carries bits FsPermission itself cannot hold. */
    def carrying(full: Int): FsPermission =
      new FsPermission((full & 0x1ff).toShort) { override def toShort: Short = full.toShort }
    withDir { dir =>
      val sticky = Files.createDirectory(dir.resolve("sticky"))
      nio.setPermission(new Path(sticky.toUri),
        new FsPermission(FsAction.ALL, FsAction.READ_EXECUTE, FsAction.READ_EXECUTE, true))
      assert(mode(sticky) == Integer.parseInt("1755", 8))

      val setuid = Files.createFile(dir.resolve("setuid"))
      nio.setPermission(new Path(setuid.toUri), carrying(Integer.parseInt("4755", 8)))
      assert(mode(setuid) == Integer.parseInt("4755", 8))

      val setgid = Files.createDirectory(dir.resolve("setgid"))
      nio.setPermission(new Path(setgid.toUri), carrying(Integer.parseInt("2750", 8)))
      assert(mode(setgid) == Integer.parseInt("2750", 8))
    }
  }
}
