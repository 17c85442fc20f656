package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NioRawLocalFileSystem

/** [[graft.sources.NioLocalFileSystem]]'s raw store sets the modes that
  * Hadoop's own `RawLocalFileSystem.setPermission` sets, on twin paths.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val hadoop = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def perms(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def unixMode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xFFF

  /** A file and a directory for each store under a fresh root. */
  private def twins(name: String): Seq[(JPath, JPath)] = {
    val root = graft.core.TempDirs.path(s"graft-nio-$name")
    def both(make: JPath => JPath) =
      (make(root.resolve("hadoop-" + name)), make(root.resolve("nio-" + name)))
    Seq(both(p => Files.write(Files.createDirectories(p).resolve("f"), Array[Byte](1))),
      both(p => Files.createDirectories(p.resolve("d"))))
  }

  private def setBoth(pair: (JPath, JPath), mode: Int): Unit = {
    hadoop.setPermission(new Path(pair._1.toUri), new FsPermission(mode.toShort))
    nio.setPermission(new Path(pair._2.toUri), new FsPermission(mode.toShort))
  }

  test("every mode 0000-0777, on a file and a directory, equals Hadoop's setPermission") {
    // ends on 0777, so the temp-dir cleanup can delete them
    for (pair <- twins("all"); mode <- 0 to 0x1FF) {
      setBoth(pair, mode)
      assert(perms(pair._2) === perms(pair._1), f"mode $mode%04o on ${pair._2}")
    }
  }

  test("a sticky bit, or a target with a special bit, takes Hadoop's path") {
    for (pair <- twins("special")) {
      setBoth(pair, 0x3FF) // 01777
      assert(unixMode(pair._2) === unixMode(pair._1))
      assert(unixMode(pair._2) === 0x3FF)
    }
    val (h, n) = twins("setgid").last
    Seq(h, n).foreach(Files.setAttribute(_, "unix:mode", Integer.valueOf(0x5FD))) // 02775
    setBoth((h, n), 0x1ED) // 0755
    assert(unixMode(n) === unixMode(h))
  }
}
