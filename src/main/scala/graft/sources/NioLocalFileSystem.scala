package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** `file:` as Hadoop's checksummed `LocalFileSystem`, whose raw store sets
  * modes without starting a process ([[NioRawLocalFileSystem]]).
  * [[Lines.write]]'s job conf maps `file:` to it, uncached, so no other
  * writer sees it. Hive's `ProxyLocalFileSystem`, which `file:` resolves
  * to when hive-exec is on the classpath, differs from it only in refusing
  * a rename onto an existing file, which that job never asks for.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFileSystem`, except that without libhadoop (where
  * Hadoop forks `chmod` for every file and directory it creates) a mode
  * of only permission bits is set through java.nio. A sticky bit, a
  * target that already has a special bit, or a store without unix
  * attributes still goes through Hadoop's own `setPermission`.
  */
private[graft] class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode: Int = permission.toShort
    val file = pathToFile(p).toPath
    if (NativeIO.isAvailable || (mode & ~0x1FF) != 0 || !NioRawLocalFileSystem.plainMode(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, NioRawLocalFileSystem.permissions(mode))
  }
}

private[graft] object NioRawLocalFileSystem {
  // PosixFilePermission's order is owner rwx, group rwx, others rwx: bit 8 down to 0
  private val bits = PosixFilePermission.values.zipWithIndex.map { case (p, i) => (p, 1 << (8 - i)) }

  def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, bit) => if ((mode & bit) != 0) set.add(p) }
    set
  }

  /** Whether `file` has unix attributes and no setuid, setgid or sticky
    * bit, which `chmod` may keep and java.nio would clear.
    */
  def plainMode(file: JPath): Boolean =
    try (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xE00) == 0
    catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false }
}
