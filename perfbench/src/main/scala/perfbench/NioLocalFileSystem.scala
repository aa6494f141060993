package perfbench

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, with `setPermission` done through
  * java.nio. Without the native Hadoop library, Hadoop sets the mode of
  * every file it creates by spawning `chmod`, and a streaming trigger
  * creates several checkpoint and state files. Hadoop installs with the
  * native library make the same change with one system call; so does
  * this class, so trigger times measure Spark and the connector rather
  * than process spawning. Registered as `fs.file.impl` by the benchmark
  * session only. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    val bits = Seq(OWNER_READ -> 0x100, OWNER_WRITE -> 0x80, OWNER_EXECUTE -> 0x40,
      GROUP_READ -> 0x20, GROUP_WRITE -> 0x10, GROUP_EXECUTE -> 0x8,
      OTHERS_READ -> 0x4, OTHERS_WRITE -> 0x2, OTHERS_EXECUTE -> 0x1)
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (perm, bit) => if ((mode & bit) != 0) set.add(perm) }
    Files.setPosixFilePermissions(pathToFile(p).toPath, set)
  }
}
