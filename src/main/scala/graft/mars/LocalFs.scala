package graft.mars

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The warehouse's filesystem handles (SURVEY §7.4 item 8). Without
  * `libhadoop`, Hadoop's local filesystem sets every permission by
  * forking `chmod`: once per directory it makes and per file it creates,
  * `.crc` sidecars included. A `file:` path here gets
  * [[NioLocalFileSystem]] instead, which sets the same bits in-process;
  * any other scheme gets Hadoop's filesystem as before. Nothing is set on
  * the caller's session: Spark writes take [[writeOptions]] per write. */
object LocalFs {

  /** DataFrameWriter options that put [[NioLocalFileSystem]] under one
    * write: Spark merges them into that job's Hadoop conf, which its
    * tasks get too. The cache must be off, since Hadoop's FileSystem cache
    * key ignores the conf and would hand back the session's cached
    * instance. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  // keyed like Hadoop's own cache, by scheme and authority
  private val cache = new ConcurrentHashMap[(String, String), FileSystem]

  def get(path: String, conf: Configuration): FileSystem = {
    val p = new Path(path)
    val uri = if (p.toUri.getScheme == null) FileSystem.getDefaultUri(conf) else p.toUri
    if (uri.getScheme != "file") p.getFileSystem(conf)
    else cache.computeIfAbsent((uri.getScheme, uri.getAuthority), { _ =>
      val fs = new NioLocalFileSystem
      fs.initialize(uri, conf)
      fs
    })
  }
}

/** Hadoop's checksummed local filesystem, unchanged but for its raw layer. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` that sets the 9 rwx bits Hadoop would pass to
  * `chmod` through `java.nio`. A sticky bit, which `java.nio` cannot set,
  * and a store without POSIX attributes go to Hadoop's own path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // OWNER_READ .. OTHERS_EXECUTE, from bit 8 down to bit 0
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
