package graft.util

import java.net.URI
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local-filesystem permission stamping WITHOUT process forks.
  *
  * Hadoop's `RawLocalFileSystem.setPermission` falls back to
  * `Shell.execCommand("chmod", …)` whenever the hadoop NATIVE library is
  * absent (it is not shipped with Spark's hadoop-client jars) — and the
  * permission path runs on EVERY file create, mkdir and rename-commit:
  * each written parquet part, each checksum twin, each streaming
  * state-store delta file pays one full process fork+exec from a
  * multi-GB JVM. Thread-dump sampling of a warm MERGE commit showed
  * whole task waves inside `Shell.runCommand` (guide §7.3) — pure
  * fixed overhead that scales with FILE COUNT, the very thing a
  * lakehouse's many-small-commit write path produces.
  *
  * These subclasses override the one funnel method (`setPermission` —
  * create/mkdir permission stamping funnels through it on non-Windows
  * JVMs without native IO) with `java.nio.Files.setPosixFilePermissions`
  * — the same chmod(2) syscall the shelled-out binary would make, no
  * fork. Semantics are identical: same bits on the same inode.
  *
  * Wired via `spark.hadoop.fs.file.impl` (FileSystem API — batch writes)
  * and `spark.hadoop.fs.AbstractFileSystem.file.impl` (FileContext API —
  * streaming checkpoint managers). Production object-store deployments
  * never hit this path (no POSIX permissions there); local-disk
  * deployments (shuffle/staging dirs, on-prem NVMe warehouses) benefit
  * the same way the bench does.
  */
final class GraftRawLocalFileSystem extends RawLocalFileSystem {
  /** The nio path carries only the nine rwx bits; a mode with any bit
    * above 0777 (sticky) takes hadoop's own path so it is not dropped. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else GraftRawLocalFileSystem.chmod(pathToFile(p).toPath, permission)
}

object GraftRawLocalFileSystem {
  private val Bits: Array[(Int, PosixFilePermission)] = Array(
    (0x100, PosixFilePermission.OWNER_READ),
    (0x080, PosixFilePermission.OWNER_WRITE),
    (0x040, PosixFilePermission.OWNER_EXECUTE),
    (0x020, PosixFilePermission.GROUP_READ),
    (0x010, PosixFilePermission.GROUP_WRITE),
    (0x008, PosixFilePermission.GROUP_EXECUTE),
    (0x004, PosixFilePermission.OTHERS_READ),
    (0x002, PosixFilePermission.OTHERS_WRITE),
    (0x001, PosixFilePermission.OTHERS_EXECUTE))

  private[util] def chmod(path: java.nio.file.Path,
      permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val set = EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach { case (bit, p) => if ((bits & bit) != 0) set.add(p) }
    java.nio.file.Files.setPosixFilePermissions(path, set)
    ()
  }
}

/** `file://` FileSystem ([[GraftRawLocalFileSystem]] under the standard
  * checksummed wrapper — identical on-disk artifacts, fork-free). */
final class GraftLocalFileSystem
  extends LocalFileSystem(new GraftRawLocalFileSystem)

/** Fork-free twin of `org.apache.hadoop.fs.local.RawLocalFs` (the
  * FileContext delegate). */
final class GraftRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
    "file", false)

/** `file://` AbstractFileSystem for the FileContext API (streaming
  * checkpoint managers) — the fork-free twin of
  * `org.apache.hadoop.fs.local.LocalFs`: the same ChecksumFs wrapper
  * (identical on-disk artifacts, .crc twins included) over the no-fork
  * raw layer. */
final class GraftLocalFs(uri: URI, conf: Configuration)
  extends org.apache.hadoop.fs.ChecksumFs(new GraftRawLocalFs(uri, conf))

object LocalFs {
  /** Session-builder conf pairs wiring the fork-free local FS into both
    * hadoop APIs. Must be set at session build time (FileSystem
    * instances are cached per scheme on first use). */
  val confs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[GraftLocalFs].getName)
}
