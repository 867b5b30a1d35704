package graft.storage

import java.io.{BufferedOutputStream, File}
import java.nio.file.{Files, StandardCopyOption, Path => JPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Streaming checkpoint files on a local filesystem, committed with
  * `java.nio` instead of Hadoop's FileContext.
  *
  * Without `libhadoop`, Hadoop's local FileContext forks a `chmod` process
  * for every temp-file create and a `readlink` process for every rename —
  * two `fork`+`exec` per offset-log, commit-log and state-store delta file,
  * on the same cores the micro-batch waits for. Here a temp file is a plain
  * `java.nio` stream, and the commit is:
  *
  *   - without overwrite: `Files.createLink` — EEXIST is atomic, so a second
  *     concurrent run of one checkpoint still fails with Hadoop's
  *     [[FileAlreadyExistsException]], which is how `HDFSMetadataLog`
  *     refuses it (a rename(2) would silently replace the winner's file);
  *   - with overwrite (state-store deltas and snapshots): an atomic
  *     replacing move.
  *
  * A checkpoint first written by Spark's default manager carries
  * `.<name>.crc` sidecars; a committed file's stale sidecar is deleted, or
  * a checksummed read would reject the new bytes. Every other operation,
  * and every non-local scheme (HDFS, object stores), is Spark's
  * [[FileContextBasedCheckpointFileManager]] unchanged. Registered as an
  * engine default by [[graft.GraftSession]]
  * (`spark.sql.streaming.checkpointFileManagerClass`); Spark's state-store
  * checksum manager wraps whatever this returns.
  */
class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  private def local(p: Path): JPath = new File(fc.makeQualified(p).toUri.getPath).toPath

  private def crcOf(p: JPath): JPath = p.resolveSibling(s".${p.getFileName}.crc")

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!isLocal) super.createTempFile(p)
    else new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(local(p))), null)

  override def renameTempFile(srcPath: Path, dstPath: Path, overwriteIfPossible: Boolean): Unit =
    if (!isLocal) super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    else {
      val (src, dst) = (local(srcPath), local(dstPath))
      if (overwriteIfPossible) {
        Files.deleteIfExists(crcOf(dst))
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } else {
        // the sidecar goes only once this commit has won: a refused
        // commit leaves the existing file and its checksum untouched
        try Files.createLink(dst, src)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Files.deleteIfExists(src)
            throw new FileAlreadyExistsException(s"$dstPath already exists")
        }
        Files.deleteIfExists(crcOf(dst))
        Files.delete(src)
      }
    }
}

/** Hadoop's local filesystem with a `java.nio` `chmod`.
  *
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and it runs on every file create and every directory made —
  * each parquet part file, its `.crc`, each `_temporary` level and each
  * `_SUCCESS` marker of every write. The mode applied is the same (Hadoop
  * computes the umask-applied default before calling it); a mode with a
  * bit beyond `rwxrwxrwx` (sticky) or a filesystem without POSIX
  * attributes takes Hadoop's own path.
  *
  * Registered as an engine default by [[graft.GraftSession]]
  * (`spark.hadoop.fs.file.impl`). Hadoop's `FileSystem` cache is keyed by
  * scheme and user, not by configuration: the first `file:` filesystem
  * created in the JVM serves every later `file:` path, so a process that
  * touches a local path through a bare Hadoop `Configuration` before its
  * session exists keeps Hadoop's class.
  */
class NioLocalFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission) // beyond 0777
    else {
      // PosixFilePermission runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(pp => if ((bits & (0x100 >> pp.ordinal)) != 0) perms.add(pp))
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
})
