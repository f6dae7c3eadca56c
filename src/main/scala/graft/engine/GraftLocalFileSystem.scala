package graft.engine

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` FileSystem with permission-chmod suppressed and an exclusive
  * create-new (see `create`).
  *
  * Without the native hadoop library (JNI `NativeIO`), every
  * `RawLocalFileSystem` create/mkdir that carries an `FsPermission`
  * falls back to FORKING a `chmod` subprocess (`Shell.execCommand`) —
  * measured 441 process forks in one lake-heavy query run (JFR
  * `jdk.ProcessStart`), 10–30 ms each, serialized inside every commit:
  * manifest writes, tag markers, tip hints, committer task files. On a
  * production deployment the native library makes the same call a
  * microsecond `chmod(2)`; this subclass restores that cost model by
  * skipping the permission call outright — the files land with the
  * process umask (644/755 here), which is exactly what Hadoop's
  * default-permission chmod would have set anyway.
  *
  * Wired as `spark.hadoop.fs.file.impl` in [[graft.Sessions.local]];
  * checksum behavior (.crc shadow files, torn-read detection) is
  * inherited unchanged from [[LocalFileSystem]].
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()

  /** Same fork-storm class, second instance (r21, JFR
    * `jdk.ProcessStart`: 588 `readlink` forks in one 16-batch
    * streaming drain): every `FileContext` rename lands in
    * `FileSystem#rename(Path, Path, Rename...)`, which stats BOTH ends
    * via `getFileLinkStatus` — and RawLocal's link-status path shells
    * out (`FileUtil.readLink`) per call, ~10–30 ms serialized inside
    * every checkpoint offset/commit-log write. Engine-managed dirs
    * contain no symlinks, so the no-follow status IS the plain status;
    * on HDFS/object stores the same call is one metadata RPC, so this
    * override restores the production cost model exactly like the
    * chmod suppression above. A real symlink under a lake/checkpoint
    * root would be reported as its target — out of contract here. */
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    getFileStatus(f)

  /** Exclusive create. `RawLocalFileSystem.create` with overwrite=false
    * checks `exists` and then opens, so two racing creators of one name
    * both succeed, the later replacing the earlier's bytes — two
    * publishers would both claim one manifest version and one commit
    * would vanish. With overwrite=false the open is preceded by an
    * atomic create-new of the name, at the same step (after the parent
    * `mkdirs`), so exactly one racer gets it and the others fail as if
    * they had lost the `exists` check. */
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : FSDataOutputStream = exclusively(!overwrite)(super.create(f,
    overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    exclusively(!overwrite)(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  private val exclusive = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  private def exclusively[T](on: Boolean)(body: => T): T = {
    val was = exclusive.get
    exclusive.set(on)
    try body finally exclusive.set(was)
  }

  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    if (exclusive.get && !append)
      try java.nio.file.Files.createFile(pathToFile(f).toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"File already exists: $f")
      }
    super.createOutputStreamWithMode(f, append, permission)
  }
}

class GraftLocalFileSystem
  extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The same suppression for the `FileContext` (AbstractFileSystem)
  * hierarchy — streaming checkpoint WAL/commit-log writes go through
  * it, forking the same per-file `chmod`. Wraps the CHECKSUMMED
  * [[GraftLocalFileSystem]], so .crc shadow semantics match the stock
  * `LocalFs` exactly. Wired as
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`. */
class GraftLocalFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new GraftLocalFileSystem, conf, "file", false)
