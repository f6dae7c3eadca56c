package graftbench

import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream,
  FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.engine.GraftRawLocalFileSystem

/** The engine's `file://` file system, unchanged, except that it counts
  * operations into Hadoop's FileSystem statistics, which the local file
  * system leaves at zero: opens and status calls as read ops, directory
  * listings as large read ops, creates, renames, deletes and mkdirs as
  * write ops. The traced run installs it in place of
  * `graft.engine.GraftLocalFileSystem`. */
class CountingRawLocalFileSystem extends GraftRawLocalFileSystem {
  private def read[T](x: => T): T = { statistics.incrementReadOps(1); x }
  private def write[T](x: => T): T = { statistics.incrementWriteOps(1); x }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    read(super.open(f, bufferSize))
  override def getFileStatus(f: Path): FileStatus = read(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = {
    statistics.incrementLargeReadOps(1)
    super.listStatus(f)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    write(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    write(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    write(super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress))
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    write(super.append(f, bufferSize, progress))
  override def rename(src: Path, dst: Path): Boolean = write(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean = write(super.delete(p, recursive))
  override def mkdirs(f: Path): Boolean = write(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    write(super.mkdirs(f, permission))
}

class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

/** The same for the `FileContext` hierarchy (streaming checkpoints). */
class CountingLocalFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new CountingLocalFileSystem, conf, "file", false)
