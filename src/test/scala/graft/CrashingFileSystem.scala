package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The engine's local file system under the `crashfs` scheme, counting
  * every mutating call (create, rename, delete, mkdirs) and failing the
  * k-th one with an IOException once armed — a crash at that step, for
  * enumerating every step of a commit. It can also run a competing
  * commit just before an operation creates its first manifest
  * ([[CrashingFileSystem.interleave]]). The counter and the competitor
  * are process-wide: one armed operation at a time. */
class CrashingFileSystem extends graft.engine.GraftRawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def getScheme: String = "crashfs"

  private def step(what: String, p: Path): Unit = {
    if (what == "create" && p.getName.matches("v\\d+") &&
        p.getParent.getName == "_manifests")
      Option(CrashingFileSystem.competitor.getAndSet(null)).foreach(_())
    val n = CrashingFileSystem.calls.incrementAndGet()
    if (n == CrashingFileSystem.failAt.get)
      throw new java.io.IOException(s"injected crash at step $n: $what $p")
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    step("rename", src)
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    step("delete", p)
    super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = {
    step("mkdirs", p)
    super.mkdirs(p)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    step("mkdirs", p)
    super.mkdirs(p, permission)
  }
}

object CrashingFileSystem {
  val calls = new AtomicInteger(0)
  val failAt = new AtomicInteger(0)
  private val competitor =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](null)

  /** Register the scheme on `spark`'s Hadoop configuration. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl",
      classOf[CrashingFileSystem].getName)

  /** Run `body` with the k-th mutating call failing (k = 0: none);
    * returns the number of mutating calls it made. */
  def run(k: Int)(body: => Unit): (Int, Option[Throwable]) = {
    calls.set(0)
    failAt.set(k)
    val err =
      try { body; None }
      catch { case scala.util.control.NonFatal(e) => Some(e) }
      finally failAt.set(0)
    (calls.get, err)
  }

  /** Run `body` with `commit` run once, on the same thread, just before
    * the first manifest create on a `crashfs` lake: a concurrent commit
    * landing between `body`'s snapshot and its publish. */
  def interleave(commit: => Unit)(body: => Unit): Unit = {
    competitor.set(() => commit)
    try body
    finally competitor.set(null)
  }
}
