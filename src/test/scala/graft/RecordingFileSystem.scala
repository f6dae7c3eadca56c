package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}

/** The engine's local file system under the `recfs` scheme, recording
  * every metadata read — `exists`, `getFileStatus`, `open` and
  * `listStatus` — while [[RecordingFileSystem.record]] runs. `exists` is
  * recorded on its own: the local file system answers it without going
  * through `getFileStatus`. */
class RecordingFileSystem extends graft.engine.GraftRawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("recfs:///")
  override def getScheme: String = "recfs"

  private def rec(op: String, p: Path): Unit =
    if (RecordingFileSystem.on.get)
      RecordingFileSystem.log.add((op, p.toUri.getPath))

  override def exists(f: Path): Boolean = { rec("exists", f); super.exists(f) }
  override def getFileStatus(f: Path): FileStatus = {
    rec("stat", f); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    rec("open", f); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    rec("list", f); super.listStatus(f)
  }
}

object RecordingFileSystem {
  private val on = new AtomicBoolean(false)
  private val log = new ConcurrentLinkedQueue[(String, String)]

  /** Register the scheme on `spark`'s Hadoop configuration. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.recfs.impl",
      classOf[RecordingFileSystem].getName)

  /** The (operation, path) calls `body` made, in order. One recording
    * at a time. */
  def record(body: => Unit): Seq[(String, String)] = synchronized {
    log.clear()
    on.set(true)
    try body finally on.set(false)
    import scala.jdk.CollectionConverters._
    log.asScala.toSeq
  }
}
