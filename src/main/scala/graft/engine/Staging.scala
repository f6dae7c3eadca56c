package graft.engine

/** The stage-once completion-marker discipline shared by every query
  * family that builds fixtures under the per-PID scratch root
  * (IngestQueries' mutable lakes, SimilarityQueries' ANN fixtures).
  * One definition so the protocol can't drift between families.
  *
  *  - [[ensureStaged]]: run `build` only when the `_STAGED` marker next
  *    to `path` is absent, and write the marker only after `build`
  *    completes — a build that dies half-way leaves no marker, so the
  *    next attempt restages (builders delete their target first).
  *    The marker sits NEXT to the fixture dir, not inside it: a
  *    builder deletes the dir it rebuilds.
  *  - [[restage]]: build afresh even when staged — the bench setup of
  *    a query whose timed body rewrites its fixture, so every timed
  *    run rewrites the same input.
  */
object Staging {

  private def marker(path: String): java.nio.file.Path =
    java.nio.file.Path.of(path + "_STAGED")

  def ensureStaged(path: String)(build: => Unit): Unit =
    if (!java.nio.file.Files.exists(marker(path))) {
      build
      java.nio.file.Files.createFile(marker(path))
      ()
    }

  def restage(path: String)(build: => Unit): Unit = {
    java.nio.file.Files.deleteIfExists(marker(path))
    ensureStaged(path)(build)
  }

  /** Publish `df` as ONE plain parquet file `root/name.parquet` via
    * write-to-stage + atomic rename — the drop-folder fixture shape
    * (file-stream sources pace on whole files, so each published file
    * is one micro-batch). Shared by the streaming fixtures; one
    * definition so the atomic-rename discipline can't drift. */
  def publishSingleParquet(s: org.apache.spark.sql.SparkSession,
      root: String, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = s"$root/.stage_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
    require(fs.rename(part,
      new org.apache.hadoop.fs.Path(s"$root/$name.parquet")),
      s"could not publish $name")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    ()
  }

  /** Write-once ATOMIC publication of a trained/derived artifact dir to
    * a SHARED location (one definition of the q75/q94 discipline for
    * directories): `build` writes into a per-PID staging dir under the
    * swept scratch root (a crash cannot leak into the shared space),
    * the result renames into place atomically, and a lost publish race
    * discards the loser's copy — the WINNER's artifact is canonical for
    * every subsequent loader. No-op when the target already exists. */
  private val publishSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  def publishOnce(target: String)(build: String => Unit): Unit = {
    val targetPath = java.nio.file.Path.of(target)
    if (!java.nio.file.Files.exists(targetPath)) {
      val stage = s"${graft.Sessions.scratchRoot}/publish_" +
        s"${targetPath.getFileName}_${publishSeq.incrementAndGet()}"
      build(stage)
      java.nio.file.Files.createDirectories(targetPath.getParent)
      try {
        java.nio.file.Files.move(java.nio.file.Path.of(stage), targetPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      } catch {
        case _: java.nio.file.FileSystemException =>
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(); ()
          }
          rm(new java.io.File(stage)) // race lost; winner is canonical
      }
    }
  }
}
