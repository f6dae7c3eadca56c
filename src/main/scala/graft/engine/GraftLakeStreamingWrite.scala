package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter,
  OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** `writeStream.format("graftlake")` — each micro-batch one versioned
  * commit, exactly-once under epoch replay (Delta's streaming-sink
  * shape: the sink's transaction id is (queryId, epochId)):
  *
  *  - tasks stage one parquet file each into `<lake>/_stage/<queryId>/`
  *    through Spark's own parquet [[OutputWriterFactory]] (native
  *    row→parquet encoder, codec honored) under attempt-unique names —
  *    speculative or failed attempts can never collide, and nothing
  *    under `_stage` is visible to any reader;
  *  - the driver's `commit(epochId)` renames EXACTLY the files the
  *    committed tasks reported into a fresh `d-sw…-e<epoch>` data dir
  *    (metadata moves, no byte copy), lifts min/max stats from the
  *    parquet footers like every DML commit, and swings the same
  *    manifest CAS as [[VersionedLake.commit]] — readers see the epoch
  *    atomically or not at all;
  *  - the data-dir name derives from (queryId, epochId) — the streaming
  *    engine's checkpointed identity for the batch — so a REPLAYED
  *    epoch (crash after publish, restart from checkpoint) finds its
  *    tag already published ([[VersionedLake.commitTagged]]'s marker
  *    protocol) and no-ops, deleting its re-staged files: at-least-once
  *    delivery from the engine, exactly-once versions in the lake.
  *    `queryId` is the streaming query's checkpoint-stable id (not the
  *    per-run id), asserted by the restart spec;
  *  - a crash BETWEEN rename and publish leaves `d-…` unreferenced
  *    (invisible; the replay rebuilds it from its own staged files
  *    after deleting the partial dir), and crashed-attempt stragglers
  *    in `_stage` are swept by [[VersionedLake.vacuum]]'s grace-
  *    windowed stage sweep;
  *  - output modes: Append appends a version per non-empty batch;
  *    Complete (Spark calls `truncate()` on the builder) publishes each
  *    batch as a manifest-level overwrite — full history stays time-
  *    travelable either way. A batch with zero rows publishes nothing
  *    (its zero-row staged files are deleted), so the version chain
  *    only ever carries data.
  *
  * On a PARTITIONED lake (the reference's flagship shape: event-driven
  * micro-batch ingest into Y/M/D-partitioned parquet, README.md:29-31 +
  * sparkle-v9.py:136-138) each task routes its rows into hive-escaped
  * `c=v` leaf files instead ([[GraftLakePartitionedStageWriter]] — one
  * open writer per partition the task touches, exactly Spark's
  * concurrent dynamic-partition writer shape), the driver's rename
  * preserves the leaf subpaths, and the publish mints ONE MANIFEST
  * ENTRY PER (epoch, partition-leaf) with its own stats/bloom sidecars
  * — so streamed data is partition-prunable and whole-partition
  * droppable exactly like batch-INSERTed data. On a COLUMN-MAPPING
  * lake the staged files stamp the table's parquet field ids (the
  * id-matching reader's contract).
  *
  * At 100 TB the per-epoch driver work is O(files in the batch): one
  * rename + one footer read per file, one manifest CAS — nothing
  * size-of-data. The write path itself is Spark's parquet encoder on
  * executors, exactly like the batch DSv2 write. */
final class GraftLakeStreamingWrite(snap: Snapshot, schema: StructType,
    queryId: String, mode: String, options: Map[String, String],
    tableSchema: Option[StructType] = None)
  extends StreamingWrite {
  private val (lakeDir, partCols) = (snap.dir, snap.partCols)

  // checkpoint-stable identity: safe chars only (queryId is a UUID, but
  // the tag grammar is enforced, not assumed)
  private val qid = queryId.filter(c => c.isLetterOrDigit || c == '-')
  private val stageDir = s"$lakeDir/_stage/$qid"

  private def spark = SparkSession.active
  private def fsOf = new Path(lakeDir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** Write schema with the table's parquet field ids overlaid when the
    * lake is column-mapped — the analyzer does not reliably carry
    * metadata into `info.schema()`, and an id-less footer would be
    * unreadable to the id-matching scan (its column reads back NULL:
    * silent data loss). Ids overlay from the declared schema of the
    * snapshot the query resolved at its (re)start (the captured
    * `tableSchema` goes stale across an ALTER TABLE RENAME between
    * stream restarts), and a column the declaration has never seen gets
    * a FRESH registered id — the same ADD COLUMN protocol as
    * [[VersionedLake]]'s library commits, so a stream carrying a new
    * column widens the table instead of writing invisible bytes. */
  private lazy val stamped: StructType =
    snap.mapping.fold(schema) { reg =>
      val declared = snap.declared.orElse(tableSchema).getOrElse(schema)
      val overlaid = GraftLakeMapping.withFieldIds(schema, declared)
      val out = GraftLakeMapping.assignIds(overlaid, reg.nextId)
      if (out.fields.exists(f =>
          GraftLakeMapping.fieldId(overlaid(f.name)).isEmpty))
        GraftLakeMapping.record(spark, lakeDir, out)
      out
    }

  /** Data columns only — partition values live in dir names, exactly
    * like the batch partitioned write. */
  private def dataOnly(s: StructType): StructType =
    StructType(s.filterNot(f =>
      partCols.exists(_.name.equalsIgnoreCase(f.name))))

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    // driver-side: let Spark's parquet format wire codec/schema/encoder
    // settings into a job conf once; executors reconstruct writers from
    // the (serialized) conf + factory
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val fileSchema = dataOnly(stamped)
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, options, fileSchema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    if (partCols.isEmpty)
      new GraftLakeStreamingWriterFactory(owf, conf, stageDir, qid,
        fileSchema)
    else
      new GraftLakePartitionedStreamingWriterFactory(owf, conf, stageDir,
        qid, stamped, fileSchema, partCols.map(_.name),
        spark.sessionState.conf.sessionLocalTimeZone)
  }

  private def tagOf(epochId: Long) = s"sw-$qid-e$epochId"

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val f = fsOf
    val files: Seq[GraftLakeStagedFile] = messages.toSeq.flatMap {
      case m: GraftLakeFileMessage =>
        Seq(GraftLakeStagedFile(m.path, "", m.rows))
      case m: GraftLakePartFilesMessage => m.files
      case _ => Seq.empty
    }
    val (kept, empty) = files.partition(_.rows > 0)
    // zero-row task files are valid parquet but dead weight — drop them
    empty.foreach(m => f.delete(new Path(m.path), false))
    if (kept.isEmpty) return
    val tag = tagOf(epochId)
    val dataDir = s"d-$tag"
    val marker = new Path(s"$lakeDir/_tags/$tag")
    val tip = VersionedLake.tip(spark, lakeDir)
    // partitioned entries are `d-tag/c=v` — the epoch's identity is the
    // first path segment, not the leaf name
    val published = f.exists(marker) || tip.exists(v =>
      VersionedLake.manifestEntries(spark, lakeDir, v)
        .exists(_.split('/').contains(dataDir)))
    if (published) {
      // replayed epoch: the lake already carries this batch — the
      // re-staged bytes are surplus, not data
      kept.foreach(m => f.delete(new Path(m.path), false))
      return
    }
    // crash between a previous attempt's renames and its publish left a
    // partial (never-referenced) dir: rebuild from THIS attempt's files
    val dest = new Path(s"$lakeDir/$dataDir")
    f.delete(dest, true)
    f.mkdirs(dest)
    kept.foreach { m =>
      val src = new Path(m.path)
      val parent =
        if (m.partSubpath.isEmpty) dest
        else new Path(dest, m.partSubpath)
      f.mkdirs(parent)
      if (!f.rename(src, new Path(parent, src.getName)))
        throw new java.io.IOException(
          s"failed to move staged ${m.path} into $dataDir")
    }
    val entries: Seq[String] =
      if (partCols.isEmpty) Seq(dataDir)
      else kept.map(m => s"$dataDir/${m.partSubpath}").distinct.sorted
    VersionedLake.indexStagedEntries(spark, lakeDir, entries,
      dataOnly(stamped), snap.bloomCols)
    // the declaration carries the tip's schema forward merged with
    // THIS WRITE'S ([[VersionedLake.CommitSchema.Carried]] — computed
    // per CAS attempt, so a racing writer's new column is never
    // hidden). The write schema, NOT the captured table schema: the
    // capture goes stale across an ALTER TABLE RENAME and would
    // re-declare the renamed-away name
    VersionedLake.publish(spark, lakeDir, VersionedLake.Commit(entries,
      replaceAll = mode == "overwrite",
      schema = VersionedLake.CommitSchema.Carried(stamped)))
    val out = f.create(marker, true)
    out.close()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val f = fsOf
    messages.toSeq.flatMap {
      case m: GraftLakeFileMessage => Seq(m.path)
      case m: GraftLakePartFilesMessage => m.files.map(_.path)
      case _ => Seq.empty
    }.foreach(p => f.delete(new Path(p), false))
  }
}

/** One staged parquet file per (task attempt): attempt-unique name, no
  * committer — visibility is decided by the driver's rename+publish,
  * not by file placement. */
private[engine] final class GraftLakeStreamingWriterFactory(
    owf: OutputWriterFactory, conf: SerializableConfiguration,
    stageDir: String, qid: String, schema: StructType)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val hconf = new Configuration(conf.value)
    val attempt = new TaskAttemptID(
      new TaskID(new JobID(qid, (epochId % Int.MaxValue).toInt),
        TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    val ctx = new TaskAttemptContextImpl(hconf, attempt)
    val unique = java.util.UUID.randomUUID.toString.take(8)
    val path = new Path(s"$stageDir/e$epochId-p$partitionId-$unique" +
      owf.getFileExtension(ctx))
    val fs = path.getFileSystem(hconf)
    fs.mkdirs(path.getParent)
    new GraftLakeStageFileWriter(
      owf.newInstance(path.toString, schema, ctx), fs, path)
  }
}

/** Partitioned staging: each task routes rows into one open writer per
  * partition it touches (Spark's CONCURRENT dynamic-partition writer
  * shape — no input-ordering assumption; a micro-batch touches a
  * handful of partitions, so the open-writer set stays small), laying
  * files out as `<taskPrefix>/c1=v1/c2=v2/part-*.parquet`. Partition
  * values format exactly like Spark's own writer — `Cast(col,
  * StringType, zone)` then hive escaping with the
  * `__HIVE_DEFAULT_PARTITION__` null sentinel — so the manifest entry
  * parser ([[GraftLakePartitions.valuesOf]]) reads them back
  * byte-for-byte. */
private[engine] final class GraftLakePartitionedStreamingWriterFactory(
    owf: OutputWriterFactory, conf: SerializableConfiguration,
    stageDir: String, qid: String, fullSchema: StructType,
    fileSchema: StructType, partNames: Seq[String], zoneId: String)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val hconf = new Configuration(conf.value)
    val attempt = new TaskAttemptID(
      new TaskID(new JobID(qid, (epochId % Int.MaxValue).toInt),
        TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    val ctx = new TaskAttemptContextImpl(hconf, attempt)
    val unique = java.util.UUID.randomUUID.toString.take(8)
    new GraftLakePartitionedStageWriter(owf, ctx,
      s"$stageDir/e$epochId-p$partitionId-$unique", fullSchema,
      fileSchema, partNames, zoneId)
  }
}

private[engine] final class GraftLakePartitionedStageWriter(
    owf: OutputWriterFactory, ctx: TaskAttemptContextImpl,
    taskPrefix: String, fullSchema: StructType, fileSchema: StructType,
    partNames: Seq[String], zoneId: String)
  extends DataWriter[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
    UnsafeProjection}

  private val partIdx = partNames.map(n =>
    fullSchema.fields.indexWhere(_.name.equalsIgnoreCase(n)))
  require(partIdx.forall(_ >= 0),
    s"write schema (${fullSchema.fieldNames.mkString(", ")}) lacks a " +
      s"partition column of (${partNames.mkString(", ")})")
  private val dataIdx =
    fullSchema.fields.indices.filterNot(partIdx.contains)
  // codegen'd projections, built once per task: rows project to the
  // DATA columns for the file bytes and to string-cast partition
  // values for the dir route
  private val dataProj = UnsafeProjection.create(dataIdx.map(i =>
    BoundReference(i, fullSchema(i).dataType, fullSchema(i).nullable)))
  private val partProj = UnsafeProjection.create(partIdx.map(i =>
    Cast(BoundReference(i, fullSchema(i).dataType, fullSchema(i).nullable),
      org.apache.spark.sql.types.StringType, Option(zoneId))).toSeq)

  private final class Slot(val w: OutputWriter, val p: Path) {
    var rows = 0L
  }
  private val open = scala.collection.mutable.HashMap.empty[String, Slot]
  private val fs = new Path(taskPrefix).getFileSystem(ctx.getConfiguration)
  private var closed = false

  override def write(r: InternalRow): Unit = {
    val pv = partProj(r)
    val sub = partNames.indices.map { i =>
      val v = if (pv.isNullAt(i)) null else pv.getUTF8String(i).toString
      ExternalCatalogUtils.getPartitionPathString(partNames(i), v)
    }.mkString("/")
    val slot = open.getOrElseUpdate(sub, {
      // attempt-unique leaf name (taskPrefix basename carries
      // e<epoch>-p<partition>-<uuid8>): two tasks staging the SAME
      // partition leaf must not collide when the driver renames their
      // files into the shared d-<tag>/<leaf> dir — on POSIX the second
      // rename would silently replace the first (row loss)
      val p = new Path("%s/%s/part-%s-%05d%s".format(taskPrefix, sub,
        new Path(taskPrefix).getName, open.size,
        owf.getFileExtension(ctx)))
      fs.mkdirs(p.getParent)
      new Slot(owf.newInstance(p.toString, fileSchema, ctx), p)
    })
    slot.w.write(dataProj(r))
    slot.rows += 1
  }

  private def closeAll(): Unit = if (!closed) {
    closed = true
    open.values.foreach(_.w.close())
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    GraftLakePartFilesMessage(open.toSeq.sortBy(_._1).map {
      case (sub, slot) =>
        GraftLakeStagedFile(slot.p.toString, sub, slot.rows)
    })
  }

  override def abort(): Unit = {
    closeAll()
    fs.delete(new Path(taskPrefix), true)
    ()
  }

  override def close(): Unit = closeAll()
}

private[engine] final class GraftLakeStageFileWriter(out: OutputWriter,
    fs: org.apache.hadoop.fs.FileSystem, p: Path)
  extends DataWriter[InternalRow] {
  private var rows = 0L
  private var closed = false
  private def closeOnce(): Unit = if (!closed) { closed = true; out.close() }
  override def write(r: InternalRow): Unit = { out.write(r); rows += 1 }
  override def commit(): WriterCommitMessage = {
    closeOnce(); GraftLakeFileMessage(p.toString, rows)
  }
  override def abort(): Unit = { closeOnce(); fs.delete(p, false); () }
  override def close(): Unit = closeOnce()
}

/** Task → driver: the one staged file this attempt produced. */
private[graft] final case class GraftLakeFileMessage(path: String,
    rows: Long) extends WriterCommitMessage

/** One staged file of a PARTITIONED task attempt: its path, the
  * hive-escaped partition subpath (`c1=v1/c2=v2`) the driver's rename
  * must preserve, and its row count. */
private[graft] final case class GraftLakeStagedFile(path: String,
    partSubpath: String, rows: Long)

/** Task → driver: every (partition leaf, file) a partitioned task
  * attempt staged. */
private[graft] final case class GraftLakePartFilesMessage(
    files: Seq[GraftLakeStagedFile]) extends WriterCommitMessage
