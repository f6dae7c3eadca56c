package graft.engine

import org.apache.hadoop.fs.Path
import VersionedLake.Commit
import VersionedLake.CommitSchema.Declared
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  RowLevelOperation, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.{
  ParquetScanBuilder, ParquetWrite}
import org.apache.spark.sql.execution.datasources.{FilePartition,
  InMemoryFileIndex}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based copy-on-write row-level operations for the lake: SQL
  * `MERGE INTO`, `UPDATE`, and a `DELETE` whose predicate Spark cannot
  * push to the table whole (`user_id % 7 = 3`; every other DELETE is
  * the metadata commit of [[GraftLakeTable.canDeleteWhere]]). Spark's
  * rewrite rules turn each into a ReplaceData plan — read the affected
  * GROUPS, apply the mutation rowwise, write the groups back — and this
  * connector maps "group" to the manifest's replacement unit, the data
  * dir:
  *
  *  - the operation SCAN reads whole dirs (no file-level static
  *    pruning: a file pruned out of the scan is a file NOT replaced,
  *    which for a delete would silently resurrect its rows — dir-in
  *    or dir-out is the only safe granularity);
  *  - Spark's runtime group filtering (the same V2 hook as join-driven
  *    pruning) checks the MATCHING rows' key sets against each entry's
  *    partition values and its stats/bloom sidecars, so only dirs that
  *    can contain matches are read and rewritten — the Delta/Iceberg
  *    copy-on-write shape where a KB-sized merge source touches one dir
  *    of a 100 TB lake;
  *  - the WRITE stages parquet through Spark's committer and publishes
  *    one manifest version replacing exactly the scanned dirs
  *    ([[VersionedLake.refuseConflicts]]) — atomic, time
  *    travel keeps the pre-merge snapshot, and a concurrent rewrite of
  *    a scanned dir fails the publish loudly instead of duplicating or
  *    resurrecting rows.
  *
  * Lakes without deletion vectors only: a DV lake's row-level SQL is
  * merge-on-read ([[GraftLakeDeltaOperation]]). A DELETE whose
  * predicate [[GraftLakeTable.canDeleteWhere]] accepts (every filter
  * pushed whole with an exact replay) never gets here: Spark prefers
  * that metadata commit ([[VersionedLake.replaceWhere]]) and plans
  * this rewrite otherwise. */
final class GraftLakeRowLevelOperation(table: GraftLakeTable,
    spark: SparkSession, private[engine] val snap: Snapshot,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation {
  private val (lakeDir, version) = (snap.dir, snap.version)

  /** Dirs the COW scan ends up reading (post group filter) — what the
    * write replaces. Initialized to the full snapshot so a plan that
    * never narrows (no group filter) rewrites everything, which is
    * correct; [[GraftLakeCowScan.partitions]] overwrites it with the
    * final (possibly pruned) set before any task reads a byte. */
  private[engine] val snapshotDirs: Set[String] = snap.entries.toSet

  /** The version this operation scanned — the publish's serializable
    * anchor (no concurrent DV commit may land after it). */
  private[engine] def observedVersion: Int = version

  // a rewrite that ignored vectors would write deleted rows back as
  // survivors; DV lakes route to the merge-on-read operation instead
  require(!snap.dvEnabled,
    s"copy-on-write row-level operation on deletion-vector lake $lakeDir")

  @volatile private[engine] var scannedDirs: Set[String] = snapshotDirs

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graftlake $cmd copy-on-write on $lakeDir @v$version"

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // GraftLakeFileIndex (not a plain InMemoryFileIndex) so a
    // PARTITIONED lake's partition columns surface from the manifest
    // entry names — the rewrite plan must see their true values or the
    // replacement write would re-partition every row under null.
    // sidecarPrune=false: under replace semantics a file pruned out of
    // the scan is a file NOT rewritten while its dir IS replaced —
    // silent row loss (caught by the CDF sidecar's netted diff when a
    // CTAS's tight per-file ranges let `id < k` prune). Partition-dir
    // pruning stays safe (a pruned partition's dir is not replaced).
    val idx = new GraftLakeFileIndex(spark, snap,
      snap.entries.map(e => new Path(s"$lakeDir/$e")), sidecarPrune = false)
    // on a COLUMN-MAPPING lake the COW scan must id-match too: Spark
    // hands this builder ITS OWN options (not the table's merged ones),
    // and a name-matched read of pre-rename files returns NULL for the
    // renamed column — which the rewrite would then WRITE BACK,
    // corrupting every replaced row (caught by the mapped-OPTIMIZE
    // spec sequence: MERGE, RENAME, DELETE nulled the renamed column)
    val opts =
      if (!snap.mapped) options
      else {
        val m = new java.util.HashMap[String, String](
          options.asCaseSensitiveMap())
        GraftLakeMapping.confOptions.foreach { case (k, v) => m.put(k, v) }
        new CaseInsensitiveStringMap(m)
      }
    new GraftLakeCowScanBuilder(this, spark, idx, table.schema(),
      table.dataSchema, opts)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write = {
        val dataDir = s"d-${java.util.UUID.randomUUID.toString.take(12)}"
        val (partCols, mapped) = (snap.partCols, snap.mapped)
        val inner: org.apache.spark.sql.connector.write.Write =
          if (partCols.isEmpty && !mapped)
            ParquetWrite(Seq(s"$lakeDir/$dataDir"),
              table.formatName, table.supportsDataType _, info)
          // custom write also serves MAPPED tables (field-id overlay)
          else new GraftLakePartitionedWrite(s"$lakeDir/$dataDir", info,
            partCols.map(_.name),
            s"graftlake partitioned COW $lakeDir (staging $dataDir)",
            if (mapped) Some(table.schema()) else None)
        new GraftLakeCowWrite(GraftLakeRowLevelOperation.this, inner,
          info, dataDir, table.schema())
      }
    }
}

/** Same wrap shape as the read-path builder, but over a PLAIN listing
  * (no sidecar static pruning — see [[GraftLakeRowLevelOperation]] for
  * why file-level pruning is unsafe under replace semantics). */
final class GraftLakeCowScanBuilder(op: GraftLakeRowLevelOperation,
    spark: SparkSession,
    fileIndex: org.apache.spark.sql.execution.datasources
      .PartitioningAwareFileIndex,
    schema: org.apache.spark.sql.types.StructType,
    dataSchema: org.apache.spark.sql.types.StructType,
    options: CaseInsensitiveStringMap)
  extends ParquetScanBuilder(spark, fileIndex, schema, dataSchema,
    options) {

  /** REFUSE every data-filter push. Spark pushes the operation's
    * condition into the COW scan as a GROUP-pruning hint (the rewrite
    * keeps the real row semantics in its own plan); a ParquetScan
    * would hand it to the parquet reader, which row-filters with it —
    * and every row the reader drops is a row the replace-write never
    * re-emits. Empirically: a COW DELETE over a scan that honored the
    * pushed condition kept ONLY the to-delete rows, so the rewrite's
    * `NOT cond` filter saw nothing and the operation deleted the whole
    * group. Group pruning still happens — dir-granular, through the
    * runtime filter ([[GraftLakeCowScan.partitions]]). */
  override def pushDataFilters(
      dataFilters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def build()
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =
    new GraftLakeCowScan(op, super.build())
}

/** The COW scan: vanilla parquet execution, plus (a) dir-granular
  * runtime group filtering through the sidecars and (b) recording the
  * final dir set on the operation for the write to replace. */
final class GraftLakeCowScan(op: GraftLakeRowLevelOperation,
    base: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan)
  extends org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
    base.sparkSession, base.hadoopConf, base.fileIndex, base.dataSchema,
    base.readDataSchema, base.readPartitionSchema, base.pushedFilters,
    base.options, base.pushedAggregate, base.partitionFilters,
    base.dataFilters, base.pushedVariantExtractions)
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  @volatile private var runtimeIns: Seq[(String, Seq[Any])] = Seq.empty
  private val probe = new SidecarProbe(base.sparkSession, op.snap)

  /** The replacement unit is a MANIFEST ENTRY — `d-x`, or the leaf
    * partition dir `d-x/c=v/...` on a partitioned lake. */
  private def entryOf(parent: org.apache.hadoop.fs.Path): String =
    probe.entryOf(parent)

  /** The partition columns, then the sidecar-indexed data columns
    * (most selective first), capped: Spark's row-level runtime group
    * filtering builds ONE pruning subquery PER declared attribute
    * (single-column IN sets — each translates through the V2
    * runtime-filter path, which only accepts plain column children),
    * and [[partitions]] intersects them (`ins.forall`): a dir survives
    * only if it can hold a key of EVERY arriving set, so a MERGE keyed
    * on two indexed dimensions
    * prunes on both — sound over-approximation per dimension (every
    * matching row's value is in its IN set; a dir pruned by any
    * dimension cannot contain a match).
    *
    * Partition columns come first: each entry's partition values
    * decide them without IO, sidecars or not. Data columns are ranked
    * MOST SELECTIVE first by the sidecars themselves, not
    * declaration order: a bloom-indexed column is a point-lookup
    * structure (best); for stats columns the score is the average
    * fraction of the column's global span each file's [min, max]
    * covers over a bounded dir sample — a clustered key's files cover
    * slivers (low score, files prune), an unclustered key's files
    * each span everything (score ~1, nothing prunes). Capped: each
    * declared attribute costs one broadcast subquery over the
    * matching rows at execution, so unbounded declaration would turn
    * a wide-keyed MERGE into a subquery fan-out. Memoized: the
    * planner calls this repeatedly, and the answer costs driver IO
    * (a bounded sidecar sample — a column indexed only in unsampled
    * dirs loses pruning, never rows). */
  private lazy val groupFilterAttr
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val sample = op.snapshotDirs.toSeq.sorted.take(16)
    val indexed = VersionedLake.indexedCols(base.sparkSession, op.snap.dir,
      sample).toSet
    val parts = readPartitionSchema.fields.filter(f =>
      GraftLakeFileIndex.runtimeProbeable(f.dataType))
    val candidates = readDataSchema.fields.filter(f =>
      indexed(f.name) && GraftLakeFileIndex.runtimeProbeable(f.dataType))
    def score(c: String): Double =
      if (sample.exists(d => probe.bloom(d, c).nonEmpty)) 0.0
      else {
        val ranges = sample.flatMap(d => probe.stats(d, c).values)
          .filter(r => r._3 > 0 && r._1 <= r._2)
        if (ranges.isEmpty) 1.0
        else {
          val span = ranges.map(_._2).max - ranges.map(_._1).min
          if (!(span > 0) || span.isInfinite) 1.0 // constant/degenerate
          else ranges.map(r => (r._2 - r._1) / span).sum / ranges.length
        }
      }
    (parts ++ candidates.sortBy(f => score(f.name))).take(3).map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    groupFilterAttr

  override def filter(predicates
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit =
    runtimeIns = GraftLakeDataSource.parseInPredicates(predicates, 10000)

  override def partitions: Seq[FilePartition] = {
    val ps = super.partitions
    val ins = runtimeIns
    val kept =
      if (ins.isEmpty) ps
      else {
        // dir granularity: a dir survives if ANY of its files might
        // hold ANY key of EVERY pushed set; then ALL its files are
        // read (and replaced) together
        val dirs = ps.flatMap(_.files).map(_.toPath).groupBy(_.getParent)
        val keepDir: Set[Path] = dirs.filter { case (_, files) =>
          files.exists(f => ins.forall { case (c, vs) =>
            probe.admitAnyOf(f, c, vs) })
        }.keySet
        ps.flatMap { fp =>
          val f = fp.files.filter(pf => keepDir(pf.toPath.getParent))
          if (f.isEmpty) None else Some(f)
        }.zipWithIndex.map { case (files, i) => FilePartition(i, files) }
      }
    op.scannedDirs =
      kept.flatMap(_.files).map(f => entryOf(f.toPath.getParent)).toSet
    kept
  }
}

/** Projects incoming rows down to the write schema's width by keeping
  * the TRAILING `width` fields (see the caller for why the prefix
  * exists). Width-matching rows pass through untouched, so the wrapper
  * is inert on any plan that already projects. */
private final class GraftLakeStripPrefixFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    schema: org.apache.spark.sql.types.StructType)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow =
        null
      override def write(row: InternalRow): Unit = {
        val extra = row.numFields - schema.length
        if (extra == 0) w.write(row)
        else {
          require(extra > 0, s"row narrower than write schema: " +
            s"${row.numFields} < ${schema.length}")
          if (proj == null) proj = org.apache.spark.sql.catalyst
            .ProjectingInternalRow(schema,
              (extra until row.numFields).toIndexedSeq)
          proj.project(row)
          w.write(proj)
        }
      }
      override def commit(): org.apache.spark.sql.connector.write
        .WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** The COW write: parquet staging identical to [[GraftLakeWrite]], but
  * the publish REPLACES the dirs the paired scan read — and refuses to
  * publish if a concurrent commit rewrote any of them (their rows are
  * baked into this staging dir; letting the publish through would
  * duplicate or resurrect them). An operation that deleted every row
  * of the scanned dirs still publishes a readable version: a
  * schema-bearing empty file is added when no task produced output. */
final class GraftLakeCowWrite(op: GraftLakeRowLevelOperation,
    inner: org.apache.spark.sql.connector.write.Write,
    info: LogicalWriteInfo, dataDir: String,
    // the DECLARED schema: the analyzer strips metadata (field ids)
    // from info.schema(), so declarations come from the table
    declaredSchema: org.apache.spark.sql.types.StructType = null)
  extends org.apache.spark.sql.connector.write.Write
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory,
    PhysicalWriteInfo, WriterCommitMessage}

  private val snap = op.snap
  private val (lakeDir, partCols) = (snap.dir, snap.partCols)

  override def description(): String =
    s"graftlake COW ${op.command()} $lakeDir (staging $dataDir)"

  // partitioned staging needs rows sorted by the partition columns;
  // names resolve against the rewrite plan's table-column attributes
  override def requiredDistribution
      : org.apache.spark.sql.connector.distributions.Distribution =
    inner match {
      case r: org.apache.spark.sql.connector.write
        .RequiresDistributionAndOrdering => r.requiredDistribution
      case _ => org.apache.spark.sql.connector.distributions.Distributions
        .unspecified()
    }
  override def requiredOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    inner match {
      case r: org.apache.spark.sql.connector.write
        .RequiresDistributionAndOrdering => r.requiredOrdering
      case _ => Array.empty
    }

  override def toBatch: BatchWrite = new BatchWrite {
    private val innerBatch = inner.toBatch
    /** ReplaceData feeds writers the REWRITE PLAN's rows — table
      * columns prefixed with the `__row_operation` marker int — and
      * only applies its own stripping projection when the operation
      * declared metadata attributes (ReplaceDataExec.writingTask's
      * None branch hands rows through raw; verified empirically: the
      * parquet writer crashed on numFields > schema). The factory
      * therefore projects each row down to the declared write schema,
      * keeping its TRAILING fields — the marker is prepended. */
    override def createBatchWriterFactory(p: PhysicalWriteInfo)
        : DataWriterFactory =
      new GraftLakeStripPrefixFactory(
        innerBatch.createBatchWriterFactory(p), info.schema())
    override def useCommitCoordinator: Boolean =
      innerBatch.useCommitCoordinator
    override def onDataWriterCommit(m: WriterCommitMessage): Unit =
      innerBatch.onDataWriterCommit(m)
    override def commit(msgs: Array[WriterCommitMessage]): Unit = {
      innerBatch.commit(msgs)
      val spark = SparkSession.active
      val staged = new Path(s"$lakeDir/$dataDir")
      val f = staged.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (partCols.nonEmpty) { commitPartitioned(spark, f); return }
      val hasFiles = f.exists(staged) && f.listStatus(staged)
        .exists(_.getPath.getName.endsWith(".parquet"))
      if (!hasFiles) {
        if (op.scannedDirs.isEmpty) {
          // nothing read, nothing written: a true no-op — publish no
          // version rather than an empty commit
          f.delete(staged, true)
          return
        }
        // every row of the scanned dirs was deleted — keep the
        // replacement readable (schema from the write's own contract)
        GraftLakePartitions.seedEmpty(spark, lakeDir, dataDir,
          info.schema(), Nil, snap.bloomCols)
      } else
        VersionedLake.indexStagedEntries(spark, lakeDir, Seq(dataDir),
          info.schema(), snap.bloomCols)
      val v = publishScanned(spark, Seq(dataDir))
      // opt-in row-level CDF: persist this commit's EXACT changes
      // (survivors netted) so feeds stop shipping the whole rewritten
      // band as delete+insert pairs
      if (snap.cdf)
        VersionedLake.writeChangeSidecar(spark, snap, v,
          VersionedLake.cowChangeRows(spark, snap,
            op.scannedDirs.toSeq, Seq(dataDir), op.command().toString))
      ()
    }

    /** Partitioned COW commit: the rewrite's surviving/merged rows were
      * staged as partition leaf dirs — publish one entry per leaf,
      * replacing exactly the scanned ENTRIES. An operation that
      * deleted every row of the scanned entries publishes their drop
      * with a null-partition schema carrier only if nothing else
      * remains live. */
    private def commitPartitioned(spark: SparkSession,
        f: org.apache.hadoop.fs.FileSystem): Unit = {
      var entries = GraftLakePartitions.stagedEntries(spark, lakeDir,
        dataDir, partCols.length)
      if (entries.isEmpty && op.scannedDirs.isEmpty) {
        f.delete(new Path(s"$lakeDir/$dataDir"), true)
        return
      }
      if (entries.isEmpty &&
          op.snapshotDirs.diff(op.scannedDirs).isEmpty)
        entries = Seq(GraftLakePartitions.seedEmpty(spark, lakeDir,
          dataDir, info.schema(), partCols, snap.bloomCols))
      else {
        val dataOnly = org.apache.spark.sql.types.StructType(
          info.schema().filterNot(fl =>
            partCols.exists(_.name.equalsIgnoreCase(fl.name))))
        VersionedLake.indexStagedEntries(spark, lakeDir, entries, dataOnly,
          snap.bloomCols)
      }
      val v = publishScanned(spark, entries)
      if (snap.cdf)
        VersionedLake.writeChangeSidecar(spark, snap, v,
          VersionedLake.cowChangeRows(spark, snap,
            op.scannedDirs.toSeq, entries, op.command().toString))
      ()
    }
    /** `entries` replace the scanned entries, SERIALIZABLE
      * ([[VersionedLake.refuseConflicts]] against the operation's
      * snapshot and scanned version). */
    private def publishScanned(spark: SparkSession,
        entries: Seq[String]): Int =
      VersionedLake.publish(spark, lakeDir, Commit(entries, op.scannedDirs,
        schema = Declared(Some(Option(declaredSchema)
          .getOrElse(info.schema()).json)),
        check = VersionedLake.refuseConflicts(op.scannedDirs,
          Some(op.snapshotDirs), Some(op.observedVersion)))).get

    override def abort(msgs: Array[WriterCommitMessage]): Unit = {
      innerBatch.abort(msgs)
      val p = new Path(s"$lakeDir/$dataDir")
      p.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
  }
}
