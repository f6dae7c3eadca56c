package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal,
  UnsafeProjection}
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference}
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReader, PartitionReaderFactory, ScanBuilder}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite,
  DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo,
  PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{
  ParquetScanBuilder, ParquetWrite}
import org.apache.spark.sql.types.{DataType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** MERGE-ON-READ row-level operations — SQL `UPDATE` / `MERGE INTO` /
  * every `DELETE` that drops no whole manifest entry (all but the
  * truncate and a partition-decidable delete, which stay manifest-only
  * in [[GraftLakeTable.deleteWhere]]) on a deletion-vector lake as
  * DELTA writes
  * (Spark's [[org.apache.spark.sql.connector.write.SupportsDelta]]
  * seam, the Delta-Lake/Iceberg "position delete" design point):
  *
  *  - the operation SCAN emits each row's address — two metadata
  *    columns, [[GraftLakeDeltaOp.FileCol]] (the row's manifest-
  *    relative file key) and [[GraftLakeDeltaOp.PosCol]] (its TRUE
  *    position in that file, from Spark's parquet row-index
  *    machinery, exact under row-group skipping and splits) — and,
  *    unlike the copy-on-write scan, may freely accept pushed data
  *    filters and sidecar file pruning: a file pruned out of a DELTA
  *    scan simply contributes no matched rows (nothing is replaced);
  *  - the WRITE receives per-row ops: `delete(id)` buffers the row's
  *    (entry, file, pos); `update(id, row)` buffers the delete half
  *    and appends the rewritten row; `insert(row)` appends. Each task
  *    stages its positions as one sorted parquet part and its data
  *    rows through Spark's own parquet committer;
  *  - the COMMIT publishes ONE version: the staged data dir (when any
  *    row was written) plus a `#dv` marker binding the positions
  *    sidecar — O(changed rows) bytes written, ZERO data rewritten.
  *    A <1% UPDATE of a 100 TB lake publishes a small sidecar and a
  *    small append instead of rewriting whole data dirs (the
  *    copy-on-write write-amplification this path exists to remove).
  *
  * Serializable like the COW publish: the touched entries must still
  * be live, no dir the snapshot never saw may have appeared (it could
  * hold rows matching the operation's condition), and a concurrent DV
  * commit is adjudicated by its positions
  * ([[VersionedLake.mergeOnReadCommit]]: disjoint ones serialize, a
  * DELETE subtracts a concurrent pure delete's, any other overlap is a
  * lost update). Conflicts refuse loudly; the caller retries.
  *
  * Scope: EVERY deletion-vector lake. PARTITIONED: rewritten and
  * inserted rows route through the dynamic-partition writer into hive
  * leaves, one manifest entry per leaf; row addresses key by the full
  * leaf-relative path. COLUMN-MAPPED: the operation scan and the
  * change-feed pre-image scan bind by field id, and the staged
  * rewrite carries the id overlay. Copy-on-write remains for lakes
  * without vectors — routing decided in
  * [[GraftLakeTable.newRowLevelOperationBuilder]].
  *
  * Reference behavior: monthly corrections to the archive lake
  * (reference README.md:4 — correction runs over published months)
  * re-expressed as row-level SQL with bounded write amplification. */
private[engine] object GraftLakeDeltaOp {

  /** Row-address metadata columns: the file's manifest-relative key
    * (`entry/fileName`) and the row's position within it. Non-null by
    * construction — Spark refuses nullable row ids. */
  val FileCol = "__graft_file"
  val PosCol = "__graft_pos"

  def isMetaCol(n: String): Boolean = n == FileCol || n == PosCol

  def metadataColumns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name: String = FileCol
      override def dataType: DataType = StringType
      override def isNullable: Boolean = false
      override def comment: String =
        "manifest-relative file of the row (merge-on-read row id)"
    },
    new MetadataColumn {
      override def name: String = PosCol
      override def dataType: DataType = LongType
      override def isNullable: Boolean = false
      override def comment: String =
        "row position within its file (merge-on-read row id)"
    })
}

/** See [[GraftLakeDeltaOp]]. Same construction seam as the COW
  * operation: snapshot, version and DV refs pinned at build time. */
final class GraftLakeDeltaOperation(table: GraftLakeTable,
    spark: SparkSession, private[engine] val snap: Snapshot,
    cmd: RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.SupportsDelta {
  private val (lakeDir, version) = (snap.dir, snap.version)

  private[engine] val snapshotDirs: Set[String] = snap.entries.toSet

  private[engine] def observedVersion: Int = version

  /** Vectors applying to the scanned snapshot: the delta scan MUST
    * apply them — a row an earlier vector deleted is not addressable,
    * and re-deleting its position would double-report the delete. */
  private[engine] val dvRefs: Map[String, GraftLakeDvRef] =
    VersionedLake.dvRefs(spark, lakeDir, version)

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graftlake $cmd merge-on-read (deletion vectors) on $lakeDir @v$version"

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftLakeDeltaOp.FileCol),
    Expressions.column(GraftLakeDeltaOp.PosCol))

  /** Keep UPDATE as one per-row op: the writer splits it into a
    * buffered position + an appended row itself — no need for Spark
    * to double the plan's rows. */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // sidecarPrune = true — SAFE here, unlike the COW scan: a file
    // statically pruned out of a delta scan is merely a file with no
    // matched rows, not a silently-dropped replacement unit
    val idx = new GraftLakeFileIndex(spark, snap,
      snap.entries.map(e => new Path(s"$lakeDir/$e")))
    // COLUMN-MAPPING lakes: the scan must bind BY FIELD ID — Spark
    // hands this builder ITS OWN options, and a name-matched read of
    // pre-rename files would null the renamed column out of exactly
    // the rows the operation is rewriting (the COW scan's lesson)
    val opts =
      if (!snap.mapped) options
      else {
        val m = new java.util.HashMap[String, String](
          options.asCaseSensitiveMap())
        GraftLakeMapping.confOptions.foreach { case (k, v) => m.put(k, v) }
        new CaseInsensitiveStringMap(m)
      }
    new GraftLakeDeltaScanBuilder(this, spark, idx, table.schema(),
      table.dataSchema, opts)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftLakeDeltaWrite(
        GraftLakeDeltaOperation.this, table, info)
    }
}

/** Pushdown-friendly builder: strips the row-address metadata columns
  * out of what reaches the parquet reader (they are synthesized by the
  * reader wrapper, not stored) and remembers which were requested, in
  * requested order, so [[GraftLakeDeltaScan.readSchema]] matches the
  * plan's expectations. Data-filter pushdown stays ENABLED — delta
  * semantics tolerate row-level filtering, and the row index stays
  * exact under it. */
final class GraftLakeDeltaScanBuilder(op: GraftLakeDeltaOperation,
    spark: SparkSession,
    fileIndex: org.apache.spark.sql.execution.datasources
      .PartitioningAwareFileIndex,
    schema: StructType, dataSchema: StructType,
    options: CaseInsensitiveStringMap)
  extends ParquetScanBuilder(spark, fileIndex, schema, dataSchema,
    options) {

  @volatile private var metaCols: Seq[String] = Seq.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val (meta, data) = requiredSchema.fields.partition(f =>
      GraftLakeDeltaOp.isMetaCol(f.name))
    metaCols = meta.map(_.name).toSeq
    super.pruneColumns(StructType(data))
  }

  /** Footer-stat aggregates over-count DV-deleted rows — same refusal
    * as the snapshot scan builder (and row-level plans never push
    * aggregates anyway). */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = false

  override def build()
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =
    new GraftLakeDeltaScan(op.dvRefs, super.build(), op.snap, metaCols)
}

/** Parquet execution plus (a) one file per partition — the row-address
  * column is per-file, so a reader must know which file it is inside —
  * (b) DV application, (c) the synthesized row-address columns, and
  * (d) JOIN-DRIVEN runtime file pruning: a MERGE's target scan joins
  * the (usually small, filtered) source, and Spark's dynamic-pruning
  * rule re-plans this scan at execution with the build side's `IN`
  * key sets — files whose sidecar stats/bloom exclude every key drop
  * WITHOUT being read. FILE granularity is safe here, unlike the COW
  * scan: a pruned file merely contributes no matched rows (nothing is
  * replaced), so a KB-sized MERGE source touches the files that can
  * hold its keys, never the lake.
  *
  * Constructed from TWO call sites: the row-level operation's scan
  * builder ([[GraftLakeDeltaScanBuilder]], with the operation's pinned
  * vectors) and the PLAIN batch read ([[GraftLakeScanBuilder]]) when a
  * user query projects the row-address metadata columns — `SELECT
  * __graft_file, __graft_pos FROM cat.t` resolves via the table's
  * metadataOutput, and only this scan can synthesize those columns
  * (the parquet files do not store them; an ordinary scan would emit
  * all-NULLs for columns declared non-nullable). */
final class GraftLakeDeltaScan(
    private[engine] val dvRefs: Map[String, GraftLakeDvRef],
    base: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    snap: Snapshot, metaCols: Seq[String])
  extends org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
    base.sparkSession, base.hadoopConf, base.fileIndex, base.dataSchema,
    base.readDataSchema, base.readPartitionSchema, base.pushedFilters,
    base.options, base.pushedAggregate, base.partitionFilters,
    base.dataFilters, base.pushedVariantExtractions)
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  @volatile private var runtimeAdmit
      : Option[org.apache.hadoop.fs.Path => Boolean] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    (readDataSchema.fields ++ readPartitionSchema.fields).collect {
      case f if GraftLakeFileIndex.runtimeProbeable(f.dataType) =>
        org.apache.spark.sql.connector.expressions.Expressions
          .column(f.name)
    }
  }

  override def filter(predicates
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val ins = GraftLakeDataSource.parseInPredicates(predicates, 10000)
    if (ins.nonEmpty) fileIndex match {
      case g: GraftLakeFileIndex =>
        runtimeAdmit = Some(p => ins.forall { case (c, vs) =>
          g.admitAnyOf(p, c, vs) })
      case _ => ()
    }
  }

  private def metaFields: Seq[StructField] = metaCols.map {
    case GraftLakeDeltaOp.FileCol =>
      StructField(GraftLakeDeltaOp.FileCol, StringType, nullable = false)
    case GraftLakeDeltaOp.PosCol =>
      StructField(GraftLakeDeltaOp.PosCol, LongType, nullable = false)
  }

  /** Metadata columns surface BETWEEN data and partition columns; the
    * V2 pushdown rebuilds its projection by NAME over this schema, so
    * the order only has to match what the reader emits. */
  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++ metaFields ++
      readPartitionSchema.fields)

  override def partitions: Seq[FilePartition] = {
    val files0 = super.partitions.flatMap(_.files)
    // join-driven file pruning (safe for delta — see class doc)
    val admitted = runtimeAdmit match {
      case None => files0
      case Some(adm) => files0.filter(pf => adm(pf.toPath))
    }
    // one file per partition: the file key is a per-reader constant
    val singles = admitted.zipWithIndex
      .map { case (f, i) => FilePartition(i, Array(f)) }
    GraftLakeDvScan.isolate(singles, dvRefs)
  }

  /** DV-net sizes for join planning INSIDE row-level plans: a MERGE's
    * target-side scan otherwise inherits raw file-size stats, and a
    * half-vectored target over-estimates past the broadcast threshold
    * (same O(DV files) metadata correction as the snapshot scan —
    * [[GraftLakeDvScan.netStatistics]]). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    GraftLakeDvScan.netStatistics(super.estimateStatistics(), dvRefs,
      fileIndex, sparkSession.sessionState.newHadoopConf())

  override def createReaderFactory(): PartitionReaderFactory = {
    val rowIdx = StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType,
      nullable = true)
    val withIdx = base.copy(
      hadoopConf = new org.apache.hadoop.conf.Configuration(
        base.hadoopConf),
      readDataSchema = StructType(base.readDataSchema.fields :+ rowIdx),
      pushedAggregate = None).createReaderFactory()
    // inner row layout: data columns, the row index, partition values
    val innerTypes = ((base.readDataSchema.fields :+ rowIdx) ++
      base.readPartitionSchema.fields).map(_.dataType)
    new GraftLakeDeltaReaderFactory(withIdx,
      base.readDataSchema.length, innerTypes, metaCols,
      1 + snap.partCols.length + 1,
      new SerializableConfiguration(base.hadoopConf))
  }
}

/** Reader factory synthesizing the row-address columns: the file key
  * is a per-partition constant (partitions are single-file), the
  * position is the parquet row index, DV-deleted rows drop before
  * emission. When the inner format vectorizes, batches stay COLUMNAR:
  * the file key is a constant vector, the position column IS the
  * row-index vector, and DV survivors remap through the zero-copy
  * selection view — a MERGE's full-target scan keeps the vectorized
  * read instead of paying a row-wise downgrade. */
private[engine] final class GraftLakeDeltaReaderFactory(
    withIdx: PartitionReaderFactory, dataLen: Int,
    innerTypes: Array[DataType], metaCols: Seq[String], segs: Int,
    conf: SerializableConfiguration)
  extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean =
    withIdx.supportColumnarReads(p)

  /** Output column i ← inner batch column `innerColOf(i)`; -1 marks
    * the constant file-key column. Inner layout: data…, rowIdx,
    * partition…; output layout: data…, metaCols…, partition…. */
  private def innerColOf: Array[Int] =
    ((0 until dataLen) ++
      metaCols.map {
        case GraftLakeDeltaOp.FileCol => -1
        case GraftLakeDeltaOp.PosCol => dataLen
      } ++
      (dataLen + 1 until innerTypes.length)).toArray

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val fp = p.asInstanceOf[FilePartition]
    require(fp.files.length == 1,
      s"delta scan partitions are single-file; got ${fp.files.length}")
    val relKey = GraftLakeDvScan.tailSegments(
      fp.files.head.toPath.toString, segs)
    val positions = p match {
      case d: GraftLakeDvFilePartition =>
        GraftLakeDvScan.loadPositions(d.ref, conf.value)
      case _ => Array.emptyLongArray
    }
    val inner = withIdx.createColumnarReader(p)
    val mapping = innerColOf
    val idxAt = dataLen
    val fileConst = UTF8String.fromString(relKey)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var out: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean = {
        while (inner.next()) {
          val b = inner.get()
          val n = b.numRows()
          val sel: Array[Int] =
            if (positions.isEmpty) null
            else {
              val idxCol = b.column(idxAt)
              val s = new Array[Int](n)
              var k = 0
              var i = 0
              while (i < n) {
                if (java.util.Arrays.binarySearch(positions,
                    idxCol.getLong(i)) < 0) {
                  s(k) = i
                  k += 1
                }
                i += 1
              }
              if (k == n) null else java.util.Arrays.copyOf(s, k)
            }
          val rows = if (sel == null) n else sel.length
          if (rows > 0) {
            val cols = new Array[
              org.apache.spark.sql.vectorized.ColumnVector](mapping.length)
            var o = 0
            while (o < mapping.length) {
              cols(o) = mapping(o) match {
                case -1 => new GraftLakeConstantStringVector(fileConst)
                case j if sel == null => b.column(j)
                case j => new GraftLakeSelectedVector(b.column(j), sel)
              }
              o += 1
            }
            out = new org.apache.spark.sql.vectorized.ColumnarBatch(
              cols, rows)
            return true
          }
        }
        false
      }
      override def get()
          : org.apache.spark.sql.vectorized.ColumnarBatch = out
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[FilePartition]
    require(fp.files.length == 1,
      s"delta scan partitions are single-file; got ${fp.files.length}")
    val relKey = GraftLakeDvScan.tailSegments(
      fp.files.head.toPath.toString, segs)
    val positions = p match {
      case d: GraftLakeDvFilePartition =>
        GraftLakeDvScan.loadPositions(d.ref, conf.value)
      case _ => Array.emptyLongArray
    }
    val inner = withIdx.createReader(p)
    val idxAt = dataLen
    val exprs: Array[org.apache.spark.sql.catalyst.expressions.Expression] =
      ((0 until dataLen).map(i =>
        BoundReference(i, innerTypes(i), nullable = true)) ++
        metaCols.map {
          case GraftLakeDeltaOp.FileCol =>
            Literal(UTF8String.fromString(relKey), StringType)
          case GraftLakeDeltaOp.PosCol =>
            BoundReference(idxAt, LongType, nullable = true)
        } ++
        (dataLen + 1 until innerTypes.length).map(i =>
          BoundReference(i, innerTypes(i), nullable = true))).toArray
    val proj = UnsafeProjection.create(exprs)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val row = inner.get()
          if (positions.isEmpty || java.util.Arrays.binarySearch(
              positions, row.getLong(idxAt)) < 0) {
            cur = proj(row)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = inner.close()
    }
  }
}

/** A non-null constant string vector — the per-file row-address key
  * in the columnar delta read (one instance per batch, zero storage). */
private[engine] final class GraftLakeConstantStringVector(
    value: UTF8String)
  extends org.apache.spark.sql.vectorized.ColumnVector(StringType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(i: Int): Boolean = false
  override def getUTF8String(i: Int): UTF8String = value
  override def getBoolean(i: Int): Boolean =
    throw new UnsupportedOperationException
  override def getByte(i: Int): Byte =
    throw new UnsupportedOperationException
  override def getShort(i: Int): Short =
    throw new UnsupportedOperationException
  override def getInt(i: Int): Int =
    throw new UnsupportedOperationException
  override def getLong(i: Int): Long =
    throw new UnsupportedOperationException
  override def getFloat(i: Int): Float =
    throw new UnsupportedOperationException
  override def getDouble(i: Int): Double =
    throw new UnsupportedOperationException
  override def getArray(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarArray =
    throw new UnsupportedOperationException
  override def getMap(i: Int)
      : org.apache.spark.sql.vectorized.ColumnarMap =
    throw new UnsupportedOperationException
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    throw new UnsupportedOperationException
  override def getBinary(i: Int): Array[Byte] = value.getBytes
  override def getChild(ordinal: Int)
      : org.apache.spark.sql.vectorized.ColumnVector =
    throw new UnsupportedOperationException
}

/** Task→driver evidence for one delta writer: the inner parquet
  * commit message (when the task appended rows), the task's staged
  * positions part (when it buffered deletes), and the counts. */
private final case class GraftLakeDeltaCommitMsg(
    inner: Option[WriterCommitMessage], posPart: Option[String],
    deleted: Long, written: Long) extends WriterCommitMessage

/** The delta write: data rows stage through Spark's own parquet
  * committer into a fresh `d-*` dir; deleted positions stage as
  * per-task sorted parquet parts under `_deletes/.stage-<uuid>`; the
  * driver commit assembles both into ONE serializable publish. */
final class GraftLakeDeltaWrite(op: GraftLakeDeltaOperation,
    table: GraftLakeTable, info: LogicalWriteInfo)
  extends DeltaWrite
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  /** TRANSACTIONAL COMMIT TAG (Delta's txnAppId/txnVersion shape for
    * SQL DML): when the session conf `spark.graft.lake.commitTag` is
    * set, this row-level commit joins the lake's tag discipline — the
    * tag becomes the data-dir name and the sidecar binding, a replay
    * whose tag already published commits NOTHING (checked against the
    * `_tags/` marker + manifest membership), and the marker is written
    * after the publish. This is the exactly-once seam for streaming
    * CDC apply via MERGE INTO in foreachBatch: tag = f(batchId), and a
    * checkpoint-replayed batch no-ops at the lake instead of
    * double-applying. No '-' in tags: the sidecar name parses its
    * version prefix on '-'. */
  private val commitTag: Option[String] = {
    val t = SparkSession.active.conf
      .get("spark.graft.lake.commitTag", "")
    if (t.isEmpty) None
    else {
      require(t.matches("[A-Za-z0-9_]+"), s"unsafe commit tag '$t' " +
        "(letters, digits, underscore only)")
      // the tag's manifest face is a DERIVED stable 12-hex uuid — the
      // sidecar name contract (`v<N>-<12 hex>`) would silently refuse
      // a raw tag and the delete half would never apply
      // ([[VersionedLake.commitTagUuid]])
      Some(VersionedLake.commitTagUuid(t))
    }
  }

  // hex uuid: doubles as the data-dir tag and the sidecar binding
  private val uuid = commitTag.getOrElse(
    java.util.UUID.randomUUID.toString.replace("-", "").take(12))
  private val dataDir = s"d-$uuid"
  // NOT dot-prefixed: Spark's listings treat hidden path components as
  // non-data and the driver commit reads the staged parts back with a
  // plain parquet read. `stage-*` never matches the sidecar pattern,
  // so readers can't confuse staging with a bound vector; vacuum
  // sweeps crashed attempts' stagings after the grace window.
  private val lakeDir = op.snap.dir
  private val stageDir = s"$lakeDir/_deletes/stage-$uuid"

  private val (partCols, mapped) = (op.snap.partCols, op.snap.mapped)

  /** Durable answer, read ONCE at write construction: is this a
    * REPLAY of an already-published tag? Published state cannot
    * revert mid-query (same-tag concurrent writers are out of
    * contract), so every later decision — the staging sweep, the
    * no-op task writers, commit's no-op branch, abort's cleanup
    * scope — reuses this answer instead of re-walking the manifest
    * history per decision point. */
  private val replayOfPublished: Boolean = commitTag.exists(t =>
    VersionedLake.tagPublished(SparkSession.active, lakeDir, t))

  /** Flipped the instant the publish returns: from that point this
    * write's data dir and change sidecar are manifest-referenced LIVE
    * state, and no failure after it (tag-marker write, enforceDvBound,
    * Spark's commit-failure → abort bridge) may delete them. */
  @volatile private var publishedDurably = false

  // a TAGGED write's staging paths are deterministic (the tag, not a
  // fresh uuid) — sweep a CRASHED earlier attempt's leftovers before
  // staging, or its torn parts would mix into (or block) this one.
  // Never when the tag already PUBLISHED: d-<tag> is then live data,
  // and commit() will no-op the replay without touching it.
  if (commitTag.isDefined && !replayOfPublished) {
    val spark = SparkSession.active
    val f = new Path(lakeDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(s"$lakeDir/$dataDir"), true)
    f.delete(new Path(s"$lakeDir/_deletes/stage-$uuid"), true)
    f.delete(new Path(s"$lakeDir/_changes/dv-$uuid"), true)
    ()
  }

  /** The data half's staging write: plain parquet on a flat lake, the
    * dynamic-partition writer (hive `c=v` leaves, one manifest entry
    * per leaf) on a PARTITIONED one — rewritten and inserted rows
    * route to their leaves exactly like an INSERT. MAPPED lakes take
    * the custom writer too (field-id overlay: a staged file without
    * ids would be unreadable to the id-matching reader). Absent for a
    * row-less plan (pure DELETE commands write no data rows and may
    * arrive with an empty row schema). */
  private val innerWrite
      : Option[org.apache.spark.sql.connector.write.Write] =
    if (info.schema() == null || info.schema().isEmpty) None
    else if (partCols.isEmpty && !mapped)
      Some(ParquetWrite(Seq(s"$lakeDir/$dataDir"),
        table.formatName, table.supportsDataType _, info))
    else Some(new GraftLakePartitionedWrite(s"$lakeDir/$dataDir", info,
      partCols.map(_.name),
      s"graftlake delta partitioned $lakeDir (staging $dataDir)",
      if (mapped) Some(table.schema()) else None))

  override def description(): String =
    s"graftlake delta ${op.command()} $lakeDir (staging $dataDir)"

  // partitioned staging needs rows clustered/sorted by the partition
  // columns; names resolve against the delta plan's row attributes
  override def requiredDistribution
      : org.apache.spark.sql.connector.distributions.Distribution =
    innerWrite match {
      case Some(r: org.apache.spark.sql.connector.write
        .RequiresDistributionAndOrdering) => r.requiredDistribution
      case _ => org.apache.spark.sql.connector.distributions
        .Distributions.unspecified()
    }
  override def requiredOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    innerWrite match {
      case Some(r: org.apache.spark.sql.connector.write
        .RequiresDistributionAndOrdering) => r.requiredOrdering
      case _ => Array.empty
    }

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    private val innerBatch = innerWrite.map(_.toBatch)

    override def createBatchWriterFactory(p: PhysicalWriteInfo)
        : DeltaWriterFactory = {
      val idSchema = info.rowIdSchema().orElseThrow(() =>
        new IllegalStateException(
          "delta write planned without a row-id schema"))
      new GraftLakeDeltaWriterFactory(
        innerBatch.map(_.createBatchWriterFactory(p)), stageDir,
        idSchema.fieldIndex(GraftLakeDeltaOp.FileCol),
        idSchema.fieldIndex(GraftLakeDeltaOp.PosCol),
        new SerializableConfiguration(SparkSession.active
          .sessionState.newHadoopConf()),
        // a REPLAY's tasks write NOTHING: commit() will no-op anyway,
        // and inert writers mean no committer (of ANY algorithm —
        // v2 moves committed task files straight into the live
        // published dir, where a _temporary sweep would miss them)
        // can leak replay output into the original commit's data dir
        noop = replayOfPublished)
    }

    override def useCommitCoordinator: Boolean =
      innerBatch.forall(_.useCommitCoordinator)

    override def commit(msgs: Array[WriterCommitMessage]): Unit = {
      val spark = SparkSession.active
      val f = new Path(lakeDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // exactly-once replay: this tag already published (a checkpoint
      // replay re-offered the batch) — commit NOTHING. The answer was
      // read from durable state at write construction
      // ([[replayOfPublished]]); published state cannot revert within
      // the query. Clean ONLY the replay's own residue — a crashed
      // PRE-publish attempt's stage parts and anything under the data
      // dir's _temporary (this replay's writers were inert, so only
      // older residue can exist there). The data dir itself and the
      // change sidecar are the ORIGINAL commit's LIVE artifacts —
      // deleting them here would hollow out the published version.
      if (replayOfPublished) {
        f.delete(new Path(s"$lakeDir/_deletes/stage-$uuid"), true)
        f.delete(new Path(s"$lakeDir/$dataDir/_temporary"), true)
        // heal the crash window: published-but-unmarked (the original
        // attempt died between publish and marker) would otherwise
        // pay the manifest-membership walk on every future check
        commitTag.foreach(t =>
          VersionedLake.writeTagMarker(spark, lakeDir, t))
        return
      }
      val dms = msgs.map(_.asInstanceOf[GraftLakeDeltaCommitMsg])
      val innerMsgs = dms.flatMap(_.inner)
      innerBatch.foreach(b =>
        if (innerMsgs.nonEmpty) b.commit(innerMsgs.toArray))
      val staged = new Path(s"$lakeDir/$dataDir")
      // flat: parquet parts directly under the staging dir;
      // partitioned: hive leaves, one manifest entry per leaf
      val addedEntries: Seq[String] =
        if (!f.exists(staged)) Seq.empty
        else if (partCols.isEmpty) {
          if (f.listStatus(staged)
            .exists(_.getPath.getName.endsWith(".parquet")))
            Seq(dataDir)
          else Seq.empty
        } else GraftLakePartitions.stagedEntries(spark, lakeDir,
          dataDir, partCols.length)
      val hasData = addedEntries.nonEmpty
      // only parts named in COMMIT MESSAGES are real: a retried task's
      // dead attempt may have left a torn or duplicate part behind.
      // Compare by NAME (unique within the stage dir), never by path
      // string — listings return QUALIFIED paths (`file:/…`) while the
      // writers recorded unqualified ones, and a string mismatch here
      // would silently delete every real part as an "orphan".
      val winners = dms.flatMap(_.posPart)
        .map(p => new Path(p).getName).toSet
      val stage = new Path(stageDir)
      if (f.exists(stage))
        f.listStatus(stage).map(_.getPath)
          .filterNot(p => winners(p.getName))
          .foreach(p => f.delete(p, false))
      val nDeleted = dms.map(_.deleted).sum
      if (winners.isEmpty && !hasData) { // true no-op: nothing matched
        f.delete(stage, true)
        f.delete(staged, true)
        return
      }
      // the touched (entry, file) pairs — ONE bounded collect (a row
      // per vectored file) shared by the serializable anchor below and
      // the change-row pre-image scan, which previously re-read the
      // stage dir and collected again (two jobs + two schema probes
      // per commit). The stage schema is this writer's own fixed
      // layout ([[GraftLakeDeltaOp.writePosPart]]) — passing it skips
      // the per-read footer-inference job too.
      val touchedPairs: Seq[(String, String)] =
        if (winners.isEmpty) Seq.empty
        else readStagePositions(spark).select("entry", "file").distinct()
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val touched: Seq[String] =
        touchedPairs.map(_._1).distinct.sorted
      // the commit's EXACT change rows, staged BEFORE the publish
      // under the uuid the manifest will bind (changes()/CDF replay a
      // DV commit from this sidecar — its absence is corruption)
      if (winners.nonEmpty)
        stageChangeRows(spark, f, addedEntries, touchedPairs)
      if (hasData) {
        // partitioned files hold only data columns; the declaration
        // keeps the partition columns (readers reconstruct them)
        val dataOnly = org.apache.spark.sql.types.StructType(
          table.schema().filterNot(fl =>
            partCols.exists(_.name.equalsIgnoreCase(fl.name))))
        VersionedLake.indexStagedEntries(spark, lakeDir, addedEntries,
          if (partCols.isEmpty) table.schema() else dataOnly,
          op.snap.bloomCols)
      }
      val changeDir = new Path(s"$lakeDir/_changes/dv-$uuid")
      // a DELETE's publish subtracts positions a concurrent pure delete
      // already deleted, then re-derives the change rows from the rest
      val restageChanges =
        if (op.command() != RowLevelOperation.Command.DELETE) None
        else Some { () =>
          f.delete(changeDir, true)
          stageChangeRows(spark, f, addedEntries, touchedPairs)
        }
      val published =
        try {
          VersionedLake.publish(spark, lakeDir,
            VersionedLake.mergeOnReadCommit(spark, lakeDir,
              op.observedVersion, op.snapshotDirs, touched, addedEntries,
              if (winners.isEmpty) None else Some(stage), uuid,
              Some(table.schema().json), restageChanges))
        } catch { case e: Throwable =>
          // a refused publish leaves NOTHING bound: drop the stagings so
          // they cannot be mistaken for live state (the change dir is
          // unbound without the manifest marker, but cheap to remove)
          f.delete(stage, true)
          f.delete(staged, true)
          f.delete(changeDir, true)
          throw e
        }
      // concurrent deletes already deleted every row: nothing published,
      // and the publish check removed the stagings
      if (published.isEmpty) return
      // PUBLISH BARRIER: the manifest now references this write's
      // artifacts. Anything below (marker write, DV-bound upkeep) may
      // still fail and bubble into Spark's commit-failure → abort()
      // bridge, so abort consults this flag and never deletes
      // published state; a tag left unmarked here is healed by the
      // next replay's no-op branch.
      publishedDurably = true
      commitTag.foreach(t =>
        VersionedLake.writeTagMarker(spark, lakeDir, t))
      VersionedLake.enforceDvBound(spark, lakeDir)
    }

    /** Pre-image delete rows (the touched files' rows AT the staged
      * positions) plus the staged dir's rows as the insert side, both
      * tagged for the change feed. O(touched files + written rows).
      * On a PARTITIONED lake the partition values live in dir names,
      * not file bytes — both sides read per data dir with `basePath`
      * so the `c=v` columns reconstruct (cast to the DECLARED types),
      * and the sidecar carries them as DATA columns (the CDF stream's
      * sidecar contract). */
    /** The staged positions sidecar under its writer-known schema —
      * no footer-inference job per read. */
    private def readStagePositions(spark: SparkSession)
        : org.apache.spark.sql.DataFrame =
      spark.read.schema(StructType(Seq(
        StructField("entry", StringType, nullable = false),
        StructField("file", StringType, nullable = false),
        StructField("pos", LongType, nullable = false))))
        .parquet(stageDir)

    private def stageChangeRows(spark: SparkSession,
        f: org.apache.hadoop.fs.FileSystem,
        addedEntries: Seq[String],
        files: Seq[(String, String)]): Unit = {
      import org.apache.spark.sql.functions.{broadcast, col, lit}
      import spark.implicits._
      def withPartCast(df: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame =
        partCols.foldLeft(df)((d, c) =>
          d.withColumn(c.name, col(c.name).cast(c.dataType)))
      val pos = readStagePositions(spark)
      val lk = files.flatMap { case (e, fl) =>
        VersionedLake.encodedForms(f, new Path(s"$lakeDir/$e/$fl"))
          .map(q => (q, e, fl))
      }.toDF("__fp", "entry", "file")
      // COLUMN-MAPPING lakes: the pre-image scan must read BY FIELD ID
      // (a name-matched read would null renamed columns out of
      // pre-rename files and the change feed would ship corrupted
      // pre-images) — declared schema on a derived fieldId session
      val (prs, declaredOpt) =
        if (!mapped) (spark, None)
        else {
          val s2 = spark.newSession()
          s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
          (s2, Some(table.schema()))
        }
      def rawScan(paths: Seq[String], basePath: Option[String])
          : org.apache.spark.sql.DataFrame = {
        val r0 = declaredOpt.fold(
          prs.read.option("mergeSchema", "true"))(sch =>
          prs.read.schema(org.apache.spark.sql.types.StructType(
            sch.filter(fl => basePath.isDefined ||
              !partCols.exists(_.name.equalsIgnoreCase(fl.name))))))
        basePath.fold(r0)(bp => r0.option("basePath", bp))
          .parquet(paths: _*)
      }
      // the row address columns must materialize BEFORE any union —
      // `_metadata` is a per-relation pseudo-column that does not
      // survive a Union/Project
      def withAddr(df: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = df
        .withColumn("__fp", col("_metadata.file_path"))
        .withColumn("__pos", col("_metadata.row_index"))
      val scan0 =
        if (partCols.isEmpty)
          withAddr(rawScan(files.map { case (e, fl) =>
            s"$lakeDir/$e/$fl" }, None))
        else files.groupBy(_._1.takeWhile(_ != '/')).toSeq.sortBy(_._1)
          .map { case (dd, fs2) =>
            withPartCast(withAddr(
              rawScan(fs2.map { case (e, fl) => s"$lakeDir/$e/$fl" },
                Some(s"$lakeDir/$dd"))))
          }.reduce(_.unionByName(_, allowMissingColumns = true))
      val deletes = scan0
        .join(broadcast(lk), Seq("__fp"))
        .join(pos.withColumnRenamed("pos", "__pos"),
          Seq("entry", "file", "__pos"), "left_semi")
        .drop("__fp", "__pos", "entry", "file")
      val delTag =
        if (op.command() == RowLevelOperation.Command.UPDATE)
          "update_preimage"
        else "delete"
      val insTag =
        if (op.command() == RowLevelOperation.Command.UPDATE)
          "update_postimage"
        else "insert"
      val changes =
        if (addedEntries.isEmpty)
          deletes.withColumn("_change_type", lit(delTag))
        else {
          val ins =
            if (partCols.isEmpty)
              spark.read.parquet(s"$lakeDir/$dataDir")
            else withPartCast(spark.read
              .option("basePath", s"$lakeDir/$dataDir")
              .parquet(s"$lakeDir/$dataDir"))
          deletes.withColumn("_change_type", lit(delTag))
            .unionByName(ins.withColumn("_change_type", lit(insTag)),
              allowMissingColumns = true)
        }
      changes.write.parquet(s"$lakeDir/_changes/dv-$uuid")
    }

    override def abort(msgs: Array[WriterCommitMessage]): Unit = {
      val spark = SparkSession.active
      val f = new Path(lakeDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      innerBatch.foreach(b => b.abort(
        msgs.collect { case m: GraftLakeDeltaCommitMsg
          if m.inner.isDefined => m.inner.get }))
      f.delete(new Path(stageDir), true)
      // once the data dir and change sidecar are PUBLISHED they may
      // never be deleted from a failure path — either this write is a
      // replay of a published tag (the originals are live), or THIS
      // write's own publish succeeded and a later commit step failed
      // (Spark routes commit failures through abort too). Only the
      // staging residue above and _temporary leftovers may go.
      if (replayOfPublished || publishedDurably)
        f.delete(new Path(s"$lakeDir/$dataDir/_temporary"), true)
      else {
        f.delete(new Path(s"$lakeDir/$dataDir"), true)
        f.delete(new Path(s"$lakeDir/_changes/dv-$uuid"), true)
      }
      ()
    }
  }
}

/** See [[GraftLakeDeltaWrite]]. The factory ships the inner parquet
  * factory (absent for row-less DELETE plans) plus where to stage the
  * task's positions part. With `noop` (a replay of a published commit
  * tag) the writers are INERT — no data files, no positions parts —
  * so no output-committer algorithm can move replay bytes into the
  * originally-published data dir. */
private final class GraftLakeDeltaWriterFactory(
    dataFactory: Option[org.apache.spark.sql.connector.write
      .DataWriterFactory],
    stageDir: String, idFileAt: Int, idPosAt: Int,
    conf: SerializableConfiguration, noop: Boolean = false)
  extends DeltaWriterFactory {

  override def createWriter(pid: Int, tid: Long)
      : DeltaWriter[InternalRow] =
    if (noop) new DeltaWriter[InternalRow] {
      override def delete(m: InternalRow, id: InternalRow): Unit = ()
      override def update(m: InternalRow, id: InternalRow,
          row: InternalRow): Unit = ()
      override def insert(row: InternalRow): Unit = ()
      override def commit(): WriterCommitMessage =
        GraftLakeDeltaCommitMsg(None, None, 0L, 0L)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
    else new DeltaWriter[InternalRow] {

    private var dataWriter
        : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
      null
    // per-file growable position buffers: bounded by the rows of the
    // files THIS task read (single-file partitions), never the lake
    private val posBuf =
      new java.util.HashMap[String, GraftLakeDeltaWriterFactory.LongBuf]()
    private var deleted = 0L
    private var written = 0L

    private def record(id: InternalRow): Unit = {
      val key = id.getUTF8String(idFileAt).toString
      var b = posBuf.get(key)
      if (b == null) {
        b = new GraftLakeDeltaWriterFactory.LongBuf
        posBuf.put(key, b)
      }
      b.add(id.getLong(idPosAt))
      deleted += 1
    }

    override def delete(meta: InternalRow, id: InternalRow): Unit =
      record(id)

    override def update(meta: InternalRow, id: InternalRow,
        row: InternalRow): Unit = {
      record(id)
      insert(row)
    }

    override def insert(row: InternalRow): Unit = {
      if (dataWriter == null)
        dataWriter = dataFactory.getOrElse(throw new IllegalStateException(
          "delta writer received a row but the plan declared no row " +
            "schema")).createWriter(pid, tid)
      dataWriter.write(row)
      written += 1
    }

    override def commit(): WriterCommitMessage = {
      val innerMsg = Option(dataWriter).map(_.commit())
      val part =
        if (posBuf.isEmpty) None
        else {
          val p = new Path(s"$stageDir/part-p$pid-t$tid.parquet")
          GraftLakeDeltaWriterFactory.writePosPart(p, posBuf, conf.value)
          Some(p.toString)
        }
      GraftLakeDeltaCommitMsg(innerMsg, part, deleted, written)
    }

    override def abort(): Unit = {
      if (dataWriter != null) dataWriter.abort()
      val p = new Path(s"$stageDir/part-p$pid-t$tid.parquet")
      val f = p.getFileSystem(conf.value)
      if (f.exists(p)) f.delete(p, false)
      ()
    }

    override def close(): Unit =
      if (dataWriter != null) dataWriter.close()
  }
}

private object GraftLakeDeltaWriterFactory {

  /** Minimal growable long buffer (no boxing in the per-row path). */
  final class LongBuf {
    private var arr = new Array[Long](64)
    private var n = 0
    def add(v: Long): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
      arr(n) = v
      n += 1
    }
    def sorted: Array[Long] = {
      val out = java.util.Arrays.copyOf(arr, n)
      java.util.Arrays.sort(out)
      out
    }
  }

  /** One task's positions part, written SORTED by (entry, file, pos)
    * so the task-side predicate-pushed sidecar reads
    * ([[GraftLakeDvScan.loadPositions]]) skip foreign keys' pages —
    * the layout every positions sidecar keeps. */
  def writePosPart(p: Path,
      posBuf: java.util.HashMap[String, LongBuf],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
      GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val mt = MessageTypeParser.parseMessageType(
      "message graft_dv { required binary entry (UTF8); " +
        "required binary file (UTF8); required int64 pos; }")
    val c2 = new org.apache.hadoop.conf.Configuration(conf)
    GroupWriteSupport.setSchema(mt, c2)
    val w = ExampleParquetWriter.builder(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(p, c2))
      .withConf(c2).withType(mt).build()
    try {
      val keys = new java.util.ArrayList(posBuf.keySet())
      java.util.Collections.sort(keys)
      keys.forEach { relKey =>
        val cut = relKey.lastIndexOf('/')
        require(cut > 0, s"malformed row-address file key: $relKey")
        val entry = relKey.substring(0, cut)
        val file = relKey.substring(cut + 1)
        posBuf.get(relKey).sorted.foreach { v =>
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(mt)
          g.append("entry", entry)
          g.append("file", file)
          g.append("pos", v)
          w.write(g)
        }
      }
    } finally w.close()
  }
}
