package graft.engine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, Decimal, LongType,
  StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch,
  ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Scan-side application of deletion vectors (see [[VersionedLake]]'s
  * DV section for the commit protocol). The mechanics ride Spark's own
  * parquet ROW-INDEX machinery: a reader whose schema carries the
  * reserved `_tmp_metadata_row_index` column
  * ([[ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME]]) receives
  * each row's TRUE position in its file — exact under row-group
  * skipping, page filtering and file splits, the same machinery behind
  * `_metadata.row_index`. The wrapper then:
  *
  *  - isolates each DV-carrying file into its own
  *    [[GraftLakeDvFilePartition]] carrying a [[GraftLakeDvRef]] — the
  *    SIDECAR REFERENCE (which `_deletes` part files hold this file's
  *    positions, and how many). The task opens its own positions
  *    lazily from the referenced sidecar parts (predicate-pushed
  *    parquet read, sorted task-side), so BOTH the task closure AND
  *    the driver's planning state are O(DV files), never O(pending
  *    positions) — Delta's deletion-vector planning shape. (The first
  *    cut shipped the lake-wide position map in every task closure;
  *    the second shipped per-file position ARRAYS but still collected
  *    every pending position to the driver at plan time — at 100 TB
  *    with heavy delete churn that map ballooned with the backlog.);
  *  - when the inner format reads COLUMNAR (the common path), DV
  *    partitions stay columnar too: the batch's row-index column
  *    drives a selection array and every emitted column is a zero-copy
  *    [[GraftLakeSelectedVector]] view remapping ordinals through the
  *    survivors — clean files pass their batches through untouched,
  *    so ONE live vector no longer forces the whole snapshot row-wise;
  *  - when the format cannot vectorize (nested/wide schemas), DV
  *    partitions read row-wise through an inner factory built with the
  *    row-index column appended, dropping covered positions (binary
  *    search in the sorted long array) and stripping the extra column
  *    with a codegen'd projection.
  *
  * Positions key by the file's RELATIVE path under the lake root
  * (`entry…/fileName`), not the bare file name — parquet task files
  * are attempt-unique today, but nothing in the commit protocol
  * enforces global name uniqueness across data dirs, and partition
  * leaves legitimately repeat names across entries.
  *
  * Used by the snapshot scan ([[GraftLakeParquetScan]]); the
  * merge-on-read row-level scan ([[GraftLakeDeltaScan]]) isolates and
  * loads positions the same way. */
private[engine] object GraftLakeDvScan {

  /** Last `n` `/`-separated segments of `path` — the relative
    * `entry…/fileName` key a DV map uses (`n` = entry depth + 1). */
  def tailSegments(path: String, n: Int): String = {
    var idx = path.length
    var c = 0
    while (c < n && idx > 0) {
      idx = path.lastIndexOf('/', idx - 1)
      c += 1
    }
    if (idx <= 0) path else path.substring(idx + 1)
  }

  private def segsOf(dv: Map[String, GraftLakeDvRef]): Int =
    dv.keysIterator.next().count(_ == '/') + 1

  /** DV-NET scan statistics: the file-size estimate `base` counts
    * bytes of rows pending vectors have already deleted, so join
    * planning on a heavily-vectored lake over-estimates the build side
    * and a broadcast-able table shuffles. Subtract each vectored
    * file's deleted fraction (sidecar position count over footer row
    * count — both O(DV files), memoized metadata) from the size
    * estimate. Conservative on any unknown: a failed footer read
    * leaves that file unadjusted. Shared by the SNAPSHOT scan and the
    * row-level DELTA scan — a MERGE's target-side scan feeds the same
    * join planner, and an unadjusted estimate there flips the same
    * broadcast decisions inside the row-level plan. */
  def netStatistics(
      base: org.apache.spark.sql.connector.read.Statistics,
      dvRefs: Map[String, GraftLakeDvRef],
      fileIndex: org.apache.spark.sql.execution.datasources
        .PartitioningAwareFileIndex,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.connector.read.Statistics = {
    if (dvRefs.isEmpty || !base.sizeInBytes().isPresent) return base
    val segs = segsOf(dvRefs)
    var total = 0L
    var deleted = 0.0
    var deletedRows = 0L
    fileIndex.allFiles().foreach { f =>
      val len = f.getLen
      total += len
      dvRefs.get(tailSegments(f.getPath.toString, segs))
        .foreach { ref =>
          val rows = VersionedLake.parquetFileRows(conf, f.getPath)
          if (rows > 0) {
            deleted += len.toDouble * math.min(1.0,
              ref.count.toDouble / rows)
            deletedRows += math.min(ref.count, rows)
          }
        }
    }
    if (total <= 0 || deleted <= 0) return base
    val keep = 1.0 - deleted / total
    val size = math.max(1L,
      (base.sizeInBytes().getAsLong * keep).toLong)
    val rows =
      if (!base.numRows().isPresent) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(
        math.max(0L, base.numRows().getAsLong - deletedRows))
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  /** Task-side position load for ONE file: scan exactly the sidecar
    * part files the ref names, with an `entry = E AND file = F`
    * parquet filter (row-group stats + dictionary pages skip foreign
    * keys — every positions part is written SORTED by (entry, file,
    * pos), so a key clusters in few row groups). Cost: O(this file's
    * positions + skipped-footer overhead), independent of the lake's
    * pending-position backlog. Positions are unique by the commit
    * protocol (a row-level scan applies every earlier vector, and a
    * DELETE's publish subtracts concurrent deletes' positions);
    * sorting happens here so the readers can binary-search regardless
    * of how the sidecar rows interleaved. */
  def loadPositions(ref: GraftLakeDvRef,
      conf: org.apache.hadoop.conf.Configuration): Array[Long] = {
    import org.apache.parquet.filter2.predicate.FilterApi
    val pred = FilterApi.and(
      FilterApi.eq(FilterApi.binaryColumn("entry"),
        org.apache.parquet.io.api.Binary.fromString(ref.entry)),
      FilterApi.eq(FilterApi.binaryColumn("file"),
        org.apache.parquet.io.api.Binary.fromString(ref.file)))
    var arr = new Array[Long](
      math.min(math.max(ref.count, 16L), 1L << 26).toInt)
    var n = 0
    ref.parts.foreach { part =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(part))
        .withConf(conf)
        .withFilter(org.apache.parquet.filter2.compat.FilterCompat
          .get(pred))
        .build()
      try {
        var g = reader.read()
        while (g != null) {
          if (n == arr.length)
            arr = java.util.Arrays.copyOf(arr, arr.length * 2)
          arr(n) = g.getLong("pos", 0)
          n += 1
          g = reader.read()
        }
      } finally reader.close()
    }
    val out =
      if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
    java.util.Arrays.sort(out)
    out
  }

  /** Decode a SparkPath-ENCODED URI string — what
    * `FileIndex.inputFiles` and `input_file_name` report — into the
    * on-disk spelling DV keys use. CONTRACT: feed ONLY Spark-reported
    * encoded strings. A decoded `Path.toString` containing a
    * hive-escaped sequence (`city=A%23B`) is itself a parseable URI
    * and would be double-decoded here — callers with decoded paths
    * already hold the on-disk form and must not call this. (The
    * NonFatal fallback only covers strings no URI parser accepts,
    * e.g. raw spaces.) */
  def decodedPathString(s: String): String =
    try org.apache.spark.paths.SparkPath.fromUrlString(s)
      .toPath.toString
    catch { case scala.util.control.NonFatal(_) => s }

  /** Split `ps` so every DV-carrying file sits alone in a
    * [[GraftLakeDvFilePartition]] holding ITS sidecar reference; clean
    * files keep their grouping. Survivor partitions REINDEXED (the RDD
    * contract: index == array position). */
  def isolate(ps: Seq[FilePartition],
      dv: Map[String, GraftLakeDvRef]): Seq[FilePartition] =
    if (dv.isEmpty) ps
    else {
      val segs = segsOf(dv)
      def refOf(f: PartitionedFile): Option[GraftLakeDvRef] =
        dv.get(tailSegments(f.toPath.toString, segs))
      val out = Seq.newBuilder[FilePartition]
      var i = 0
      ps.foreach { fp =>
        val (hit, clean) = fp.files.partition(f => refOf(f).isDefined)
        if (clean.nonEmpty) {
          out += FilePartition(i, clean)
          i += 1
        }
        hit.foreach { f =>
          out += new GraftLakeDvFilePartition(i, Array(f), refOf(f).get)
          i += 1
        }
      }
      out.result()
    }

  /** DV-applying reader factory over `base`'s own machinery. `base`
    * must be the scan whose partitions were [[isolate]]d — each DV
    * partition carries its SIDECAR REFERENCE and the task loads its
    * own positions, so the factory closure stays O(1) and the driver
    * never materializes positions, regardless of how many deletes are
    * pending. */
  def readerFactory(
      base: org.apache.spark.sql.execution.datasources.v2.parquet
        .ParquetScan): PartitionReaderFactory = {
    // Spark's reserved TEMPORARY name (what findRowIndexColumnIndexIn-
    // Schema matches); NULLABLE — the column is absent from every
    // file, and a required-but-missing column fails the reader's
    // existence check before the row-index generator ever runs
    val rowIdx = StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType,
      nullable = true)
    // aggregate pushdown answers from footer stats, which over-count
    // DV-deleted rows — the builder already refuses it on DV lakes;
    // the copy drops it defensively. Each factory gets its OWN hadoop
    // conf: createReaderFactory writes its requested schema into the
    // conf, and in local mode broadcasts hand back the same mutable
    // object — a shared conf lets the second build silently clobber
    // the first's schema.
    val withIdx = base.copy(
      hadoopConf = new org.apache.hadoop.conf.Configuration(
        base.hadoopConf),
      readDataSchema = StructType(base.readDataSchema.fields :+ rowIdx),
      pushedAggregate = None).createReaderFactory()
    val plain = base.copy(
      hadoopConf = new org.apache.hadoop.conf.Configuration(
        base.hadoopConf),
      pushedAggregate = None).createReaderFactory()
    new GraftLakeDvReaderFactory(plain, withIdx,
      base.readDataSchema.length,
      ((base.readDataSchema.fields :+ rowIdx) ++
        base.readPartitionSchema.fields).map(_.dataType),
      new SerializableConfiguration(base.hadoopConf))
  }
}

/** The sidecar REFERENCE for one DV-carrying file: which `_deletes`
  * part files hold its deleted positions, and their total count. This
  * — not the positions — is what planning materializes and tasks
  * receive: O(bytes of a few paths) per vectored file. */
private[graft] final case class GraftLakeDvRef(entry: String,
    file: String, parts: Seq[String], count: Long)

/** A [[FilePartition]] holding exactly one DV-carrying file and the
  * sidecar reference to that file's deleted positions — the task-side
  * unit of DV application (O(this file), never O(lake)). */
private[engine] final class GraftLakeDvFilePartition(index: Int,
    files: Array[PartitionedFile], val ref: GraftLakeDvRef)
  extends FilePartition(index, files)

/** See [[GraftLakeDvScan]]. `idxAt` is the row-index column's position
  * in the WITH-INDEX layout (data columns, then the index, then
  * partition values); `fullTypes` is that layout's types. */
private[engine] final class GraftLakeDvReaderFactory(
    plain: PartitionReaderFactory, withIdx: PartitionReaderFactory,
    idxAt: Int, fullTypes: Array[DataType],
    conf: SerializableConfiguration)
  extends PartitionReaderFactory {

  // Uniform across partitions (Spark's scan exec refuses mixed
  // row/columnar sets): columnar iff BOTH inner factories vectorize —
  // their answers depend only on schema/conf, so clean files keep
  // their vectorized read and DV files pay a zero-copy selection
  // view, not a row-wise downgrade of the whole snapshot.
  override def supportColumnarReads(p: InputPartition): Boolean =
    plain.supportColumnarReads(p) && withIdx.supportColumnarReads(p)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = p match {
    case d: GraftLakeDvFilePartition =>
      new GraftLakeDvColumnarReader(withIdx.createColumnarReader(d),
        GraftLakeDvScan.loadPositions(d.ref, conf.value), idxAt,
        fullTypes.length)
    case _ => plain.createColumnarReader(p)
  }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case d: GraftLakeDvFilePartition =>
      val positions = GraftLakeDvScan.loadPositions(d.ref, conf.value)
      val inner = withIdx.createReader(d)
      val keep = fullTypes.indices.filterNot(_ == idxAt)
      val strip = UnsafeProjection.create(keep.map(i =>
        BoundReference(i, fullTypes(i), nullable = true)).toArray
        : Array[org.apache.spark.sql.catalyst.expressions.Expression])
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = {
          while (inner.next()) {
            val row = inner.get()
            if (java.util.Arrays.binarySearch(positions,
                row.getLong(idxAt)) < 0) {
              cur = strip(row)
              return true
            }
          }
          false
        }
        override def get(): InternalRow = cur
        override def close(): Unit = inner.close()
      }
    case _ => plain.createReader(p)
  }
}

/** Columnar DV application: each inner batch's row-index column marks
  * the survivors; the emitted batch drops the index column and wraps
  * every remaining column in a zero-copy selection view. A batch with
  * no deleted rows passes the inner vectors through raw. */
private[engine] final class GraftLakeDvColumnarReader(
    inner: PartitionReader[ColumnarBatch], positions: Array[Long],
    idxAt: Int, nCols: Int) extends PartitionReader[ColumnarBatch] {

  private var out: ColumnarBatch = _

  override def next(): Boolean = {
    while (inner.next()) {
      val b = inner.get()
      val n = b.numRows()
      val idxCol = b.column(idxAt)
      val sel = new Array[Int](n)
      var k = 0
      var i = 0
      while (i < n) {
        if (java.util.Arrays.binarySearch(positions,
            idxCol.getLong(i)) < 0) {
          sel(k) = i
          k += 1
        }
        i += 1
      }
      if (k > 0) {
        val cols = new Array[ColumnVector](nCols - 1)
        var j = 0
        var o = 0
        while (j < nCols) {
          if (j != idxAt) {
            cols(o) =
              if (k == n) b.column(j)
              else new GraftLakeSelectedVector(b.column(j), sel)
            o += 1
          }
          j += 1
        }
        out = new ColumnarBatch(cols, k)
        return true
      }
    }
    false
  }

  override def get(): ColumnarBatch = out
  override def close(): Unit = inner.close()
}

/** Zero-copy selection view over a [[ColumnVector]]: ordinal `i` reads
  * the underlying vector's row `sel(i)`. The underlying vector stays
  * owned by the inner reader's batch — `close()` is a no-op. */
private[engine] final class GraftLakeSelectedVector(
    inner: ColumnVector, sel: Array[Int])
  extends ColumnVector(inner.dataType()) {
  override def close(): Unit = ()
  override def hasNull: Boolean = inner.hasNull
  override def numNulls: Int = {
    var c = 0
    var i = 0
    while (i < sel.length) {
      if (inner.isNullAt(sel(i))) c += 1
      i += 1
    }
    c
  }
  override def isNullAt(i: Int): Boolean = inner.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = inner.getBoolean(sel(i))
  override def getByte(i: Int): Byte = inner.getByte(sel(i))
  override def getShort(i: Int): Short = inner.getShort(sel(i))
  override def getInt(i: Int): Int = inner.getInt(sel(i))
  override def getLong(i: Int): Long = inner.getLong(sel(i))
  override def getFloat(i: Int): Float = inner.getFloat(sel(i))
  override def getDouble(i: Int): Double = inner.getDouble(sel(i))
  override def getArray(i: Int): ColumnarArray = inner.getArray(sel(i))
  override def getMap(i: Int): ColumnarMap = inner.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    inner.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String =
    inner.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(sel(i))
  // struct fields route through getChild(ordinal).getX(rowId) — the
  // child must remap through the SAME selection
  override def getChild(ordinal: Int): ColumnVector =
    new GraftLakeSelectedVector(inner.getChild(ordinal), sel)
}
