package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The partitioned Parquet lake (K1): Hive-layout `Year=/Month=/Day=`
  * directories, append-mode writes.
  *
  * The reference's writer (sparkle-v9.py:128-138) read the WHOLE existing
  * lake, unioned the new batch, and wrote the union with mode=append —
  * defect D1: every ingest re-appends all pre-existing rows, and the write
  * itself is O(lake) instead of O(batch). This writer appends only the new
  * batch; the partitioned layout is identical, without the quadratic blowup.
  * The D1 regression test (LakeSpec) asserts row accounting across repeated
  * appends, and q31's DuckDB oracle re-derives expected per-partition
  * counts from the raw CSVs.
  *
  * At 100 TB: `partitionBy` splits output files by partition value with no
  * shuffle; queries over the lake get partition pruning for free from the
  * directory layout (Catalyst PruneFileSourcePartitions — the same design
  * the reference relied on Athena for, reference README.md:29-31).
  */
object Lake {

  val PartitionCols: Seq[String] = Seq("Year", "Month", "Day")

  /** K1: append the new batch only (no read-modify-write of the lake).
    *
    * `codec` is the explicit storage-cost lever the reference called out
    * (gzip ≈ 2× smaller than snappy at ≈ 2-3× the write CPU, reference
    * README.md:25-27): snappy (default) for hot, frequently-queried
    * partitions; gzip for cold archives. Parquet tolerates mixed codecs
    * per file, so the choice can change batch-to-batch without rewriting
    * the lake. */
  def append(df: DataFrame, dir: String, codec: String = "snappy"): Unit = {
    // a writer arriving after a crashed compact swap must restore the
    // aside copy FIRST, or the old data would be stranded under _old
    // while new batches build a parallel lake at the live name
    recoverCrashedSwap(df.sparkSession, dir)
    writeAppend(df, dir, codec)
  }

  /** The append proper, for internal callers that already recovered —
    * a second recover probe per operation is wasted fs RPCs on an
    * object store. */
  private def writeAppend(df: DataFrame, dir: String, codec: String): Unit =
    df.write.option("compression", codec)
      .partitionBy(PartitionCols: _*).mode("append").parquet(dir)

  /** Disjunction of the batch's distinct partition tuples — null-SAFE:
    * `===` against a null partition value evaluates to NULL, which made
    * every caller silently skip the `__HIVE_DEFAULT_PARTITION__` slice
    * (dedup misses → duplication in [[mergeAppend]]; missing survivors →
    * data loss in [[upsert]]). Driver-bounded: a drop touches few
    * partitions. */
  private def touchedPredicate(batch: DataFrame): Column =
    batch.select(PartitionCols.map(col): _*).distinct.collect()
      .map(r => PartitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _))
      .reduceOption(_ || _).getOrElse(lit(false))

  /** Null-safe (key, Year, Month, Day) equi-condition between two aliased
    * frames — using-column joins compare with `===`, which never matches
    * a null partition value. */
  private def keyPartitionMatch(l: String, r: String, keyCol: String): Column =
    (keyCol +: PartitionCols)
      .map(c => col(s"$l.`$c`") <=> col(s"$r.`$c`"))
      .reduce(_ && _)

  /** Idempotent merge-append: append only batch rows whose `keyCol` is not
    * already present in the lake partitions the batch touches — making
    * re-delivery of the same drop a no-op instead of a duplication (the
    * reference's event-driven loop redelivers on Lambda retry,
    * emr-no-vpc.py:18-189; its writer would duplicate, defect D1 family).
    *
    * Scale shape: the batch's distinct (Year, Month, Day) set is collected
    * (driver-bounded — a drop touches few partitions), the existing-key
    * scan is restricted to exactly those partitions (partition pruning cuts
    * it from O(lake) to O(touched partitions)), and the dedup is a
    * left-anti join on (key, Year, Month, Day) — key scope is PER
    * PARTITION, so a multi-partition batch dedups each row only against
    * its own partition's keys, never against keys that happen to exist in
    * a sibling partition the same batch touches. Broadcastable when the
    * touched partitions are small, shuffle otherwise; never a
    * read-modify-write of the lake.
    */
  def mergeAppend(df: DataFrame, dir: String, keyCol: String,
      codec: String = "snappy"): Unit = {
    val spark = df.sparkSession
    recoverCrashedSwap(spark, dir) // before the exists-check, so a
    // crashed-swap lake dedups against its restored keys instead of
    // being mistaken for a fresh one
    val fresh =
      if (!exists(spark, dir)) df
      else {
        val existingKeys = readRaw(spark, dir)
          .filter(touchedPredicate(df))
          .select((keyCol +: PartitionCols).map(col): _*).distinct
          .alias("ex")
        df.alias("b")
          .join(existingKeys, keyPartitionMatch("b", "ex", keyCol), "left_anti")
      }
    writeAppend(fresh, dir, codec)
  }

  /** Keyed upsert (MERGE semantics): batch rows REPLACE existing rows
    * with the same (key, partition) and insert otherwise — the mutable
    * counterpart of [[mergeAppend]] (which drops re-deliveries instead
    * of applying them). Same partition-pruned scale shape: only the
    * partitions the batch touches are read (anti-join keeps their
    * unmatched survivors) and only those partitions are rewritten, via
    * DYNAMIC partition overwrite — untouched partitions are never read
    * or written. The replacement slice is eagerly localCheckpoint'ed
    * before the write because it is derived from the very files the
    * overwrite replaces (Spark otherwise refuses the self-referential
    * write; a production lakehouse does the same thing with snapshot
    * isolation instead of materialization). Key scope is per partition,
    * like mergeAppend: a row "moves" partitions only as delete+insert
    * issued by the caller. */
  def upsert(batch: DataFrame, dir: String, keyCol: String,
      codec: String = "snappy"): Unit = {
    val spark = batch.sparkSession
    recoverCrashedSwap(spark, dir)
    if (!exists(spark, dir)) writeAppend(batch, dir, codec)
    else {
      val batchKeys = batch
        .select((keyCol +: PartitionCols).map(col): _*).distinct.alias("bk")
      // mergeSchema: survivors must carry EVERY column any lake file has —
      // a single sampled footer would make the rewrite's schema (hence
      // which evolved columns survive) depend on file listing order
      val survivors = readRaw(spark, dir, mergeSchema = true)
        .filter(touchedPredicate(batch))
        .alias("sv")
        .join(batchKeys, keyPartitionMatch("sv", "bk", keyCol), "left_anti")
      // allowMissingColumns: an old-schema batch upserting into an
      // evolved lake (or vice versa) null-fills the absent side, the
      // same semantics the schema-evolution read gives old files
      val replacement = survivors.unionByName(batch, allowMissingColumns = true)
        .localCheckpoint(true)
      // the checkpoint exists only to carry the slice across the
      // self-referential overwrite — release its blocks as soon as the
      // write lands (or fails); nothing reads the frame afterwards
      try replacement.write
        .option("compression", codec)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PartitionCols: _*).mode("overwrite").parquet(dir)
      finally Caching.unpersistCheckpoint(replacement)
    }
  }

  /** Bucketed catalog table (K1 variant): hash-bucket rows by `bucketCol`
    * into `nBuckets` pre-sorted files per bucket. A join or aggregation
    * keyed on the bucket column then reads co-located buckets and plans
    * ZERO Exchange for that key (enforced in PlanAuditSpec) — the write
    * pays the shuffle once so every subsequent join/agg on the key pays
    * none. At 100 TB this is the lever for a fact table joined
    * repeatedly on the same key (orders⋈customer on custkey): bucket
    * both sides with the SAME bucket count and the nightly join moves no
    * data across the cluster. Bucket count is a cluster-sizing choice
    * (≈ total size / target partition size), NOT data-derived. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // the in-memory catalog forgets tables across JVMs but the warehouse
    // directory persists — clear a stale location or the create fails
    // with LOCATION_ALREADY_EXISTS. The catalog lowercases table names
    // for the location, so the delete must too.
    delete(spark, spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:") + s"/${table.toLowerCase(java.util.Locale.ROOT)}")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)
  }

  /** A crash between [[compact]]'s two renames leaves the ONLY complete
    * copy of the lake at `<dir>_old` and nothing at `<dir>`; without
    * recovery every later read fails with a bare path-not-found and no
    * hint the data still exists. Both [[read]] and [[compact]] detect
    * exactly that shape — `_old` present, live dir absent — and rename
    * the copy back before proceeding. (If BOTH exist, a compact swap
    * completed and `_old` is just an un-deleted leftover; compact
    * removes it before starting its own swap.) */
  private def recoverCrashedSwap(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val old = new Path(s"${dir}_old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) && fs.exists(old)) {
      // (live absent, _old present) is ALSO what a healthy in-flight
      // compact swap looks like between its two renames — resurrecting
      // _old then would break the swap's second rename (or nest the
      // rewrite INSIDE the live dir under HDFS rename semantics). The
      // marker names the swapping PID: if it is alive, wait for the
      // swap to finish instead of recovering.
      val owner = swapOwner(fs, dir)
      def ownerAlive: Boolean = owner.exists(pid =>
        pid != ProcessHandle.current().pid() &&
          ProcessHandle.of(pid).map[Boolean](_.isAlive).orElse(false))
      // A swap has no bounded duration (a large lake's rename window, a
      // GC pause), only a bounded owner lifetime — so wait while the
      // owner STAYS ALIVE, re-probing liveness each tick. The loop ends
      // either because the swap completed (live dir back) or because
      // the owner died mid-swap — and a dead owner with `_old` present
      // IS the crashed state this function exists to repair, so fall
      // through to the recovery rename rather than failing the reader.
      // The absolute deadline is a BACKSTOP, not the expected exit:
      // compact rolls a failed swap back and clears its marker, so a
      // live owner in this state should be mid-rename — the deadline
      // only fires on pathologies liveness can't see (the owner's pid
      // reused by an unrelated long-lived process, a hung owner), and
      // then fails loudly like the pre-round-10 fixed wait did.
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!fs.exists(p) && ownerAlive && System.nanoTime() < deadline)
        Thread.sleep(50)
      require(fs.exists(p) || !ownerAlive,
        s"lake $dir: swap owner PID ${owner.get} still alive after 120 s " +
          "with the lake missing — hung owner or reused pid; refusing to " +
          "recover mid-swap")
      if (!fs.exists(p)) {
        val renamed = fs.rename(old, p)
        // check-then-act race: a concurrent reader may have completed the
        // SAME recovery between our probe and the rename — then our rename
        // reports failure but the lake is healthy. Only abort when the
        // live dir is truly still absent.
        require(renamed || fs.exists(p),
          s"lake recovery: could not restore $dir from crashed-compact copy $old")
        fs.delete(swapMarker(dir), false) // stale marker from the dead owner
        ()
      }
    }
  }

  /** S5: scan the lake (partition columns come back from the layout).
    *
    * `mergeSchema = true` is the schema-evolution read: files written
    * before a column existed coexist with files written after — the
    * merged schema is the union and old rows surface NULL for the new
    * column (asserted in LakeSpec). Off by default because schema merge
    * reads every file's footer at planning time — at 100 TB turn it on
    * only for lakes that actually evolve, or pin the merged schema
    * explicitly once known. */
  def read(spark: SparkSession, dir: String,
      mergeSchema: Boolean = false): DataFrame = {
    recoverCrashedSwap(spark, dir)
    readRaw(spark, dir, mergeSchema)
  }

  /** The scan proper, for internal callers that already recovered. */
  private def readRaw(spark: SparkSession, dir: String,
      mergeSchema: Boolean = false): DataFrame =
    if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(dir)
    else spark.read.parquet(dir)

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Small-file compaction: rewrite the lake so each (Year, Month, Day)
    * partition holds ≈ `ceil(rows / targetRowsPerFile)` files instead of
    * one file per historical append — the operational fix for the
    * many-small-appends fragmentation that incremental ingest
    * ([[append]]/[[mergeAppend]]/streaming micro-batches) accumulates.
    * At 100 TB fragmentation is a first-order cost: scan planning,
    * footer reads, and task scheduling all scale with FILE count, not
    * byte count.
    *
    * Shape: per-partition row counts (one partial-agg scan) size each
    * partition's target file count; every row gets a salt in
    * [0, files_p) and the rewrite repartitions on (partition cols, salt)
    * — one shuffle sized by the data, each reducer writes whole output
    * files, no driver-side per-partition loop. The salt is a CONTENT
    * hash ([[Skew.contentHash]]), not a positional id: the rewrite's
    * contract is "never a data change", and a positional salt re-derived
    * differently by a retried task after the join shuffle could dup or
    * drop rows (SPARK-23207 class). Byte-identical duplicate rows share
    * a file — a layout skew, never a data change.
    *
    * The rewrite lands in a sibling `_compacting` directory and swaps in
    * via rename-aside: live dir → `_old`, rewrite → live, then delete
    * `_old`. At every instant one complete copy of the data exists under
    * a well-known name — a crash between the renames leaves the lake
    * recoverable from `<dir>_old` (unlike delete-then-rename, which has
    * a window with NO live copy). A production deployment would swap
    * per-partition to narrow the reader-visible window, same plan per
    * partition. Data is byte-identical in content (asserted in
    * LakeSpec), only the file layout changes. */
  def compact(spark: SparkSession, dir: String,
      targetRowsPerFile: Long = 4000000L, codec: String = "snappy"): Unit = {
    recoverCrashedSwap(spark, dir)
    // mergeSchema: compaction is "never a data change" — reading a single
    // sampled footer from an evolved lake would silently DROP an evolved
    // column from the rewrite (and the swap then deletes the only copy)
    val df = readRaw(spark, dir, mergeSchema = true)
    val sizes = df.groupBy(PartitionCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .withColumn("_files",
        greatest(lit(1), ceil(col("_n") / targetRowsPerFile)).cast("int"))
      .drop("_n")
      .alias("sz")
    // null-safe join: === would drop every __HIVE_DEFAULT_PARTITION__ row
    // from the rewrite — permanent data loss after the swap
    val salted = df.alias("d")
      .join(broadcast(sizes),
        PartitionCols.map(c => col(s"d.`$c`") <=> col(s"sz.`$c`"))
          .reduce(_ && _))
      .select(df.columns.map(c => col(s"d.`$c`")).toIndexedSeq :+
        col("sz.`_files`"): _*)
      .withColumn("_salt", pmod(Skew.contentHash(df), col("_files")))
    val tmp = s"${dir}_compacting"
    delete(spark, tmp)
    salted.repartition((PartitionCols :+ "_salt").map(col): _*)
      .drop("_salt", "_files")
      .write.option("compression", codec)
      .partitionBy(PartitionCols: _*).parquet(tmp)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(s"${dir}_old")
    if (fs.exists(old)) fs.delete(old, true)
    // publish the swap's liveness marker BEFORE the live dir disappears:
    // a concurrent reader seeing (live absent, _old present) consults it
    // to distinguish "crashed long ago — recover" from "swap in flight —
    // wait", instead of resurrecting _old mid-swap and breaking the
    // second rename
    writeSwapMarker(fs, dir)
    if (!fs.rename(p, old)) {
      fs.delete(swapMarker(dir), false) // no swap started — retract the claim
      throw new IllegalStateException(s"compact: could not move $dir aside")
    }
    if (!fs.rename(new Path(tmp), p)) {
      // ROLL BACK, don't just throw: if this process catches the failure
      // and lives on (a bench loop, a service), leaving (live absent,
      // _old present) would park every concurrent reader in
      // recoverCrashedSwap's owner-liveness wait for our whole lifetime.
      // Restore the aside copy and clear the marker so readers proceed.
      val restored = fs.rename(old, p)
      fs.delete(swapMarker(dir), false)
      require(restored,
        s"compact: swap AND rollback failed; original lake preserved at $old")
      throw new IllegalStateException(
        s"compact: swap failed; lake $dir restored, rewrite left at $tmp")
    }
    fs.delete(old, true)
    fs.delete(swapMarker(dir), false)
    ()
  }

  private def swapMarker(dir: String): Path = new Path(s"${dir}_swap_owner")

  private def writeSwapMarker(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    val out = fs.create(swapMarker(dir), true)
    try out.write(ProcessHandle.current().pid().toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** PID in the swap marker, if present and parseable. */
  private def swapOwner(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[Long] =
    if (!fs.exists(swapMarker(dir))) None
    else {
      val in = fs.open(swapMarker(dir))
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        .trim.toLongOption
      finally in.close()
    }

  /** Morton (Z-order) interleave of two non-negative dimension columns,
    * `bits` bits each: bit i of `a` lands at z-bit 2i, bit i of `b` at
    * 2i+1. Pure shift/mask arithmetic — codegen'd, no UDF. Callers map
    * their domains into [0, 2^bits) first (hash, pmod, or quantile
    * bucketing for skewed/unbounded domains — the production approach). */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftright(a.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }

  /** Z-ordered rewrite: range-partition and sort by the Morton value so
    * each output file covers a small RECTANGLE in (a, b) space rather
    * than a stripe in one dimension. Parquet keeps per-row-group min/max
    * for both columns, so predicates on EITHER dimension (or both) skip
    * most files — the multi-column pruning a single-column sort can't
    * give (sorting by `a` clusters `a` perfectly and leaves `b` ranges
    * as wide as the data). This is the layout lever for the second and
    * third most-filtered columns after directory partitioning is spent
    * on the first; data is unchanged (q89's oracle re-aggregates it),
    * only file-level locality moves — measured in LakeSpec as per-file
    * min/max range collapse on BOTH dimensions vs a round-robin write. */
  def writeZordered(df: DataFrame, dir: String, aCol: String, bCol: String,
      nFiles: Int, bits: Int = 16): Unit =
    df.withColumn("_z", zValue(col(aCol), col(bCol), bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(dir)

  /** Recursive delete — test/fixture hygiene only, never on the hot path. */
  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Row accounting per partition — the D1 audit query. */
  def partitionCounts(spark: SparkSession, dir: String): DataFrame = {
    val df = read(spark, dir)
      .groupBy(col("Year"), col("Month"), col("Day"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("Year"), col("Month"), col("Day"))
    // Accounting reads every partition by design, so the pruning guard
    // doesn't apply — but it must stay O(metadata): count-by-partition
    // reads ZERO data columns when column pruning holds. Enforced at
    // build time, every production call.
    ScanGuard.requireNarrow(df, dir, maxDataCols = 0)
    df
  }

  /** Guarded production probe over a partitioned lake: build the query
    * with `build`, then enforce the reference's no-full-scan policy
    * (README.md:29-31) on the physical plan before handing it back —
    * a probe without a partition window throws at BUILD time instead of
    * scanning 100 TB. Plan-metadata check only; nothing executes here. */
  def probe(spark: SparkSession, dir: String)(
      build: DataFrame => DataFrame): DataFrame = {
    val df = build(read(spark, dir))
    ScanGuard.requirePruned(df, dir)
    df
  }
}
