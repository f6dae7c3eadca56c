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
  * This lake is append-only. Every in-place rewrite — compaction,
  * keyed upsert, Z-order — is a versioned commit on a
  * [[VersionedLake]] (`compactSmall`, SQL `MERGE INTO`,
  * `compactZOrder`): its manifest CAS publishes version N+1 or leaves
  * N, where a directory swap has a window with no live copy (and on an
  * object store a rename is a copy plus a delete).
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
  def append(df: DataFrame, dir: String, codec: String = "snappy"): Unit =
    df.write.option("compression", codec)
      .partitionBy(PartitionCols: _*).mode("append").parquet(dir)

  /** Disjunction of the batch's distinct partition tuples — null-SAFE:
    * `===` against a null partition value evaluates to NULL, which made
    * every caller silently skip the `__HIVE_DEFAULT_PARTITION__` slice
    * (dedup misses → duplication in [[mergeAppend]]). Driver-bounded: a
    * drop touches few partitions. */
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
    val fresh =
      if (!exists(spark, dir)) df
      else {
        val existingKeys = read(spark, dir)
          .filter(touchedPredicate(df))
          .select((keyCol +: PartitionCols).map(col): _*).distinct
          .alias("ex")
        df.alias("b")
          .join(existingKeys, keyPartitionMatch("b", "ex", keyCol), "left_anti")
      }
    append(fresh, dir, codec)
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
      mergeSchema: Boolean = false): DataFrame =
    if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(dir)
    else spark.read.parquet(dir)

  def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
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

  /** Recursive delete — test/fixture hygiene only, never on the hot path. */
  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Row accounting per partition — the D1 audit query. */
  def partitionCounts(spark: SparkSession, dir: String): DataFrame =
    partitionCounts(read(spark, dir), dir)

  /** [[partitionCounts]] over `lake`, a read of the lake at `dir` — the
    * same audit over a versioned lake's snapshot. */
  def partitionCounts(lake: DataFrame, dir: String): DataFrame = {
    val df = lake
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
