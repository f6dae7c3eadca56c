package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, StructField}
import graft.engine._

/** Regression for reference defect D1 (sparkle-v9.py:128-138): the
  * reference unioned the existing lake with each new batch and appended
  * the union, duplicating all pre-existing rows on every ingest. Our
  * writer appends only the new batch — row accounting must be exactly
  * additive across repeated ingests.
  *
  * The K1 lake is append-only; its in-place rewrites (compaction,
  * keyed upsert, Z-order) are versioned commits on a lake partitioned
  * the same way, and are checked here on that path. */
class LakeSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private val A = EegFixture.specA
  private val B = EegFixture.specB

  /** `dir` declared as a versioned lake partitioned by Year/Month/Day,
    * the K1 layout. */
  private def versionedK1(dir: String): String = {
    GraftLakePartitions.set(spark, dir, Lake.PartitionCols.map(c =>
      StructField(c, IntegerType)))
    dir
  }

  /** The live entries of the versioned lake at `dir`. */
  private def live(dir: String): Seq[String] =
    VersionedLake.manifestEntries(spark, dir, VersionedLake.tip(spark, dir).get)

  /** Keyed upsert of `batch` into the versioned lake at `dir`: one
    * copy-on-write SQL MERGE matching `id` per partition, null-safe,
    * through a catalog rooted at the lake's parent (a catalog keeps the
    * root it was first loaded with, so each root gets its own). */
  private def upsert(batch: DataFrame, dir: String): Unit = {
    val root = new java.io.File(dir).getParentFile
    val cat = "lakespec_" + root.getName.replaceAll("\\W", "_")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root.getPath)
    batch.createOrReplaceTempView("lakespec_batch")
    spark.sql(
      s"""MERGE INTO $cat.`${new java.io.File(dir).getName}` AS t
         |USING lakespec_batch AS b ON t.id = b.id AND t.Year <=> b.Year
         |  AND t.Month <=> b.Month AND t.Day <=> b.Day
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    ()
  }

  test("repeated ingestBatch is additive — no D1 union duplication") {
    val root = tempDir("lake-d1")
    val lake = s"$root/lake"

    def batch(specs: EegFileSpec*): Unit = {
      val in = s"$root/in"
      specs.foreach(EegFixture.write(in, _))
      Ingest.ingestBatch(spark, in, lake, s"$root/registry", s"$root/processed")
    }

    batch(A)
    assert(Lake.read(spark, lake).count() == A.nRows)

    batch(B)
    assert(Lake.read(spark, lake).count() == A.nRows + B.nRows)

    // Same content under a new file name — a third batch must add exactly
    // its own rows again (the D1 bug would re-append the whole lake).
    batch(A.copy(fileName = "PUH-2019-042_02.csv"))
    assert(Lake.read(spark, lake).count() == 2L * A.nRows + B.nRows)

    // Partition accounting: every partition count is a multiple of its
    // single-ingest count (A's partitions doubled, B's unchanged).
    val counts = Lake.partitionCounts(spark, lake).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(counts((2019, 7, 15)) == 2L * counts.getOrElse((2020, 3, 1), 0L) ||
      counts((2019, 7, 15)) % 2 == 0) // A rows ingested twice → even counts
    assert(counts.values.sum == 2L * A.nRows + B.nRows)
  }

  test("lake layout is Hive-partitioned Year=/Month=/Day= (K1)") {
    val root = tempDir("lake-layout")
    val lake = s"$root/lake"
    val in = s"$root/in"
    EegFixture.write(in, A)
    Ingest.ingestBatch(spark, in, lake, s"$root/registry", s"$root/processed")
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$lake/Year=2019/Month=7/Day=15")))
    // empty input dir → F4 guard: no-op, lake untouched
    val before = Lake.read(spark, lake).count()
    assert(Ingest.ingestBatch(spark, in, lake, s"$root/registry",
      s"$root/processed").isEmpty)
    assert(Lake.read(spark, lake).count() == before)
    // partition pruning survives the layout: a Day filter reads one partition
    val pruned = Lake.read(spark, lake)
      .filter(org.apache.spark.sql.functions.col("Day") === 15)
    assert(pruned.count() == counts20190715(lake))
  }

  private def counts20190715(lake: String): Long =
    Lake.read(spark, lake)
      .filter("Year = 2019 AND Month = 7 AND Day = 15").count()

  test("mergeAppend is idempotent on redelivery, additive on new keys") {
    import spark.implicits._
    val lake = s"${tempDir("lake-merge")}/lake"
    def batch(ids: Range) = ids.map(i =>
      (i.toLong, s"row_$i", 2019, 7, 15)).toDF("id", "payload", "Year", "Month", "Day")

    Lake.mergeAppend(batch(0 until 100), lake, "id")
    assert(Lake.read(spark, lake).count() == 100)
    // exact redelivery (Lambda-retry shape) → no-op
    Lake.mergeAppend(batch(0 until 100), lake, "id")
    assert(Lake.read(spark, lake).count() == 100)
    // overlapping batch → only the genuinely new keys land
    Lake.mergeAppend(batch(50 until 150), lake, "id")
    assert(Lake.read(spark, lake).count() == 150)
    assert(Lake.read(spark, lake).select("id").distinct.count() == 150)
    // a batch for an untouched partition must not scan/dedup against it:
    // same ids, different day → appends fully (key scope is per-partition)
    val otherDay = batch(0 until 10)
      .withColumn("Day", org.apache.spark.sql.functions.lit(16))
    Lake.mergeAppend(otherDay, lake, "id")
    assert(Lake.read(spark, lake).count() == 160)

    // Key scope is per (key, partition) even WITHIN one batch: a batch
    // spanning two days where the key already exists on Day 15 but not on
    // Day 17 must drop the Day-15 duplicate and land the Day-17 row — a
    // key-only anti-join would pool Day 15's keys and silently drop the
    // new Day-17 row too.
    val spanning = batch(0 until 5) // dup on Day 15
      .union(batch(0 until 5).withColumn("Day",
        org.apache.spark.sql.functions.lit(17))) // new on Day 17
    Lake.mergeAppend(spanning, lake, "id")
    assert(Lake.read(spark, lake).count() == 165)
    assert(Lake.read(spark, lake).filter("Day = 17").count() == 5)
    assert(Lake.read(spark, lake).filter("Day = 15")
      .groupBy("id").count().filter("count > 1").count() == 0)
  }

  test("compact collapses small files per partition, data-identical") {
    import spark.implicits._
    val lake = versionedK1(s"${tempDir("lake-compact")}/lake")
    // 8 small commits × 2 days: incremental-ingest fragmentation
    (0 until 8).foreach { b =>
      VersionedLake.commit((0 until 250).map(i =>
        (b * 1000L + i, s"p${b}_$i", 2024, 5, 1 + (i % 2)))
        .toDF("id", "payload", "Year", "Month", "Day"), lake)
    }
    def files(): Seq[String] = live(lake).flatMap(e =>
      new java.io.File(s"$lake/$e").list().toSeq.filter(_.endsWith(".parquet")))
    def snapshot() = VersionedLake.readLatest(spark, lake)
      .select("id", "payload", "Year", "Month", "Day")
      .collect().map(_.toSeq).toSet
    val before = snapshot()
    assert(files().size >= 16, s"fixture not fragmented: ${files().size}")

    assert(VersionedLake.compactSmall(spark, lake, Long.MaxValue).isDefined)
    // 8 entries per day coalesce into one entry of one file per day
    assert(live(lake).size == 2 && files().size == 2,
      s"still fragmented: ${live(lake)}, ${files().size} files")
    assert(snapshot() == before, "compaction changed data")
    // still a partitioned lake: pruning keeps working after the rewrite
    assert(VersionedLake.readLatest(spark, lake).filter("Day = 2").count()
      == 1000)
    // a compacted lake publishes nothing: repeated runs converge
    assert(VersionedLake.compactSmall(spark, lake, Long.MaxValue).isEmpty)
  }

  test("append codec option: snappy vs gzip file suffixes, identical read-back") {
    val root = tempDir("lake-codec")
    val in = s"$root/in"
    val path = EegFixture.write(in, A)
    val df = Ingest.ingestFile(spark, path)

    Lake.append(df, s"$root/lake_snappy") // default codec
    Lake.append(df, s"$root/lake_gzip", codec = "gzip")

    def parquetFiles(dir: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
        .toSeq
    }
    val snappyFiles = parquetFiles(s"$root/lake_snappy")
    val gzipFiles = parquetFiles(s"$root/lake_gzip")
    assert(snappyFiles.nonEmpty && snappyFiles.forall(_.endsWith(".snappy.parquet")))
    assert(gzipFiles.nonEmpty && gzipFiles.forall(_.endsWith(".gz.parquet")))

    // codec changes bytes, never data: identical rows and schema back
    def key(dir: String) = Lake.read(spark, dir)
      .select("Time", "ClockDateTime", "I1_1", "Year", "Month", "Day")
      .collect().map(_.toSeq).toSet
    assert(key(s"$root/lake_snappy") == key(s"$root/lake_gzip"))
    assert(Lake.read(spark, s"$root/lake_gzip").count() == A.nRows)
  }

  test("z-ordered layout clusters BOTH dimensions; single-column sort only one") {
    import spark.implicits._
    val root = tempDir("lake-zorder")
    // uniform 2-D grid, both dims in [0, 256)
    val data = (0 until 20000).map(i =>
      ((i * 7919) % 256, (i * 104729) % 256, i.toLong))
      .toDF("a", "b", "payload")

    def perFileRanges(df: DataFrame): Seq[(Long, Long)] = {
      import org.apache.spark.sql.functions.{input_file_name, max, min}
      df.groupBy(input_file_name())
        .agg((max("a") - min("a")).as("ra"), (max("b") - min("b")).as("rb"))
        .collect().map(r => (r.getInt(1).toLong, r.getInt(2).toLong)).toSeq
    }
    def avg(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size

    data.repartitionByRange(8, data("a")).sortWithinPartitions("a")
      .write.parquet(s"$root/by_a")
    val zorder = s"$root/zorder"
    VersionedLake.commit(data, zorder)
    VersionedLake.compactZOrder(spark, zorder, "a", "b", nFiles = 8, bits = 8)

    val byA = perFileRanges(spark.read.parquet(s"$root/by_a"))
    val z = perFileRanges(VersionedLake.readLatest(spark, zorder))
    // sort-by-a: a clusters (range ~32) but b stays full-width (~255)
    assert(avg(byA.map(_._1)) < 64, s"by_a a-ranges: $byA")
    assert(avg(byA.map(_._2)) > 200, s"by_a b-ranges: $byA")
    // z-order: BOTH dims collapse to sub-stripes
    assert(avg(z.map(_._1)) < 160, s"zorder a-ranges: $z")
    assert(avg(z.map(_._2)) < 160, s"zorder b-ranges: $z")
    // layout only — the data itself is unchanged
    assert(VersionedLake.readLatest(spark, zorder).agg(
      org.apache.spark.sql.functions.sum("payload")).head().getLong(0)
      == (0L until 20000L).sum)
    assert(VersionedLake.readLatest(spark, zorder).count() == 20000)
  }

  test("schema evolution: mergeSchema unions old and new file schemas, old rows null-filled") {
    import spark.implicits._
    val lake = s"${tempDir("lake-evolve")}/lake"
    Lake.append(Seq((1L, 10.0, 2024, 8, 1)).toDF("id", "v", "Year", "Month", "Day"), lake)
    // a new column appears in later ingests — old files stay as written
    Lake.append(Seq((2L, 20.0, "eu", 2024, 8, 2))
      .toDF("id", "v", "region", "Year", "Month", "Day"), lake)
    val merged = Lake.read(spark, lake, mergeSchema = true)
    assert(merged.columns.contains("region"))
    val byId = merged.select("id", "region").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(byId == Map(1L -> None, 2L -> Some("eu")))
    // the default read still works (first-file schema wins for data cols)
    assert(Lake.read(spark, lake).count() == 2)
  }

  test("upsert replaces matched keys, inserts new, leaves untouched partitions' files alone") {
    import spark.implicits._
    val lake = versionedK1(s"${tempDir("lake-upsert")}/lake")
    // no sidecars: the partition values alone must keep the MERGE off
    // the entries no batch row can reach
    VersionedLake.commit(Seq(
      (1L, 10.0, 2024, 7, 1), (2L, 20.0, 2024, 7, 1),
      (3L, 30.0, 2024, 7, 2))
      .toDF("id", "v", "Year", "Month", "Day"), lake)
    def day2Entries() = live(lake).filter(_.endsWith("/Day=2")).toSet
    val before = day2Entries()
    assert(before.size == 1)

    // batch touches ONLY day 1: update id 1, insert id 9
    upsert(Seq((1L, 11.0, 2024, 7, 1), (9L, 90.0, 2024, 7, 1))
      .toDF("id", "v", "Year", "Month", "Day"), lake)

    def rows() = VersionedLake.readLatest(spark, lake).select("id", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows() == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0, 9L -> 90.0))
    // the rewrite must not have replaced the untouched partition's entry
    assert(day2Entries() == before, "untouched partition was rewritten")

    // an EMPTY batch is a no-op: no row changes, nothing cached stays
    // behind
    val allBefore = rows()
    upsert(Seq.empty[(Long, Double, Int, Int, Int)]
      .toDF("id", "v", "Year", "Month", "Day"), lake)
    assert(rows() == allBefore)
    assert(day2Entries() == before)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("null partition values survive mergeAppend dedup, upsert, and compact") {
    // null Year/Month/Day lands under __HIVE_DEFAULT_PARTITION__; ===
    // never matches null, so without null-safe predicates this slice is
    // silently DUPLICATED by mergeAppend redelivery, and an upsert or a
    // compaction that matched partitions with === would lose its rows.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val root = tempDir("lake-nullpart")
    val lake = s"$root/lake"
    val none = Option.empty[Int]
    // mixed lake: a real partition plus null-partition rows (an all-null
    // lake is unreadable anyway — partition inference yields VOID)
    val batch = Seq(
      (1L, 10.0, Some(2024), Some(7), Some(1)),
      (2L, 20.0, none, none, none),
      (3L, 30.0, none, none, none))
      .toDF("id", "v", "Year", "Month", "Day")
    Lake.mergeAppend(batch, lake, "id")
    Lake.mergeAppend(batch, lake, "id") // redelivery must be a no-op
    assert(Lake.read(spark, lake).count() == 3)
    // the rewrites, on the versioned K1 lake: two commits leave the null
    // partition with two entries
    val vlake = versionedK1(s"$root/vlake")
    VersionedLake.commit(batch, vlake)
    VersionedLake.commit(Seq((4L, 40.0, none, none, none))
      .toDF("id", "v", "Year", "Month", "Day"), vlake)
    def rows() = VersionedLake.readLatest(spark, vlake).select("id", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val committed = Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0)
    assert(VersionedLake.compactSmall(spark, vlake, Long.MaxValue).isDefined,
      "the null partition's entries did not coalesce")
    assert(rows() == committed, "compact lost the null partition")
    // upsert: update id 2, keep ids 3 and 4 as survivors of the null
    // partition; the real partition's entry is not rewritten
    val realEntry = live(vlake).filter(_.endsWith("/Day=1")).toSet
    upsert(batch.filter(col("id") === 2).withColumn("v", lit(22.0)), vlake)
    assert(rows() == committed + (2L -> 22.0), "upsert lost a null-partition row")
    assert(VersionedLake.readLatest(spark, vlake).count() == 4,
      "upsert duplicated a null-partition row")
    assert(live(vlake).filter(_.endsWith("/Day=1")).toSet == realEntry)
  }

  test("compact preserves schema-evolved columns (merged read, not one footer)") {
    import spark.implicits._
    val lake = versionedK1(s"${tempDir("lake-evolve-compact")}/lake")
    VersionedLake.commit(Seq((1L, 10.0, 2024, 7, 1))
      .toDF("id", "v", "Year", "Month", "Day"), lake)
    VersionedLake.commit(Seq((2L, 20.0, "new", 2024, 7, 1))
      .toDF("id", "v", "w", "Year", "Month", "Day"), lake)
    assert(VersionedLake.compactSmall(spark, lake, Long.MaxValue).isDefined)
    assert(live(lake).size == 1)
    val rows = VersionedLake.readLatest(spark, lake)
      .select("id", "w").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows == Map(1L -> None, 2L -> Some("new")),
      "compaction dropped an evolved column")
  }

  test("one way to rewrite a lake: main code holds no directory-swap " +
      "rewrite, and Lake renames nothing") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val gone = (Seq("recoverCrashedSwap", "_swap_owner", "_compacting",
      "_old\"", "writeZordered", "mutateOrRestage")
      .map(java.util.regex.Pattern.quote) :+
      """\bLake\.(compact|upsert)\b""").map(_.r)
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).foreach { p =>
        Files.readAllLines(p).asScala.zipWithIndex.foreach { case (l, i) =>
          gone.foreach(g =>
            assert(g.findFirstIn(l).isEmpty, s"$p:${i + 1}: $l"))
        }
      }
    val lake = Files.readString(root.resolve("graft/engine/Lake.scala"))
    assert(!lake.contains("rename("), "Lake.scala renames a path")
  }
}
