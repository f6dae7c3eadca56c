package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.engine._

/** `writeStream.format("graftlake")` — version-per-batch commits,
  * checkpoint-restart exactly-once, epoch-replay no-op at the
  * StreamingWrite protocol level, Complete-mode overwrites, and stats
  * sidecars on streamed commits. */
class GraftLakeStreamingWriteSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private def drain(src: org.apache.spark.sql.DataFrame, lake: String,
      ck: String, outputMode: String = "append"): Unit = {
    val q = src.writeStream.format("graftlake")
      .outputMode(outputMode)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start(lake)
    q.awaitTermination()
  }

  test("writeStream commits one version per micro-batch, restart from " +
      "checkpoint is exactly-once, and new input appends only itself") {
    import spark.implicits._
    val root = tempDir("glsw-basic")
    val lake = s"$root/lake"
    def addInput(from: Long, until: Long): Unit =
      spark.range(from, until).selectExpr("id", "id * 1.5D AS v")
        .coalesce(1).write.mode("append").parquet(s"$root/in")
    // the lake is created by its first commit (the library convention —
    // SQL/stream writers append to an EXISTING lake): an empty
    // schema-bearing commit is the CREATE TABLE analogue
    VersionedLake.commit(
      spark.range(0, 0).selectExpr("id", "id * 1.5D AS v")
        .repartition(1), lake)
    def src = spark.readStream.schema("id LONG, v DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in")

    addInput(0, 100)
    addInput(100, 200)
    drain(src, lake, s"$root/ck")
    // bootstrap + one version per micro-batch (2 files → 2 batches)
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2, 3))
    val all = spark.read.format("graftlake").load(lake)
    assert(all.count() == 200)
    assert(all.agg(sum("id")).head().getLong(0) == (0L until 200L).sum)

    // restart, no new input: checkpoint makes it a no-op — no versions
    drain(src, lake, s"$root/ck")
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2, 3))
    assert(spark.read.format("graftlake").load(lake).count() == 200)

    // restart with one NEW file: exactly its rows, exactly one version
    addInput(200, 250)
    drain(src, lake, s"$root/ck")
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2, 3, 4))
    val after = spark.read.format("graftlake").load(lake)
    assert(after.count() == 250)
    assert(after.agg(sum("id")).head().getLong(0) == (0L until 250L).sum)

    // streamed commits carry stats sidecars like every DML commit: a
    // range probe through the V2 read path skips non-matching files
    val probe = spark.read.format("graftlake").load(lake)
      .filter(col("id") >= 220L)
    val total = VersionedLake.readLatest(spark, lake).inputFiles.length
    assert(total >= 3)
    assert(GraftLakeDataSource.filesRead(probe) < total,
      "streamed commits must be range-skippable from their sidecars")
    assert(probe.count() == 30)
  }

  test("a replayed epoch (same queryId+epochId) is a no-op: no second " +
      "version, the re-staged file is discarded") {
    import spark.implicits._
    val root = tempDir("glsw-replay")
    val lake = s"$root/lake"
    val df = spark.range(0, 10).selectExpr("id", "id * 2 AS w")
    VersionedLake.commit(df.limit(0).repartition(1), lake)
    val sw = new GraftLakeStreamingWrite(
      VersionedLake.resolveTip(spark, lake), df.schema,
      queryId = "11111111-2222-3333-4444-555555555555", mode = "append",
      options = Map.empty)
    val factory = sw.createStreamingWriterFactory(
      new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
    def stageEpoch(epoch: Long) = {
      val w = factory.createWriter(0, epoch * 100 + 1, epoch)
      df.queryExecution.toRdd.map(_.copy()).collect().foreach(w.write)
      val m = w.commit(); w.close(); m
    }
    sw.commit(7, Array(stageEpoch(7)))
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2))
    assert(VersionedLake.readLatest(spark, lake).count() == 10)

    // the crash-after-publish shape: the engine re-runs epoch 7's tasks
    // and re-commits — the lake must not mint a version or keep bytes
    val replayed = stageEpoch(7)
    sw.commit(7, Array(replayed))
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2))
    assert(VersionedLake.readLatest(spark, lake).count() == 10)
    val staged = new org.apache.hadoop.fs.Path(
      replayed.asInstanceOf[graft.engine.GraftLakeFileMessage].path)
    val f = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(staged), "replayed epoch must discard its staging")

    // a NEW epoch still commits
    sw.commit(8, Array(stageEpoch(8)))
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2, 3))
    assert(VersionedLake.readLatest(spark, lake).count() == 20)
  }

  test("Complete output mode publishes each batch as a manifest-level " +
      "overwrite; history stays time-travelable") {
    import spark.implicits._
    val root = tempDir("glsw-complete")
    val lake = s"$root/lake"
    spark.range(0, 10).selectExpr("id % 3 AS k", "id AS x")
      .coalesce(1).write.parquet(s"$root/in/f0")
    spark.range(10, 40).selectExpr("id % 3 AS k", "id AS x")
      .coalesce(1).write.parquet(s"$root/in/f1")
    VersionedLake.commit(
      spark.range(0, 0).selectExpr("id AS k", "id AS n")
        .repartition(1), lake)
    val src = spark.readStream.schema("k LONG, x LONG")
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in/*")
      .groupBy("k").agg(count(lit(1)).as("n"))
    drain(src, lake, s"$root/ck", outputMode = "complete")
    val vs = VersionedLake.versions(spark, lake)
    assert(vs == Seq(1, 2, 3))
    def counts(v: Int) = VersionedLake.readAt(spark, lake, v)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the tip is the full aggregate; the intermediate version is the
    // after-first-file aggregate — an append-mode sink would have
    // accumulated both
    assert(counts(3) == Map(0L -> 14L, 1L -> 13L, 2L -> 13L))
    assert(counts(2).values.sum == 10L)
  }

  test("writeStream into a PARTITIONED lake: one manifest entry per " +
      "(epoch, partition leaf), checkpoint-restart exactly-once, " +
      "partition-pruned reads of the streamed data") {
    val root = tempDir("glsw-part")
    val cat = "glswp"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE, m INT) " +
      "PARTITIONED BY (m)")
    val lake = s"$root/t"
    def addInput(from: Long, until: Long): Unit =
      spark.range(from, until)
        .selectExpr("id", "id * 1.5D AS v", "CAST(id % 2 AS INT) AS m")
        .coalesce(1).write.mode("append").parquet(s"$root/in")
    def src = spark.readStream.schema("id LONG, v DOUBLE, m INT")
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in")

    addInput(0, 100)
    addInput(100, 200)
    drain(src, lake, s"$root/ck")
    // CREATE's seed + one version per micro-batch
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2, 3))
    // each streamed version carries one entry PER PARTITION LEAF under
    // its own epoch-tagged data dir — streamed data is partition-
    // governed exactly like batch INSERTs
    val entries = VersionedLake.manifestEntries(spark, lake, 3)
      .filter(_.startsWith("d-sw-"))
    assert(entries.nonEmpty && entries.forall(_.matches(".*/m=[01]$")),
      s"streamed entries must be partition leaves: $entries")
    assert(entries.map(_.split('/')(0)).distinct.length == 2,
      s"two epochs must land as two data dirs: $entries")
    val t = spark.table(s"$cat.t")
    assert(t.count() == 200)
    assert(t.filter(col("m") === 1).count() == 100)
    assert(t.agg(sum("id")).head().getLong(0) == (0L until 200L).sum)
    // partition filter prunes streamed commits at PLAN time
    val probe = spark.table(s"$cat.t").filter(col("m") === 1)
    val scanned = GraftLakeDataSource.filesReadPaths(probe)
      .filter(_.contains("/m="))
    assert(scanned.nonEmpty && scanned.forall(_.contains("/m=1")),
      s"partition filter must prune streamed entries, read: $scanned")
    // restart on the same checkpoint: exactly-once, nothing re-lands
    drain(src, lake, s"$root/ck")
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2, 3))
    assert(spark.table(s"$cat.t").count() == 200)
    // new input appends exactly itself, partitioned
    addInput(200, 250)
    drain(src, lake, s"$root/ck")
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2, 3, 4))
    val after = spark.table(s"$cat.t")
    assert(after.count() == 250)
    assert(after.agg(sum("id")).head().getLong(0) == (0L until 250L).sum)
    // streamed leaves carry stats sidecars: a data-column range probe
    // WITHIN one partition still file-skips
    val narrow = spark.table(s"$cat.t")
      .filter(col("m") === 0 && col("id") >= 240L)
    val m0Total = GraftLakeDataSource.filesRead(
      spark.table(s"$cat.t").filter(col("m") === 0))
    assert(GraftLakeDataSource.filesRead(narrow) < m0Total,
      "streamed partition leaves must be range-skippable")
    assert(narrow.count() == 5)
    // a whole-partition DELETE of streamed data stays manifest-only
    val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def topDirs = f.listStatus(new org.apache.hadoop.fs.Path(lake))
      .toSeq.map(_.getPath.getName).filter(_.startsWith("d-")).toSet
    val dirsBefore = topDirs
    spark.sql(s"DELETE FROM $cat.t WHERE m = 0")
    assert(topDirs == dirsBefore,
      "partition delete of streamed entries must write no data dir")
    assert(spark.table(s"$cat.t").count() == 125)
  }

  test("the partitioned WRITE stream survives interleaved maintenance " +
      "on the same table: OPTIMIZE between drains, a partition " +
      "retention DELETE, and z-order — the checkpoint stays " +
      "exactly-once and every row reads back exactly once") {
    val root = tempDir("glsw-maint")
    val cat = "glswmt"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE, day INT) " +
      "PARTITIONED BY (day)")
    val lake = s"$root/t"
    def addInput(from: Long, until: Long): Unit =
      spark.range(from, until)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v", "CAST(id % 3 AS INT) AS day")
        .coalesce(1).write.mode("append").parquet(s"$root/in")
    def src = spark.readStream.schema("id LONG, v DOUBLE, day INT")
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
    // two epochs in, then partition-wise OPTIMIZE
    addInput(0, 300); addInput(300, 600)
    drain(src, lake, s"$root/ck")
    val v1 = VersionedLake.compactSmall(spark, lake, Long.MaxValue)
    assert(v1.nonEmpty)
    // two more epochs on the SAME checkpoint across the layout commit
    addInput(600, 900); addInput(900, 1200)
    drain(src, lake, s"$root/ck")
    assert(spark.table(s"$cat.t").count() == 1200)
    assert(spark.table(s"$cat.t").select("id").distinct().count() == 1200,
      "no row may duplicate across the maintenance interleave")
    // retention: drop day=0 by manifest reference; the stream's later
    // epochs must not resurrect it on the next drain (nothing new)
    spark.sql(s"DELETE FROM $cat.t WHERE day = 0")
    drain(src, lake, s"$root/ck")
    assert(spark.table(s"$cat.t").count() == 800)
    assert(spark.table(s"$cat.t").filter(col("day") === 0).count() == 0)
    // z-order within the surviving partitions, then one more epoch
    VersionedLake.compactZOrder(spark, lake, "v", "id", nFiles = 2,
      bits = 21)
    addInput(1200, 1500)
    drain(src, lake, s"$root/ck")
    val t = spark.table(s"$cat.t")
    assert(t.count() == 800 + 300,
      "post-zorder epochs must land exactly once")
    assert(t.filter(col("day") === 0).count() == 100,
      "only the NEW epoch's day=0 rows exist after the retention drop")
    assert(t.agg(sum("id")).head().getLong(0) ==
      (0L until 1500L).filterNot(i => i % 3 == 0 && i < 1200).sum)
  }

  test("Complete mode into a PARTITIONED lake: each batch publishes a " +
      "manifest-level overwrite of per-partition leaves; the tip is " +
      "the latest full aggregate, history stays time-travelable") {
    val root = tempDir("glsw-part-complete")
    val cat = "glswpc"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (n BIGINT, k INT) " +
      "PARTITIONED BY (k)")
    val lake = s"$root/t"
    spark.range(0, 10).selectExpr("id % 3 AS k", "id AS x")
      .coalesce(1).write.parquet(s"$root/in/f0")
    spark.range(10, 40).selectExpr("id % 3 AS k", "id AS x")
      .coalesce(1).write.parquet(s"$root/in/f1")
    val src = spark.readStream.schema("k LONG, x LONG")
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in/*")
      .groupBy("k").agg(count(lit(1)).as("n"))
      .selectExpr("n", "CAST(k AS INT) AS k")
    drain(src, lake, s"$root/ck", outputMode = "complete")
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2, 3))
    // the tip's live set is EXACTLY the last batch's partition leaves
    val entries = VersionedLake.manifestEntries(spark, lake, 3)
    assert(entries.nonEmpty && entries.forall(_.matches(".*/k=[0-2]$")),
      s"complete-mode entries must be partition leaves: $entries")
    assert(entries.map(_.split('/')(0)).distinct.length == 1,
      "an overwrite batch's live set is one epoch's dirs")
    def counts(v: Int) = VersionedLake.readAt(spark, lake, v)
      .selectExpr("CAST(k AS LONG) AS k", "n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(3) == Map(0L -> 14L, 1L -> 13L, 2L -> 13L))
    assert(counts(2).values.sum == 10L)
    // partition pruning holds on the streamed aggregate
    val probe = spark.table(s"$cat.t").filter(col("k") === 1)
    val scanned = GraftLakeDataSource.filesReadPaths(probe)
    assert(scanned.nonEmpty && scanned.forall(_.contains("/k=1")),
      s"partition filter must prune complete-mode leaves: $scanned")
  }

  test("two tasks of one epoch writing the SAME partition leaf land " +
      "as distinct files — the driver rename must never collide " +
      "(silent row loss on POSIX rename-replace)") {
    val root = tempDir("glsw-multitask")
    val cat = "glswmtask"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, m INT) " +
      "PARTITIONED BY (m)")
    val lake = s"$root/t"
    // ONE partition value, FOUR write tasks: every task stages a file
    // for the same leaf m=0 in the same epoch
    spark.range(0, 400).selectExpr("id", "CAST(0 AS INT) AS m")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    val src = spark.readStream.schema("id LONG, m INT")
      .parquet(s"$root/in").repartition(4)
    drain(src, lake, s"$root/ck")
    val t = spark.table(s"$cat.t")
    assert(t.count() == 400,
      "same-leaf files from different tasks must not replace each other")
    assert(t.agg(sum("id")).head().getLong(0) == (0L until 400L).sum)
    val entries = VersionedLake.manifestEntries(
      spark, lake, VersionedLake.versions(spark, lake).last)
      .filter(_.startsWith("d-sw-"))
    assert(entries.length == 1 && entries.head.endsWith("/m=0"))
    val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val leafFiles = f.listStatus(
      new org.apache.hadoop.fs.Path(s"$lake/${entries.head}"))
      .toSeq.map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(leafFiles.length == 4,
      s"four tasks must stage four distinct leaf files: $leafFiles")
    assert(leafFiles.distinct.length == 4)
  }

  test("streaming sink into a COLUMN-MAPPING lake stamps CURRENT field " +
      "ids: rows bind across a rename, and a stream carrying an " +
      "unknown column widens the table (ADD COLUMN protocol) instead " +
      "of writing invisible bytes") {
    val root = tempDir("glsw-mapped")
    val cat = "glswmap"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE, m INT) " +
      "PARTITIONED BY (m) TBLPROPERTIES ('column_mapping'='id')")
    val lake = s"$root/t"
    def addInput(from: Long, until: Long): Unit =
      spark.range(from, until)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v",
          "CAST(id % 2 AS INT) AS m")
        .coalesce(1).write.mode("append").parquet(s"$root/in")
    def src = spark.readStream.schema("id LONG, v DOUBLE, m INT")
      .parquet(s"$root/in")
    addInput(0, 100)
    drain(src, lake, s"$root/ck")
    assert(spark.table(s"$cat.t").count() == 100)
    // the streamed files carry field ids: the rename binds them
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO w")
    assert(spark.sql(s"SELECT SUM(w) FROM $cat.t").head()
      .getDouble(0) == (0L until 100L).map(_.toDouble).sum,
      "pre-rename streamed rows must bind the renamed column by id")
    // a stream still writing the OLD name after the rename: the name
    // is UNKNOWN to the declaration now — it lands as a registered
    // NEW column (the library ADD COLUMN protocol), never as
    // invisible id-less bytes (pre-fix those rows read NULL for
    // every era's column: silent data loss)
    addInput(100, 150)
    drain(src, lake, s"$root/ck")
    val t = spark.table(s"$cat.t")
    assert(t.count() == 150)
    assert(t.schema.fieldNames.toSet == Set("id", "w", "v", "m"),
      s"the old-name write must widen the schema: ${t.schema.fieldNames
        .toList}")
    assert(spark.sql(s"SELECT SUM(w) FROM $cat.t").head()
      .getDouble(0) == (0L until 100L).map(_.toDouble).sum)
    assert(spark.sql(s"SELECT SUM(v) FROM $cat.t").head()
      .getDouble(0) == (100L until 150L).map(_.toDouble).sum,
      "the widened column's bytes must be readable, not invisible")
    // partition pruning intact across the whole composition
    val scanned = GraftLakeDataSource.filesReadPaths(
      t.filter(col("m") === 1)).filter(_.contains("/m="))
    assert(scanned.nonEmpty && scanned.forall(_.contains("/m=1")))
  }

  test("vacuum sweeps quiescent staging stragglers (crashed attempts) " +
      "but respects the grace window for in-flight epochs") {
    import spark.implicits._
    val root = tempDir("glsw-vacuum")
    val lake = s"$root/lake"
    VersionedLake.commit(spark.range(0, 5).toDF("id"), lake)
    val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val straggler = new org.apache.hadoop.fs.Path(
      s"$lake/_stage/deadbeef/e3-p0-abc.snappy.parquet")
    val out = f.create(straggler, true); out.write(1); out.close()
    // fresh staging is a possibly-in-flight epoch: the grace keeps it
    VersionedLake.vacuum(spark, lake, retain = 10,
      graceMs = 3600 * 1000)
    assert(f.exists(straggler))
    // a quiescent straggler (its writer crashed long ago) is swept,
    // and its emptied per-query dir with it
    f.setTimes(straggler, System.currentTimeMillis() - 24L * 3600 * 1000,
      -1)
    VersionedLake.vacuum(spark, lake, retain = 10,
      graceMs = 3600 * 1000)
    assert(!f.exists(straggler))
    assert(!f.exists(straggler.getParent))
    assert(VersionedLake.readLatest(spark, lake).count() == 5)
  }
}
