package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** Identity PARTITIONED BY on graftlake SQL tables: hive-layout dirs
  * inside each commit's data dir, per-partition manifest entries,
  * planning-time partition pruning, manifest-only whole-partition
  * DELETE / INSERT OVERWRITE, partition-aware COW and OPTIMIZE. */
class GraftLakePartitionSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private def withCatalog[A](root: String)(body: String => A): A = {
    val cat = s"glp_${new java.io.File(root).getName.takeRight(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    body(cat)
  }

  test("CREATE TABLE PARTITIONED BY + INSERT lays out hive dirs, " +
      "publishes per-partition manifest entries, and a partition " +
      "filter prunes to exactly the matching dirs at plan time") {
    val root = tempDir("glp-create")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE, y INT, " +
        "m INT) PARTITIONED BY (y, m)")
      val tip0 = VersionedLake.tip(spark, s"$root/t").get
      spark.sql(s"INSERT INTO $cat.t SELECT id, id * 0.5 AS v, " +
        "2024 AS y, CAST(id % 3 AS INT) AS m FROM range(0, 300)")
      // one INSERT = ONE version carrying one entry per partition leaf
      val tip1 = VersionedLake.tip(spark, s"$root/t").get
      assert(tip1 == tip0 + 1)
      val entries = VersionedLake.manifestEntries(spark, s"$root/t", tip1)
      val partEntries = entries.filter(_.contains("y=2024"))
      assert(partEntries.map(_.split('/').drop(1).mkString("/")).sorted ==
        Seq("y=2024/m=0", "y=2024/m=1", "y=2024/m=2"),
        s"expected 3 partition-leaf entries, got $entries")
      // the table reads back WITH partition columns, values intact
      val rows = spark.sql(
        s"SELECT count(*) AS n, count(DISTINCT m) AS dm FROM $cat.t " +
          "WHERE y = 2024").head()
      assert(rows.getLong(0) == 300 && rows.getLong(1) == 3)
      // PLANNING-TIME pruning: a partition filter reads only its dirs
      val one = spark.sql(s"SELECT id, v FROM $cat.t WHERE m = 1")
      assert(one.count() == 100)
      val scanned = GraftLakeDataSource.filesReadPaths(one)
      assert(scanned.nonEmpty && scanned.forall(_.contains("/m=1")),
        s"partition filter must prune to m=1 dirs, read: $scanned")
      // sidecars compose: data-column stats exist per ENTRY, so a data
      // filter can still file-skip WITHIN admitted partitions
      val probed = spark.sql(
        s"SELECT id FROM $cat.t WHERE m = 1 AND id < 0")
      assert(probed.count() == 0)
      // DESCRIBE sees the declared layout
      assert(spark.table(s"$cat.t").schema.fieldNames.toSet ==
        Set("id", "v", "y", "m"))
    }
  }

  test("whole-partition DELETE is manifest-only: dropped entries leave " +
      "the live set with ZERO data IO (no new data dir), survivors " +
      "keep their physical files; vacuum sweeps only the dead leaves") {
    val root = tempDir("glp-del")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, day STRING) " +
        "PARTITIONED BY (day)")
      spark.sql(s"INSERT INTO $cat.t SELECT id, " +
        "CASE WHEN id < 50 THEN '2024-01-01' ELSE '2024-01-02' END " +
        "FROM range(0, 100)")
      val dir = s"$root/t"
      val before =
        GraftLakeDataSource.filesReadPaths(spark.table(s"$cat.t")).toSet
      val topDirsBefore = {
        val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        f.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
          .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
      }
      val tipBefore = VersionedLake.tip(spark, dir).get
      spark.sql(s"DELETE FROM $cat.t WHERE day = '2024-01-01'")
      // exactly one new version, NO new data dir — pure metadata
      assert(VersionedLake.tip(spark, dir).get == tipBefore + 1)
      val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val topDirsAfter = f.listStatus(new org.apache.hadoop.fs.Path(dir))
        .toSeq.map(_.getPath.getName).filter(_.startsWith("d-")).toSet
      assert(topDirsAfter == topDirsBefore,
        "a whole-partition delete must write NO data dir")
      // survivors read from their ORIGINAL files
      val after = spark.table(s"$cat.t")
      assert(after.count() == 50)
      val afterFiles = GraftLakeDataSource.filesReadPaths(after).toSet
      assert(afterFiles.nonEmpty && afterFiles.subsetOf(before),
        "survivor partition must keep its physical files")
      assert(after.select("day").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("2024-01-02"))
      // time travel still sees the pre-delete snapshot
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.t VERSION AS OF $tipBefore")
        .head().getLong(0) == 100)
      // vacuum sweeps the dead LEAF, not the whole commit dir (the
      // surviving partition lives in the same d-x)
      VersionedLake.vacuum(spark, dir, retain = 1, graceMs = 0)
      assert(spark.table(s"$cat.t").count() == 50)
      val leaves = topDirsBefore.toSeq.flatMap(t =>
        f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$t")).toSeq
          .map(_.getPath.getName)).filter(_.startsWith("day="))
      assert(!leaves.contains("day=2024-01-01") &&
        leaves.contains("day=2024-01-02"),
        s"vacuum must sweep only the dead leaf, kept: $leaves")
    }
  }

  test("INSERT OVERWRITE with a partition predicate swaps whole " +
      "entries by manifest reference — the zero-survivor-IO backfill") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = tempDir("glp-backfill")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, m INT) " +
        "PARTITIONED BY (m)")
      spark.sql(s"INSERT INTO $cat.t SELECT id, " +
        "CAST(id % 2 AS INT) FROM range(0, 100)")
      val untouched = GraftLakeDataSource.filesReadPaths(
        spark.sql(s"SELECT * FROM $cat.t WHERE m = 0")).toSet
      // recompute partition m=1 (the incremental-backfill shape)
      val repl = spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(
          Row(1000L, 1), Row(1001L, 1))),
        StructType(Seq(StructField("id", LongType),
          StructField("m", IntegerType))))
      repl.writeTo(s"$cat.t").overwrite(col("m") === 1)
      val after = spark.table(s"$cat.t")
      assert(after.filter(col("m") === 1).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(1000L, 1001L))
      assert(after.filter(col("m") === 0).count() == 50)
      assert(untouched.nonEmpty && GraftLakeDataSource.filesReadPaths(
        spark.sql(s"SELECT * FROM $cat.t WHERE m = 0")).toSet == untouched,
        "the untouched partition must carry by physical reference")
      // Delta's replaceWhere CONSTRAINT: data written OUTSIDE the
      // overwrite condition is refused loudly (it would silently
      // duplicate beside the surviving partitions), entry-level for a
      // partition-decidable condition
      val e = intercept[Exception](
        repl.writeTo(s"$cat.t").overwrite(col("m") === 2))
      assert(e.getMessage.contains("OUTSIDE the overwrite"),
        e.getMessage)
    }
  }

  test("replaceWhere with a DATA-column condition on a partitioned " +
      "lake is COW bounded by its partition conjuncts: only matching " +
      "partitions rewrite, untouched partitions keep their exact " +
      "files, and new rows violating the condition are refused") {
    val root = tempDir("glp-cowrw")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE, m INT) " +
        "PARTITIONED BY (m)")
      spark.sql(s"INSERT INTO $cat.t SELECT id, id * 1.0, " +
        "CAST(id % 4 AS INT) FROM range(0, 400)")
      val untouched = GraftLakeDataSource.filesReadPaths(
        spark.sql(s"SELECT * FROM $cat.t WHERE m <> 1")).toSet
      // replace the id<40 band WITHIN partition m=1 (mixed condition:
      // one partition conjunct + one data-column conjunct)
      val repl = spark.range(0, 5)
        .selectExpr("id + 2000 AS id", "-1.0D AS v", "CAST(1 AS INT) AS m")
      val e = intercept[Exception](repl.writeTo(s"$cat.t")
        .overwrite(col("m") === 1 && col("id") < 40))
      assert(e.getMessage.contains("do NOT satisfy"), e.getMessage)
      val repl2 = spark.range(0, 5)
        .selectExpr("id AS id", "-1.0D AS v", "CAST(1 AS INT) AS m")
      repl2.writeTo(s"$cat.t").overwrite(col("m") === 1 && col("id") < 40)
      val after = spark.table(s"$cat.t")
      // m=1 now holds: survivors (id in [40,400) with id%4==1 -> 90
      // rows) + the 5 replacement rows
      assert(after.filter(col("m") === 1).count() == 95)
      assert(after.filter(col("m") === 1 && col("v") === -1.0).count() == 5)
      assert(after.filter(col("m") === 1 && col("id") >= 40 &&
        col("id") < 2000).count() == 90, "survivors of m=1 must remain")
      // every OTHER partition carried by manifest reference: exact
      // same physical files
      assert(after.filter(col("m") =!= 1).count() == 300)
      assert(GraftLakeDataSource.filesReadPaths(
        spark.sql(s"SELECT * FROM $cat.t WHERE m <> 1")).toSet ==
        untouched,
        "partitions outside the partition conjunct must not rewrite")
      // entries stay partition leaves (the invariant every pruning
      // path depends on)
      val dir = s"$root/t"
      val tip = VersionedLake.tip(spark, dir).get
      assert(VersionedLake.manifestEntries(spark, dir, tip)
        .forall(_.matches("d-[^/]+/m=(\\d+|__HIVE_DEFAULT_PARTITION__)")),
        "COW replaceWhere must keep entries as partition leaves")
    }
  }

  test("CTAS PARTITIONED BY stages hive layout atomically; MERGE (COW) " +
      "on a partitioned lake keeps partition values and replaces " +
      "entries, not files") {
    val root = tempDir("glp-ctas")
    withCatalog(root) { cat =>
      spark.range(0, 60).toDF("id")
        .withColumn("g", (col("id") % 2).cast("int"))
        .createOrReplaceTempView("glp_src")
      spark.sql(s"CREATE TABLE $cat.c PARTITIONED BY (g) AS " +
        "SELECT id, g FROM glp_src")
      val dir = s"$root/c"
      assert(VersionedLake.versions(spark, dir) == Seq(1),
        "CTAS must be one atomic commit")
      val entries = VersionedLake.manifestEntries(spark, dir, 1)
      assert(entries.map(_.split('/')(1)).sorted == Seq("g=0", "g=1"),
        s"CTAS entries must be partition leaves: $entries")
      assert(spark.table(s"$cat.c").filter(col("g") === 1).count() == 30)
      // COW MERGE: update half the rows of g=1; partition values must
      // survive the rewrite (the rewrite plan READS them from entry
      // names and the replacement write re-partitions by them)
      spark.sql(s"MERGE INTO $cat.c t USING " +
        "(SELECT id FROM range(0, 10)) s ON t.id = s.id AND t.g = 1 " +
        "WHEN MATCHED THEN UPDATE SET t.id = t.id + 10000")
      val g1 = spark.table(s"$cat.c").filter(col("g") === 1)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(g1.count(_ >= 10000) == 5, s"5 odd ids under 10 update: $g1")
      assert(g1.length == 30, "MERGE must not lose or duplicate rows")
      assert(spark.table(s"$cat.c").filter(col("g") === 0).count() == 30,
        "untouched partition intact")
      // zero-row CTAS still carries schema + spec
      spark.sql(s"CREATE TABLE $cat.z PARTITIONED BY (g) AS " +
        "SELECT id, g FROM glp_src WHERE 1 = 0")
      assert(spark.table(s"$cat.z").count() == 0)
      assert(spark.table(s"$cat.z").schema.fieldNames.toSet ==
        Set("id", "g"))
      spark.sql(s"INSERT INTO $cat.z VALUES (7, 3)")
      assert(spark.table(s"$cat.z").filter(col("g") === 3).count() == 1)
    }
  }

  test("partitioned z-order clusters WITHIN each partition: entries " +
      "stay leaves, every row survives, range probes on the z " +
      "dimensions file-skip inside an admitted partition, and a " +
      "partition-column dimension is refused") {
    val root = tempDir("glp-zorder")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, x INT, y INT, m INT) " +
        "PARTITIONED BY (m)")
      // two scattered inserts: every file spans the full x range, so
      // nothing can skip before the z-order
      (0 until 2).foreach(i =>
        spark.sql(s"INSERT INTO $cat.t SELECT id, " +
          s"CAST(id % 50 AS INT), CAST((id * 7) % 50 AS INT), " +
          s"CAST(id % 2 AS INT) FROM range(${i * 2000}, ${i * 2000 + 2000})"))
      val dir = s"$root/t"
      val v = VersionedLake.compactZOrder(spark, dir, "x", "y",
        nFiles = 8)
      assert(VersionedLake.isLayoutOnly(spark, dir, v))
      val entries = VersionedLake.manifestEntries(spark, dir, v)
      assert(entries.forall(
        _.matches("d-[^/]+/m=(\\d+|__HIVE_DEFAULT_PARTITION__)")),
        s"z-order must keep entries as partition leaves: $entries")
      assert(spark.table(s"$cat.t").count() == 4000,
        "the z-order rewrite must preserve every row")
      // within the admitted partition, a rectangle probe skips files
      val m0 = spark.table(s"$cat.t").filter(col("m") === 0)
      val probe = spark.table(s"$cat.t")
        .filter(col("m") === 0 && col("x") >= 0 && col("x") <= 4)
      assert(GraftLakeDataSource.filesRead(probe) <
        GraftLakeDataSource.filesRead(m0),
        "the z-ordered leaf must file-skip a narrow x range")
      assert(probe.count() ==
        (0L until 4000L).count(i => i % 2 == 0 && i % 50 <= 4))
      // a partition column has nothing to cluster — refused loudly
      val e = intercept[Exception](
        VersionedLake.compactZOrder(spark, dir, "m", "y", nFiles = 4))
      assert(e.getMessage.contains("PARTITION column"), e.getMessage)
    }
  }

  test("library/SQL parity on a PARTITIONED lake: commit routes the " +
      "dynamic-partition writer and SQL reads prune it; commitIndexed " +
      "leaves range-skippable leaves; deleteRange rewrites only " +
      "intersecting leaves; replaceWhereIn swaps values in place; " +
      "commitTagged replays no-op; compactVersions defrags in one job") {
    import spark.implicits._
    val root = tempDir("glp-parity")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE, m INT) " +
        "PARTITIONED BY (m)")
      val dir = s"$root/t"
      def rows(from: Long, until: Long) =
        (from until until).map(i => (i, i * 1.0, (i % 3).toInt))
          .toDF("id", "v", "m")
      // two INDEXED library commits with disjoint id ranges (stats
      // sidecars per leaf), then a plain commit — the parity surface
      VersionedLake.commitIndexed(rows(0, 450), dir,
        statsCols = Seq("id"), bloomCol = None)
      VersionedLake.commitIndexed(rows(450, 900), dir,
        statsCols = Seq("id"), bloomCol = None)
      VersionedLake.commit(rows(900, 930), dir)
      // library-committed data partition-prunes in SQL
      val probe = spark.table(s"$cat.t").filter(col("m") === 1)
      val scanned = GraftLakeDataSource.filesReadPaths(probe)
        .filter(_.contains("/m="))
      assert(scanned.nonEmpty && scanned.forall(_.contains("/m=1")),
        s"library-committed data must partition-prune in SQL: $scanned")
      assert(probe.count() == 310)
      // stats sidecars per leaf → range probes file-skip within m=0
      val m0 = spark.table(s"$cat.t").filter(col("m") === 0)
      val narrow = spark.table(s"$cat.t")
        .filter(col("m") === 0 && col("id") >= 890)
      assert(GraftLakeDataSource.filesRead(narrow) <
        GraftLakeDataSource.filesRead(m0),
        "library-indexed partitioned leaves must be range-skippable")
      // deleteRange: only leaves whose stats CAN intersect rewrite
      // (the unindexed plain commit's leaves touch conservatively;
      // the first indexed commit's leaves carry by reference)
      val before = VersionedLake.manifestEntries(spark, dir,
        VersionedLake.tip(spark, dir).get).toSet
      val v1 = VersionedLake.deleteRange(spark, dir, "id", 850, 899)
      val after = VersionedLake.manifestEntries(spark, dir, v1).toSet
      assert((before -- after).nonEmpty, "intersecting leaves rewrite")
      assert((before intersect after).nonEmpty,
        "non-intersecting leaves must carry by manifest reference")
      assert(after.forall(_.matches(
        "d-[^/]+/m=(\\d+|__HIVE_DEFAULT_PARTITION__)")),
        s"deleteRange must keep entries as partition leaves: $after")
      val t1 = spark.table(s"$cat.t")
      assert(t1.count() == 880)
      assert(t1.filter(col("id").between(850, 899)).count() == 0)
      // replaceWhereIn: values swap in place, partition layout holds
      val repl = Seq((100L, -1.0, 1), (101L, -1.0, 2))
        .toDF("id", "v", "m")
      val v2 = VersionedLake.replaceWhereIn(spark, dir, "id",
        Seq(100L, 101L), repl)
      val t2 = spark.table(s"$cat.t")
      assert(t2.count() == 880)
      assert(t2.filter(col("id").isin(100L, 101L))
        .agg(sum("v")).head().getDouble(0) == -2.0)
      assert(VersionedLake.manifestEntries(spark, dir, v2)
        .forall(_.matches(
          "d-[^/]+/m=(\\d+|__HIVE_DEFAULT_PARTITION__)")))
      // commitTagged: exactly-once by tag, partition-aware
      assert(VersionedLake.commitTagged(rows(930, 960), dir,
        "glpparity-b1").nonEmpty)
      assert(VersionedLake.commitTagged(rows(930, 960), dir,
        "glpparity-b1").isEmpty, "a replayed tag must no-op")
      assert(spark.table(s"$cat.t").count() == 910)
      // full-snapshot compactVersions: every partition defrags into
      // one fresh leaf set, still partition-pruned afterwards
      val v3 = VersionedLake.compactVersions(spark, dir,
        statsCols = Seq("id"))
      assert(VersionedLake.isLayoutOnly(spark, dir, v3))
      val entries3 = VersionedLake.manifestEntries(spark, dir, v3)
      assert(entries3.forall(_.matches(
        "d-[^/]+/m=(\\d+|__HIVE_DEFAULT_PARTITION__)")))
      assert(entries3.map(_.split('/')(0)).distinct.length == 1,
        "full compaction must land in ONE data dir")
      assert(spark.table(s"$cat.t").count() == 910)
      val probe3 = spark.table(s"$cat.t").filter(col("m") === 2)
      assert(GraftLakeDataSource.filesReadPaths(probe3)
        .filter(_.contains("/m=")).forall(_.contains("/m=2")))
    }
  }

  test("maintenance is O(1) Spark jobs in the partition count: z-order " +
      "with 3x the partitions runs no more jobs (rewrite is one " +
      "range-partitioned job, sidecars one batched build)") {
    def jobsForZOrder(nPart: Int): Int = {
      val root = tempDir(s"glp-jobs-$nPart")
      withCatalog(root) { cat =>
        spark.sql(s"CREATE TABLE $cat.t (id BIGINT, x INT, y INT, " +
          "m INT) PARTITIONED BY (m) TBLPROPERTIES ('bloom'='id')")
        spark.sql(s"INSERT INTO $cat.t SELECT id, " +
          s"CAST(id % 50 AS INT), CAST((id * 7) % 50 AS INT), " +
          s"CAST(id % $nPart AS INT) FROM range(0, 3000)")
        val dir = s"$root/t"
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              s: org.apache.spark.scheduler.SparkListenerJobStart)
              : Unit = { jobs.incrementAndGet(); () }
        }
        spark.sparkContext.addSparkListener(l)
        try {
          VersionedLake.compactZOrder(spark, dir, "x", "y", nFiles = 2,
            bloomCol = Some("id"))
          // listener events post asynchronously; every job STARTED
          // during the synchronous call above, so a short drain
          // settles the count
          Thread.sleep(1500)
          jobs.get()
        } finally spark.sparkContext.removeSparkListener(l)
      }
    }
    val small = jobsForZOrder(4)
    val large = jobsForZOrder(12)
    assert(large <= small + 2, // noise margin, NOT an O(partitions) term
      s"z-order at 12 partitions ran $large jobs vs $small at 4 — " +
        "the maintenance path must not scale jobs with partitions")
  }

  test("join-driven runtime pruning on the PARTITION column: a filtered " +
      "dimension's keys drop whole partition dirs from manifest " +
      "metadata at execution time (the DPP shape for the fact lake)") {
    import spark.implicits._
    val root = tempDir("glp-dpp")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.fact (id BIGINT, v DOUBLE, m INT) " +
        "PARTITIONED BY (m)")
      spark.sql(s"INSERT INTO $cat.fact SELECT id, id * 1.0, " +
        "CAST(id % 8 AS INT) FROM range(0, 800)")
      // file-backed dim: a local relation's filter constant-folds
      // away and the DPP rule sees no selective predicate
      Seq((1, "one"), (5, "five"), (99, "none")).toDF("k", "tag")
        .write.parquet(s"$root/dim")
      val dim = spark.read.parquet(s"$root/dim")
      val joined = spark.table(s"$cat.fact").join(
        org.apache.spark.sql.functions.broadcast(
          dim.filter(col("tag").isin("one", "five"))),
        col("m") === col("k"))
      // execute THIS DataFrame's plan (the runtime filter arrives on
      // its scan instance during execution; a fresh count() plan
      // would measure an unexecuted scan)
      assert(joined.collect().length == 200,
        "two of eight partitions match")
      val scanned = GraftLakeDataSource.filesReadPaths(joined)
        .filter(_.contains("/m="))
      assert(scanned.nonEmpty &&
        scanned.forall(p => p.contains("/m=1/") || p.contains("/m=5/")),
        s"runtime filter must drop non-matching partitions, read: " +
          s"${scanned.map(_.split('/').takeRight(2).head).distinct}")
    }
  }

  test("streaming read of a partitioned lake delivers partition " +
      "columns; OPTIMIZE compacts within partitions as a layout-only " +
      "commit the stream skips") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("glp-stream")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, m INT) " +
        "PARTITIONED BY (m)")
      (0 until 3).foreach(i =>
        spark.sql(s"INSERT INTO $cat.t SELECT id, " +
          s"CAST(id % 2 AS INT) FROM range(${i * 10}, ${i * 10 + 10})"))
      val dir = s"$root/t"
      // per-partition compaction: 3 small entries per partition -> 1
      val v = VersionedLake.compactSmall(spark, dir, Long.MaxValue)
      assert(v.nonEmpty)
      assert(VersionedLake.isLayoutOnly(spark, dir, v.get))
      val live = VersionedLake.manifestEntries(spark, dir, v.get)
      // 2 compacted partition leaves + the create's null-partition seed
      assert(live.count(_.contains("m=")) >= 2 &&
        live.map(_.split('/')(0)).distinct.length <= 2,
        s"optimize must compact within partitions: $live")
      assert(spark.table(s"$cat.t").count() == 30,
        "compaction must preserve every row")
      // stream the history: layout commit skipped, partition col real
      def drainOnce(): Unit = {
        val q = spark.readStream.format("graftlake").load(dir)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/cp")
          .format("parquet").option("path", s"$root/sink")
          .start()
        q.awaitTermination()
      }
      drainOnce()
      val sunk = spark.read.parquet(s"$root/sink")
      assert(sunk.count() == 30, "stream must deliver exactly the rows")
      assert(sunk.filter(col("m") === 1).count() == 15,
        "partition column must stream with true values")
      // the q197 shape ON A PARTITIONED LAKE: the checkpointed stream
      // crosses a LATER partitioned OPTIMIZE — new inserts land, the
      // compaction rewrites them into per-partition leaves, and the
      // re-drain delivers exactly the new rows (the layout-only
      // version contributes nothing: no loss, no duplication)
      spark.sql(s"INSERT INTO $cat.t SELECT id, " +
        "CAST(id % 2 AS INT) FROM range(100, 120)")
      spark.sql(s"INSERT INTO $cat.t SELECT id, " +
        "CAST(id % 2 AS INT) FROM range(120, 140)")
      val v2 = VersionedLake.compactSmall(spark, dir, Long.MaxValue)
      assert(v2.nonEmpty && VersionedLake.isLayoutOnly(spark, dir, v2.get))
      drainOnce()
      val resunk = spark.read.parquet(s"$root/sink")
      assert(resunk.count() == 70,
        "re-drain across the partitioned OPTIMIZE must deliver exactly " +
          s"the new rows, got ${resunk.count()}")
      assert(resunk.select("id").distinct().count() == 70,
        "no row may duplicate across the layout commit")
      assert(spark.table(s"$cat.t").count() == 70)
    }
  }
}
