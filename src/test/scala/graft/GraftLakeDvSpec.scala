package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** Merge-on-read deletion vectors: a SQL DELETE on a
  * `deletion_vectors` table records (file, position) sidecars instead
  * of rewriting dirs; scans apply them exactly (row positions from
  * Spark's parquet row-index machinery); time travel is version-bound;
  * COW/OPTIMIZE materialize vectors away; streams and change feeds
  * see the deletes; vacuum sweeps dead sidecars. */
class GraftLakeDvSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private def withCatalog[A](root: String)(body: String => A): A = {
    val cat = s"gldv_${new java.io.File(root).getName.takeRight(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    body(cat)
  }

  private def topDirs(dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("d-")).toSet
  }

  test("a point DELETE writes NO data dir (manifest + sidecar only); " +
      "reads, aggregates and point lookups are exact; deletes " +
      "compound; time travel applies only the vectors at/below its " +
      "version") {
    val root = tempDir("gldv-basic")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id * 2 AS DOUBLE) AS v FROM range(0, 1000)")
      spark.sql(s"INSERT INTO $cat.t " +
        "SELECT id, CAST(id * 2 AS DOUBLE) AS v FROM range(1000, 2000)")
      val dir = s"$root/t"
      val before = topDirs(dir)
      // ~1% point delete by KEY SET — the GDPR shape, and a
      // translatable (pushable) predicate: expression predicates
      // (id % 100 = 7) have no pushed-filter form and correctly take
      // the COW path instead
      val keys = (0L until 2000L by 100L).map(_ + 7)
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (${keys.mkString(",")})")
      assert(topDirs(dir) == before,
        "a DV delete must write NO replacement data dir")
      assert(VersionedLake.tip(spark, dir).contains(3))
      val t = spark.table(s"$cat.t")
      assert(t.count() == 1980)
      assert(t.filter(col("id") % 100 === 7).count() == 0)
      assert(t.agg(sum("id")).head().getLong(0) ==
        (0L until 2000L).filterNot(i => i % 100 == 7).sum)
      // point lookups on surviving and deleted keys
      assert(spark.sql(s"SELECT v FROM $cat.t WHERE id = 8")
        .head().getDouble(0) == 16.0)
      assert(spark.sql(s"SELECT * FROM $cat.t WHERE id = 107").count() == 0)
      // a second delete COMPOUNDS (and writes no dir either)
      spark.sql(s"DELETE FROM $cat.t WHERE id >= 1990")
      assert(topDirs(dir) == before)
      assert(spark.table(s"$cat.t").count() == 1970)
      // time travel: v3 sees the first vector only, v2 neither
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 3")
        .head().getLong(0) == 1980)
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
        .head().getLong(0) == 2000)
      // deleting already-deleted rows is a no-op (no version minted)
      val tip = VersionedLake.tip(spark, dir).get
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (${keys.mkString(",")})")
      assert(VersionedLake.tip(spark, dir).contains(tip),
        "re-deleting vectored rows must publish nothing")
    }
  }

  test("changes() and the CDF stream deliver EXACTLY the deleted rows " +
      "of a DV commit; a plain stream refuses it loudly; " +
      "skipChangeCommits skips it") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("gldv-feed")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 500)")
      val dir = s"$root/t"
      spark.sql(s"DELETE FROM $cat.t WHERE id >= 490")
      // batch changes(): exactly the 10 deletes
      val ch = VersionedLake.changes(spark, dir, 1, 2)
      assert(ch.filter(col("op") === "delete").count() == 10)
      assert(ch.filter(col("op") === "insert").count() == 0)
      assert(ch.agg(sum("id")).head().getLong(0) == (490L until 500L).sum)
      // CDF stream: delete events, version-stamped
      val sink = s"$root/sink"
      val q = spark.readStream.format("graftlake")
        .option(GraftLakeDataSource.ReadChangeFeed, "true").load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/cp")
        .format("parquet").option("path", sink).start()
      q.awaitTermination()
      val feed = spark.read.parquet(sink)
      val dels = feed.filter(col("_change_type") === "delete")
      assert(dels.count() == 10)
      assert(dels.filter(col("_commit_version") === 2L).count() == 10)
      assert(feed.filter(col("_change_type") === "insert").count() == 500)
      // plain stream: loud refusal at the DV version
      val e = intercept[Exception] {
        val q2 = spark.readStream.format("graftlake").load(dir)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/cp2")
          .format("parquet").option("path", s"$root/sink2").start()
        q2.awaitTermination()
      }
      def chain(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .flatMap(c => Option(c.getMessage)).mkString(" | ")
      assert(chain(e).contains("append-only"), chain(e))
      // skipChangeCommits: the inserts deliver, the DV commit skips
      val q3 = spark.readStream.format("graftlake")
        .option(GraftLakeDataSource.SkipChangeCommits, "true").load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/cp3")
        .format("parquet").option("path", s"$root/sink3").start()
      q3.awaitTermination()
      assert(spark.read.parquet(s"$root/sink3").count() == 500)
    }
  }

  test("DV-NET scan statistics: a half-vectored lake's size estimate " +
      "shrinks with its deleted fraction, so join planning broadcasts " +
      "where the un-vectored estimate would shuffle") {
    val root = tempDir("gldv-stats")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v, " +
        "repeat('x', 64) AS pad FROM range(0, 40000)")
      def est(): Long = spark.table(s"$cat.t")
        .queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      val before = est()
      // vector HALF the rows away (merge-on-read delete: no rewrite,
      // the bytes stay on disk — exactly the over-estimate hazard)
      spark.sql(s"DELETE FROM $cat.t WHERE id % 2 = 0")
      val after = est()
      assert(after * 3 < before * 2,
        s"estimate $after did not shrink with the deleted half of " +
          s"$before")
      // planning evidence: with the broadcast threshold BETWEEN the
      // adjusted and unadjusted estimates, the static plan broadcasts
      // the vectored lake — the un-vectored estimate would have
      // planned a shuffle join
      val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((before + after) / 2).toString)
      try {
        val big = spark.range(0, 500000)
          .withColumn("pad2", lit("y" * 64))
        val plan = big.join(spark.table(s"$cat.t"), "id")
          .queryExecution.sparkPlan.toString
        assert(plan.contains("BroadcastHashJoin"),
          s"half-vectored lake did not broadcast:\n$plan")
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", prior)
    }
  }

  test("COW UPDATE/MERGE on a DV lake does not resurrect vectored rows " +
      "(the rewrite materializes them); replaceWhere survivors exclude " +
      "them; OPTIMIZE compacts them away and vacuum sweeps the sidecar") {
    val root = tempDir("gldv-cow")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(0 AS DOUBLE) AS v FROM range(0, 1000)")
      val dir = s"$root/t"
      spark.sql(s"DELETE FROM $cat.t WHERE id < 10")
      assert(spark.table(s"$cat.t").count() == 990)
      // UPDATE rewrites the (single) dir — deleted rows must NOT return
      spark.sql(s"UPDATE $cat.t SET v = 1.0 WHERE id < 100")
      val t = spark.table(s"$cat.t")
      assert(t.count() == 990, "COW must not resurrect vectored rows")
      assert(t.filter(col("v") === 1.0).count() == 90)
      assert(t.filter(col("id") < 10).count() == 0)
      // the rewrite materialized the vector: the new files carry no DV
      // and a fresh DELETE + OPTIMIZE sequence compacts clean
      spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(2 AS DOUBLE) FROM range(1000, 1100)")
      spark.sql(s"DELETE FROM $cat.t WHERE id >= 1050")
      assert(spark.table(s"$cat.t").count() == 1040)
      val v = VersionedLake.compactSmall(spark, dir, Long.MaxValue)
      assert(v.nonEmpty)
      assert(spark.table(s"$cat.t").count() == 1040,
        "OPTIMIZE must materialize vectors, not resurrect or lose rows")
      assert(spark.table(s"$cat.t").filter(col("id") >= 1050).count() == 0)
      // vacuum sweeps the dead sidecars (files rewritten, uuids unbound
      // once their manifests expire)
      VersionedLake.vacuum(spark, dir, retain = 1, graceMs = 0)
      val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val delRoot = new org.apache.hadoop.fs.Path(s"$dir/_deletes")
      assert(!f.exists(delRoot) || f.listStatus(delRoot).isEmpty,
        "vacuum must sweep materialized-away DV sidecars")
      assert(spark.table(s"$cat.t").count() == 1040)
    }
  }

  test("replaceWhere on a DV lake: the survivor rewrite excludes " +
      "vectored rows (materializing them) instead of resurrecting " +
      "them; clean lakes keep vectorized (columnar) scans") {
    val root = tempDir("gldv-rw")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 1000)")
      val dir = s"$root/t"
      // vector 5 rows INSIDE the band replaceWhere will keep
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (0, 1, 2, 3, 4)")
      assert(spark.table(s"$cat.t").count() == 995)
      // with a vector live the scan STAYS COLUMNAR: clean files pass
      // batches through untouched and the DV file pays a zero-copy
      // selection view, not a snapshot-wide row-wise downgrade
      assert(spark.table(s"$cat.t").queryExecution.executedPlan
        .toString.contains("ColumnarToRow"),
        "a DV-carrying snapshot must still read columnar")
      // replace the id >= 900 band; survivors (id < 900) rewrite —
      // the vectored rows 0..4 must NOT come back
      val repl = spark.range(2000, 2010)
        .selectExpr("id", "CAST(-1 AS DOUBLE) AS v")
      repl.writeTo(s"$cat.t").overwrite(col("id") >= 900)
      val t = spark.table(s"$cat.t")
      assert(t.count() == 905, // 900 - 5 vectored + 10 replacement
        "replaceWhere must materialize vectors, not resurrect them")
      assert(t.filter(col("id") < 5).count() == 0)
      assert(t.filter(col("v") === -1.0).count() == 10)
      // the rewrite materialized every vector: scans are columnar again
      assert(spark.table(s"$cat.t").queryExecution.executedPlan
        .toString.contains("ColumnarToRow"),
        "a vector-free snapshot must read vectorized again")
    }
  }

  test("the DV position scan is file-pruned through the stats + bloom " +
      "sidecars: a key-set delete reads the files that can hold the " +
      "keys, not the lake — and loses no positions") {
    val root = tempDir("gldv-prune")
    withCatalog(root) { cat =>
      // bloom on the lookup key; hash-split so each key lands in ONE
      // file per commit and the others' blooms reject it
      spark.range(0, 4000)
        .selectExpr("CONCAT('k', id) AS skey", "id", "id * 1.0 AS v")
        .createOrReplaceTempView("gldv_prune_src")
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true', 'bloom'='skey') AS " +
        "SELECT /*+ REPARTITION(8, skey) */ * FROM gldv_prune_src " +
        "WHERE id < 2000")
      spark.sql(s"INSERT INTO $cat.t " +
        "SELECT /*+ REPARTITION(8, skey) */ * FROM gldv_prune_src " +
        "WHERE id >= 2000")
      val all = GraftLakeDataSource.filesRead(spark.table(s"$cat.t"))
      // capture the DELETE's executed delta-write plan — commands return
      // no DataFrame handle to walk
      @volatile var captured
          : Option[org.apache.spark.sql.execution.SparkPlan] = None
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          if (qe.executedPlan.getClass.getSimpleName
              .startsWith("WriteDelta"))
            captured = Some(qe.executedPlan)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        spark.sql(s"DELETE FROM $cat.t WHERE skey IN ('k7', 'k3105')")
        org.apache.spark.graft.ListenerBusFlush.waitUntilEmpty(
          spark.sparkContext, 120000)
      } finally spark.listenerManager.unregister(listener)
      import org.apache.spark.sql.execution.SparkPlan
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => walk(q.plan)
        case other =>
          other +: (other.children ++ other.subqueries).flatMap(walk)
      }
      val probedFiles = walk(captured.getOrElse(
        fail("listener captured no delta-write plan"))).collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec if b.scan.isInstanceOf[GraftLakeDeltaScan] =>
          b.scan.asInstanceOf[GraftLakeDeltaScan].planInputPartitions()
            .map {
              case fp: org.apache.spark.sql.execution.datasources
                .FilePartition => fp.files.length
              case _ => 0
            }.sum
      }.sum
      assert(probedFiles > 0 && probedFiles < all,
        s"bloom must file-prune the position scan " +
          s"($probedFiles of $all)")
      // and the pruned delete is still EXACT
      val t = spark.table(s"$cat.t")
      assert(t.count() == 3998)
      assert(t.filter(col("skey").isin("k7", "k3105")).count() == 0)
      assert(t.filter(col("skey") === "k8").count() == 1)
    }
  }

  test("refusals and guards: deletion_vectors composes with both " +
      "PARTITIONED BY and column_mapping; non-DV-aware library " +
      "probes refuse; truncate stays the manifest overwrite") {
    import spark.implicits._
    val root = tempDir("gldv-refuse")
    withCatalog(root) { cat =>
      // the full property matrix composes now (see the dedicated
      // partitioned-DV and mapped-DV tests)
      spark.sql(
        s"CREATE TABLE $cat.p (id BIGINT, m INT) PARTITIONED BY (m) " +
          "TBLPROPERTIES ('deletion_vectors'='true')")
      spark.sql(
        s"CREATE TABLE $cat.m2 TBLPROPERTIES " +
          "('deletion_vectors'='true', 'column_mapping'='id') AS " +
          "SELECT id FROM range(5)")
      spark.sql(s"DELETE FROM $cat.m2 WHERE id = 3")
      assert(spark.table(s"$cat.m2").count() == 4)
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 100)")
      val dir = s"$root/t"
      spark.sql(s"DELETE FROM $cat.t WHERE id = 50")
      // readSkipping applies the vectors now (dropDvRows composes
      // with any raw file scan)
      assert(VersionedLake.readSkipping(spark, dir, "id", 0, 60)
        .count() == 60, "readSkipping must apply live vectors")
      // statsAggregate is DV-aware too: files carrying live vectors
      // move to a DV-applying scan (their footer stats over-count),
      // the clean fraction still folds from metadata — exact, never
      // refused. statsCovered reports the pure-metadata path gone
      // while a vector is live.
      assert(VersionedLake.statsAggregate(spark, dir, "id") ==
        ((99L, 0.0, 99.0)),
        "statsAggregate must net live vectors exactly")
      assert(!VersionedLake.statsCovered(spark, dir, "id"))
      // library readAt routes through the DV-aware DSv2 path
      assert(VersionedLake.readLatest(spark, dir).count() == 99)
      // truncate (no WHERE) is still the manifest-level overwrite
      spark.sql(s"DELETE FROM $cat.t")
      assert(spark.table(s"$cat.t").count() == 0)
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
        .head().getLong(0) == 99)
    }
  }

  test("vacuum never legitimizes a crashed DELETE attempt's orphan: " +
      "an UNBOUND sidecar dies in the same pass that drops the " +
      "manifest disproving its binding") {
    import spark.implicits._
    val root = tempDir("gldv-orphan")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 100)")
      val dir = s"$root/t"
      val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // a crashed DELETE attempt: positions staged for v2 under a
      // uuid, the writer died before its CAS — v2 was then claimed by
      // a plain INSERT whose manifest carries no #dv binding
      val entry = topDirs(dir).head
      val file = f.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/$entry")).toSeq
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).head
      val orphan = s"$dir/_deletes/v2-aaaabbbbcccc"
      Seq((entry, file, 0L), (entry, file, 1L)).toDF("entry", "file", "pos")
        .coalesce(1).write.parquet(orphan)
      spark.sql(s"INSERT INTO $cat.t " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(100, 110)")
      // in retention, the manifest disproves the binding: not applied
      assert(spark.table(s"$cat.t").count() == 110)
      spark.sql(s"INSERT INTO $cat.t " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(110, 120)")
      // retention drops v1/v2 — pre-fix, the orphan would survive
      // (its entry is live) while the disproving manifest vanished,
      // and the reader's vacuumed-manifest fallback would then apply
      // it: two rows silently deleted that were never committed
      // deleted
      VersionedLake.vacuum(spark, dir, retain = 1, graceMs = 0)
      assert(!f.exists(new org.apache.hadoop.fs.Path(orphan)),
        "vacuum must resolve the binding BEFORE dropping the manifest" +
          " and sweep the orphan in the same pass")
      assert(spark.table(s"$cat.t").count() == 120,
        "an orphan sidecar must never delete committed rows")
    }
  }

  test("deletion vectors on a PARTITIONED lake: a data-column point " +
      "DELETE writes positions (no dir rewrite), partition conjuncts " +
      "prune the position scan to their leaves, partition-decidable " +
      "deletes stay manifest-only, time travel and OPTIMIZE hold") {
    val root = tempDir("gldv-part")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE, day INT) " +
        "PARTITIONED BY (day) " +
        "TBLPROPERTIES ('deletion_vectors'='true')")
      spark.sql(s"INSERT INTO $cat.t " +
        "SELECT id, CAST(id AS DOUBLE), CAST(id % 4 AS INT) " +
        "FROM range(0, 2000)")
      val dir = s"$root/t"
      val before = topDirs(dir)
      // GDPR point delete by key set across partitions: positions
      // only, zero data dirs written
      val keys = (0L until 2000L by 100L).map(_ + 3)
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (${keys.mkString(",")})")
      assert(topDirs(dir) == before,
        "a partitioned DV delete must write NO replacement data dir")
      val t = spark.table(s"$cat.t")
      assert(t.count() == 1980)
      assert(t.filter(col("id") % 100 === 3).count() == 0)
      assert(t.agg(sum("id")).head().getLong(0) ==
        (0L until 2000L).filterNot(_ % 100 == 3).sum)
      // partition filters still prune the READ down to their leaves
      val probe = t.filter(col("day") === 1)
      val scanned = GraftLakeDataSource.filesReadPaths(probe)
        .filter(_.contains("/day="))
      assert(scanned.nonEmpty && scanned.forall(_.contains("/day=1")),
        s"partition pruning must survive DV application: $scanned")
      assert(probe.count() == 500 - keys.count(_ % 4 == 1))
      // a DELETE mixing a partition conjunct with a data conjunct
      // vectors ONLY within the named partition — and the position
      // scan reads only that partition's files
      spark.sql(s"DELETE FROM $cat.t WHERE day = 2 AND id IN (2, 6, 10)")
      assert(topDirs(dir) == before)
      assert(spark.table(s"$cat.t").count() == 1977)
      val side = new org.apache.hadoop.fs.Path(s"$dir/_deletes")
      val f = side.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sidecars = f.listStatus(side).toSeq.map(_.getPath.toString)
      val entries = spark.read.parquet(sidecars: _*)
        .select("entry").distinct().collect().map(_.getString(0))
      assert(entries.forall(_.matches("d-[^/]+/day=\\d")),
        s"sidecar entries must be FULL partition-leaf entries: " +
          entries.mkString(", "))
      // partition-decidable DELETE stays the manifest-only leaf drop
      spark.sql(s"DELETE FROM $cat.t WHERE day = 3")
      assert(topDirs(dir) == before,
        "partition delete must stay manifest-only on a DV lake")
      assert(spark.table(s"$cat.t").count() == 1977 -
        (500 - keys.count(_ % 4 == 3)))
      // time travel below the DV commits sees the full snapshot
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
        .head().getLong(0) == 2000)
      // OPTIMIZE materializes vectors within partitions (a second
      // INSERT gives each partition two entries so compaction has
      // work); counts hold
      spark.sql(s"INSERT INTO $cat.t " +
        "SELECT id, CAST(id AS DOUBLE), CAST(id % 4 AS INT) " +
        "FROM range(2000, 2400)")
      val expect = 1977 - (500 - keys.count(_ % 4 == 3)) + 400
      assert(VersionedLake.compactSmall(spark, dir,
        Long.MaxValue).nonEmpty)
      val after = spark.table(s"$cat.t")
      assert(after.count() == expect)
      assert(after.filter(col("id") < 2000)
        .filter(col("id") % 100 === 3).count() == 0)
      assert(after.filter(col("id").isin(2L, 6L, 10L))
        .filter(col("day") === 2).count() == 0)
      // vacuum sweeps the materialized-away sidecars
      VersionedLake.vacuum(spark, dir, retain = 1, graceMs = 0)
      assert(!f.exists(side) || f.listStatus(side).isEmpty,
        "vacuum must sweep materialized-away partitioned DV sidecars")
      assert(spark.table(s"$cat.t").count() == expect)
    }
  }

  test("URI-ENCODABLE partition values (spaces) survive the whole DV " +
      "matrix: the sidecar records the manifest-form entry, scans " +
      "apply the vector, blooms key the right leaves, and " +
      "maintenance sees it as live") {
    val root = tempDir("gldv-enc")
    withCatalog(root) { cat =>
      // `_metadata.file_path` / `input_file_name` are URL-ENCODED
      // (`New York` -> `New%20York`) while manifest entries and
      // Path.toString are decoded; every DV keying path must
      // normalize or the delete is silently lost (this exact fixture
      // caught the bug: pre-fix, the DELETE below left count at 20)
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, city STRING) " +
        "PARTITIONED BY (city) TBLPROPERTIES " +
        "('deletion_vectors'='true', 'bloom'='id')")
      spark.sql(s"INSERT INTO $cat.t SELECT id, " +
        "CASE WHEN id % 2 = 0 THEN 'New York' ELSE 'LA' END " +
        "FROM range(0, 20)")
      val dir = s"$root/t"
      val before = topDirs(dir)
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (0, 2)")
      assert(topDirs(dir) == before)
      val t = spark.table(s"$cat.t")
      assert(t.count() == 18, "the scan must apply the vector")
      assert(t.filter(col("city") === "New York").count() == 8)
      // the CDF STREAM delivers the partitioned DV commit's EXACT
      // rows, partition values included, read from the sidecar's own
      // bytes (pre-fix the partitioned branch fell through to the
      // dir-granular diff, which is EMPTY for a DV commit — the
      // delete events were silently lost)
      locally {
        import org.apache.spark.sql.streaming.Trigger
        val sink = s"$root/cdf_sink"
        val q = spark.readStream.format("graftlake")
          .option(GraftLakeDataSource.ReadChangeFeed, "true").load(dir)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$root/cdf_cp")
          .format("parquet").option("path", sink).start()
        q.awaitTermination()
        val feed = spark.read.parquet(sink)
        val dels = feed.filter(col("_change_type") === "delete")
        assert(dels.count() == 2,
          "the partitioned DV commit's delete events must deliver")
        assert(dels.select("id").collect().map(_.getLong(0)).sorted
          .toSeq == Seq(0L, 2L))
        assert(dels.select("city").distinct().head()
          .getString(0) == "New York",
          "delete events must carry their partition values")
        assert(feed.filter(col("_change_type") === "insert")
          .count() == 20)
      }
      // the sidecar's entry is the MANIFEST form (decoded) — vacuum
      // liveness and maintenance both depend on it
      val tipV = VersionedLake.tip(spark, dir).get
      assert(VersionedLake.liveDvKeys(spark, dir, tipV).nonEmpty,
        "sidecar entries must match the manifest form (liveness)")
      // a bloom point probe on the encoded-value leaves still admits
      // the right file (the batched sidecar build keys by entry)
      assert(spark.sql(s"SELECT city FROM $cat.t WHERE id = 4")
        .head().getString(0) == "New York")
      assert(spark.sql(s"SELECT * FROM $cat.t WHERE id = 0").count() == 0)
      // maintenance sees the vector as live and materializes it
      assert(VersionedLake.materializeVectors(spark, dir).nonEmpty)
      assert(spark.table(s"$cat.t").count() == 18)
      assert(spark.table(s"$cat.t")
        .filter(col("id").isin(0L, 2L)).count() == 0)
      // the DOUBLE-ENCODED case: '#' hive-escapes to '%23' ON DISK,
      // whose URI form is '%2523' — a naive single decode/encode
      // anywhere in the chain corrupts it
      spark.sql(s"INSERT INTO $cat.t SELECT id, 'A#B' " +
        "FROM range(20, 30)")
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (21, 23)")
      val t2 = spark.table(s"$cat.t")
      assert(t2.count() == 26,
        "hive-escaped partition values must survive DV keying")
      assert(t2.filter(col("city") === "A#B").count() == 8)
      assert(t2.filter(col("id").isin(21L, 23L)).count() == 0)
      assert(VersionedLake.materializeVectors(spark, dir).nonEmpty)
      assert(spark.table(s"$cat.t").count() == 26)
    }
  }

  test("deletion vectors on a COLUMN-MAPPING lake: the position scan " +
      "id-matches across renames (pre-rename files' rows are found, " +
      "not nulled past the predicate), and the TRIPLE composition " +
      "with PARTITIONED BY holds end to end") {
    val root = tempDir("gldv-mapped")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true', 'column_mapping'='id') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 500)")
      val dir = s"$root/t"
      // rename BEFORE the delete: the position scan must bind the
      // pre-rename files' column BY ID — a name-matched read would
      // null it and the predicate would silently miss every row
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO w")
      val before = topDirs(dir)
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (10, 20, 30)")
      assert(topDirs(dir) == before,
        "a mapped DV delete must write NO replacement data dir")
      val t = spark.table(s"$cat.t")
      assert(t.count() == 497,
        "the id-matched position scan must find pre-rename rows")
      assert(t.filter(col("id").isin(10L, 20L, 30L)).count() == 0)
      assert(t.filter(col("id") === 11L).select("w").head()
        .getDouble(0) == 11.0)
      // a delete keyed on the RENAMED column also binds
      spark.sql(s"DELETE FROM $cat.t WHERE w IN (40.0)")
      assert(spark.table(s"$cat.t").count() == 496)
      assert(topDirs(dir) == before)
      // auto-maintenance path id-matches too
      assert(VersionedLake.materializeVectors(spark, dir).nonEmpty)
      val t2 = spark.table(s"$cat.t")
      assert(t2.count() == 496)
      assert(t2.filter(col("id") === 11L).select("w").head()
        .getDouble(0) == 11.0,
        "materialization must keep renamed-column values (id-matched)")
      // TRIPLE: partitioned + mapped + deletion vectors
      spark.sql(s"CREATE TABLE $cat.tri (id BIGINT, v DOUBLE, m INT) " +
        "PARTITIONED BY (m) TBLPROPERTIES " +
        "('deletion_vectors'='true', 'column_mapping'='id')")
      spark.sql(s"INSERT INTO $cat.tri SELECT id, CAST(id AS DOUBLE), " +
        "CAST(id % 2 AS INT) FROM range(0, 200)")
      spark.sql(s"ALTER TABLE $cat.tri RENAME COLUMN v TO w")
      val triBefore = topDirs(s"$root/tri")
      spark.sql(s"DELETE FROM $cat.tri WHERE m = 1 AND id IN (1, 3)")
      assert(topDirs(s"$root/tri") == triBefore)
      val tri = spark.table(s"$cat.tri")
      assert(tri.count() == 198)
      assert(tri.filter(col("m") === 1).count() == 98)
      assert(tri.filter(col("id") === 5L).select("w").head()
        .getDouble(0) == 5.0)
      // partition pruning survives the whole composition
      val scanned = GraftLakeDataSource.filesReadPaths(
        tri.filter(col("m") === 0)).filter(_.contains("/m="))
      assert(scanned.nonEmpty && scanned.forall(_.contains("/m=0")))
      // replaceWhere on the TRIPLE: the id-matched survivor rewrite
      // must apply the vectors (pre-fix the mapped branch read raw
      // and resurrected them) — vector rows 2 and 4 stay dead, the
      // renamed column keeps its values through the rewrite
      spark.sql(s"DELETE FROM $cat.tri WHERE m = 0 AND id IN (2, 4)")
      import spark.implicits._
      val repl = Seq((1000L, -1.0, 0)).toDF("id", "w", "m")
      repl.writeTo(s"$cat.tri")
        .overwrite(col("m") === 0 && col("id") >= 100)
      val tri2 = spark.table(s"$cat.tri")
      assert(tri2.count() == 198 - 2 - 50 + 1,
        "the triple replaceWhere must materialize vectors, not " +
          "resurrect them")
      assert(tri2.filter(col("id").isin(2L, 4L)).count() == 0)
      assert(tri2.filter(col("id") === 6L).select("w").head()
        .getDouble(0) == 6.0,
        "the id-matched rewrite must keep renamed-column values")
    }
  }

  test("survivor rewrites on a DV lake are DV-aware: deleteRange and " +
      "replaceWhereIn exclude vectored rows (materializing them), " +
      "full-snapshot compactVersions/zorder compact them away") {
    import spark.implicits._
    val root = tempDir("gldv-rewrite")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 1000)")
      val dir = s"$root/t"
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (100, 101, 102)")
      assert(spark.table(s"$cat.t").count() == 997)
      // deleteRange of [900, 999]: the survivor rewrite must NOT
      // resurrect the vectored 100..102
      VersionedLake.deleteRange(spark, dir, "id", 900, 999)
      val t1 = spark.table(s"$cat.t")
      assert(t1.count() == 897,
        "deleteRange must materialize vectors, not resurrect them")
      assert(t1.filter(col("id").isin(100L, 101L, 102L)).count() == 0)
      // fresh vectors, then replaceWhereIn — same contract
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (200, 201)")
      val repl = Seq((300L, -5.0)).toDF("id", "v")
      VersionedLake.replaceWhereIn(spark, dir, "id", Seq(300L), repl)
      val t2 = spark.table(s"$cat.t")
      assert(t2.count() == 895)
      assert(t2.filter(col("id").isin(200L, 201L)).count() == 0,
        "replaceWhereIn must not resurrect vectored rows")
      assert(t2.filter(col("id") === 300L).head().getDouble(1) == -5.0)
      // full-snapshot compaction with a live vector: DV-filtered read,
      // vectors dead afterwards, scans columnar
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (400, 401)")
      val v = VersionedLake.compactZOrder(spark, dir, "id", "v",
        nFiles = 2, bits = 16)
      assert(VersionedLake.isLayoutOnly(spark, dir, v))
      val t3 = spark.table(s"$cat.t")
      assert(t3.count() == 893)
      assert(t3.filter(col("id").isin(400L, 401L)).count() == 0)
      assert(VersionedLake.liveDvKeys(spark, dir, v).isEmpty,
        "the full-snapshot rewrite must leave no live vector")
      assert(t3.queryExecution.executedPlan.toString
        .contains("ColumnarToRow"))
    }
  }

  test("dv_max_ratio turns the maintenance cadence into a contract: " +
      "below the bound deletes stay merge-on-read; the delete that " +
      "crosses it auto-materializes EXACTLY the vectored entries") {
    val root = tempDir("gldv-ratio")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true', 'dv_max_ratio'='0.05') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 2000)")
      val dir = s"$root/t"
      // a second commit the maintenance must NOT touch (no vectors)
      spark.sql(s"INSERT INTO $cat.t " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(2000, 4000)")
      val untouched = GraftLakeDataSource.filesReadPaths(
        spark.table(s"$cat.t").filter(col("id") >= 2000)).toSet
      val before = topDirs(dir)
      // 1% of the first commit's rows: below the bound, stays MoR
      val k1 = (0L until 20L).mkString(",")
      spark.sql(s"DELETE FROM $cat.t WHERE id IN ($k1)")
      assert(topDirs(dir) == before, "below the bound: no rewrite")
      assert(VersionedLake.dvRefs(spark, dir,
        VersionedLake.tip(spark, dir).get).nonEmpty)
      val tipBefore = VersionedLake.tip(spark, dir).get
      // push past 5% of the covered files' rows: the crossing delete
      // pays the scoped materialization
      val k2 = (20L until 140L).mkString(",")
      spark.sql(s"DELETE FROM $cat.t WHERE id IN ($k2)")
      val tip = VersionedLake.tip(spark, dir).get
      assert(tip == tipBefore + 2,
        "the crossing delete must publish its vector AND the rewrite")
      assert(VersionedLake.liveDvKeys(spark, dir, tip).isEmpty,
        "crossing dv_max_ratio must materialize every LIVE vector away")
      assert(topDirs(dir) != before, "the rewrite stages a fresh dir")
      val t = spark.table(s"$cat.t")
      assert(t.count() == 4000 - 140)
      assert(t.filter(col("id") < 140).count() == 0)
      // scoped: the vector-free second commit carried by reference
      assert(GraftLakeDataSource.filesReadPaths(
        t.filter(col("id") >= 2000)).toSet == untouched,
        "materialization must rewrite ONLY vectored entries")
      // vector-free again: scans columnar, history time-travels
      assert(t.queryExecution.executedPlan.toString
        .contains("ColumnarToRow"))
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
        .head().getLong(0) == 4000)
      // a misdeclared policy refuses loudly
      val e = intercept[Exception](spark.sql(
        s"CREATE TABLE $cat.bad TBLPROPERTIES ('dv_max_ratio'='0.1') " +
          "AS SELECT 1 AS x"))
      assert(e.getMessage.contains("deletion_vectors"), e.getMessage)
    }
  }

  test("two RACING overlapping DV DELETEs: disjoint published " +
      "vectors, no duplicate delete events, exact final state") {
    val root = tempDir("gldv-race")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 1000)")
      val dir = s"$root/t"
      val aKeys = (100L until 200L).mkString(",")
      val bKeys = (150L until 250L).mkString(",") // overlaps 150..199
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            barrier.await()
            spark.sql(s"DELETE FROM $cat.t WHERE id IN ($aKeys)")
            ()
          }
        })
        val fb = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            barrier.await()
            spark.sql(s"DELETE FROM $cat.t WHERE id IN ($bKeys)")
            ()
          }
        })
        fa.get(); fb.get()
      } finally pool.shutdown()
      assert(spark.table(s"$cat.t").count() == 850)
      // published vectors must be disjoint: a row deleted by the
      // interleaved commit is re-subtracted on the loser's CAS retry
      val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val side = f.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/_deletes")).toSeq
        .map(_.getPath.toString)
      val all = spark.read.parquet(side: _*).select("entry", "file", "pos")
      assert(all.count() == 150, "overlap must not publish twice")
      assert(all.distinct().count() == 150)
      // the change sidecars likewise re-report nothing: 150 distinct
      // deleted ids across both commits
      val ch = f.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/_changes")).toSeq
        .map(_.getPath.toString).filter(_.contains("dv-"))
      val ids = spark.read.parquet(ch: _*).select("id")
      assert(ids.count() == 150, "CDF must not double-report a row")
      assert(ids.distinct().count() == 150)
    }
  }

  test("the pending-positions bound is opt-OUT: an UNDECLARED lake " +
      "auto-materializes at the (session-overridable) DEFAULT bound; " +
      "dv_max_pending raises or lowers it per table") {
    val root = tempDir("gldv-pending")
    withCatalog(root) { cat =>
      // the shipped default is the old 10M advisory threshold
      assert(VersionedLake.DvDefaultMaxPending == 10000000L)
      // per-table declaration wins over the default
      spark.sql(s"CREATE TABLE $cat.declared TBLPROPERTIES " +
        "('deletion_vectors'='true', 'dv_max_pending'='40') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 1000)")
      assert(VersionedLake.dvMaxPending(spark,
        s"$root/declared") == 40L)
      val dBefore = topDirs(s"$root/declared")
      spark.sql(s"DELETE FROM $cat.declared WHERE id < 30")
      assert(topDirs(s"$root/declared") == dBefore,
        "30 pending <= 40: merge-on-read, no rewrite")
      spark.sql(s"DELETE FROM $cat.declared WHERE id >= 30 AND id < 60")
      assert(VersionedLake.liveDvKeys(spark, s"$root/declared",
        VersionedLake.tip(spark, s"$root/declared").get).isEmpty,
        "60 pending > 40: the crossing delete must auto-materialize")
      assert(spark.table(s"$cat.declared").count() == 940)

      // UNDECLARED lake: the session default bounds the backlog — an
      // unbounded pending set is no longer reachable by forgetting a
      // property (lowered here so the spec needs no 10M-row fixture)
      spark.conf.set("spark.graft.dv.maxPendingDefault", "25")
      try {
        spark.sql(s"CREATE TABLE $cat.plain TBLPROPERTIES " +
          "('deletion_vectors'='true') AS " +
          "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 1000)")
        val dir = s"$root/plain"
        assert(VersionedLake.dvMaxPending(spark, dir) == 25L)
        val before = topDirs(dir)
        spark.sql(s"DELETE FROM $cat.plain WHERE id < 20")
        assert(topDirs(dir) == before,
          "20 pending <= 25: merge-on-read, no rewrite")
        assert(VersionedLake.liveDvKeys(spark, dir,
          VersionedLake.tip(spark, dir).get).nonEmpty)
        spark.sql(s"DELETE FROM $cat.plain WHERE id >= 20 AND id < 40")
        assert(VersionedLake.liveDvKeys(spark, dir,
          VersionedLake.tip(spark, dir).get).isEmpty,
          "40 pending > 25: the UNDECLARED lake must auto-materialize " +
            "at the default bound")
        assert(topDirs(dir) != before)
        val t = spark.table(s"$cat.plain")
        assert(t.count() == 960)
        assert(t.filter(col("id") < 40).count() == 0)
      } finally spark.conf.unset("spark.graft.dv.maxPendingDefault")
      // a misdeclared bound refuses loudly
      val e = intercept[Exception](spark.sql(
        s"CREATE TABLE $cat.bad2 TBLPROPERTIES " +
          "('deletion_vectors'='true', 'dv_max_pending'='0') " +
          "AS SELECT 1 AS x"))
      assert(e.getMessage.contains("dv_max_pending"), e.getMessage)
    }
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES tunes the DV maintenance " +
      "bounds post-CREATE: a TIGHTENED bound materializes the backlog " +
      "immediately; unknown properties and non-DV tables refuse") {
    val root = tempDir("gldv-alterprops")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 1000)")
      val dir = s"$root/t"
      // build a 50-position backlog, far below the 10M default
      spark.sql(s"DELETE FROM $cat.t WHERE id < 50")
      assert(VersionedLake.liveDvKeys(spark, dir,
        VersionedLake.tip(spark, dir).get).nonEmpty)
      // tighten the absolute bound BELOW the backlog: the ALTER pays
      // the materialization right away, not on the next delete
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
        "('dv_max_pending' = '20')")
      assert(VersionedLake.dvMaxPending(spark, dir) == 20L)
      assert(VersionedLake.liveDvKeys(spark, dir,
        VersionedLake.tip(spark, dir).get).isEmpty,
        "a tightened bound must materialize the live backlog NOW")
      assert(spark.table(s"$cat.t").count() == 950)
      // both bounds settable/unsettable; UNSET returns to the default
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
        "('dv_max_ratio' = '0.5')")
      assert(VersionedLake.dvMaxRatio(spark, dir).contains(0.5))
      // the catalog REPORTS the enforced registries (SHOW reads the
      // table's properties(), which reads the disk fresh)
      val shown = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown.get("deletion_vectors").contains("true"), shown)
      assert(shown.get("dv_max_ratio").contains("0.5"), shown)
      assert(shown.get("dv_max_pending").contains("20"), shown)
      spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES " +
        "('dv_max_ratio', 'dv_max_pending')")
      assert(VersionedLake.dvMaxRatio(spark, dir).isEmpty)
      assert(VersionedLake.dvMaxPending(spark, dir) ==
        VersionedLake.DvDefaultMaxPending)
      // misdeclared values and unknown properties refuse loudly
      val e1 = intercept[Exception](spark.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES ('dv_max_ratio'='7')"))
      assert(e1.getMessage.contains("dv_max_ratio"), e1.getMessage)
      val e2 = intercept[Exception](spark.sql(
        s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
          "('column_mapping'='id')"))
      assert(e2.getMessage.contains("CREATE TABLE"), e2.getMessage)
      // the bounds are a DV-table surface
      spark.sql(s"CREATE TABLE $cat.plainp AS SELECT 1 AS x")
      val e3 = intercept[Exception](spark.sql(
        s"ALTER TABLE $cat.plainp SET TBLPROPERTIES " +
          "('dv_max_pending'='5')"))
      assert(e3.getMessage.contains("deletion_vectors"), e3.getMessage)
    }
  }

  test("CALL restore rolls the lake back to a retained version as a " +
      "NEW commit: v's entries carry by reference, post-v deletion " +
      "vectors on them force a scoped rewrite with v's own vector " +
      "state, and the rolled-over history stays time-travelable") {
    val root = tempDir("gldv-restore")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 1000)")
      val dir = s"$root/t"
      val files1 = GraftLakeDataSource.filesReadPaths(
        spark.table(s"$cat.t")).toSet
      // v2: a DV delete; v3: an insert — both AFTER the restore target
      spark.sql(s"DELETE FROM $cat.t WHERE id < 100")
      spark.sql(s"INSERT INTO $cat.t " +
        "SELECT id, CAST(id AS DOUBLE) FROM range(5000, 5100)")
      assert(spark.table(s"$cat.t").count() == 1000)
      val preRestoreTip = VersionedLake.tip(spark, dir).get

      // restore to v1: the post-v1 vector's entry REWRITES with v1's
      // (vector-free) state — the deleted rows reappear; the insert
      // is gone; history is still readable
      val restored = spark.sql(s"CALL $cat.restore(`table` => 't', " +
        "version => 1)").head()
      assert(!restored.isNullAt(0) && restored.getInt(0) ==
        preRestoreTip + 1)
      val t = spark.table(s"$cat.t")
      assert(t.count() == 1000)
      assert(t.filter(col("id") < 100).count() == 100,
        "restore must resurrect rows a post-target vector deleted")
      assert(t.filter(col("id") >= 5000).count() == 0,
        "restore must drop post-target inserts")
      assert(t.agg(sum("id")).head().getLong(0) == (0L until 1000L).sum)
      // the rolled-over pre-restore tip still time-travels
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF " +
        s"$preRestoreTip").head().getLong(0) == 1000)
      assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF " +
        s"$preRestoreTip WHERE id >= 5000").head().getLong(0) == 100)
      // restoring to the tip itself is a no-op (no version minted)
      val tip2 = VersionedLake.tip(spark, dir).get
      assert(spark.sql(s"CALL $cat.restore(`table` => 't', " +
        s"version => $tip2)").head().isNullAt(0))
      assert(VersionedLake.tip(spark, dir).contains(tip2))

      // metadata-only case: restore to a version with NO post-target
      // vectors on its entries — every entry carries by REFERENCE
      // (v2 = the delete; its vector is AT v2, so it applies as part
      // of v2's state, no rewrite needed)
      spark.sql(s"CALL $cat.restore(`table` => 't', version => 2)")
      val t2 = spark.table(s"$cat.t")
      assert(t2.count() == 900)
      assert(t2.filter(col("id") < 100).count() == 0,
        "the at-target vector is part of the restored state")
      assert(GraftLakeDataSource.filesReadPaths(t2).toSet
        .subsetOf(files1),
        "a no-vector restore must carry v's files by reference")

      // PARTITIONED lake: a whole-leaf partition delete restores by
      // manifest reference alone
      spark.sql(s"CREATE TABLE $cat.p (id BIGINT, m INT) " +
        "PARTITIONED BY (m) TBLPROPERTIES ('deletion_vectors'='true')")
      spark.sql(s"INSERT INTO $cat.p " +
        "SELECT id, CAST(id % 3 AS INT) FROM range(0, 300)")
      val pdir = s"$root/p"
      val pv = VersionedLake.tip(spark, pdir).get
      spark.sql(s"DELETE FROM $cat.p WHERE m = 1")
      assert(spark.table(s"$cat.p").count() == 200)
      VersionedLake.restore(spark, pdir, pv)
      assert(spark.table(s"$cat.p").count() == 300)
      assert(spark.table(s"$cat.p").filter(col("m") === 1).count()
        == 100, "the dropped partition leaf must return by reference")
    }
  }
}
