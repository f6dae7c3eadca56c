package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** Merge-on-read UPDATE / MERGE / rich-predicate DELETE
  * ([[GraftLakeDeltaOperation]]): on a flat deletion-vector lake the
  * row-level SQL commands publish a positions sidecar plus a small
  * append instead of rewriting whole data dirs — O(changed rows)
  * bytes, the Delta/Iceberg position-delete shape. */
class GraftLakeDeltaOpSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private def withCatalog[A](root: String)(body: String => A): A = {
    val cat = s"gldop_${new java.io.File(root).getName.takeRight(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    body(cat)
  }

  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  private def topDirs(dir: String): Set[String] = {
    val f = fsOf(dir)
    f.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("d-")).toSet
  }

  private def dirBytes(dir: String, name: String): Long = {
    val f = fsOf(dir)
    f.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$dir/$name")).getLength
  }

  test("UPDATE on a flat DV lake is merge-on-read: original dirs stay " +
      "live, ONE small dir is appended, a #dv sidecar binds the " +
      "delete half, bytes written << the copy-on-write rewrite, and " +
      "results / time travel / CDF are exact") {
    val root = tempDir("gldop-upd")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v, " +
        "CONCAT('s', CAST(id % 7 AS STRING)) AS s FROM range(0, 20000)")
      spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(id AS DOUBLE), " +
        "CONCAT('s', CAST(id % 7 AS STRING)) FROM range(20000, 40000)")
      val dir = s"$root/t"
      val before = topDirs(dir)
      val beforeBytes = before.toSeq.map(dirBytes(dir, _)).sum
      // ~1% update with an EXPRESSION predicate (no pushed-filter
      // form — the class that used to force a whole-dir COW rewrite)
      spark.sql(s"UPDATE $cat.t SET v = v + 0.5 WHERE id % 100 = 3")
      val after = topDirs(dir)
      assert(before.subsetOf(after),
        "merge-on-read must keep every original dir live")
      val added = after.diff(before)
      assert(added.size == 1, s"expected ONE appended dir, got $added")
      // write amplification: the appended rewrite dir is a small
      // fraction of what the COW rewrite would have copied
      val addedBytes = dirBytes(dir, added.head)
      assert(addedBytes * 10 < beforeBytes,
        s"appended $addedBytes B vs snapshot $beforeBytes B — " +
          "not merge-on-read")
      // the commit carries a deletion-vector marker (the delete half)
      val tip = VersionedLake.tip(spark, dir).get
      assert(VersionedLake.isDvCommit(spark, dir, tip),
        "the UPDATE commit must bind a positions sidecar")
      // exactness
      val t = spark.table(s"$cat.t")
      assert(t.count() == 40000)
      assert(t.filter(col("id") % 100 === 3 && col("v") =!=
        col("id") + 0.5).count() == 0)
      assert(t.filter(col("id") % 100 =!= 3 && col("v") =!=
        col("id").cast("double")).count() == 0)
      assert(t.filter(col("id") === 103).head().getDouble(1) == 103.5)
      // time travel below the UPDATE sees the pre-images
      assert(spark.sql(
        s"SELECT v FROM $cat.t VERSION AS OF ${tip - 1} WHERE id = 103")
        .head().getDouble(0) == 103.0)
      // the change feed replays the commit as exact pre/post images
      val ch = VersionedLake.changes(spark, dir, tip - 1, tip)
      assert(ch.filter(col("op") === "delete").count() == 400)
      assert(ch.filter(col("op") === "insert").count() == 400)
      assert(ch.filter(col("op") === "insert" && col("id") === 103)
        .head().getAs[Double]("v") == 103.5)
    }
  }

  test("MERGE INTO on a flat DV lake: matched UPDATE + matched DELETE " +
      "+ NOT MATCHED INSERT in one merge-on-read commit; a no-match " +
      "merge publishes nothing") {
    val root = tempDir("gldop-mrg")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(0 AS DOUBLE) AS v FROM range(0, 10000)")
      val dir = s"$root/t"
      val before = topDirs(dir)
      spark.range(9990, 10020)
        .withColumn("v", col("id").cast("double"))
        .createOrReplaceTempView("gldop_src")
      spark.sql(
        s"""MERGE INTO $cat.t AS t USING gldop_src AS s ON t.id = s.id
           |WHEN MATCHED AND s.id % 2 = 0 THEN UPDATE SET v = s.v
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
           |""".stripMargin)
      assert(before.subsetOf(topDirs(dir)),
        "merge-on-read MERGE must keep original dirs live")
      val t = spark.table(s"$cat.t")
      // 10000 - 5 deleted (9991..9999 odd) + 20 inserted
      assert(t.count() == 10000 - 5 + 20)
      assert(t.filter(col("id") === 9990).head().getDouble(1) == 9990.0)
      assert(t.filter(col("id") === 9991).count() == 0)
      assert(t.filter(col("id") === 10019).head().getDouble(1) == 10019.0)
      assert(t.filter(col("id") < 9990 && col("v") =!= 0.0).count() == 0)
      // merge-on-read tip carries the vector binding
      val tip = VersionedLake.tip(spark, dir).get
      assert(VersionedLake.isDvCommit(spark, dir, tip))
      // a merge matching nothing publishes NO version
      spark.range(50000, 50000).withColumn("v", lit(0.0))
        .createOrReplaceTempView("gldop_empty")
      spark.sql(
        s"""MERGE INTO $cat.t AS t USING gldop_empty AS s ON t.id = s.id
           |WHEN MATCHED THEN DELETE
           |""".stripMargin)
      assert(VersionedLake.tip(spark, dir).contains(tip),
        "a no-match MERGE must publish nothing")
    }
  }

  test("rich-predicate DELETE on a flat DV lake is positions-only " +
      "(no new data dir at all); insert-only MERGE is a checked " +
      "append (no #dv marker)") {
    val root = tempDir("gldop-del")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 10000)")
      val dir = s"$root/t"
      val before = topDirs(dir)
      // OR across columns: untranslatable for the metadata delete AND
      // for the one-interval DV delete — used to be a COW rewrite
      spark.sql(s"DELETE FROM $cat.t WHERE id % 1000 = 1 OR v > 9998.5")
      assert(topDirs(dir) == before,
        "a merge-on-read DELETE must write NO data dir")
      val tip = VersionedLake.tip(spark, dir).get
      assert(VersionedLake.isDvCommit(spark, dir, tip))
      val t = spark.table(s"$cat.t")
      assert(t.count() == 10000 - 10 - 1)
      assert(t.filter(col("id") === 2001).count() == 0)
      assert(t.filter(col("id") === 9999).count() == 0)
      // insert-only MERGE: adds a dir, binds NO vector
      spark.range(20000, 20010).withColumn("v", col("id").cast("double"))
        .createOrReplaceTempView("gldop_ins")
      spark.sql(
        s"""MERGE INTO $cat.t AS t USING gldop_ins AS s ON t.id = s.id
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
           |""".stripMargin)
      val tip2 = VersionedLake.tip(spark, dir).get
      assert(tip2 == tip + 1)
      assert(!VersionedLake.isDvCommit(spark, dir, tip2),
        "an insert-only MERGE must not bind a vector")
      assert(spark.table(s"$cat.t").count() == 10000 - 11 + 10)
    }
  }

  test("merge-on-read composes: vectors from DELETE apply inside the " +
      "UPDATE scan (no resurrection, no double-delete); OPTIMIZE " +
      "materializes the combined backlog away") {
    val root = tempDir("gldop-comp")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(0 AS DOUBLE) AS v FROM range(0, 5000)")
      val dir = s"$root/t"
      spark.sql(s"DELETE FROM $cat.t WHERE id % 10 = 0") // 500 gone
      // the UPDATE's condition OVERLAPS deleted rows — they must not
      // come back as updated survivors
      spark.sql(s"UPDATE $cat.t SET v = 1.0 WHERE id % 5 = 0")
      val t = spark.table(s"$cat.t")
      assert(t.count() == 4500)
      assert(t.filter(col("id") % 10 === 0).count() == 0,
        "UPDATE must not resurrect vectored rows")
      assert(t.filter(col("v") === 1.0).count() == 500) // id%5=0, id%10!=0
      // a second UPDATE over already-updated rows: addresses the
      // APPENDED dir's rows exactly once
      spark.sql(s"UPDATE $cat.t SET v = v + 1.0 WHERE v = 1.0")
      val t2 = spark.table(s"$cat.t")
      assert(t2.count() == 4500)
      assert(t2.filter(col("v") === 2.0).count() == 500)
      assert(t2.filter(col("v") === 1.0).count() == 0)
      // OPTIMIZE materializes every pending vector; content unchanged
      assert(VersionedLake.materializeVectors(spark, dir).nonEmpty)
      val t3 = spark.table(s"$cat.t")
      assert(t3.count() == 4500)
      assert(t3.filter(col("v") === 2.0).count() == 500)
      assert(VersionedLake.liveDvKeys(spark, dir,
        VersionedLake.tip(spark, dir).get).isEmpty,
        "materialization must clear the live vector set (dead sidecar " +
          "metadata may linger for vacuum)")
    }
  }

  test("merge-on-read on a PARTITIONED DV lake: a cross-partition " +
      "UPDATE publishes per-leaf appends + one positions sidecar with " +
      "every original leaf live; MERGE inserts a NEW partition leaf; " +
      "time travel and the change feed stay exact") {
    val root = tempDir("gldop-part")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE, m INT) " +
        "PARTITIONED BY (m) TBLPROPERTIES ('deletion_vectors'='true')")
      spark.range(0, 9000)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v",
          "CAST(id % 3 AS INT) AS m")
        .createOrReplaceTempView("gldop_part_in")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM gldop_part_in")
      val dir = s"$root/t"
      val before = VersionedLake.manifestEntries(spark, dir,
        VersionedLake.tip(spark, dir).get)
      // expression predicate spanning ALL THREE partitions
      spark.sql(s"UPDATE $cat.t SET v = v + 0.5 WHERE id % 100 = 7")
      val tip = VersionedLake.tip(spark, dir).get
      val after = VersionedLake.manifestEntries(spark, dir, tip)
      assert(before.forall(after.contains),
        "every original leaf must stay live under merge-on-read")
      val added = after.filterNot(before.contains)
      assert(added.size == 3 && added.forall(_.matches("d-[^/]+/m=\\d")),
        s"expected one appended leaf per touched partition, got $added")
      assert(VersionedLake.isDvCommit(spark, dir, tip))
      val t = spark.table(s"$cat.t")
      assert(t.count() == 9000)
      assert(t.filter(col("id") % 100 === 7 &&
        col("v") =!= col("id") + 0.5).count() == 0)
      assert(t.filter(col("id") % 100 =!= 7 &&
        col("v") =!= col("id").cast("double")).count() == 0)
      // partition pruning still serves the updated table
      assert(t.filter(col("m") === 1).count() == 3000)
      // time travel below the UPDATE sees pre-images
      assert(spark.sql(s"SELECT v FROM $cat.t VERSION AS OF ${tip - 1} " +
        "WHERE id = 107").head().getDouble(0) == 107.0)
      // the change feed replays exact pre/post images with partition
      // values as data columns
      val ch = VersionedLake.changes(spark, dir, tip - 1, tip)
      assert(ch.filter(col("op") === "delete").count() == 90)
      assert(ch.filter(col("op") === "insert").count() == 90)
      assert(ch.filter(col("op") === "insert" && col("id") === 107)
        .select("m").head().getInt(0) == 2)
      // MERGE inserting a NEW partition value mints a new leaf; the
      // matched delete stays positions-only
      spark.range(8995, 9005)
        .selectExpr("id", "CAST(0 AS DOUBLE) AS v", "CAST(7 AS INT) AS m")
        .createOrReplaceTempView("gldop_part_src")
      spark.sql(
        s"""MERGE INTO $cat.t AS t USING gldop_part_src AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT (id, v, m) VALUES (s.id, s.v, s.m)
           |""".stripMargin)
      val tip2 = VersionedLake.tip(spark, dir).get
      assert(VersionedLake.isDvCommit(spark, dir, tip2))
      val entries2 = VersionedLake.manifestEntries(spark, dir, tip2)
      assert(entries2.exists(_.endsWith("/m=7")),
        s"the NOT MATCHED insert must mint a new partition leaf: $entries2")
      val t2 = spark.table(s"$cat.t")
      assert(t2.count() == 9000 - 5 + 5)
      assert(t2.filter(col("m") === 7).count() == 5)
      assert(t2.filter(col("id") === 8995).count() == 0)
      // rich-predicate DELETE stays positions-only on the partitioned
      // lake too (no dirs change)
      val dirsBefore = VersionedLake.manifestEntries(spark, dir, tip2)
      spark.sql(s"DELETE FROM $cat.t WHERE id % 1000 = 1 OR v > 9003.5")
      val tip3 = VersionedLake.tip(spark, dir).get
      assert(VersionedLake.manifestEntries(spark, dir, tip3)
        .sorted == dirsBefore.sorted,
        "a partitioned merge-on-read DELETE must change no entries")
      // fresh read (t2 is pinned at its own resolution snapshot):
      // ids 1,1001..8001 (9 live originals) + 9001 (the m=7 insert,
      // 9001 % 1000 = 1) die; no surviving v exceeds 9003.5
      assert(spark.table(s"$cat.t").count() == 9000 - 10)
    }
  }

  test("merge-on-read on a COLUMN-MAPPING DV lake: UPDATE/MERGE across " +
      "a rename era id-match the pre-rename files (no nulled columns), " +
      "publish positions + a small id-stamped append, and the change " +
      "feed replays exactly") {
    val root = tempDir("gldop-map")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES ('deletion_vectors'='true', 'column_mapping'='id')")
      spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(id AS DOUBLE) " +
        "FROM range(0, 5000)")
      val dir = s"$root/t"
      // metadata-only RENAME: pre-rename files keep the old name on
      // disk — every later read/write must bind by field id
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO val")
      spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(id AS DOUBLE) " +
        "FROM range(5000, 8000)")
      val before = VersionedLake.manifestEntries(spark, dir,
        VersionedLake.tip(spark, dir).get)
      // expression-predicate UPDATE spanning BOTH column eras
      spark.sql(s"UPDATE $cat.t SET val = val + 0.5 WHERE id % 100 = 7")
      val tip = VersionedLake.tip(spark, dir).get
      assert(VersionedLake.isDvCommit(spark, dir, tip),
        "the mapped UPDATE must bind a positions sidecar")
      val after = VersionedLake.manifestEntries(spark, dir, tip)
      assert(before.forall(after.contains),
        "merge-on-read must keep every original dir live")
      val t = spark.table(s"$cat.t")
      assert(t.count() == 8000)
      // pre-rename-era rows updated correctly (id 7 lives in the first
      // insert's files, written under the OLD name `v`)
      assert(t.filter(col("id") === 7).head().getDouble(1) == 7.5)
      assert(t.filter(col("id") === 5107).head().getDouble(1) == 5107.5)
      assert(t.filter(col("id") % 100 =!= 7 &&
        col("val") =!= col("id").cast("double")).count() == 0,
        "a name-matched read would have nulled pre-rename rows")
      // the change feed replays exact pre/post images under the
      // CURRENT name
      val ch = VersionedLake.changes(spark, dir, tip - 1, tip)
      assert(ch.filter(col("op") === "delete").count() == 80)
      assert(ch.filter(col("op") === "insert").count() == 80)
      assert(ch.filter(col("op") === "delete" && col("id") === 7)
        .select("val").head().getDouble(0) == 7.0)
      // MERGE across the rename era too: matched delete + new inserts
      spark.range(7995, 8005).toDF("k")
        .createOrReplaceTempView("gldop_map_src")
      spark.sql(
        s"""MERGE INTO $cat.t AS t USING gldop_map_src AS s ON t.id = s.k
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT (id, val)
           |  VALUES (s.k, CAST(-1.0 AS DOUBLE))
           |""".stripMargin)
      val t2 = spark.table(s"$cat.t")
      assert(t2.count() == 8000 - 5 + 5)
      assert(t2.filter(col("id") === 7996).count() == 0)
      assert(t2.filter(col("id") === 8004).head().getDouble(1) == -1.0)
      // a post-merge rename still reads everything (the staged rewrite
      // carried field ids)
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN val TO w")
      val t3 = spark.table(s"$cat.t")
      assert(t3.filter(col("w") === -1.0).count() == 5,
        "the merge-on-read append must carry field ids")
      assert(t3.filter(col("id") === 107).head().getDouble(1) == 107.5)
    }
  }

  test("join-driven runtime file pruning reaches the MERGE target " +
      "scan: a tiny source's keys prune delta-scan files through the " +
      "sidecars at execution, results identical to unpruned") {
    val root = tempDir("gldop-dpp")
    withCatalog(root) { cat =>
      val dir = s"$root/t"
      // four disjoint-range commits, stats+bloom indexed on id, into a
      // DV-enabled lake registered under the catalog
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE) " +
        "TBLPROPERTIES ('deletion_vectors'='true')")
      Seq((0L, 2000L), (2000L, 4000L), (4000L, 6000L), (6000L, 8000L))
        .foreach { case (lo, hi) =>
          VersionedLake.commitIndexed(
            spark.range(lo, hi).toDF("id")
              .withColumn("v", col("id").cast("double")).coalesce(2),
            dir, Seq("id"), Some("id"))
        }
      // FILE-backed source (a local relation's filter folds before the
      // pruning rule sees it — same lesson as the snapshot-scan DPP
      // spec) with keys confined to ONE commit's range
      import spark.implicits._
      Seq((4100L, -7.0, "x"), (4200L, -7.0, "y"), (99999L, -7.0, "z"))
        .toDF("k", "nv", "tag").write.parquet(s"$root/src")
      // capture the MERGE command's executed plan — commands return no
      // DataFrame handle to walk
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
        spark.read.parquet(s"$root/src")
          .filter(col("tag").isin("x", "y"))
          .createOrReplaceTempView("gldop_dpp_src")
        spark.sql(
          s"""MERGE INTO $cat.t AS t USING gldop_dpp_src AS s
             |ON t.id = s.k
             |WHEN MATCHED THEN UPDATE SET v = s.nv
             |""".stripMargin)
        // QueryExecutionListener delivery is async on the shared
        // listener bus — drain the bus (event-driven, returns as soon
        // as delivery happened) instead of a fixed wall-clock poll
        // that flakes under host load
        org.apache.spark.graft.ListenerBusFlush.waitUntilEmpty(
          spark.sparkContext, 120000)
        // correctness first
        val t = spark.table(s"$cat.t")
        assert(t.count() == 8000)
        assert(t.filter(col("v") === -7.0).count() == 2)
        assert(t.filter(col("id") === 4100L).head().getDouble(1) == -7.0)
        assert(t.filter(col("v") =!= col("id").cast("double"))
          .count() == 2, "only the two matched rows may change")
        // pruning evidence: both keys live in the third commit's range,
        // so at most that commit's files survive the runtime filter
        val plan = captured.getOrElse(fail(
          "listener captured no delta-write plan"))
        // count ONLY the delta target scan's files (the captured plan
        // also holds the source's parquet scan)
        import org.apache.spark.sql.execution.SparkPlan
        def walk(p: SparkPlan): Seq[SparkPlan] = p match {
          case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
            .QueryStageExec => walk(q.plan)
          case other =>
            other +: (other.children ++ other.subqueries).flatMap(walk)
        }
        val read = walk(plan).collect {
          case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec if b.scan.isInstanceOf[GraftLakeDeltaScan] =>
            b.scan.asInstanceOf[GraftLakeDeltaScan].planInputPartitions()
              .map {
                case fp: org.apache.spark.sql.execution.datasources
                  .FilePartition => fp.files.length
                case _ => 0
              }.sum
        }.sum
        val total = GraftLakeDataSource.filesRead(spark.table(s"$cat.t"))
        assert(read < total,
          s"MERGE target scan pruned nothing: $read/$total")
        assert(read <= 2,
          s"expected at most one commit's files, read $read/$total")
      } finally spark.listenerManager.unregister(listener)
    }
  }

  test("serializable refusals: a concurrent append (or rewrite) " +
      "between the delta scan and its publish refuses loudly instead " +
      "of ghosting rows") {
    val root = tempDir("gldop-ser")
    val dir = s"$root/t"
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(0 AS DOUBLE) AS v FROM range(0, 1000)")
      val observed = VersionedLake.tip(spark, dir).get
      val snapshot = VersionedLake.manifestEntries(spark, dir, observed)
      // a concurrent append lands AFTER the (simulated) scan
      spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(9 AS DOUBLE) " +
        "FROM range(1000, 1100)")
      val e = intercept[java.util.ConcurrentModificationException] {
        VersionedLake.publish(spark, dir, VersionedLake.mergeOnReadCommit(
          spark, dir, observed, snapshot.toSet, snapshot, Seq("d-bogus"),
          None, "abcdef123456", None, None))
      }
      assert(e.getMessage.contains("appended by a concurrent commit"))
      // a concurrent ROW-LEVEL commit is ADJUDICATED by footprint:
      // OVERLAPPING positions refuse (a lost update) — and the
      // refusal restores a version-renamed sidecar to its stage path
      // so the caller's cleanup covers it (no on-disk orphan)
      val observed2 = VersionedLake.tip(spark, dir).get
      val snap2 = VersionedLake.manifestEntries(spark, dir, observed2)
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (1, 2, 3)")
      val f = fsOf(dir)
      val theirSidecar = f.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/_deletes"))
        .map(_.getPath).filter(_.getName.startsWith("v")).head
      val theirs = spark.read.parquet(theirSidecar.toString)
      val mkStage = (name: String, df: org.apache.spark.sql.DataFrame)
          => {
        val p = s"$dir/_deletes/stage-$name"
        df.coalesce(1).write.parquet(p)
        new org.apache.hadoop.fs.Path(p)
      }
      val overlapStage = mkStage("abcdef123457", theirs)
      val e2 = intercept[java.util.ConcurrentModificationException] {
        VersionedLake.publish(spark, dir, VersionedLake.mergeOnReadCommit(
          spark, dir, observed2, snap2.toSet, snap2, Seq.empty,
          Some(overlapStage), "abcdef123457", None, None))
      }
      assert(e2.getMessage.contains("lost update"), e2.getMessage)
      assert(f.exists(overlapStage),
        "a refusal must leave the sidecar on its STAGE path")
      f.delete(overlapStage, true)
      // DISJOINT positions auto-serialize: the same shape with
      // non-overlapping positions (real addresses of OTHER rows, via
      // the row-address metadata columns) publishes WITHOUT a caller
      // retry
      val disjointStage = mkStage("abcdef123458",
        spark.sql(s"SELECT __graft_file AS fkey, __graft_pos AS pos " +
          s"FROM $cat.t WHERE id IN (501, 502, 503)")
          .selectExpr("substring_index(fkey, '/', 1) AS entry",
            "substring_index(fkey, '/', -1) AS file", "pos"))
      val tipBefore = VersionedLake.tip(spark, dir).get
      val committed = VersionedLake.publish(spark, dir,
        VersionedLake.mergeOnReadCommit(spark, dir, observed2, snap2.toSet,
          snap2, Seq.empty, Some(disjointStage), "abcdef123458", None,
          None)).get
      assert(committed == tipBefore + 1,
        "disjoint-position row-level commits must auto-serialize")
      // both vectors applied: ids 1,2,3 (theirs) + 501,502,503 (ours)
      assert(spark.table(s"$cat.t").count() == 1100 - 6)
    }
  }

  test("a DELETE's publish subtracts a concurrent pure delete's " +
      "overlapping positions and re-stages its change rows; overlap " +
      "with a concurrent UPDATE stays a lost update; a fully " +
      "overlapped DELETE publishes nothing and leaves no staging") {
    import spark.implicits._
    val root = tempDir("gldop-absorb")
    val dir = s"$root/t"
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 1000)")
      val f = fsOf(dir)
      val observed = VersionedLake.tip(spark, dir).get
      val snap = VersionedLake.manifestEntries(spark, dir, observed)
      // every row's address at the observed version, for staging
      // positions and deriving change rows the way the delta write does
      spark.sql(s"SELECT id, __graft_file AS fkey, __graft_pos AS pos " +
        s"FROM $cat.t")
        .selectExpr("id", "substring_index(fkey, '/', 1) AS entry",
          "substring_index(fkey, '/', -1) AS file", "pos")
        .write.parquet(s"$root/addr")
      val addr = spark.read.parquet(s"$root/addr")
      def stage(uuid: String, ids: Seq[Long])
          : org.apache.hadoop.fs.Path = {
        val p = s"$dir/_deletes/stage-$uuid"
        addr.filter(col("id").isin(ids: _*))
          .select("entry", "file", "pos").coalesce(1).write.parquet(p)
        new org.apache.hadoop.fs.Path(p)
      }
      def changeRows(uuid: String, stagePath: org.apache.hadoop.fs.Path)
          : Unit = {
        val out = new org.apache.hadoop.fs.Path(s"$dir/_changes/dv-$uuid")
        f.delete(out, true)
        spark.read.parquet(stagePath.toString)
          .join(addr, Seq("entry", "file", "pos")).select("id")
          .withColumn("_change_type", lit("delete"))
          .write.parquet(out.toString)
      }
      def publish(uuid: String, p: org.apache.hadoop.fs.Path): Option[Int] = {
        changeRows(uuid, p)
        VersionedLake.publish(spark, dir, VersionedLake.mergeOnReadCommit(
          spark, dir, observed, snap.toSet, snap, Seq.empty, Some(p), uuid,
          None, Some(() => changeRows(uuid, p))))
      }
      def sidecarOf(uuid: String): Seq[String] =
        f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_deletes"))
          .map(_.getPath.getName).filter(_.matches(s"v\\d+-$uuid")).toSeq

      // 1. overlap with a concurrent PURE delete: the rest publishes
      val ours = stage("a1b2c3d4e5f6", 10L until 20L)
      spark.sql(s"DELETE FROM $cat.t WHERE id IN " +
        (15L until 25L).mkString("(", ",", ")"))
      val v1 = publish("a1b2c3d4e5f6", ours)
      assert(v1.contains(observed + 2),
        "the DELETE must publish the positions left after subtraction")
      val bound = f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_deletes"))
        .map(_.getPath).filter(_.getName.startsWith("v")).map(_.toString)
      assert(bound.length == 2)
      val all = spark.read.parquet(bound.toSeq: _*)
        .select("entry", "file", "pos")
      assert(all.count() == 15 && all.distinct().count() == 15,
        "no position may be published twice")
      val fed = spark.read.parquet(s"$dir/_changes/dv-a1b2c3d4e5f6")
        .select("id").as[Long].collect().sorted.toSeq
      assert(fed == (10L until 15L),
        "the change rows must be re-staged without the absorbed rows")
      assert(spark.table(s"$cat.t").count() == 1000 - 15)

      // 2. the same overlap with a concurrent UPDATE: a lost update,
      // and the sidecar goes back on its stage path
      val observedU = VersionedLake.tip(spark, dir).get
      val snapU = VersionedLake.manifestEntries(spark, dir, observedU)
      val oursU = {
        val p = s"$dir/_deletes/stage-b1b2c3d4e5f6"
        spark.sql(s"SELECT __graft_file AS fkey, __graft_pos AS pos " +
          s"FROM $cat.t WHERE id >= 30 AND id < 40")
          .selectExpr("substring_index(fkey, '/', 1) AS entry",
            "substring_index(fkey, '/', -1) AS file", "pos")
          .coalesce(1).write.parquet(p)
        new org.apache.hadoop.fs.Path(p)
      }
      spark.sql(s"UPDATE $cat.t SET v = -1.0 WHERE id >= 35 AND id < 45")
      val e = intercept[java.util.ConcurrentModificationException] {
        VersionedLake.publish(spark, dir, VersionedLake.mergeOnReadCommit(
          spark, dir, observedU, snapU.toSet, snapU, Seq.empty, Some(oursU),
          "b1b2c3d4e5f6", None, Some(() => ())))
      }
      assert(e.getMessage.contains("lost update"), e.getMessage)
      assert(f.exists(oursU) && sidecarOf("b1b2c3d4e5f6").isEmpty,
        "a refusal must leave the sidecar on its stage path")
      f.delete(oursU, true)

      // 3. every position already deleted concurrently: nothing is
      // published and no staging is left
      val tipBefore = VersionedLake.tip(spark, dir).get
      val gone = stage("c1b2c3d4e5f6", 50L until 55L)
      spark.sql(s"DELETE FROM $cat.t WHERE id >= 50 AND id < 60")
      assert(publish("c1b2c3d4e5f6", gone).isEmpty,
        "a fully overlapped DELETE must publish nothing")
      assert(VersionedLake.tip(spark, dir).contains(tipBefore + 1))
      assert(!f.exists(gone) && sidecarOf("c1b2c3d4e5f6").isEmpty &&
        !f.exists(new org.apache.hadoop.fs.Path(
          s"$dir/_deletes/stage-c1b2c3d4e5f6.rest")) &&
        !f.exists(new org.apache.hadoop.fs.Path(
          s"$dir/_changes/dv-c1b2c3d4e5f6")),
        "no staging may be left behind")
      assert(spark.table(s"$cat.t").count() == 1000 - 25)
    }
  }

  test("CONCURRENT disjoint-key UPDATEs both land without caller " +
      "retries: the merge-on-read publish adjudicates the other's " +
      "footprint (position semi-join) instead of refusing, and the " +
      "serialized result is exact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tempDir("gldop-race")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 2000)")
      val dir = s"$root/t"
      val v0 = VersionedLake.tip(spark, dir).get
      // the frequent-small-corrections shape: two writers, disjoint
      // key sets (same files — entry-level screening is NOT enough,
      // the exact position check must admit them)
      val race = Future.sequence(Seq(
        Future(spark.sql(
          s"UPDATE $cat.t SET v = v + 10000.0 WHERE id % 4 = 0")),
        Future(spark.sql(
          s"UPDATE $cat.t SET v = v + 20000.0 WHERE id % 4 = 1"))))
      Await.result(race, 180.seconds) // either throwing fails the test
      assert(VersionedLake.tip(spark, dir).get == v0 + 2,
        "both updates must publish exactly one version each")
      val t = spark.table(s"$cat.t")
      assert(t.count() == 2000)
      assert(t.filter(col("id") % 4 === 0 &&
        col("v") =!= col("id") + 10000.0).count() == 0)
      assert(t.filter(col("id") % 4 === 1 &&
        col("v") =!= col("id") + 20000.0).count() == 0)
      assert(t.filter(col("id") % 4 >= 2 &&
        col("v") =!= col("id").cast("double")).count() == 0,
        "untouched keys must keep their values")
    }
  }

  test("COMMIT TAG (spark.graft.lake.commitTag): a tagged row-level " +
      "commit publishes once; replaying it commits NOTHING and leaves " +
      "the published version intact (data dir, vector, change sidecar)") {
    val root = tempDir("gldop-tag")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 2000)")
      val dir = s"$root/t"
      def tagged[A](t: String)(body: => A): A = {
        spark.conf.set("spark.graft.lake.commitTag", t)
        try body finally spark.conf.unset("spark.graft.lake.commitTag")
      }
      tagged("batch_7") {
        spark.sql(s"UPDATE $cat.t SET v = v + 1000.0 WHERE id % 5 = 0")
      }
      val tip1 = VersionedLake.tip(spark, dir).get
      assert(VersionedLake.isDvCommit(spark, dir, tip1))
      def state() = spark.table(s"$cat.t")
        .agg(count(lit(1)), sum("v")).head()
      val s1 = state()
      assert(s1.getLong(0) == 2000)
      // the REPLAY: same tag, same (or even different) statement —
      // the lake must not move, and the published version must not be
      // hollowed out (the replay's cleanup may touch ONLY its own
      // staging residue)
      tagged("batch_7") {
        spark.sql(s"UPDATE $cat.t SET v = v + 1000.0 WHERE id % 5 = 0")
      }
      assert(VersionedLake.tip(spark, dir).get == tip1,
        "a replayed commit tag must publish nothing")
      val s2 = state()
      assert(s2.getLong(0) == 2000 &&
        s2.getDouble(1) == s1.getDouble(1),
        "the replay must leave the published rows intact")
      // a DIFFERENT tag is a different transaction and lands normally
      tagged("batch_8") {
        spark.sql(s"UPDATE $cat.t SET v = v + 1.0 WHERE id = 3")
      }
      assert(VersionedLake.tip(spark, dir).get == tip1 + 1)
      assert(spark.table(s"$cat.t").filter(col("id") === 3)
        .head().getDouble(1) == 4.0)
      // and the change feed still replays the FIRST commit exactly
      // (its sidecar survived the replay attempt)
      val ch = VersionedLake.changes(spark, dir, tip1 - 1, tip1)
      assert(ch.filter(col("op") === "delete").count() == 400 &&
        ch.filter(col("op") === "insert").count() == 400,
        "the tagged commit's change sidecar must survive a replay")
      // RESTORE x tag: restoring to BEFORE the tagged commit does not
      // reset the tag — the marker is durable, so a replay after the
      // restore still publishes nothing. Deliberate at-most-once
      // semantics (Delta's transaction-identifier caveat has the same
      // shape): the lake refuses to double-apply even when the
      // restored state no longer carries the batch; re-applying is a
      // NEW decision that needs a new tag, not a replay.
      VersionedLake.restore(spark, dir, tip1 - 1)
      val restoredSum = spark.table(s"$cat.t").agg(sum("v"))
        .head().getDouble(0)
      tagged("batch_7") {
        spark.sql(s"UPDATE $cat.t SET v = v + 1000.0 WHERE id % 5 = 0")
      }
      assert(spark.table(s"$cat.t").agg(sum("v")).head().getDouble(0)
        == restoredSum,
        "a tag must stay consumed across RESTORE (at-most-once)")
    }
  }

  test("COMMIT TAG replay that FAILS mid-job: abort must not hollow " +
      "out the published version (data dir + change sidecar are the " +
      "ORIGINAL commit's live artifacts under a published tag)") {
    val root = tempDir("gldop-tagabort")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 2000)")
      val dir = s"$root/t"
      def tagged[A](t: String)(body: => A): A = {
        spark.conf.set("spark.graft.lake.commitTag", t)
        try body finally spark.conf.unset("spark.graft.lake.commitTag")
      }
      tagged("batch_3") {
        spark.sql(s"UPDATE $cat.t SET v = v + 1000.0 WHERE id % 5 = 0")
      }
      val tip1 = VersionedLake.tip(spark, dir).get
      val s1 = spark.table(s"$cat.t").agg(count(lit(1)), sum("v")).head()
      // the REPLAY (same tag) fails DURING the write job — a UDF that
      // throws per-row, so planning succeeds, tasks fail, and Spark
      // calls BatchWrite.abort. The abort may clean ONLY the replay's
      // own staging residue; d-<tag> and _changes/dv-<tag> are live.
      spark.udf.register("gldop_boom", (i: Long) =>
        if (i >= 0) throw new RuntimeException("gldop boom") else i)
      val thrown = intercept[Exception] {
        tagged("batch_3") {
          spark.sql(s"UPDATE $cat.t SET v = v + 1000.0 " +
            "WHERE id % 5 = 0 AND id = gldop_boom(id)")
        }
      }
      assert(thrown.getMessage != null)
      assert(VersionedLake.tip(spark, dir).get == tip1,
        "a failed replay must publish nothing")
      val s2 = spark.table(s"$cat.t").agg(count(lit(1)), sum("v")).head()
      assert(s2.getLong(0) == 2000 &&
        s2.getDouble(1) == s1.getDouble(1),
        "the failed replay's abort deleted live published data")
      val ch = VersionedLake.changes(spark, dir, tip1 - 1, tip1)
      assert(ch.filter(col("op") === "delete").count() == 400 &&
        ch.filter(col("op") === "insert").count() == 400,
        "the failed replay's abort deleted the live change sidecar")
      // and a FRESH failed write (unpublished tag) still cleans fully
      val before = topDirs(dir)
      val t2 = intercept[Exception] {
        tagged("batch_4") {
          spark.sql(s"UPDATE $cat.t SET v = v + 1.0 " +
            "WHERE id % 5 = 1 AND id = gldop_boom(id)")
        }
      }
      assert(t2.getMessage != null)
      assert(VersionedLake.tip(spark, dir).get == tip1)
      assert(topDirs(dir) == before,
        "an aborted unpublished tagged write must leave no data dir")
      val f = fsOf(dir)
      val stage = new org.apache.hadoop.fs.Path(s"$dir/_deletes")
      val residue = if (!f.exists(stage)) Seq.empty
        else f.listStatus(stage).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("stage-"))
      assert(residue.isEmpty, s"staging residue left: $residue")
    }
  }

  test("POST-PUBLISH failure (marker write blocked): commit reports " +
      "the failure but the PUBLISHED version survives Spark's " +
      "commit-failure abort; the replay no-ops off manifest " +
      "membership and heals the missing marker") {
    val root = tempDir("gldop-postpub")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 2000)")
      val dir = s"$root/t"
      val f = fsOf(dir)
      val tip0 = VersionedLake.tip(spark, dir).get
      def tagged[A](t: String)(body: => A): A = {
        spark.conf.set("spark.graft.lake.commitTag", t)
        try body finally spark.conf.unset("spark.graft.lake.commitTag")
      }
      // BLOCK the marker write: a regular FILE where the _tags
      // directory must be created — the MoR publish succeeds, then
      // writeTagMarker throws, commit() throws AFTER the publish, and
      // Spark routes the failure through BatchWrite.abort
      val tagsPath = new org.apache.hadoop.fs.Path(s"$dir/_tags")
      f.create(tagsPath, true).close()
      val thrown = intercept[Exception] {
        tagged("batch_9") {
          spark.sql(s"UPDATE $cat.t SET v = v + 1000.0 WHERE id % 5 = 0")
        }
      }
      assert(thrown.getMessage != null)
      // the publish is durable: tip advanced, the vector bound, the
      // updated rows visible — abort must NOT have deleted the data
      // dir or change sidecar the new manifest references
      assert(VersionedLake.tip(spark, dir).get == tip0 + 1,
        "the publish preceded the failure and must survive it")
      assert(VersionedLake.isDvCommit(spark, dir, tip0 + 1))
      val s1 = spark.table(s"$cat.t").agg(count(lit(1)), sum("v")).head()
      assert(s1.getLong(0) == 2000,
        "post-publish abort deleted live published data")
      assert(s1.getDouble(1) ==
        (0 until 2000).map(_.toDouble).sum + 400 * 1000.0)
      val ch = VersionedLake.changes(spark, dir, tip0, tip0 + 1)
      assert(ch.filter(col("op") === "delete").count() == 400,
        "post-publish abort deleted the live change sidecar")
      // UNBLOCK and replay the same tag: the marker is missing but
      // manifest membership answers published — the replay publishes
      // nothing and HEALS the marker for O(1) future checks
      f.delete(tagsPath, false)
      tagged("batch_9") {
        spark.sql(s"UPDATE $cat.t SET v = v + 1000.0 WHERE id % 5 = 0")
      }
      assert(VersionedLake.tip(spark, dir).get == tip0 + 1,
        "the unmarked-but-published tag must still refuse a replay")
      assert(spark.table(s"$cat.t").agg(sum("v")).head().getDouble(0)
        == s1.getDouble(1))
      assert(f.exists(new org.apache.hadoop.fs.Path(
        s"$dir/_tags/${VersionedLake.commitTagUuid("batch_9")}")),
        "the replay's no-op branch must heal the missing marker")
    }
  }

  test("MoR MAINTENANCE bounds BOTH tails: N small UPDATEs leave N " +
      "tiny dirs + N vector sidecars; materialization (dv_max_pending) " +
      "+ compactSmall + vacuum drain them to O(1) live files with " +
      "rows exact") {
    val root = tempDir("gldop-maint")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 20000)")
      val dir = s"$root/t"
      val f = fsOf(dir)
      def liveFiles(): Int = VersionedLake.liveDataFileCount(spark, dir)
      def pendingPositions(): Long = {
        // LIVE vectors only: a materialized-away sidecar still lists
        // until vacuum, but its files left the manifest
        val tip = VersionedLake.tip(spark, dir).get
        val live = VersionedLake.liveDvKeys(spark, dir, tip).toSet
        VersionedLake.dvRefs(spark, dir, tip)
          .filter { case (k, _) => live(k) }.values.map(_.count).sum
      }
      val baseFiles = liveFiles()
      val n = 12
      (0 until n).foreach { i =>
        spark.sql(s"UPDATE $cat.t SET v = v + 1.0 " +
          s"WHERE id % 997 = $i") // ~20 rows per update
      }
      // the N-update tail: one tiny dir + one vector commit each
      val afterN = liveFiles()
      assert(afterN >= baseFiles + n,
        s"expected >= $n appended dirs' files, got $afterN vs $baseFiles")
      assert(pendingPositions() > 0)
      // maintenance pass 1 — MATERIALIZE: tightening the pending
      // bound to 1 rewrites the vectored files NOW (the ALTER calls
      // enforceDvBound itself); a subsequent tiny update may leave at
      // most its own position (1 is not > 1)
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
        "('dv_max_pending'='1')")
      assert(pendingPositions() == 0,
        "a tightened bound must drain the pending backlog now")
      spark.sql(s"UPDATE $cat.t SET v = v + 1.0 WHERE id = 19999")
      assert(pendingPositions() <= 1,
        "post-materialization churn stays within the bound")
      // maintenance pass 2 — COMPACT the small-dir tail into one dir;
      // pass 3 — VACUUM sweeps dead sidecars and history
      VersionedLake.compactSmall(spark, dir, Long.MaxValue)
      VersionedLake.vacuum(spark, dir, retain = 1, graceMs = 0)
      val afterMaint = liveFiles()
      assert(afterMaint <= 2,
        s"maintenance must bound live files to O(1), got $afterMaint")
      // no dead sidecar parts survive the vacuum
      val deletes = new org.apache.hadoop.fs.Path(s"$dir/_deletes")
      val sidecarsLeft =
        if (!f.exists(deletes)) 0 else f.listStatus(deletes).length
      assert(sidecarsLeft == 0,
        s"vacuum must sweep dead sidecars, $sidecarsLeft left")
      // exactness after the whole lifecycle: each id updated once per
      // matching residue pass
      val t = spark.table(s"$cat.t")
      assert(t.count() == 20000)
      (0 until n).foreach { i =>
        assert(t.filter(col("id") % 997 === i &&
          col("v") =!= col("id") + 1.0 &&
          col("id") =!= 19999).count() == 0, s"residue $i")
      }
      assert(t.filter(col("id") === 19999).head().getDouble(1) ==
        (if (19999 % 997 < n) 20001.0 else 20000.0))
    }
  }

  test("DV-NET statistics reach the DELTA scan: the optimized " +
      "row-level plan's target estimate shrinks with the deleted " +
      "fraction (Spark forbids broadcasting the target itself — " +
      "no_broadcast_and_replication — so the stats ARE the evidence)") {
    val root = tempDir("gldop-stats")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS " +
        "SELECT id, CAST(id AS DOUBLE) AS v, repeat('x', 64) AS pad " +
        "FROM range(0, 40000)")
      spark.range(0, 3000)
        .selectExpr("id AS k", "CAST(-1.0 AS DOUBLE) AS nv")
        .write.parquet(s"$root/src")
      spark.read.parquet(s"$root/src")
        .createOrReplaceTempView("gldop_stats_src")
      @volatile var captured
          : Option[org.apache.spark.sql.execution.QueryExecution] = None
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          if (qe.executedPlan.getClass.getSimpleName
              .startsWith("WriteDelta"))
            captured = Some(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      // the target-side relation estimate INSIDE the captured
      // row-level plan, plus the join hint Spark stamps on it
      def mergeOnce(): (Long, String) = {
        captured = None
        spark.sql(s"""MERGE INTO $cat.t AS t USING gldop_stats_src AS s
                     |ON t.id = s.k
                     |WHEN MATCHED THEN UPDATE SET v = s.nv
                     |""".stripMargin)
        // same event-driven bus drain as the DPP capture above — a
        // fixed 10 s poll flaked under the driver's host load
        org.apache.spark.graft.ListenerBusFlush.waitUntilEmpty(
          spark.sparkContext, 120000)
        val qe = captured.getOrElse(fail(
          "listener captured no delta-write plan"))
        var est = -1L
        var hint = ""
        qe.optimizedPlan.foreach {
          case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation
              if r.scan.isInstanceOf[GraftLakeDeltaScan] =>
            est = r.stats.sizeInBytes.toLong
          case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
            hint = j.hint.toString
          case _ => ()
        }
        assert(est > 0, "no delta-scan relation in the optimized plan")
        (est, hint)
      }
      spark.listenerManager.register(listener)
      try {
        val (rawEst, hint) = mergeOnce()
        // Spark itself forbids broadcasting/replicating a row-level
        // TARGET (each replica would re-emit the same row ops) — the
        // estimate's consumers are everything else join planning
        // weighs: build-side choice, reorder, AQE thresholds
        assert(hint.contains("no_broadcast_and_replication"), hint)
        // vector 90% of the rows away — bytes stay on disk, the
        // exact over-estimate hazard this override removes
        spark.sql(s"DELETE FROM $cat.t WHERE id % 10 != 3")
        val (netEst, _) = mergeOnce()
        assert(netEst * 5 < rawEst,
          s"delta-scan estimate did not net the deleted fraction: " +
            s"$netEst vs raw $rawEst")
        // and the merges themselves were exact
        val t = spark.table(s"$cat.t")
        assert(t.count() == 4000)
        assert(t.filter(col("id") < 3000 && col("v") =!= -1.0)
          .count() == 0, "matched rows must carry the merge value")
      } finally spark.listenerManager.unregister(listener)
    }
  }
}
