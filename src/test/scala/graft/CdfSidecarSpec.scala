package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** Row-level change-data-feed sidecars (`_changes/<version>`, the
  * opt-in cdf policy) and the CDF stream's commit-ordering contract:
  * exact changed rows instead of whole-dir delete+insert pairs,
  * `_commit_version` on every event, partitions emitted per-commit
  * delete-before-insert. */
class CdfSidecarSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  test("deleteRange on a cdf lake persists exactly the deleted rows; " +
      "changes() serves from the sidecar with the same netted result " +
      "as the dir diff — but reads only the sidecar") {
    import spark.implicits._
    val dir = tempDir("cdf-del") + "/lake"
    VersionedLake.commitWithStats(
      spark.range(0, 100).toDF("id").repartition(2), dir, Seq("id"))
    VersionedLake.setChangeDataFeed(spark, dir)
    VersionedLake.deleteRange(spark, dir, "id", 10, 19)
    val sc = VersionedLake.changeSidecarPath(spark, dir, 2)
    assert(sc.nonEmpty, "cdf lake must persist the delete's sidecar")
    // the sidecar holds EXACTLY the 10 deleted rows, tagged delete
    val raw = spark.read.parquet(sc.get.toString)
    assert(raw.count() == 10)
    assert(raw.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    // changes() serves from it: same netted answer as the dir diff...
    val viaSidecar = VersionedLake.changes(spark, dir, 1, 2)
    val got = viaSidecar.filter(col("op") === "delete")
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (10L to 19L) && viaSidecar.count() == 10)
    // ...and reads ONLY the sidecar files (no pre-image dir scan)
    assert(viaSidecar.inputFiles.forall(_.contains("/_changes/")),
      s"sidecar-served changes must not rescan data dirs: " +
        s"${viaSidecar.inputFiles.mkString(", ")}")
    // equivalence: deleting the sidecar falls back to the dir diff
    // with the identical netted rows
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.delete(sc.get, true)
    val viaDiff = VersionedLake.changes(spark, dir, 1, 2)
    assert(viaDiff.filter(col("op") === "delete")
      .select("id").as[Long].collect().sorted.toSeq == got)
    assert(viaDiff.filter(col("op") === "insert").count() == 0)
  }

  test("replaceWhereIn on a cdf lake persists its netted changes: the " +
      "feed holds only the replaced keys and is served from the sidecar") {
    import spark.implicits._
    val dir = tempDir("cdf-rwi") + "/lake"
    VersionedLake.commitWithStats(spark.range(0, 100)
      .selectExpr("id", "id AS v").repartition(2), dir, Seq("id"))
    VersionedLake.setChangeDataFeed(spark, dir)
    val v = VersionedLake.replaceWhereIn(spark, dir, "id", Seq(10L, 60L),
      Seq((10L, -10L), (60L, -60L)).toDF("id", "v"))
    assert(VersionedLake.changeSidecarPath(spark, dir, v).nonEmpty,
      "a cdf lake must persist replaceWhereIn's sidecar")
    val feed = VersionedLake.changes(spark, dir, 1, v)
    assert(feed.inputFiles.forall(_.contains("/_changes/")),
      s"the feed must not rescan data dirs: ${feed.inputFiles.mkString(", ")}")
    // the survivors of the rewritten dirs cancel: only the two keys
    assert(feed.select("op", "id", "v").as[(String, Long, Long)].collect()
      .sorted.toSeq == Seq(("delete", 10L, 10L), ("delete", 60L, 60L),
        ("insert", 10L, -10L), ("insert", 60L, -60L)))
  }

  test("a torn sidecar (no _SUCCESS) is treated as absent — changes() " +
      "falls back to the dir diff instead of reading a partial feed") {
    import spark.implicits._
    val dir = tempDir("cdf-torn") + "/lake"
    VersionedLake.commitWithStats(
      spark.range(0, 50).toDF("id").repartition(1), dir, Seq("id"))
    VersionedLake.setChangeDataFeed(spark, dir)
    VersionedLake.deleteRange(spark, dir, "id", 0, 4)
    val f = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val sc = VersionedLake.changeSidecarPath(spark, dir, 2).get
    f.delete(new org.apache.hadoop.fs.Path(sc, "_SUCCESS"), false)
    assert(VersionedLake.changeSidecarPath(spark, dir, 2).isEmpty,
      "a sidecar without _SUCCESS must read as absent")
    val d = VersionedLake.changes(spark, dir, 1, 2)
    assert(d.filter(col("op") === "delete")
      .select("id").as[Long].collect().sorted.toSeq == (0L to 4L))
  }

  test("CDF stream: commit-ordered partitions (per-version delete-" +
      "before-insert, never batch-global grouping), _commit_version " +
      "on every event, sidecar rows tagged update_pre/postimage") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("cdf-order")
    val dir = s"$root/lake"
    // v1: 0..49; v2: 50..99; v3: a cdf UPDATE-shaped rewrite of v1's
    // dir (deleteRange without sidecar would do; use the library COW
    // path via deleteRange with cdf ON so v3 has a sidecar)
    VersionedLake.commitWithStats(
      spark.range(0, 50).toDF("id").repartition(1), dir, Seq("id"))
    VersionedLake.setChangeDataFeed(spark, dir)
    VersionedLake.commitWithStats(
      spark.range(50, 100).toDF("id").repartition(1), dir, Seq("id"))
    VersionedLake.deleteRange(spark, dir, "id", 0, 9)
    // ONE batch covers v1..v3: events must arrive commit-ordered
    val seen = new java.util.concurrent.CopyOnWriteArrayList[
      (Int, Long, String)]()
    val q = spark.readStream.format("graftlake")
      .option(GraftLakeDataSource.ReadChangeFeed, "true").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select(col("_commit_version"), col("_change_type")).rdd
          .mapPartitionsWithIndex((i, it) =>
            it.map(r => (i, r.getLong(0), r.getString(1))))
          .collect().foreach(seen.add)
        ()
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val rows = seen.asScala.toSeq
    assert(rows.nonEmpty && rows.forall(_._2 >= 1L),
      "every event must carry its commit version")
    // versions nondecreasing across partition indexes
    val byPartition = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (i, rs) => (i, rs.map(_._2).distinct) }
    byPartition.foreach { case (_, vs) =>
      assert(vs.length == 1, "a partition must carry ONE commit") }
    val versionSeq = byPartition.map(_._2.head)
    assert(versionSeq == versionSeq.sorted,
      s"partitions must arrive in commit order, got $versionSeq")
    // the v3 change commit delivers from the sidecar: exactly the 10
    // deleted rows, no survivor delete+insert noise
    val v3 = rows.filter(_._2 == 3L)
    assert(v3.length == 10 && v3.forall(_._3 == "delete"),
      s"sidecar commit must deliver exactly its 10 deletes, got " +
        s"${v3.length} rows / ops ${v3.map(_._3).distinct}")
    // totals reconstruct the snapshot
    val inserts = rows.count(r =>
      r._3 == "insert" || r._3 == "update_postimage")
    val deletes = rows.count(r =>
      r._3 == "delete" || r._3 == "update_preimage")
    assert(inserts - deletes == 90,
      s"signed totals must net to the live 90 rows ($inserts/$deletes)")
  }

  test("vacuum past a lagging consumer's checkpoint: the next planning " +
      "cycle throws the retention-contract error (never a raw missing-" +
      "path scan error); failOnDataLoss=false skips the expired " +
      "commits and keeps consuming new ones") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("cdf-retention")
    val dir = s"$root/lake"
    def drain(opts: Map[String, String]): Unit = {
      val r = spark.readStream.format("graftlake")
      opts.foreach { case (k, v) => r.option(k, v) }
      val q = r.load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/cp")
        .format("parquet").option("path", s"$root/sink")
        .start()
      q.awaitTermination()
    }
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    drain(Map.empty) // consumer checkpointed at v1
    (1 to 3).foreach(i => VersionedLake.commit(
      spark.range(i * 10L, i * 10L + 10).toDF("id"), dir))
    // retention expires v1..v3 while the consumer lags
    VersionedLake.vacuum(spark, dir, retain = 1, graceMs = 0)
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException](drain(Map.empty))
    val msg = e.getCause.getMessage
    assert(msg.contains("retention") && msg.contains("vacuum") &&
      msg.contains("failOnDataLoss"),
      s"must fail at planning with the retention contract, got: $msg")
    // opt-out: expired commits are skipped (their rows lost, by
    // explicit choice); NEW commits keep delivering
    VersionedLake.commit(spark.range(100, 105).toDF("id"), dir)
    drain(Map(GraftLakeDataSource.FailOnDataLoss -> "false"))
    val sunk = spark.read.parquet(s"$root/sink")
      .select("id").as[Long].collect().sorted.toSeq
    assert(sunk == ((0L until 10L) ++ (100L until 105L)),
      s"opt-out must deliver the pre-vacuum progress plus new commits, " +
        s"got $sunk")
  }

  test("SQL UPDATE on a cdf table tags update_preimage/update_postimage " +
      "and changes() maps them to delete/insert with exact values") {
    val root = tempDir("cdf-upd")
    val cat = s"glcdf_${new java.io.File(root).getName.takeRight(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES ('cdf'='true') AS " +
      "SELECT id, CAST(id AS DOUBLE) AS v FROM range(0, 100)")
    spark.sql(s"UPDATE $cat.t SET v = v * 10 WHERE id < 5")
    val sc = VersionedLake.changeSidecarPath(spark, s"$root/t", 2)
    assert(sc.nonEmpty)
    val raw = spark.read.parquet(sc.get.toString)
    // 4 pre + 4 post: id=0's update is a NO-OP (0.0 -> 0.0) and a row
    // whose image did not change is not a change — it cancels in the
    // netted diff, matching changes()'s multiset semantics
    assert(raw.count() == 8, s"4 pre + 4 post images, got ${raw.count()}")
    assert(raw.filter(col("_change_type") === "update_preimage")
      .agg(sum("v")).head().getDouble(0) == 10.0)
    assert(raw.filter(col("_change_type") === "update_postimage")
      .agg(sum("v")).head().getDouble(0) == 100.0)
    val d = VersionedLake.changes(spark, s"$root/t", 1, 2)
    assert(d.count() == 8, "changes() must serve the O(changed) sidecar")
    assert(d.filter(col("op") === "insert").agg(sum("v"))
      .head().getDouble(0) == 100.0)
    // and the table itself is intact — the COW scan must never let
    // sidecar file-pruning drop unscanned rows from a replaced dir
    assert(spark.table(s"$cat.t").count() == 100)
    assert(spark.table(s"$cat.t").agg(sum("v")).head().getDouble(0)
      == 5040.0)
  }
}
