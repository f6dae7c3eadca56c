package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine._

/** The lake metadata cache: snapshot reads plan without a Spark listing
  * job and re-plan from the cache, and no cached listing or sidecar
  * outlives a lake deleted and re-created at the same path. */
class LakeMetaCacheSpec extends AnyFunSuite {
  import TestSpark.{jobsDuring, spark, tempDir}

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("snapshot reads of a 40-dir lake plan without a listing job, and " +
      "a second plan of the same version is served from the cache") {
    val base = tempDir("lmc-jobs")
    val dir = s"$base/t"
    // 40 single-file commits: above Spark's 32-path parallel-listing
    // threshold, so an index that lists by itself starts a Spark job
    val versions = (0 until 40).map(c => VersionedLake.commitWithStats(
      spark.range(c * 100L, (c + 1) * 100L, 1, 1).toDF("id")
        .withColumn("v", col("id") * 2), dir, Seq("id")))
    val v = versions(35) // time travel to 36 live dirs: still over it
    spark.conf.set("spark.sql.catalog.lmc", classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.lmc.root", base)
    val reads: Seq[(String, () => DataFrame, Seq[Seq[Any]])] = Seq(
      ("sql", () => spark.sql(
        "SELECT id, v FROM lmc.t WHERE id BETWEEN 1250 AND 1420"),
        (1250L to 1420L).map(i => Seq[Any](i, i * 2))),
      ("versionAsOf", () => spark.read.format("graftlake")
        .option(GraftLakeDataSource.VersionAsOf, v.toLong).load(dir)
        .filter(col("id") >= 3550),
        (3550L until 3600L).map(i => Seq[Any](i, i * 2))),
      ("readAt", () => VersionedLake.readAt(spark, dir, v)
        .filter(col("id").between(1250, 1420)),
        (1250L to 1420L).map(i => Seq[Any](i, i * 2))))
    reads.foreach { case (name, read, want) =>
      (1 to 2).foreach { round =>
        val before = VersionedLake.metaCacheStats
        val (df, planJobs) = jobsDuring {
          val df = read(); df.queryExecution.executedPlan; df }
        val after = VersionedLake.metaCacheStats
        assert(planJobs == 0, s"$name (plan $round) started $planJobs jobs")
        if (round == 2) {
          assert(after.misses == before.misses,
            s"$name: second plan missed the cache ($before -> $after)")
          assert(after.hits > before.hits, s"$name: $before -> $after")
        }
        val (got, runJobs) = jobsDuring(rows(df))
        assert(runJobs == 1, s"$name (run $round) started $runJobs jobs")
        assert(got == want, name)
      }
    }
    // the V1 snapshot relation prunes by the stats sidecars too, and
    // pruning drops no row
    val snapshot = VersionedLake.readAt(spark, dir, v)
    val pruned = snapshot.filter(col("id").between(1250, 1420))
    assert(rows(pruned) ==
      rows(snapshot).filter(r => (1250L to 1420L).contains(r.head)))
    val read = GraftLakeDataSource.filesRead(pruned)
    assert(read > 0 && read < snapshot.inputFiles.length,
      s"readAt(v).filter read $read of ${snapshot.inputFiles.length} files")
  }

  test("a lake deleted and re-created at the same path with the same " +
      "tags reads its new rows on every path") {
    val base = tempDir("lmc-stale")
    val dir = s"$base/t"
    spark.conf.set("spark.sql.catalog.lmc2", classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.lmc2.root", base)
    def build(off: Long): Unit = {
      def frame(lo: Long) = spark.range(off + lo, off + lo + 50, 1, 2)
        .toDF("id").withColumn("key", col("id") % 7)
      VersionedLake.commitTagged(frame(0), dir, "a")
      VersionedLake.commitTagged(frame(50), dir, "b")
      VersionedLake.commitIndexed(frame(100), dir, Seq("id"), Some("key"))
      ()
    }
    /** The five reads, each as sorted ids (statsAggregate as its
      * count, min, max). */
    def reads(): Seq[Seq[Double]] = {
      val tipV = VersionedLake.tip(spark, dir).get
      def ids(df: DataFrame) =
        df.select(col("id").cast("double")).collect().map(_.getDouble(0))
          .toSeq.sorted
      val (n, mn, mx) = VersionedLake.statsAggregate(spark, dir, "id")
      Seq(ids(spark.sql("SELECT id FROM lmc2.t")),
        ids(VersionedLake.readAt(spark, dir, tipV)),
        ids(VersionedLake.readSkipping(spark, dir, "id", 0, 1e9)),
        ids(VersionedLake.readBloomProbe(spark, dir, "key", 3L)),
        Seq(n.toDouble, mn, mx))
    }
    def expect(off: Long): Seq[Seq[Double]] = {
      val all = (off until off + 150).map(_.toDouble)
      Seq(all, all, all, all.filter(_.toLong % 7 == 3),
        Seq(150.0, off.toDouble, off + 149.0))
    }
    build(0)
    assert(reads() == expect(0))
    val before = VersionedLake.metaCacheStats
    assert(reads() == expect(0))
    assert(VersionedLake.metaCacheStats.misses == before.misses,
      "a second read of the same version missed the cache")
    Lake.delete(spark, dir)
    build(1000)
    assert(VersionedLake.tip(spark, dir).contains(3))
    assert(reads() == expect(1000))
  }

  test("deletion vectors of a lake deleted and re-created with the " +
      "same commit tags apply to the new rows, not the cached old ones") {
    val base = tempDir("lmc-dv")
    val dir = s"$base/t"
    spark.conf.set("spark.sql.catalog.lmc3", classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.lmc3.root", base)
    /** A DV lake of ids off..off+99 whose tagged UPDATE sets v = 1 on
      * `hit`: the tag names its vector `v2-<uuid of the tag>` (and its
      * data dir `d-<uuid>`) in every build. */
    def build(off: Long, hit: Seq[Long]): Unit = {
      spark.sql("CREATE TABLE lmc3.t TBLPROPERTIES " +
        "('deletion_vectors'='true') AS SELECT id, 0 AS v " +
        s"FROM range($off, ${off + 100})")
      spark.conf.set("spark.graft.lake.commitTag", "fix")
      try spark.sql(
        s"UPDATE lmc3.t SET v = 1 WHERE id IN (${hit.mkString(",")})")
      finally spark.conf.unset("spark.graft.lake.commitTag")
      ()
    }
    def check(off: Long, hit: Seq[Long]): Unit = {
      assert(spark.sql("SELECT id, v FROM lmc3.t").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted ==
        (off until off + 100).map(i => (i, if (hit.contains(i)) 1 else 0)))
      assert(spark.sql("SELECT count(*), min(id), max(id) FROM lmc3.t")
        .head().toSeq == Seq(100L, off, off + 99))
      assert(VersionedLake.statsAggregate(spark, dir, "id") ==
        ((100L, off.toDouble, off + 99.0)))
    }
    build(0, Seq(0L, 50L))
    check(0, Seq(0L, 50L))
    val vectors = new java.io.File(s"$dir/_deletes").list().toSeq
    Lake.delete(spark, dir)
    build(1000, Seq(1007L, 1099L))
    assert(new java.io.File(s"$dir/_deletes").list().toSeq == vectors,
      "the re-created lake's vector must reuse the first one's name")
    check(1000, Seq(1007L, 1099L))
  }

  test("a cached 100k-element List is weighed without deep recursion, " +
      "and such values evict by weight") {
    val n = 100000
    def big(tag: Int): List[String] = {
      val name = f"d-$tag%012d" // one instance: weighed n times, held once
      List.fill(n)(name)
    }
    // a per-element recursion overflows a small stack long before 100k
    var weight = 0L
    val t = new Thread(null, () => { weight = LakeMetaCache.weightOf(big(0)) },
      "weigh", 256L << 10)
    t.start(); t.join()
    assert(weight >= n * (48L + 2 * 14), s"weight $weight")
    // enough of them pass the bound: the oldest is evicted, the newest
    // is still served from the cache
    val count = (LakeMetaCache.MaxWeight / weight + 2).toInt
    (0 until count).foreach(i =>
      LakeMetaCache.memo(("lmc-weight", i))(big(i)))
    var recomputed = Seq.empty[Int]
    def lookup(i: Int): Unit = {
      LakeMetaCache.memo(("lmc-weight", i)) { recomputed :+= i; List.empty }
      ()
    }
    lookup(count - 1)
    lookup(0)
    assert(recomputed == Seq(0))
  }
}
