package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** Crash points of every library publish policy: a checked survivor
  * rewrite (library `deleteRange`, unpartitioned SQL overwrite-by-
  * filter, a SQL DELETE by value, a copy-on-write SQL MERGE on a
  * partitioned lake), a whole-entry partition DELETE, a merge-on-read
  * SQL DELETE on a deletion-vector lake, an absorbed
  * append (`commitTagged`) and a layout-only checked commit
  * (`compactSmall`, flat and partitioned) run once per filesystem step
  * k = 1..N of the commit, with the k-th mutating call (create, rename,
  * delete, mkdirs) failing. After each crash a fresh reader sees exactly
  * version V or V+1 with that version's rows, and repairing torn
  * manifests then retrying the operation converges on the committed
  * answer — for the tagged append, by publishing it exactly once. The
  * partitioned MERGE and compaction are the commits of the keyed upsert
  * and small-file compaction of the K1 lake (q93, q62). */
class RewriteCrashSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  /** A 3-commit, 30-row lake (`id`, `v = 10 * id`), one file and a
    * stats sidecar per commit, built once on the local filesystem. */
  private lazy val base: String = {
    val dir = tempDir("rwcrash-base") + "/lake"
    (0 until 3).foreach(c => VersionedLake.commitWithStats(
      spark.range(c * 10L, c * 10L + 10L).selectExpr("id", "id * 10 AS v")
        .coalesce(1), dir, Seq("id")))
    dir
  }

  /** The same 30 rows over 3 commits on a lake partitioned by
    * `p = id % 2`: two partition entries per commit. */
  private lazy val partitionedBase: String = {
    val dir = tempDir("rwcrash-pbase") + "/lake"
    GraftLakePartitions.set(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.IntegerType)))
    (0 until 3).foreach(c => VersionedLake.commitWithStats(
      spark.range(c * 10L, c * 10L + 10L)
        .selectExpr("id", "id * 10 AS v", "CAST(id % 2 AS INT) AS p")
        .coalesce(1), dir, Seq("id")))
    dir
  }

  /** A fresh copy of `from` ([[base]] by default) at `to`, addressed
    * through `crashfs`. */
  private def copyOfBase(to: String, from: String = base): String = {
    val src = Paths.get(from)
    Files.walk(src).forEach { p =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
    s"crashfs://$to"
  }

  private def rows(dir: String): Seq[(Long, Long)] = {
    import spark.implicits._
    VersionedLake.readLatest(spark, dir).select("id", "v").as[(Long, Long)]
      .collect().toSeq.sorted
  }

  private val before = (0L until 30L).map(i => (i, i * 10))

  /** Every crash point of `op` on a fresh copy of the lake, named by
    * `lakeAt(k)`; `after` is the committed answer. With `exactlyOnce`
    * the retry must also leave the tip at v4: a commit the crash
    * already published is not published again. */
  private def enumerate(lakeAt: Int => String, after: Seq[(Long, Long)],
      exactlyOnce: Boolean = false,
      invariant: String => Unit = _ => ())(op: String => Unit): Int = {
    CrashingFileSystem.install(spark)
    val clean = lakeAt(0)
    val (n, err) = CrashingFileSystem.run(0)(op(clean))
    assert(err.isEmpty, s"the uncrashed run failed: $err")
    assert(VersionedLake.tip(spark, clean).contains(4) && rows(clean) == after)
    assert(n > 0)
    (1 to n).foreach { k =>
      val dir = lakeAt(k)
      val (_, crash) = CrashingFileSystem.run(k)(op(dir))
      val t = VersionedLake.tip(spark, dir).get
      assert(t == 3 || t == 4, s"step $k/$n ($crash): tip v$t")
      assert(rows(dir) == (if (t == 3) before else after),
        s"step $k/$n ($crash): rows of v$t")
      invariant(dir)
      VersionedLake.repairTornManifests(spark, dir, staleMs = 0L)
      op(dir)
      assert(rows(dir) == after, s"step $k/$n ($crash): retry did not converge")
      invariant(dir)
      if (exactlyOnce)
        assert(VersionedLake.tip(spark, dir).contains(4),
          s"step $k/$n ($crash): the retry published again")
    }
    n
  }

  test("deleteRange: a crash at any filesystem step leaves v3 or v4 " +
      "readable with its rows, and repair plus retry converge") {
    val root = tempDir("rwcrash-del")
    val n = enumerate(k => copyOfBase(s"$root/k$k"),
      before.filterNot { case (i, _) => i >= 12 && i <= 15 }) { dir =>
      VersionedLake.deleteRange(spark, dir, "id", 12, 15)
      ()
    }
    info(s"$n crash points")
  }

  test("SQL overwrite-by-filter: a crash at any filesystem step leaves " +
      "v3 or v4 readable with its rows, and repair plus retry converge") {
    val root = tempDir("rwcrash-ow")
    spark.conf.set("spark.sql.catalog.rwcrash",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.rwcrash.root", s"crashfs://$root")
    val replacement = spark.range(12, 16).selectExpr("id", "-id AS v")
      .coalesce(1)
    val after = (before.filterNot { case (i, _) => i >= 12 && i <= 15 } ++
      (12L to 15L).map(i => (i, -i))).sorted
    val n = enumerate(k => copyOfBase(s"$root/t$k"), after) { dir =>
      replacement.writeTo(s"rwcrash.${dir.split('/').last}")
        .overwrite(col("id") >= 12 && col("id") <= 15)
    }
    info(s"$n crash points")
  }

  test("merge-on-read SQL DELETE on a deletion-vector lake: a crash at " +
      "any filesystem step leaves v3 or v4 readable with its rows, no " +
      "unbound sidecar applies, and repair plus retry converge") {
    val root = tempDir("rwcrash-dv")
    spark.conf.set("spark.sql.catalog.rwcrash_dv",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.rwcrash_dv.root", s"crashfs://$root")
    val keys = Set(12L, 14L, 25L)
    val after = before.filterNot { case (i, _) => keys(i) }
    val n = enumerate(k => {
        val dir = copyOfBase(s"$root/t$k")
        VersionedLake.setDeletionVectors(spark, dir)
        dir
      }, after,
      // exactly the published version's positions apply: none at v3,
      // the three deleted rows once at v4 (a crashed attempt's
      // sidecar never binds)
      invariant = { dir =>
        val t = VersionedLake.tip(spark, dir).get
        val applied = VersionedLake.dvRefs(spark, dir, t).values
          .map(_.count).sum
        assert(applied == (if (t == 3) 0L else keys.size.toLong),
          s"v$t applies $applied positions")
      }) { dir =>
      spark.sql(s"DELETE FROM rwcrash_dv.`${dir.split('/').last}` " +
        s"WHERE id IN (${keys.mkString(", ")})")
      ()
    }
    info(s"$n crash points")
  }

  test("SQL DELETE by value on a plain lake (the one conditional " +
      "rewrite): a crash at any filesystem step leaves v3 or v4 readable " +
      "with its rows, and repair plus retry converge") {
    val root = tempDir("rwcrash-in")
    spark.conf.set("spark.sql.catalog.rwcrash_in",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.rwcrash_in.root", s"crashfs://$root")
    val n = enumerate(k => copyOfBase(s"$root/t$k"),
      before.filterNot { case (i, _) => Set(12L, 14L, 25L)(i) }) { dir =>
      spark.sql(s"DELETE FROM rwcrash_in.`${dir.split('/').last}` " +
        "WHERE id IN (12, 14, 25)")
      ()
    }
    info(s"$n crash points")
  }

  test("partition-value SQL DELETE (whole entries dropped by manifest " +
      "reference): a crash at any filesystem step leaves v3 or v4 " +
      "readable with its rows, and repair plus retry converge") {
    val root = tempDir("rwcrash-pdel")
    spark.conf.set("spark.sql.catalog.rwcrash_pd",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.rwcrash_pd.root", s"crashfs://$root")
    val n = enumerate(k => copyOfBase(s"$root/t$k", partitionedBase),
        before.filter { case (i, _) => i % 2 == 0 }) { dir =>
      spark.sql(s"DELETE FROM rwcrash_pd.`${dir.split('/').last}` " +
        "WHERE p = 1")
      ()
    }
    info(s"$n crash points")
  }

  test("commitTagged: a crash at any filesystem step leaves v3 or v4 " +
      "readable with its rows, and the retried append publishes once") {
    val root = tempDir("rwcrash-tag")
    val batch = spark.range(30, 35).selectExpr("id", "id * 10 AS v")
      .coalesce(1)
    val n = enumerate(k => copyOfBase(s"$root/k$k"),
      before ++ (30L until 35L).map(i => (i, i * 10)),
      exactlyOnce = true) { dir =>
      VersionedLake.commitTagged(batch, dir, "batch-7")
      ()
    }
    info(s"$n crash points")
  }

  test("compactSmall: a crash at any filesystem step leaves v3 or v4 " +
      "readable with the same rows, and the retried compaction converges") {
    val root = tempDir("rwcrash-compact")
    val n = enumerate(k => copyOfBase(s"$root/k$k"), before) { dir =>
      VersionedLake.compactSmall(spark, dir, 1L << 20, statsCols = Seq("id"))
      ()
    }
    info(s"$n crash points")
  }

  test("partitioned SQL MERGE: a crash at any filesystem step leaves v3 " +
      "or v4 readable with its rows, and repair plus retry converge") {
    val root = tempDir("rwcrash-merge")
    spark.conf.set("spark.sql.catalog.rwcrash_pm",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.rwcrash_pm.root", s"crashfs://$root")
    // updates two rows and inserts one, all in partition p = 0
    spark.sql("SELECT * FROM VALUES (12L, -12L, 0), (14L, -14L, 0), " +
      "(30L, 300L, 0) AS s(id, v, p)").createOrReplaceTempView("rwcrash_src")
    val after = (before.filterNot { case (i, _) => i == 12 || i == 14 } ++
      Seq((12L, -12L), (14L, -14L), (30L, 300L))).sorted
    val n = enumerate(k => copyOfBase(s"$root/t$k", partitionedBase),
        after) { dir =>
      spark.sql(
        s"""MERGE INTO rwcrash_pm.`${dir.split('/').last}` AS t
           |USING rwcrash_src AS s ON t.id = s.id AND t.p <=> s.p
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      ()
    }
    info(s"$n crash points")
  }

  test("partitioned compactSmall: a crash at any filesystem step leaves " +
      "v3 or v4 readable with the same rows, and the retried compaction " +
      "converges") {
    val root = tempDir("rwcrash-pcompact")
    val n = enumerate(k => copyOfBase(s"$root/k$k", partitionedBase),
        before) { dir =>
      VersionedLake.compactSmall(spark, dir, 1L << 20, statsCols = Seq("id"))
      ()
    }
    info(s"$n crash points")
  }
}
