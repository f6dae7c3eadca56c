package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.engine._

/** Every commit kind indexes what it stages. On a flat and on a
  * partitioned lake that declares a bloom column, each library, SQL,
  * streaming, merge-on-read, compaction and survivor-rewrite commit is
  * followed by a check of every entry it made live: a stats sidecar that
  * opens with the stats header and holds one line per parquet file and
  * indexed numeric column, and a bloom sidecar with one fixed-length line
  * per file and bloom column. Zero-row schema carriers are included,
  * the plain CREATE TABLE one too. */
class SidecarCoverageSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private val StatsHeader = "#graft-stats:nonnull-ranges"
  private val Bloom = Seq("key")

  /** Rows `id` in [lo, hi) over `parts` tasks: a string `key`, a double
    * `v` and a small int `g` (the partition column when there is one). */
  private def rows(lo: Long, hi: Long, parts: Int = 2): DataFrame =
    spark.range(lo, hi, 1, parts).selectExpr("id",
      "CAST(id % 97 AS STRING) AS key", "CAST(id AS DOUBLE) AS v",
      "CAST(id % 3 AS INT) AS g")

  private def live(dir: String): Set[String] =
    VersionedLake.tip(spark, dir).fold(Set.empty[String])(v =>
      VersionedLake.manifestEntries(spark, dir, v).toSet)

  private def lines(path: String): Seq[Array[String]] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).asScala.toSeq.map(_.split("\t"))
  }

  /** Run `commit` on the lake at `dir` and check the sidecars of every
    * entry it made live: stats lines for `statsCols`, bloom lines for
    * [[Bloom]]. Returns the rows of those entries, from the stats. */
  private def indexed(what: String, dir: String, statsCols: Seq[String])(
      commit: => Any): Long = {
    val before = live(dir)
    commit
    val added = (live(dir) -- before).toSeq.sorted
    assert(added.nonEmpty, s"$what made no entry live")
    val rowCounts = added.map { e =>
      val files = Files.list(Paths.get(s"$dir/$e")).iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .toSeq.sorted
      assert(files.nonEmpty, s"$what: $e holds no parquet file")
      def cells(cols: Seq[String]) =
        (for (f <- files; c <- cols) yield (f, c)).sorted
      val stats = lines(s"$dir/_stats/$e.stats")
      assert(stats.headOption.map(_.mkString("\t")).contains(StatsHeader),
        s"$what: the stats sidecar of $e has no header")
      assert(stats.tail.map(a => (a(0), a(1))).sorted == cells(statsCols),
        s"$what: stats lines of $e")
      assert(stats.tail.forall(_.length == 5), s"$what: stats lines of $e")
      val bloom = lines(s"$dir/_bloom/$e.bloom")
      assert(bloom.map(a => (a(0), a(1))).sorted == cells(Bloom),
        s"$what: bloom lines of $e")
      assert(bloom.forall(a => a.length == 3 &&
        a(2).length == VersionedLake.BloomBits / 4),
        s"$what: a bloom line of $e is not fixed-length")
      stats.tail.filter(_(1) == statsCols.head).map(_(4).toLong).sum
    }
    info(s"$what: ${added.length} entries, ${rowCounts.sum} rows")
    rowCounts.sum
  }

  private def everyCommitKind(layout: String, partitioned: Boolean): Unit = {
    val root = tempDir(s"scov-$layout")
    val cat = s"scov_$layout"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val partition = if (partitioned) "PARTITIONED BY (g) " else ""
    val columns = "(id BIGINT, key STRING, v DOUBLE, g INT)"
    // the SQL and streaming policy: every numeric DATA column
    val sqlStats = if (partitioned) Seq("id", "v") else Seq("id", "v", "g")
    val libStats = Seq("id", "v")
    def select(lo: Long, hi: Long) = "SELECT id, CAST(id % 97 AS STRING) " +
      s"AS key, CAST(id AS DOUBLE) AS v, CAST(id % 3 AS INT) AS g FROM " +
      s"range($lo, $hi, 1, 2)"
    rows(900, 930).createOrReplaceTempView(s"${cat}_src")

    // copy-on-write lake `t`
    val t = s"$root/t"
    spark.sql(s"CREATE TABLE $cat.t $columns ${partition}TBLPROPERTIES " +
      "('bloom' = 'key')")
    indexed("SQL INSERT", t, sqlStats)(
      spark.sql(s"INSERT INTO $cat.t ${select(0, 200)}"))
    indexed("library commitIndexed", t, libStats)(VersionedLake.commitIndexed(
      rows(200, 300), t, libStats, Some("key")))
    val src = tempDir(s"scov-$layout-stream")
    rows(300, 350).write.mode("overwrite").parquet(s"$src/in")
    indexed("stream epoch", t, sqlStats)(spark.readStream
      .schema(rows(0, 1).schema).parquet(s"$src/in")
      .writeStream.format("graftlake")
      .option("checkpointLocation", s"$src/ck")
      .trigger(Trigger.AvailableNow())
      .start(t).awaitTermination())
    indexed("COW UPDATE", t, sqlStats)(
      spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE id < 50"))
    indexed("COW MERGE", t, sqlStats)(spark.sql(
      s"""MERGE INTO $cat.t AS t USING ${cat}_src AS s ON t.id = s.id - 560
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, key, v, g)
         |VALUES (s.id, s.key, s.v, s.g)""".stripMargin))
    indexed("COW DELETE", t, sqlStats)(
      spark.sql(s"DELETE FROM $cat.t WHERE id BETWEEN 110 AND 120"))
    indexed("deleteRange", t, sqlStats)(
      VersionedLake.deleteRange(spark, t, "id", 130, 140))
    indexed("replaceWhereIn", t, sqlStats)(VersionedLake.replaceWhereIn(
      spark, t, "id", Seq(141L, 142L), rows(141, 143, 1)))
    indexed("compactSmall", t, libStats)(VersionedLake.compactSmall(spark, t,
      1L << 30, libStats, Some("key")))
    indexed("compactZOrder", t, libStats)(VersionedLake.compactZOrder(spark,
      t, "id", "v", 2, bloomCol = Some("key")))
    indexed("compactVersions", t, libStats)(
      VersionedLake.compactVersions(spark, t, statsCols = libStats,
        bloomCol = Some("key")))
    indexed("SQL INSERT OVERWRITE", t, sqlStats)(
      spark.sql(s"INSERT OVERWRITE $cat.t ${select(0, 120)}"))
    assert(indexed("COW DELETE of every row", t, sqlStats)(
      spark.sql(s"DELETE FROM $cat.t WHERE v >= 0")) == 0)

    // CTAS, with rows and with none
    indexed("CTAS", s"$root/c", sqlStats)(spark.sql(
      s"CREATE TABLE $cat.c ${partition}TBLPROPERTIES ('bloom' = 'key') " +
        s"AS ${select(0, 100)}"))
    assert(indexed("zero-row CTAS", s"$root/e", sqlStats)(spark.sql(
      s"CREATE TABLE $cat.e ${partition}TBLPROPERTIES ('bloom' = 'key') " +
        s"AS ${select(0, 100)} WHERE id < 0")) == 0)

    // merge-on-read lake `d`
    val d = s"$root/d"
    spark.sql(s"CREATE TABLE $cat.d $columns ${partition}TBLPROPERTIES " +
      "('bloom' = 'key', 'deletion_vectors' = 'true')")
    indexed("SQL INSERT (DV lake)", d, sqlStats)(
      spark.sql(s"INSERT INTO $cat.d ${select(0, 200)}"))
    val base = VersionedLake.tip(spark, d).get
    spark.sql(s"DELETE FROM $cat.d WHERE id IN (1, 2, 3)")
    indexed("MoR MERGE insert", d, sqlStats)(spark.sql(
      s"""MERGE INTO $cat.d AS t USING ${cat}_src AS s ON t.id = s.id - 720
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, key, v, g)
         |VALUES (s.id, s.key, s.v, s.g)""".stripMargin))
    indexed("restore", d, sqlStats)(VersionedLake.restore(spark, d, base))
    spark.sql(s"DELETE FROM $cat.d WHERE id IN (5, 6)")
    indexed("materialize_dv", d, sqlStats)(
      VersionedLake.materializeVectors(spark, d))
    // 200 rows, 10 merged in, back to 200 by the restore, 2 deleted
    assert(spark.table(s"$cat.d").count() == 198)
  }

  test("every commit kind indexes each entry it adds: flat lake") {
    everyCommitKind("flat", partitioned = false)
  }

  test("every commit kind indexes each entry it adds: partitioned lake") {
    everyCommitKind("part", partitioned = true)
  }

  private def withCatalog(name: String): String = {
    val root = tempDir(s"scov-$name")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    root
  }

  test("CREATE TABLE indexes its schema carrier with the declared bloom " +
      "column: flat and partitioned lake") {
    val root = withCatalog("scov_create")
    Seq("flat" -> "", "part" -> "PARTITIONED BY (g) ").foreach {
      case (t, partition) =>
        val stats =
          if (partition.isEmpty) Seq("id", "v", "g") else Seq("id", "v")
        assert(indexed(s"CREATE TABLE ($t)", s"$root/$t", stats)(spark.sql(
          s"CREATE TABLE scov_create.$t (id BIGINT, key STRING, v DOUBLE, " +
            s"g INT) ${partition}TBLPROPERTIES ('bloom' = 'key')")) == 0)
    }
  }

  test("a rejected CREATE TABLE leaves no version under the table dir") {
    val root = withCatalog("scov_reject")
    Seq(
      "typo" -> "TBLPROPERTIES ('bloom' = 'typo')",
      "partbloom" -> "PARTITIONED BY (g) TBLPROPERTIES ('bloom' = 'g')",
      "dvpending" -> ("TBLPROPERTIES ('deletion_vectors' = 'true', " +
        "'dv_max_pending' = '0')")).foreach { case (t, tail) =>
      val e = intercept[IllegalArgumentException](spark.sql(
        s"CREATE TABLE scov_reject.$t (id BIGINT, key STRING, g INT) $tail"))
      info(s"$t: ${e.getMessage}")
      assert(VersionedLake.versions(spark, s"$root/$t").isEmpty,
        s"the rejected CREATE of $t published a version")
    }
  }
}
