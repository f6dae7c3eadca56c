package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine._

/** The library probes ([[VersionedLake.readSkipping]],
  * [[VersionedLake.readBloomProbe]]) are filters over the snapshot
  * read, so they admit files by the same rule as the `graftlake` SQL
  * face, keep the snapshot's schema, and the files-read witness sees
  * both scan kinds. */
class LakeProbeSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private def withCatalog[A](root: String)(body: String => A): A = {
    val cat = s"glpr_${new java.io.File(root).getName.takeRight(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    body(cat)
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** Column names and types; a filter may mark its column non-null. */
  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq

  /** 400 rows in 4 files of disjoint `id` ranges, stats on every
    * numeric column, a bloom on `key` (a permutation of `id`, so each
    * key lives in one file). */
  private val ctas =
    "SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, " +
      "(id * 7) % 400 AS key, CAST(id * 2 AS DOUBLE) AS v FROM range(0, 400)"

  test("library probes on a PARTITIONED BY lake return readLatest's " +
      "columns, partition column included, whether they admit files " +
      "or none") {
    val root = tempDir("glpr-part")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t PARTITIONED BY (m) TBLPROPERTIES " +
        "('bloom' = 'key') AS SELECT id, (id * 7) % 300 AS key, " +
        "CAST(id % 3 AS INT) AS m FROM range(0, 300)")
      val dir = s"$root/t"
      val latest = VersionedLake.readLatest(spark, dir)
      assert(shape(latest).map(_._1) == Seq("id", "key", "m"))
      val probes = Seq(
        ("range admitting", VersionedLake.readSkipping(spark, dir, "id",
          10, 20), (10L to 20L).map(i => Seq[Any](i, i * 7 % 300,
          (i % 3).toInt))),
        ("range admitting none", VersionedLake.readSkipping(spark, dir,
          "id", 1e6, 2e6), Seq.empty),
        ("point admitting", VersionedLake.readBloomProbe(spark, dir, "key",
          7L), Seq(Seq[Any](1L, 7L, 1))),
        ("point admitting none", VersionedLake.readBloomProbe(spark, dir,
          "key", 123456L), Seq.empty))
      probes.foreach { case (name, df, want) =>
        assert(shape(df) == shape(latest), name)
        assert(rows(df) == want, name)
      }
      assert(GraftLakeDataSource.filesRead(probes(1)._2) == 0)
      assert(GraftLakeDataSource.filesRead(probes(3)._2) == 0)
    }
  }

  test("files read counts a V1 scan: an unfiltered readAt of a plain " +
      "lake reports every file") {
    val dir = tempDir("glpr-v1") + "/lake"
    (0 until 3).foreach(c => VersionedLake.commitWithStats(
      spark.range(c * 100L, (c + 1) * 100L, 1, 2).toDF("id"), dir,
      Seq("id")))
    val snap = VersionedLake.readAt(spark, dir,
      VersionedLake.tip(spark, dir).get)
    assert(snap.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.nonEmpty, "a plain lake's snapshot is a V1 file scan")
    val paths = GraftLakeDataSource.filesReadPaths(snap)
    assert(snap.inputFiles.length == 6)
    assert(GraftLakeDataSource.filesRead(snap) == 6)
    assert(paths.map(new org.apache.hadoop.fs.Path(_).getName).sorted ==
      snap.inputFiles.map(new org.apache.hadoop.fs.Path(_).getName).toSeq
        .sorted)
    // and pruning shows in the count
    assert(GraftLakeDataSource.filesRead(
      VersionedLake.readSkipping(spark, dir, "id", 120, 140)) == 1)
  }

  test("library and SQL probes read exactly the same files, on a plain " +
      "lake and on a lake with live deletion vectors") {
    Seq(("plain", "'bloom' = 'key'"),
        ("dv", "'bloom' = 'key', 'deletion_vectors' = 'true'"))
      .foreach { case (kind, props) =>
        val root = tempDir(s"glpr-faces-$kind")
        withCatalog(root) { cat =>
          spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES ($props) AS $ctas")
          if (kind == "dv") spark.sql(s"DELETE FROM $cat.t WHERE id = 150")
          val dir = s"$root/t"
          val faces = Seq(
            ("range", VersionedLake.readSkipping(spark, dir, "id", 120, 180),
              spark.sql(s"SELECT * FROM $cat.t WHERE id BETWEEN 120 AND 180")),
            // key 250 is id 150's, deleted on the DV lake
            ("point", VersionedLake.readBloomProbe(spark, dir, "key", 250L),
              spark.sql(s"SELECT * FROM $cat.t WHERE key = 250")))
          faces.foreach { case (probe, lib, sql) =>
            val libFiles = GraftLakeDataSource.filesReadPaths(lib).sorted
            assert(libFiles.nonEmpty && libFiles.length < 4,
              s"$kind $probe read $libFiles")
            assert(libFiles == GraftLakeDataSource.filesReadPaths(sql).sorted,
              s"$kind $probe")
            assert(rows(lib) == rows(sql), s"$kind $probe")
          }
          assert(faces.head._2.count() == (if (kind == "dv") 60 else 61))
          // a fractional key is not bloom-probed ("250.0" is not the
          // commit side's "250") but still finds exactly the key's rows
          assert(rows(VersionedLake.readBloomProbe(spark, dir, "key", 250.0))
            == rows(faces(1)._3), kind)
        }
      }
  }

  test("a bloom on a DATE column prunes by the date's string form " +
      "through readBloomProbe and SQL; a TIMESTAMP key is not bloom-" +
      "probed, and every face keeps the key's rows") {
    val root = tempDir("glpr-date")
    withCatalog(root) { cat =>
      // (id * 7) % 400 is a permutation: every file spans the whole
      // date range, so only the bloom can prune; id 31 holds offset 217
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES ('bloom' = 'd,ts') " +
        "AS SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, " +
        "date_add(DATE'2024-01-01', CAST((id * 7) % 400 AS INT)) AS d, " +
        "timestamp_seconds((id * 7) % 400) AS ts FROM range(0, 400)")
      val dir = s"$root/t"
      val total =
        GraftLakeDataSource.filesRead(VersionedLake.readLatest(spark, dir))
      assert(total == 4)
      def ids(df: DataFrame) = df.select("id").collect().map(_.getLong(0))
        .toSeq
      Seq(
        "sql date" -> spark.sql(
          s"SELECT * FROM $cat.t WHERE d = DATE'2024-08-05'"),
        "library java.sql.Date" -> VersionedLake.readBloomProbe(spark, dir,
          "d", java.sql.Date.valueOf("2024-08-05")),
        "library LocalDate" -> VersionedLake.readBloomProbe(spark, dir,
          "d", java.time.LocalDate.of(2024, 8, 5))).foreach {
        case (face, df) =>
          assert(ids(df) == Seq(31L), face)
          assert(GraftLakeDataSource.filesRead(df) == 1, face)
      }
      Seq(
        "sql timestamp" -> spark.sql(
          s"SELECT * FROM $cat.t WHERE ts = timestamp_seconds(217)"),
        "library Instant" -> VersionedLake.readBloomProbe(spark, dir,
          "ts", java.time.Instant.ofEpochSecond(217))).foreach {
        case (face, df) =>
          assert(ids(df) == Seq(31L), face)
          assert(GraftLakeDataSource.filesRead(df) == total, face)
      }
    }
  }

  test("a double bound on a bigint column prunes through SQL and " +
      "format(graftlake), on a plain and a column-mapped lake, with " +
      "the rows of an unpruned read") {
    Seq("plain", "mapped").foreach { kind =>
      val root = tempDir(s"glpr-cast-$kind")
      withCatalog(root) { cat =>
        val props =
          if (kind == "mapped") "TBLPROPERTIES ('column_mapping' = 'id') "
          else ""
        spark.sql(s"CREATE TABLE $cat.t $props AS $ctas")
        // on the mapped lake the probed column was renamed: the first
        // commit's stats lines carry the old name
        val c =
          if (kind == "plain") "id"
          else {
            spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN id TO rid")
            spark.sql(s"INSERT INTO $cat.t SELECT id, id, 0.0 " +
              "FROM range(400, 500)")
            "rid"
          }
        val dir = s"$root/t"
        val all = spark.table(s"$cat.t")
        val total = GraftLakeDataSource.filesRead(all)
        Seq((120.0, 180.0), (120.5, 180.0)).foreach { case (lo, hi) =>
          def want = rows(all).filter { r =>
            val x = r.head.asInstanceOf[Long].toDouble
            x >= lo && x <= hi
          }
          val faces = Seq(
            "sql" -> spark.sql(
              s"SELECT * FROM $cat.t WHERE $c BETWEEN ${lo}D AND ${hi}D"),
            "format" -> spark.read.format("graftlake").load(dir)
              .filter(col(c) >= lo && col(c) <= hi),
            "library" -> VersionedLake.readSkipping(spark, dir, c, lo, hi))
          faces.foreach { case (face, df) =>
            val read = GraftLakeDataSource.filesRead(df)
            assert(read > 0 && read < total,
              s"$kind $face [$lo, $hi] read $read of $total files")
            assert(rows(df) == want, s"$kind $face [$lo, $hi]")
          }
        }
      }
    }
  }
}
