package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** Column mapping via parquet field ids: RENAME/DROP COLUMN as
  * metadata-only commits, per-era names through VERSION AS OF, and
  * sidecar pruning surviving renames through name aliases. */
class GraftLakeMappingSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private def withCatalog[A](root: String)(body: String => A): A = {
    val cat = s"glmap_${new java.io.File(root).getName.takeRight(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    body(cat)
  }

  test("RENAME COLUMN is metadata-only: same data files, old files' " +
      "column binds by field id, VERSION AS OF keeps era names, and " +
      "new INSERTs land under the new name") {
    val root = tempDir("glmap-rename")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('column_mapping'='id') AS SELECT id, CAST(id * 2 AS DOUBLE) " +
        "AS v FROM range(0, 100)")
      val dir = s"$root/t"
      val filesBefore = GraftLakeDataSource.filesReadPaths(
        spark.table(s"$cat.t")).toSet
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO amount")
      // exactly one new (empty, schema-declaring) version; the DATA
      // files are untouched
      assert(VersionedLake.versions(spark, dir) == Seq(1, 2))
      assert(spark.table(s"$cat.t").schema.fieldNames.toSeq ==
        Seq("id", "amount"))
      // pre-rename files bind by id: values intact under the new name
      assert(spark.sql(s"SELECT SUM(amount) FROM $cat.t")
        .head().getDouble(0) == (0 until 100).map(_ * 2.0).sum)
      assert(filesBefore.subsetOf(GraftLakeDataSource.filesReadPaths(
        spark.table(s"$cat.t")).toSet),
        "rename must not rewrite or drop data files")
      // the pre-rename era keeps its own name via time travel
      val v1 = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 1")
      assert(v1.schema.fieldNames.toSeq == Seq("id", "v"))
      assert(v1.agg(sum("v")).head().getDouble(0) == 9900.0)
      // post-rename INSERT uses the new name; both eras aggregate as one
      spark.sql(s"INSERT INTO $cat.t VALUES (1000, 5.0)")
      assert(spark.sql(s"SELECT count(*), SUM(amount) FROM $cat.t")
        .head().toSeq == Seq(101L, 9905.0))
      // filter on the renamed column spans both eras
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.t WHERE amount > 100").head()
        .getLong(0) == (0 until 100).count(_ * 2.0 > 100) + 0)
    }
  }

  test("DROP COLUMN is metadata-only; a later ADD never reuses the " +
      "dropped field id (old bytes stay unreachable)") {
    val root = tempDir("glmap-drop")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('column_mapping'='id') AS SELECT id, CAST(id AS DOUBLE) AS " +
        "secret, CAST(id % 5 AS INT) AS g FROM range(0, 50)")
      val dir = s"$root/t"
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN secret")
      assert(spark.table(s"$cat.t").schema.fieldNames.toSeq ==
        Seq("id", "g"))
      assert(spark.table(s"$cat.t").count() == 50)
      // time travel still sees the dropped column's era
      assert(spark.sql(s"SELECT SUM(secret) FROM $cat.t VERSION AS OF 1")
        .head().getDouble(0) == (0 until 50).sum.toDouble)
      // a new column gets a FRESH id — reading it over old files must
      // be null, never the dropped column's bytes
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMN secret DOUBLE")
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.t WHERE secret IS NOT NULL")
        .head().getLong(0) == 0,
        "a re-added name must not resurrect the dropped column's data")
      val ids = VersionedLake.manifestSchema(spark, dir,
        VersionedLake.tip(spark, dir).get).get.fields
        .flatMap(GraftLakeMapping.fieldId)
      assert(ids.distinct.length == ids.length && ids.max >= 4,
        s"the re-added column needs a fresh id, got ${ids.toSeq}")
    }
  }

  test("bloom/stats sidecars keep pruning across a rename (alias " +
      "probing): a point lookup on the NEW name skips pre-rename files") {
    val root = tempDir("glmap-prune")
    withCatalog(root) { cat =>
      spark.range(0, 2000).selectExpr("id",
        "concat('k', CAST(id AS STRING)) AS skey")
        .createOrReplaceTempView("glmap_src")
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('column_mapping'='id', 'bloom'='skey') AS " +
        "SELECT /*+ REPARTITION(8, skey) */ * FROM glmap_src")
      val dir = s"$root/t"
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN skey TO ukey")
      assert(VersionedLake.bloomIndexCols(spark, dir) == Seq("ukey"),
        "the bloom policy must follow the rename")
      val total = GraftLakeDataSource.filesRead(spark.table(s"$cat.t"))
      val probe = spark.sql(
        s"SELECT id FROM $cat.t WHERE ukey = 'k137'")
      assert(probe.count() == 1, "the probe must find its row by id-bind")
      assert(GraftLakeDataSource.filesRead(probe) < total,
        s"pre-rename files must still bloom-prune under the new name " +
          s"(${GraftLakeDataSource.filesRead(probe)} of $total)")
      // post-rename INSERT indexes under the new name and prunes too
      spark.sql(s"INSERT INTO $cat.t SELECT /*+ REPARTITION(4, ukey) */ " +
        s"id + 10000 AS id, concat('n', CAST(id AS STRING)) AS ukey " +
        "FROM range(0, 500)")
      val probe2 = spark.sql(
        s"SELECT id FROM $cat.t WHERE ukey = 'n42'")
      assert(probe2.count() == 1)
      assert(GraftLakeDataSource.filesRead(probe2) <
        GraftLakeDataSource.filesRead(spark.table(s"$cat.t")))
    }
  }

  test("CDF on a COLUMN-MAPPING lake binds across renames: sidecars " +
      "carry field ids, the stream and batch feeds deliver pre- AND " +
      "post-rename commits' exact rows under the CURRENT names") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("glm-cdf")
    val cat = s"glmcdf_${new java.io.File(root).getName.takeRight(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE, m INT) " +
      "PARTITIONED BY (m) TBLPROPERTIES " +
      "('column_mapping'='id', 'cdf'='true')")
    val dir = s"$root/t"
    spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(id AS DOUBLE), " +
      "CAST(id % 2 AS INT) FROM range(0, 50)")
    // change sidecar written PRE-rename (old names + field ids)...
    spark.sql(s"UPDATE $cat.t SET v = v + 100.0 WHERE id IN (1, 3)")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO w")
    // ...and one POST-rename
    spark.sql(s"UPDATE $cat.t SET w = w + 1000.0 WHERE id IN (5)")
    // the CDF STREAM reads both sidecars id-matched (pre-fix the
    // id-less sidecar files failed the mapped read outright)
    val sink = s"$root/sink"
    val q = spark.readStream.format("graftlake")
      .option(GraftLakeDataSource.ReadChangeFeed, "true").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp")
      .format("parquet").option("path", sink).start()
    q.awaitTermination()
    val feed = spark.read.parquet(sink)
    val pre = feed.filter(col("_change_type") === "update_preimage")
    val post = feed.filter(col("_change_type") === "update_postimage")
    assert(pre.count() == 3 && post.count() == 3)
    assert(post.select("id", "w").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq ==
      Seq((1L, 101.0), (3L, 103.0), (5L, 1005.0)),
      "both eras' change rows must bind the renamed column by id")
    assert(pre.filter(col("id") === 1L).head()
      .getDouble(pre.schema.fieldIndex("w")) == 1.0,
      "the pre-rename sidecar's values must surface under the " +
        "current name")
    // batch changes() across the rename nets the same events (the
    // RENAME itself is a schema-only commit contributing nothing)
    val ch = VersionedLake.changes(spark, dir, 2,
      VersionedLake.tip(spark, dir).get)
    assert(ch.filter(col("op") === "delete").count() == 3)
    assert(ch.filter(col("op") === "insert").count() == 3)
  }

  test("replaceWhere with a DATA-column condition on a PARTITIONED " +
      "COLUMN-MAPPING lake: survivors id-match across a rename, the " +
      "rewrite re-stamps ids, untouched partitions carry by reference") {
    import spark.implicits._
    val root = tempDir("glm-partrw")
    val cat = s"glmprw_${new java.io.File(root).getName.takeRight(6)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v DOUBLE, m INT) " +
      "PARTITIONED BY (m) TBLPROPERTIES ('column_mapping'='id')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(id AS DOUBLE), " +
      "CAST(id % 2 AS INT) FROM range(0, 200)")
    // rename BEFORE the rewrite: pre-rename files only bind by id
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO w")
    val untouched = GraftLakeDataSource.filesReadPaths(
      spark.table(s"$cat.t").filter(col("m") === 0)).toSet
    // replace the id >= 150 band within m=1 — survivors (m=1,
    // id < 150) must keep their RENAMED column's values
    val repl = Seq((1000L, -1.0, 1)).toDF("id", "w", "m")
    repl.writeTo(s"$cat.t")
      .overwrite(col("m") === 1 && col("id") >= 150)
    val t = spark.table(s"$cat.t")
    assert(t.count() == 100 + 75 + 1) // m=0 intact, m=1 survivors, +1
    assert(t.filter(col("m") === 1 && col("id") < 150)
      .agg(sum("w")).head().getDouble(0) ==
      (1L until 150L by 2).map(_.toDouble).sum,
      "the id-matched survivor rewrite must keep renamed-column values")
    assert(t.filter(col("id") === 1000L).head()
      .getDouble(t.schema.fieldIndex("w")) == -1.0)
    assert(GraftLakeDataSource.filesReadPaths(
      t.filter(col("m") === 0)).toSet == untouched,
      "partitions outside the partition conjunct must carry by " +
        "reference")
    // and a rename AFTER the rewrite still binds the rewritten rows
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN w TO u")
    assert(spark.sql(s"SELECT SUM(u) FROM $cat.t WHERE m = 1 AND " +
      "id < 150").head().getDouble(0) ==
      (1L until 150L by 2).map(_.toDouble).sum)
  }

  test("refusals: rename/drop without mapping; " +
      "library COMMITS on a mapped lake stamp field ids; " +
      "OPTIMIZE on a mapped lake; COW MERGE still works and stamps ids") {
    import spark.implicits._
    val root = tempDir("glmap-refuse")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.plain AS SELECT id FROM range(5)")
      val e1 = intercept[Exception](spark.sql(
        s"ALTER TABLE $cat.plain RENAME COLUMN id TO x"))
      assert(e1.getMessage.contains("column_mapping"), e1.getMessage)

      spark.sql(s"CREATE TABLE $cat.m TBLPROPERTIES " +
        "('column_mapping'='id') AS SELECT id, CAST(id AS DOUBLE) AS v " +
        "FROM range(0, 100)")
      val dir = s"$root/m"
      // LIBRARY commit on a mapped lake: the writer inherits the
      // declared schema's ids (SQL+library use can mix on one lake) —
      // the commit must survive a LATER rename by id like any SQL write
      VersionedLake.commit(spark.range(200, 203)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v"), dir)
      assert(spark.table(s"$cat.m").count() == 103)
      // survivor rewrites through the library are ID-MATCHED now:
      // deleteRange reads the touched files by field id and re-stamps
      // the ids into the survivor rewrite — values survive intact
      VersionedLake.deleteRange(spark, dir, "id", 0, 1)
      assert(spark.table(s"$cat.m").count() == 101)
      assert(spark.sql(s"SELECT v FROM $cat.m WHERE id = 2")
        .head().getDouble(0) == 2.0,
        "the mapped survivor rewrite must keep column values")
      // COW DML works (the overlay write stamps ids) — and a rename
      // AFTER the merge still binds the merged rows
      spark.sql(s"MERGE INTO $cat.m t USING (SELECT 7 AS id) s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = 777.0")
      spark.sql(s"ALTER TABLE $cat.m RENAME COLUMN v TO w")
      assert(spark.sql(s"SELECT w FROM $cat.m WHERE id = 7")
        .head().getDouble(0) == 777.0,
        "merged (rewritten) files must carry ids so the rename binds")
      assert(spark.sql(s"SELECT SUM(w) FROM $cat.m WHERE id >= 200")
        .head().getDouble(0) == 603.0,
        "library-committed rows must bind the renamed column by id")
      // a metadata DELETE on a mapped lake rewrites its survivors by
      // field id (the conditional rewrite, as deleteRange above) — and
      // stays correct
      spark.sql(s"DELETE FROM $cat.m WHERE id >= 90")
      assert(spark.table(s"$cat.m").count() == 88)
      // the deleteRange survivor files predate the rename: their
      // differently-named column still binds BY ID through it
      assert(spark.sql(s"SELECT w FROM $cat.m WHERE id = 2")
        .head().getDouble(0) == 2.0,
        "pre-rename survivor-rewrite files must bind the renamed column")
      // OPTIMIZE stamps field ids into the coalesced files: the
      // renamed column still binds across the compaction, spanning
      // BOTH eras' files (pre-rename names, post-rename names)
      spark.sql(s"INSERT INTO $cat.m VALUES (5000, 1.5)")
      val v = VersionedLake.compactSmall(spark, dir, Long.MaxValue)
      assert(v.nonEmpty, "optimize must coalesce the small dirs")
      assert(spark.table(s"$cat.m").count() == 89)
      assert(spark.sql(s"SELECT w FROM $cat.m WHERE id = 7")
        .head().getDouble(0) == 777.0,
        "compacted files must carry ids so the renamed column binds")
      assert(spark.sql(s"SELECT SUM(w) FROM $cat.m WHERE id >= 5000")
        .head().getDouble(0) == 1.5)
      // a library commit carrying a NEW column gets a FRESH registered
      // id (the ADD COLUMN protocol); readers see it across both APIs
      VersionedLake.commit(spark.range(300, 301)
        .selectExpr("id", "CAST(9.0 AS DOUBLE) AS w",
          "CAST(1 AS INT) AS extra"), dir)
      assert(spark.table(s"$cat.m").count() == 90)
      assert(spark.sql(s"SELECT extra FROM $cat.m WHERE id = 300")
        .head().getInt(0) == 1)
      assert(spark.sql(s"SELECT count(*) FROM $cat.m WHERE extra IS NULL")
        .head().getLong(0) == 89,
        "pre-widening rows read NULL for the library-added column")
    }
  }

  test("REPLACE TABLE on a mapped lake: fresh ids + a new mapping " +
      "EPOCH — a post-replace rename reusing a pre-replace name " +
      "cannot merge with the old column; history stays readable") {
    val root = tempDir("glmap-replace")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('column_mapping'='id') AS SELECT id AS a, " +
        "CAST(id AS DOUBLE) AS b FROM range(0, 50)")
      val dir = s"$root/t"
      // give the old era an alias history: a -> cost
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN a TO cost")
      val oldMaxId = spark.table(s"$cat.t").schema.fields
        .flatMap(GraftLakeMapping.fieldId).max
      val preTip = VersionedLake.tip(spark, dir).get

      // REPLACE reuses the OLD name 'a' for an unrelated STRING column
      spark.sql(s"REPLACE TABLE $cat.t AS " +
        "SELECT CAST(id AS STRING) AS a, id * 10 AS n FROM range(0, 7)")
      val t = spark.table(s"$cat.t")
      assert(t.schema.fieldNames.toSeq == Seq("a", "n"))
      assert(t.count() == 7)
      assert(spark.sql(s"SELECT SUM(n) FROM $cat.t").head().getLong(0)
        == (0 until 7).map(_ * 10L).sum)
      // fresh id universe: no new id collides with any retired one
      val newIds = t.schema.fields.flatMap(GraftLakeMapping.fieldId)
      assert(newIds.forall(_ > oldMaxId),
        s"replace must take never-used ids (old max $oldMaxId, " +
          s"got ${newIds.mkString(",")})")
      // the epoch opened: alias probing sees ONLY the new era — the
      // reused name must NOT inherit the old column's alias history
      assert(GraftLakeMapping.currentEpoch(spark, dir) == 1L)
      assert(GraftLakeMapping.aliases(spark, dir)
        .getOrElse("a", Seq.empty) == Seq("a"),
        "post-replace 'a' must not alias the pre-replace a/cost column")

      // post-replace rename still works and stays era-scoped
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN a TO label")
      assert(spark.sql(s"SELECT label FROM $cat.t WHERE n = 30")
        .head().getString(0) == "3",
        "pre-rename (post-replace) files must bind the renamed " +
          "column by its new-era id")
      val al = GraftLakeMapping.aliases(spark, dir)
      assert(al.getOrElse("label", Seq.empty).toSet == Set("a", "label"))
      assert(!al.getOrElse("label", Seq.empty).contains("cost"),
        "the new era's aliases must not merge the retired column")

      // the replaced snapshot stays time-travelable under ITS names
      val old = spark.sql(
        s"SELECT SUM(cost) FROM $cat.t VERSION AS OF $preTip")
      assert(old.head().getLong(0) == (0 until 50).map(_.toLong).sum,
        "pre-replace versions must read by their own era's ids/names")

      // an UNMAPPED lake still cannot gain mapping via REPLACE
      spark.sql(s"CREATE TABLE $cat.plain2 AS SELECT id FROM range(3)")
      val e = intercept[Exception](spark.sql(
        s"CREATE OR REPLACE TABLE $cat.plain2 TBLPROPERTIES " +
          "('column_mapping'='id') AS SELECT 1 AS x"))
      assert(e.getMessage.contains("CREATE TABLE"), e.getMessage)
    }
  }

  test("statsAggregate / statsCovered on a MAPPED lake survive a " +
      "RENAME: stats fold under every era's name, and the unstatsed " +
      "fraction scans BY FIELD ID (a name-read would silently null " +
      "pre-rename files out of min/max)") {
    val root = tempDir("glmap-stats")
    withCatalog(root) { cat =>
      // era-1 data WITH stats (CTAS indexes numeric columns)
      spark.sql(s"CREATE TABLE $cat.t TBLPROPERTIES " +
        "('column_mapping'='id') AS SELECT id, CAST(id * 2 AS DOUBLE) " +
        "AS v FROM range(0, 100)")
      val dir = s"$root/t"
      // era-1 data WITHOUT stats (plain library commit) — this dir
      // must take the SCAN path, over pre-rename files
      VersionedLake.commit(spark.range(100, 150)
        .selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v"), dir)
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO amount")
      // era-2 data with stats under the NEW name
      spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(id * 2 AS DOUBLE) " +
        "FROM range(150, 160)")
      // metadata coverage: the statsed dirs' lines live under BOTH
      // names — covered is about those dirs only if every file is
      // statsed; the plain commit isn't, so covered must be false
      assert(!VersionedLake.statsCovered(spark, dir, "amount"))
      // the aggregate must see every era exactly: a name-matched scan
      // nulls v out of the unstatsed pre-rename dir (max would come
      // back 198.0 from era-1 stats alone — silently wrong)
      assert(VersionedLake.statsAggregate(spark, dir, "amount") ==
        ((160L, 0.0, 318.0)),
        "statsAggregate must fold aliased stats AND id-match the scan")
      // a fully-statsed lake (CTAS + INSERT only): coverage and the
      // pure-metadata fold must survive the rename through the alias
      // set — pre-fix, coverage silently dropped to false and the
      // fold to the scan path the moment a column was renamed
      spark.sql(s"CREATE TABLE $cat.t2 TBLPROPERTIES " +
        "('column_mapping'='id') AS SELECT id, CAST(id * 2 AS DOUBLE) " +
        "AS v FROM range(0, 100)")
      val dir2 = s"$root/t2"
      spark.sql(s"ALTER TABLE $cat.t2 RENAME COLUMN v TO amount")
      spark.sql(s"INSERT INTO $cat.t2 SELECT id, CAST(id * 2 AS " +
        "DOUBLE) FROM range(100, 110)")
      assert(VersionedLake.statsCovered(spark, dir2, "amount"),
        "coverage must fold stats lines from every era's name")
      assert(VersionedLake.statsAggregate(spark, dir2, "amount") ==
        ((110L, 0.0, 218.0)),
        "the metadata fold must see pre-rename files' aliased stats")
      // the library PROBES id-match too: pre-fix, a name-read nulled
      // `amount` out of pre-rename files and both probes silently
      // returned zero of their rows
      assert(VersionedLake.readSkipping(spark, dir2, "amount", 0, 50)
        .count() == 26,
        "readSkipping must bind pre-rename files by field id")
      assert(VersionedLake.readBloomProbe(spark, dir2, "amount", 44.0)
        .count() == 1,
        "readBloomProbe must bind pre-rename files by field id")
    }
  }
}
