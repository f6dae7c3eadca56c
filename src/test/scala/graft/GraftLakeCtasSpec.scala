package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** DDL through the graftlake catalog: plain CREATE TABLE as a
  * schema-bearing empty commit, atomic CTAS / RTAS through the
  * StagingTableCatalog seam, failure atomicity (no half-created
  * table), and the destructive-DDL refusal. */
class GraftLakeCtasSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private def withCatalog[A](root: String)(body: String => A): A = {
    val cat = s"glc_${new java.io.File(root).getName.takeRight(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    body(cat)
  }

  test("CREATE TABLE publishes a schema-bearing empty version 1 that " +
      "INSERT then appends to; CREATE of an existing table is refused") {
    val root = tempDir("glc-create")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.t (id BIGINT, tag STRING)")
      assert(VersionedLake.versions(spark, s"$root/t") == Seq(1))
      assert(spark.table(s"$cat.t").schema.map(_.name) ==
        Seq("id", "tag"))
      assert(spark.table(s"$cat.t").count() == 0)
      spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b')")
      assert(spark.table(s"$cat.t").count() == 2)
      val e = intercept[Exception](
        spark.sql(s"CREATE TABLE $cat.t (id BIGINT)"))
      assert(e.getMessage.toLowerCase.contains("already exists"),
        e.getMessage)
      // identity PARTITIONED BY is first-class (GraftLakePartitionSpec)
      // but degenerate/unsupported shapes refuse with guidance: every-
      // column partitioning and non-identity transforms
      val p = intercept[Exception](
        spark.sql(s"CREATE TABLE $cat.p (id BIGINT) PARTITIONED BY (id)"))
      assert(p.getMessage.contains("every column"), p.getMessage)
      val b = intercept[Exception](spark.sql(
        s"CREATE TABLE $cat.b (id BIGINT, g INT) " +
          "PARTITIONED BY (bucket(4, id))"))
      assert(b.getMessage.contains("identity"), b.getMessage)
    }
  }

  test("the zero-row schema carrier of CREATE TABLE and of a TRUNCATE " +
      "is indexed: a stats-pruned deleteRange after two INSERTs keeps " +
      "it live") {
    val root = tempDir("glc-carrier")
    withCatalog(root) { cat =>
      def tipEntries(dir: String) = VersionedLake.manifestEntries(spark,
        dir, VersionedLake.tip(spark, dir).get)
      // `setup` leaves the carrier as the tip's only entry
      def carrierSurvives(t: String)(setup: => Unit): Unit = {
        val dir = s"$root/$t"
        setup
        val carrier = tipEntries(dir)
        assert(carrier.length == 1, s"$t: $carrier")
        spark.sql(s"INSERT INTO $cat.$t SELECT id FROM range(0, 100)")
        spark.sql(s"INSERT INTO $cat.$t SELECT id FROM range(100, 200)")
        VersionedLake.deleteRange(spark, dir, "id", 150, 160)
        assert(tipEntries(dir).contains(carrier.head),
          s"$t: the carrier ${carrier.head} was rewritten away: " +
            tipEntries(dir))
        assert(spark.table(s"$cat.$t").count() == 189)
      }
      carrierSurvives("created") {
        spark.sql(s"CREATE TABLE $cat.created (id BIGINT)")
      }
      carrierSurvives("truncated") {
        spark.sql(s"CREATE TABLE $cat.truncated (id BIGINT)")
        spark.sql(s"INSERT INTO $cat.truncated SELECT id FROM range(0, 50)")
        spark.sql(s"DELETE FROM $cat.truncated")
      }
    }
  }

  test("CTAS is one atomic versioned commit: data lands WITH the table; " +
      "RTAS replaces as an overwrite commit keeping the old snapshot " +
      "time-travelable; zero-row CTAS still carries its schema") {
    import spark.implicits._
    val root = tempDir("glc-ctas")
    withCatalog(root) { cat =>
      spark.range(0, 100).toDF("id")
        .withColumn("v", col("id") * 2).createOrReplaceTempView("glc_src")
      spark.sql(
        s"CREATE TABLE $cat.c AS SELECT * FROM glc_src WHERE id < 40")
      assert(VersionedLake.versions(spark, s"$root/c") == Seq(1),
        "CTAS must be ONE commit (create+data together)")
      assert(spark.table(s"$cat.c").count() == 40)
      // stats sidecars from the staged write make the new table
      // immediately skippable, like every other graftlake commit
      val probe = spark.read.format("graftlake").load(s"$root/c")
        .filter(col("id") < 0)
      assert(probe.count() == 0)

      spark.sql(s"REPLACE TABLE $cat.c AS SELECT * FROM glc_src " +
        "WHERE id >= 40")
      assert(VersionedLake.versions(spark, s"$root/c") == Seq(1, 2))
      assert(spark.table(s"$cat.c").count() == 60)
      assert(spark.sql(s"SELECT count(*) FROM $cat.c VERSION AS OF 1")
        .head.getLong(0) == 40, "replaced snapshot must stay readable")

      spark.sql(s"CREATE OR REPLACE TABLE $cat.c AS " +
        "SELECT * FROM glc_src WHERE id = 7")
      assert(spark.table(s"$cat.c").count() == 1)

      // REPLACE of a missing table refuses; CREATE OR REPLACE creates
      val e = intercept[Exception](spark.sql(
        s"REPLACE TABLE $cat.missing AS SELECT * FROM glc_src"))
      assert(e.getMessage.contains("missing"), e.getMessage)
      spark.sql(s"CREATE OR REPLACE TABLE $cat.fresh AS " +
        "SELECT * FROM glc_src WHERE id < 3")
      assert(spark.table(s"$cat.fresh").count() == 3)

      spark.sql(s"CREATE TABLE $cat.z AS SELECT * FROM glc_src WHERE 1=0")
      assert(spark.table(s"$cat.z").count() == 0)
      assert(spark.table(s"$cat.z").schema.map(_.name) == Seq("id", "v"),
        "zero-row CTAS must still publish the schema")
    }
  }

  test("two racing staged CREATEs yield exactly one winner and one " +
      "TableAlreadyExists — never a silent union (strict v1 publish)") {
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.range(1).count() // materialize the session: the staged table
    // resolves SparkSession.active at construction
    val root = tempDir("glc-race")
    val ident = Identifier.of(Array.empty[String], "r")
    val lake = s"$root/r"
    // both writers stage BEFORE either commits — the window the old
    // exists-check-then-CAS-retry publish turned into a silent A∪B
    val stagedA = new GraftLakeStagedTable(ident, lake,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a_id",
          org.apache.spark.sql.types.LongType))),
      replace = false, orCreate = false)
    val stagedB = new GraftLakeStagedTable(ident, lake,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("b_tag",
          org.apache.spark.sql.types.StringType))),
      replace = false, orCreate = false)
    // run the two commits concurrently (the outcome is the same for any
    // interleaving once both passed the stage-time exists check)
    import scala.collection.parallel.CollectionConverters._
    val results = Seq(stagedA, stagedB).par.map { st =>
      try { st.commitStagedChanges(); Right(()) }
      catch { case e: Exception => Left(e) }
    }.seq
    assert(results.count(_.isRight) == 1, s"exactly one winner: $results")
    val loser = results.collectFirst { case Left(e) => e }.get
    assert(loser.isInstanceOf[
      org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException],
      s"loser must fail with TableAlreadyExists, got $loser")
    assert(VersionedLake.versions(spark, lake) == Seq(1),
      "exactly ONE version — a losing writer must not append as v2")
    // the published table is exactly one writer's — never a union
    val cols = spark.read.format("graftlake").load(lake).columns.toSeq
    assert(cols == Seq("a_id") || cols == Seq("b_tag"),
      s"table must hold exactly one writer's schema, got $cols")
  }

  test("a staged REPLACE refuses to publish over a tip that moved " +
      "since it was staged (serializable RTAS, no silent discard)") {
    import spark.implicits._
    import org.apache.spark.sql.connector.catalog.Identifier
    val root = tempDir("glc-rtas-race")
    val lake = s"$root/t"
    VersionedLake.commit(Seq((1L, "x")).toDF("id", "tag"), lake)
    val staged = new GraftLakeStagedTable(
      Identifier.of(Array.empty[String], "t"), lake,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType))),
      replace = true, orCreate = false)
    // a concurrent append lands between stage and commit
    VersionedLake.commit(Seq((2L, "y")).toDF("id", "tag"), lake)
    val e = intercept[java.util.ConcurrentModificationException](
      staged.commitStagedChanges())
    assert(e.getMessage.contains("tip moved"), e.getMessage)
    // the concurrent commit survives; the replace published nothing
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2))
    assert(VersionedLake.readLatest(spark, lake).count() == 2)
  }

  test("CREATE OR REPLACE that loses the v1 race degrades to the " +
      "REPLACE path (the user asked OR REPLACE: last-writer-wins, not " +
      "a failed DDL); plain CREATE still refuses") {
    import spark.implicits._
    import org.apache.spark.sql.connector.catalog.Identifier
    spark.range(1).count() // materialize the session
    val root = tempDir("glc-orc-race")
    val lake = s"$root/t"
    val ident = Identifier.of(Array.empty[String], "t")
    def staged(orCreate: Boolean) = new GraftLakeStagedTable(ident, lake,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("mine",
          org.apache.spark.sql.types.LongType))),
      replace = true, orCreate = orCreate)
    // staged when NO table existed (observedTip = 0)…
    val st = staged(orCreate = true)
    // …then a racer publishes v1 before this DDL commits
    VersionedLake.commit(Seq((1L, "racer")).toDF("id", "tag"), lake)
    st.commitStagedChanges() // must NOT throw: degrade to replace @ v2
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2))
    assert(spark.read.format("graftlake").load(lake).columns.toSeq ==
      Seq("mine"), "the OR REPLACE must win as the last writer")
    assert(spark.read.format("graftlake")
      .option(GraftLakeDataSource.VersionAsOf, 1).load(lake)
      .columns.toSeq == Seq("id", "tag"),
      "the racer's snapshot stays time-travelable")
  }

  test("a failing CTAS query leaves NO table and no published version " +
      "(staging atomicity); DROP/ALTER stay refused") {
    import spark.implicits._
    val root = tempDir("glc-abort")
    withCatalog(root) { cat =>
      spark.range(0, 10).toDF("id").createOrReplaceTempView("glc_boom")
      intercept[Exception](spark.sql(
        s"CREATE TABLE $cat.boom AS " +
          "SELECT assert_true(id < 5, 'boom') AS a, id FROM glc_boom"))
      assert(VersionedLake.versions(spark, s"$root/boom").isEmpty,
        "failed CTAS must publish nothing")
      intercept[Exception](spark.table(s"$cat.boom").collect())

      spark.sql(s"CREATE TABLE $cat.keep AS SELECT 1 AS one")
      val d = intercept[Exception](spark.sql(s"DROP TABLE $cat.keep"))
      assert(d.getMessage.contains("vacuum"), d.getMessage)
      val a = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.keep DROP COLUMN one"))
      assert(a.getMessage.contains("column_mapping"), a.getMessage)
    }
  }

  test("ALTER TABLE ADD COLUMN widens the schema as a versioned " +
      "commit: old rows read null, old versions keep their schema, " +
      "INSERT uses the new width; drops/renames/positions refused") {
    val root = tempDir("glc-alter")
    withCatalog(root) { cat =>
      spark.sql(s"CREATE TABLE $cat.a (id BIGINT)")
      spark.sql(s"INSERT INTO $cat.a VALUES (1), (2)")
      spark.sql(s"ALTER TABLE $cat.a ADD COLUMN note STRING")
      assert(VersionedLake.versions(spark, s"$root/a") == Seq(1, 2, 3),
        "the ALTER is itself a versioned commit")
      assert(spark.table(s"$cat.a").schema.map(_.name) ==
        Seq("id", "note"))
      spark.sql(s"INSERT INTO $cat.a VALUES (3, 'x')")
      val rows = spark.sql(
        s"SELECT id, note FROM $cat.a ORDER BY id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      assert(rows.toSeq == Seq((1L, null), (2L, null), (3L, "x")))
      // time travel predates the column
      assert(spark.sql(s"SELECT * FROM $cat.a VERSION AS OF 2")
        .schema.map(_.name) == Seq("id"))
      // multiple columns in one statement
      spark.sql(s"ALTER TABLE $cat.a ADD COLUMNS (x INT, y DOUBLE)")
      assert(spark.table(s"$cat.a").schema.map(_.name) ==
        Seq("id", "note", "x", "y"))
      // refusals: duplicate, NOT NULL, position, nested, rename/drop
      val dup = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.a ADD COLUMN note STRING"))
      assert(dup.getMessage.toLowerCase.contains("already exists"),
        dup.getMessage)
      val nn = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.a ADD COLUMN req INT NOT NULL"))
      assert(nn.getMessage.contains("nullable"), nn.getMessage)
      val pos = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.a ADD COLUMN pre INT FIRST"))
      assert(pos.getMessage.contains("FIRST/AFTER"), pos.getMessage)
      // unmapped tables refuse rename with the column-mapping pointer
      // (GraftLakeMappingSpec covers the mapped path)
      val rn = intercept[Exception](
        spark.sql(s"ALTER TABLE $cat.a RENAME COLUMN x TO z"))
      assert(rn.getMessage.contains("column_mapping"), rn.getMessage)
    }
  }
}
