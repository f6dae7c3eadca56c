package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** One resolved lake snapshot per statement: on a recording file system
  * (`recfs`), a warm statement stats each root registry at most once and
  * reopens no manifest of a version the process already resolved, a SQL
  * DELETE or UPDATE resolves the version it reads once, and a registry
  * written between two statements is seen by the second. A structural
  * guard keeps registry and raw manifest reads inside the resolver and
  * the few writers and walks that need them. */
class SnapshotResolutionSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private val Registries =
    Seq("_partition", "_mapping", "_dv", "_cdf", "_index")
  private val ManifestName = """.*/_manifests/v(\d+)""".r
  private val CkptName = """.*/_manifests/v\d+\.ckpt""".r

  /** What one statement read of the lake metadata. */
  private final case class Reads(calls: Seq[(String, String)]) {
    private def name(p: String) = p.substring(p.lastIndexOf('/') + 1)
    /** Versions whose manifest was opened, one per open. */
    val manifestOpens: Seq[Int] = calls.collect {
      case ("open", ManifestName(v)) => v.toInt }
    val ckptProbes: Int = calls.count { case (_, p) => CkptName.matches(p) }
    /** Per registry, its stats and existence probes. */
    val registryProbes: Map[String, Int] = Registries.map(r =>
      r -> calls.count { case (op, p) =>
        (op == "stat" || op == "exists") && name(p) == r }).toMap
    val registryOpens: Int =
      calls.count { case (op, p) => op == "open" && Registries.contains(name(p)) }
    override def toString: String =
      s"manifest opens ${manifestOpens.length}, checkpoint probes " +
        s"$ckptProbes, registry probes ${registryProbes.values.sum} " +
        registryProbes.filter(_._2 > 0).map { case (r, n) => s"$r x$n" }
          .mkString("(", ", ", ")") + s", registry opens $registryOpens"
  }

  private def record(body: => Unit): Reads =
    Reads(RecordingFileSystem.record(body))

  /** `body` run twice; what the second, warm run read. */
  private def warm(body: => Unit): Reads = { body; record(body) }

  private def assertResolvedOnce(what: String, r: Reads): Unit = {
    info(s"$what: $r")
    r.registryProbes.foreach { case (reg, n) =>
      assert(n <= 1, s"$what stats $reg $n times: $r") }
    assert(r.registryOpens == 0, s"$what reparses a registry: $r")
  }

  /** A 40-commit library lake with id stats and a key bloom, and a SQL
    * table of about ten versions, both on `recfs`. */
  private lazy val lakes: (String, String) = {
    RecordingFileSystem.install(spark)
    val root = "recfs://" + tempDir("snapres")
    (0 until 40).foreach(c => VersionedLake.commitIndexed(
      spark.range(c * 50L, (c + 1) * 50L, 1, 1)
        .selectExpr("id", "CAST(id AS STRING) AS key", "id * 2 AS v"),
      s"$root/lib", Seq("id"), Some("key")))
    spark.conf.set("spark.sql.catalog.rec", classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.rec.root", root)
    spark.sql("CREATE TABLE rec.t (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('bloom' = 'id')")
    (0 until 9).foreach(c => spark.sql(
      s"INSERT INTO rec.t SELECT id, id * 2 FROM range(${c * 100}, " +
        s"${(c + 1) * 100}, 1, 1)"))
    (s"$root/lib", s"$root/t")
  }

  test("a warm read statement stats each registry at most once and " +
      "reopens no manifest of a version already resolved") {
    val (lib, _) = lakes
    val reads: Seq[(String, () => Unit)] = Seq(
      ("SQL count/sum", () => spark.sql(
        "SELECT count(*), sum(v) FROM rec.t").collect()),
      ("SQL bloom lookup", () => spark.sql(
        "SELECT v FROM rec.t WHERE id = 517").collect()),
      ("SQL as-of read", () => spark.sql(
        "SELECT v FROM rec.t VERSION AS OF 5 WHERE id = 317").collect()),
      ("library bloom probe", () =>
        VersionedLake.readBloomProbe(spark, lib, "key", "1234").collect()),
      ("library range probe", () =>
        VersionedLake.readSkipping(spark, lib, "id", 700, 760).collect()),
      ("library as-of read", () => VersionedLake.readAt(spark, lib, 20)
        .filter(col("id") === 123).collect()),
      ("library statsAggregate", () =>
        VersionedLake.statsAggregate(spark, lib, "id")))
    reads.foreach { case (what, read) =>
      val r = warm(read())
      assertResolvedOnce(what, r)
      assert(r.manifestOpens.isEmpty, s"$what reopens manifests: $r")
    }
  }

  test("a warm SQL DELETE or UPDATE resolves the version it reads once") {
    lakes
    def tipOf = VersionedLake.tip(spark, lakes._2).get
    Seq(
      ("SQL DELETE", (k: Int) => s"DELETE FROM rec.t WHERE id BETWEEN " +
        s"${10 + k * 5} AND ${12 + k * 5}"),
      ("SQL UPDATE", (k: Int) =>
        s"UPDATE rec.t SET v = v + 1 WHERE id = ${400 + k}")
    ).foreach { case (what, stmt) =>
      spark.sql(stmt(0)).collect()
      val read = tipOf
      val r = record(spark.sql(stmt(1)).collect())
      assert(tipOf == read + 1, s"$what published no version")
      assertResolvedOnce(what, r)
      // the read version is new to the process: one open, and its
      // predecessor (read by the first run) ends the walk
      assert(r.manifestOpens.count(_ == read) <= 1, s"$what: $r")
      assert(r.manifestOpens.forall(_ >= read), s"$what walks back: $r")
      assert(r.ckptProbes == 0, s"$what: $r")
    }
    assert(spark.sql("SELECT count(*) FROM rec.t").head().getLong(0) == 894L)
  }

  test("a registry written between two statements is seen by the second") {
    lakes
    val root = lakes._2.stripSuffix("/t")
    // ALTER TABLE SET TBLPROPERTIES on a deletion-vector table
    spark.sql("CREATE TABLE rec.d (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('deletion_vectors' = 'true', 'dv_max_ratio' = '0.5')")
    spark.sql("INSERT INTO rec.d SELECT id, id FROM range(0, 20, 1, 1)")
    def props(t: String): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES rec.$t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("d").get("dv_max_ratio").contains("0.5"))
    spark.sql("ALTER TABLE rec.d SET TBLPROPERTIES ('dv_max_ratio' = '0.3')")
    assert(props("d").get("dv_max_ratio").contains("0.3"))
    assert(VersionedLake.dvMaxRatio(spark, s"$root/d").contains(0.3))

    // setBloomIndex: the next SQL read of the table carries the column
    spark.sql("CREATE TABLE rec.b (id BIGINT, k STRING)")
    spark.sql("INSERT INTO rec.b SELECT id, CAST(id AS STRING) " +
      "FROM range(0, 20, 1, 1)")
    assert(!props("b").contains("bloom"))
    VersionedLake.setBloomIndex(spark, s"$root/b", "k")
    assert(props("b").get("bloom").contains("k"))

    // setChangeDataFeed: the next DELETE persists its row-level changes
    assert(!props("b").contains("cdf"))
    VersionedLake.setChangeDataFeed(spark, s"$root/b")
    spark.sql("DELETE FROM rec.b WHERE id BETWEEN 3 AND 4")
    val v = VersionedLake.tip(spark, s"$root/b").get
    assert(VersionedLake.changeSidecarPath(spark, s"$root/b", v).nonEmpty)

    // a partition spec written after a lookup found none: the spec is
    // hidden while a statement resolves the table, then restored
    spark.sql("CREATE TABLE rec.p (id BIGINT, y INT) PARTITIONED BY (y)")
    val reg = new org.apache.hadoop.fs.Path(s"$root/p/_partition")
    val f = reg.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hidden = reg.suffix(".hidden")
    assert(f.rename(reg, hidden))
    assert(spark.sql("SELECT * FROM rec.p").collect().isEmpty)
    assert(spark.table("rec.p").schema.fieldNames.toSeq == Seq("id", "y"))
    assert(f.rename(hidden, reg))
    spark.sql("INSERT INTO rec.p VALUES (1, 2024), (2, 2025)")
    assert(VersionedLake.manifestEntries(spark, s"$root/p",
      VersionedLake.tip(spark, s"$root/p").get).exists(_.contains("/y=2024")))
    assert(spark.sql("SELECT id FROM rec.p WHERE y = 2024").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("a zero-row commit on a partitioned lake indexes its seeded " +
      "carrier once") {
    CrashingFileSystem.install(spark)
    val dir = "crashfs://" + tempDir("snapres-seed") + "/lake"
    GraftLakePartitions.set(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("y",
        org.apache.spark.sql.types.IntegerType)))
    val df = spark.range(0, 10, 1, 1).selectExpr("id", "CAST(id % 2 AS INT) AS y")
    VersionedLake.commitIndexed(df, dir, Seq("id"), None)
    // a commit asking for stats makes no more calls than one asking for
    // none: seedEmpty already indexed the carrier, nothing reindexes it
    val (withStats, e1) = CrashingFileSystem.run(0)(
      VersionedLake.commitIndexed(df.limit(0), dir, Seq("id"), None))
    val (without, e2) = CrashingFileSystem.run(0)(
      VersionedLake.commitIndexed(df.limit(0), dir, Nil, None))
    assert(e1.isEmpty && e2.isEmpty, s"$e1 $e2")
    info(s"mutating calls: with stats $withStats, without $without")
    assert(withStats == without)
    assert(VersionedLake.readLatest(spark, dir).count() == 10L)
  }

  test("a first delivery of a tag reads no manifest; a replay, and a " +
      "tag whose marker was lost after its publish, still no-op") {
    RecordingFileSystem.install(spark)
    val dir = "recfs://" + tempDir("snapres-tags") + "/lake"
    def batch(c: Int) = spark.range(c * 10L, c * 10L + 10, 1, 1).toDF("id")
    (0 until 40).foreach(c => VersionedLake.commitTagged(batch(c), dir, s"b$c"))
    // the tip's manifest is resolved once by any commit new to it
    VersionedLake.readLatest(spark, dir)
    var published: Option[Int] = None
    val fresh = record {
      published = VersionedLake.commitTagged(batch(40), dir, "b40") }
    info(s"fresh tag on a 40-commit lake: $fresh")
    assert(published.contains(41))
    assert(fresh.manifestOpens.isEmpty, s"a fresh tag walks: $fresh")
    var base: Option[Int] = None
    val baseline = record {
      base = VersionedLake.baselineVersionFor(spark, dir, "b41") }
    assert(base.contains(41))
    assert(baseline.manifestOpens.isEmpty, s"a fresh baseline walks: $baseline")
    // replays: by marker, and by the walk when only the dir is left
    assert(VersionedLake.commitTagged(batch(40), dir, "b40").isEmpty)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_tags/b7")
    assert(marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false))
    assert(VersionedLake.commitTagged(batch(7), dir, "b7").isEmpty)
    assert(VersionedLake.baselineVersionFor(spark, dir, "b7").contains(7))
    assert(VersionedLake.readLatest(spark, dir).count() == 410L)
  }

  test("registries and raw manifest lines are read only by the resolver, " +
      "their writers and the manifest walks") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // the members of every main source, keyed `File.member`
    val member = """^  (?:private(?:\[\w+\])? )?(?:def|val|lazy val) (\w+).*""".r
    val bodies = sources.flatMap { p =>
      val file = p.getFileName.toString.stripSuffix(".scala")
      var cur = ""
      val body = scala.collection.mutable.LinkedHashMap.empty[String, String]
      Files.readAllLines(p).asScala.foreach { l =>
        l match { case member(n) => cur = n; case _ => () }
        body(s"$file.$cur") = body.getOrElse(s"$file.$cur", "") + l + "\n"
      }
      body.toSeq
    }
    def callers(call: String): Set[String] =
      bodies.collect { case (m, b) if b.contains(call) => m }.toSet
    // registry names are spelled once, in Snapshot
    val literal = """["/]_(partition|mapping|dv|cdf|index)"""".r
    assert(bodies.collect { case (m, b) if literal.findFirstIn(b).nonEmpty =>
      m }.forall(_.startsWith("Snapshot.")))
    assert(callers("registryPath(") == Set(
      "Snapshot.registryPath",
      "VersionedLake.registry", // the resolver
      "GraftLakePartitions.set", "GraftLakeMapping.regPath",
      "VersionedLake.setChangeDataFeed", "VersionedLake.setDeletionVectors",
      "VersionedLake.setBloomIndexCols"))
    // the mapping registry's own lines serve only its writers
    assert(callers("regPath(") - "GraftLakeMapping.regPath" == Set(
      "GraftLakeMapping.bumpEpoch", "GraftLakeMapping.lines",
      "GraftLakeMapping.record"))
    assert(callers("lines(spark, dir)").filter(_.startsWith("GraftLakeMapping"))
      == Set("GraftLakeMapping.bumpEpoch", "GraftLakeMapping.record"))
    assert(callers("readManifestLines(") == Set(
      "VersionedLake.readManifestLines",
      "VersionedLake.resolveLiveWalk", "VersionedLake.facts", // resolver
      "VersionedLake.manifestStep", // changes and the streaming source
      "VersionedLake.tagPublished", // exactly-once membership walk
      "VersionedLake.mergeOnReadCommit", // per-attempt conflict check
      "VersionedLake.vacuum"))
  }
}
