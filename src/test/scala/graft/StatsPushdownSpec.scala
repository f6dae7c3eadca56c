package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine._

/** `SELECT count(*), min(c), max(c)` over a `graftlake` snapshot served
  * from the stats sidecars while planning, with the fold
  * `VersionedLake.statsAggregate` uses: every served shape answers as a
  * plain parquet read of the files the snapshot's scan reads does, without reading a
  * data file, and every refused shape keeps its scan. */
class StatsPushdownSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private def withCatalog[A](root: String)(body: String => A): A = {
    val cat = s"sps_${new java.io.File(root).getName.takeRight(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    body(cat)
  }

  private def drain(): Unit =
    org.apache.spark.graft.ListenerBusFlush.waitUntilEmpty(
      spark.sparkContext, 120000)

  /** Jobs started and rows read from input while `body` runs, counted
    * by a listener after the bus drained. */
  private def counted[T](body: => T): (T, Int, Long) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          read.addAndGet(m.inputMetrics.recordsRead))
    }
    drain()
    spark.sparkContext.addSparkListener(l)
    try { val r = body; drain(); (r, jobs.get, read.get) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** Whether the executed plan answers from a local row instead of a
    * file scan. */
  private def servedLocally(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("LocalTableScan") && !plan.contains("BatchScan")
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  /** Rows of `query` over the plain parquet read of `files` under
    * `schema`, registered as the view `plain` — by field id when
    * `byId` (a column-mapped lake's pre-rename files carry the old
    * name). */
  private def plainRows(files: Seq[String],
      schema: org.apache.spark.sql.types.StructType, query: String,
      byId: Boolean): Seq[Seq[Any]] = {
    val s: SparkSession =
      if (!byId) spark
      else {
        val s2 = spark.newSession()
        s2.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        s2
      }
    s.read.schema(schema).parquet(files: _*).createOrReplaceTempView("plain")
    rows(s.sql(query))
  }

  test("all-null and partly-null files: statsAggregate and SQL " +
      "count/min/max skip the nulls and agree with a scan") {
    val root = tempDir("sps-null")
    withCatalog(root) { cat =>
      val dir = s"$root/t"
      VersionedLake.commitWithStats(spark.range(5, 10, 1, 1).toDF("id"),
        dir, Seq("id"))
      VersionedLake.commitWithStats(spark.range(0, 3, 1, 1)
        .select(lit(null).cast("long").as("id")), dir, Seq("id"))
      // the all-null file's line records its rows and an empty range
      val statsDir = new java.io.File(s"$dir/_stats")
      val lines = statsDir.listFiles.toSeq.filter(_.getName.endsWith(".stats"))
        .flatMap(f =>
        scala.io.Source.fromFile(f).getLines().toSeq)
      assert(lines.exists(_.endsWith("\tid\tInfinity\t-Infinity\t3")),
        lines.mkString("\n"))
      assert(!lines.exists(_.contains("\t0.0\t0.0\t")), lines.mkString("\n"))
      def check(n: Long, mn: Long, mx: Long): Unit = {
        assert(VersionedLake.statsCovered(spark, dir, "id"))
        assert(VersionedLake.statsAggregate(spark, dir, "id") ==
          ((n, mn.toDouble, mx.toDouble)))
        val q = spark.sql(s"SELECT count(*), min(id), max(id) FROM $cat.t")
        assert(servedLocally(q), q.queryExecution.executedPlan.toString)
        assert(q.collect().head.toSeq == Seq(n, mn, mx))
        assert(VersionedLake.readLatest(spark, dir)
          .agg(count(lit(1)), min("id"), max("id")).head().toSeq ==
          Seq(n, mn, mx))
      }
      check(8L, 5L, 9L)
      // a file with values and nulls keeps its values' range
      import spark.implicits._
      VersionedLake.commitWithStats(
        Seq(Some(20L), None, Some(2L)).toDF("id").coalesce(1), dir, Seq("id"))
      check(11L, 2L, 20L)
      // sidecars as earlier writers left them: no header, and 0/0 for
      // the all-null file, which no reader can tell from a real range —
      // both aggregates must scan instead of folding a 0 into min
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      statsDir.listFiles.toSeq.filter(_.getName.endsWith(".stats"))
        .foreach { f =>
          val legacy = scala.io.Source.fromFile(f).getLines().toSeq
            .filterNot(_.startsWith("#"))
            .map(_.replace("\tInfinity\t-Infinity\t", "\t0.0\t0.0\t"))
          val out = fs.create(new org.apache.hadoop.fs.Path(f.getPath), true)
          try out.write(legacy.mkString("\n").getBytes("UTF-8"))
          finally out.close()
        }
      assert(!VersionedLake.statsCovered(spark, dir, "id"))
      assert(VersionedLake.statsAggregate(spark, dir, "id") ==
        ((11L, 2.0, 20.0)))
      val (scanned, _, read) = counted(spark.sql(
        s"SELECT count(*), min(id), max(id) FROM $cat.t").collect())
      assert(scanned.head.toSeq == Seq(11L, 2L, 20L) && read == 11L)
      // a snapshot whose only file is all null has no bounds
      val dir2 = s"$root/n"
      VersionedLake.commitWithStats(spark.range(0, 4, 1, 1)
        .select(lit(null).cast("int").as("k")), dir2, Seq("k"))
      val (n2, mn2, mx2) = VersionedLake.statsAggregate(spark, dir2, "k")
      assert(n2 == 4L && mn2.isNaN && mx2.isNaN)
      val q2 = spark.sql(s"SELECT count(*), min(k), max(k) FROM $cat.n")
      assert(servedLocally(q2))
      assert(q2.collect().head.toSeq == Seq(4L, null, null))
    }
  }

  test("served count/min/max shapes equal a plain parquet read of the " +
      "snapshot's files, plan without a job and read no data file; " +
      "refused shapes keep their scan") {
    val root = tempDir("sps-eq")
    withCatalog(root) { cat =>
      // t: three stats-indexed commits; every numeric column indexed
      def frame(lo: Long) = spark.range(lo, lo + 100, 1, 2).select(
        col("id"), (col("id") % 17).cast("int").as("i"),
        (col("id") / 3.0).cast("float").as("f"),
        lit((1L << 53) + 1).as("big"))
      Seq(0L, 100L, 200L).foreach(lo => VersionedLake.commitWithStats(
        frame(lo), s"$root/t", Seq("id", "i", "f", "big")))
      // s: its second commit wrote no stats
      VersionedLake.commitWithStats(frame(0), s"$root/s", Seq("id"))
      VersionedLake.commit(frame(100), s"$root/s")
      // e: one commit of no rows
      VersionedLake.commitWithStats(frame(0).limit(0), s"$root/e", Seq("id"))
      // p: partitioned, written by SQL (which indexes every numeric column)
      spark.sql(s"CREATE TABLE $cat.p (id BIGINT, i INT, p STRING) " +
        "PARTITIONED BY (p)")
      spark.sql(s"INSERT INTO $cat.p SELECT id, CAST(id % 17 AS INT), " +
        "IF(id % 3 = 0, 'a', 'b') FROM range(0, 300)")
      // m: column-mapped, renamed after its first commit
      spark.sql(s"CREATE TABLE $cat.m TBLPROPERTIES " +
        "('column_mapping'='id') AS SELECT id, CAST(id % 17 AS INT) AS k " +
        "FROM range(0, 100)")
      spark.sql(s"ALTER TABLE $cat.m RENAME COLUMN k TO kk")
      spark.sql(s"INSERT INTO $cat.m SELECT id, CAST(id % 23 AS INT) + 40 " +
        "FROM range(100, 150)")
      // r: column-mapped, a renamed to x and then y renamed to a: the
      // old files' stats lines under `a` describe today's x
      spark.sql(s"CREATE TABLE $cat.r TBLPROPERTIES ('column_mapping'='id') " +
        "AS SELECT id, CAST(id % 7 AS INT) + 50 AS y, CAST(id % 5 AS INT) " +
        "AS a FROM range(0, 100)")
      spark.sql(s"ALTER TABLE $cat.r RENAME COLUMN a TO x")
      spark.sql(s"ALTER TABLE $cat.r RENAME COLUMN y TO a")
      // d: a live deletion vector
      spark.sql(s"CREATE TABLE $cat.d TBLPROPERTIES " +
        "('deletion_vectors'='true') AS SELECT id FROM range(0, 100)")
      spark.sql(s"DELETE FROM $cat.d WHERE id IN (0, 99)")

      // (name, lake query, snapshot the plain read covers, plain query,
      // read by field id, served)
      val cases: Seq[(String, String, String, String, Boolean, Boolean)] = Seq(
        ("tip", s"SELECT count(*), min(id), max(id), min(i), max(i) " +
          s"FROM $cat.t", s"$cat.t",
          "SELECT count(*), min(id), max(id), min(i), max(i) FROM plain",
          false, true),
        ("version as of", s"SELECT max(id), count(*), min(id) " +
          s"FROM $cat.t VERSION AS OF 2", s"$cat.t VERSION AS OF 2",
          "SELECT max(id), count(*), min(id) FROM plain", false, true),
        ("partition filter", s"SELECT count(*), min(id), max(i) " +
          s"FROM $cat.p WHERE p = 'a'", s"$cat.p WHERE p = 'a'",
          "SELECT count(*), min(id), max(i) FROM plain", false, true),
        ("renamed column", s"SELECT count(*), min(kk), max(kk) FROM $cat.m",
          s"$cat.m", "SELECT count(*), min(kk), max(kk) FROM plain",
          true, true),
        ("empty snapshot", s"SELECT count(*), min(id), max(id) FROM $cat.e",
          s"$cat.e", "SELECT count(*), min(id), max(id) FROM plain",
          false, true),
        ("name another column had", s"SELECT count(*), min(a), max(a) " +
          s"FROM $cat.r", s"$cat.r",
          "SELECT count(*), min(a), max(a) FROM plain", true, false),
        ("live deletion vector", s"SELECT count(*), min(id) FROM $cat.d",
          s"$cat.d", "SELECT count(*), min(id) FROM plain " +
            "WHERE id NOT IN (0, 99)", false, false),
        ("sum", s"SELECT count(*), sum(id) FROM $cat.t", s"$cat.t",
          "SELECT count(*), sum(id) FROM plain", false, false),
        ("group by", s"SELECT i, count(*), min(id) FROM $cat.t GROUP BY i",
          s"$cat.t", "SELECT i, count(*), min(id) FROM plain GROUP BY i",
          false, false),
        ("data filter", s"SELECT count(*), max(id) FROM $cat.t " +
          "WHERE i = 3", s"$cat.t",
          "SELECT count(*), max(id) FROM plain WHERE i = 3", false, false),
        ("long past 2^53", s"SELECT count(*), min(big) FROM $cat.t",
          s"$cat.t", "SELECT count(*), min(big) FROM plain", false, false),
        ("file without stats", s"SELECT count(*), max(id) FROM $cat.s",
          s"$cat.s", "SELECT count(*), max(id) FROM plain", false, false),
        ("float column", s"SELECT count(*), min(f) FROM $cat.t",
          s"$cat.t", "SELECT count(*), min(f) FROM plain", false, false),
        ("count(col)", s"SELECT count(i), min(id) FROM $cat.t",
          s"$cat.t", "SELECT count(i), min(id) FROM plain", false, false))
      cases.foreach { case (name, lake, snapshot, plain, byId, served) =>
        val snap = spark.sql(s"SELECT * FROM $snapshot")
        val want = plainRows(GraftLakeDataSource.filesReadPaths(snap),
          snap.schema, plain, byId)
        val (df, planJobs, _) = counted {
          val df = spark.sql(lake); df.queryExecution.executedPlan; df }
        val (got, runJobs, read) = counted(rows(df))
        assert(got == want, name)
        val plan = df.queryExecution.executedPlan.toString
        assert(servedLocally(df) == served, s"$name:\n$plan")
        if (served) {
          assert(planJobs == 0, s"$name: planning started $planJobs jobs")
          assert(runJobs <= 1 && read == 0,
            s"$name: $runJobs jobs read $read rows")
        } else assert(read > 0, s"$name read no rows:\n$plan")
      }
    }
  }
}
