package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** The `graftlake` DSv2 format: snapshot/time-travel equivalence with
  * the library path, sidecar file pruning reaching a plain
  * `spark.read`, native-parquet plan shape, and the retention error
  * contract through the V2 seam. */
class GraftLakeSourceSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private def v2(dir: String, version: Option[Int] = None) = {
    val r = spark.read.format("graftlake")
    version.fold(r)(v => r.option(GraftLakeDataSource.VersionAsOf, v))
      .load(dir)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("format(graftlake) reads the latest snapshot and every " +
      "versionAsOf identically to the library path") {
    import spark.implicits._
    val dir = tempDir("glsrc-tt") + "/lake"
    VersionedLake.commit(spark.range(0, 100).toDF("id"), dir)
    VersionedLake.commit(spark.range(100, 200).toDF("id"), dir)
    VersionedLake.commit(spark.range(0, 30).toDF("id"), dir,
      mode = "overwrite")
    assert(rows(v2(dir)) == rows(VersionedLake.readLatest(spark, dir)))
    VersionedLake.versions(spark, dir).foreach { v =>
      assert(rows(v2(dir, Some(v))) ==
        rows(VersionedLake.readAt(spark, dir, v)),
        s"V2 read of version $v diverged from the library read")
    }
    // an expired/unknown version fails with the retention error, not a
    // raw FileNotFoundException
    val e = intercept[IllegalArgumentException](v2(dir, Some(99)).collect())
    assert(e.getMessage.contains("readable versions"), e.getMessage)
  }

  test("pushed range filter prunes files through the manifest stats " +
      "sidecar; results equal the unpruned filter") {
    import spark.implicits._
    val dir = tempDir("glsrc-skip") + "/lake"
    // 8 near-disjoint id ranges, one file each, stats recorded
    VersionedLake.commitWithStats(
      spark.range(0, 8000).toDF("id")
        .withColumn("v", col("id") * 3)
        .repartitionByRange(8, col("id"))
        .sortWithinPartitions("id"),
      dir, statsCols = Seq("id"))
    val probe = v2(dir).filter(col("id") >= 2000 && col("id") <= 2999)
    val total = VersionedLake.readLatest(spark, dir).inputFiles.length
    val read = GraftLakeDataSource.filesRead(probe)
    assert(total >= 4, s"fixture produced only $total files")
    assert(read < total, s"pushed range read $read/$total files")
    assert(rows(probe) == rows(VersionedLake.readLatest(spark, dir)
      .filter(col("id") >= 2000 && col("id") <= 2999)))
    // control: the unfiltered V2 read plans every file
    assert(GraftLakeDataSource.filesRead(v2(dir)) == total)
  }

  test("pushed equality filter prunes files through the bloom sidecar " +
      "even when ranges cannot skip") {
    import spark.implicits._
    val dir = tempDir("glsrc-bloom") + "/lake"
    // hash-distributed: every file's id RANGE spans the table, only the
    // bloom can skip
    VersionedLake.commitWithBloom(
      spark.range(0, 6000).toDF("id").withColumn("v", col("id") % 7)
        .repartition(12, col("id")),
      dir, keyCol = "id")
    val total = VersionedLake.readLatest(spark, dir).inputFiles.length
    val hit = v2(dir).filter(col("id") === 137L)
    assert(GraftLakeDataSource.filesRead(hit) < total,
      s"bloom did not prune: ${GraftLakeDataSource.filesRead(hit)}/$total")
    assert(rows(hit) == Seq(Seq(137L, 137L % 7)))
    val miss = v2(dir).filter(col("id") === 987654321L)
    assert(GraftLakeDataSource.filesRead(miss) <= 1,
      "absent key should bloom-negative almost every file")
    assert(miss.count() == 0)
  }

  test("the V2 scan is the native vectorized parquet path (BatchScan + " +
      "pushed filters), and a snapshot spanning schema evolution merges") {
    import spark.implicits._
    val dir = tempDir("glsrc-native") + "/lake"
    VersionedLake.commit(spark.range(0, 50).toDF("id"), dir)
    VersionedLake.commit(
      spark.range(50, 60).toDF("id").withColumn("lang", lit("en")), dir)
    val df = v2(dir).filter(col("id") > 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"not a DSv2 scan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,10)]"),
      s"filter not pushed to the parquet reader:\n$plan")
    // evolution: old files read null for the added column
    val got = df.select("id", "lang").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(11L).isEmpty && got(55L).contains("en"))
    assert(got.size == 49)
  }

  test("SQL reaches the lake through the catalog: plain SELECT reads " +
      "latest, VERSION AS OF time-travels, DDL is refused") {
    import spark.implicits._
    val base = tempDir("glsrc-cat")
    val dir = s"$base/events_lake"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    VersionedLake.commit(spark.range(10, 25).toDF("id"), dir)
    spark.conf.set("spark.sql.catalog.glake_test",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.glake_test.root", base)
    assert(spark.sql("SELECT count(*) AS n FROM glake_test.events_lake")
      .head().getLong(0) == 25L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM glake_test.events_lake VERSION AS OF 1")
      .head().getLong(0) == 10L)
    // the V2 seam composes: a filter through SQL still prunes row-level
    assert(spark.sql(
      "SELECT id FROM glake_test.events_lake WHERE id = 7")
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
    val e = intercept[Exception](
      spark.sql("DROP TABLE glake_test.events_lake"))
    assert(e.getMessage.contains("destructive DDL"), e.getMessage)
    // discovery: the lake dir is listed as a table of the catalog
    val cat = new GraftLakeCatalog
    cat.initialize("t",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("root", base)))
    assert(cat.listTables(Array.empty).map(_.name).toSeq ==
      Seq("events_lake"))
  }

  test("readStream over the lake consumes each version as its own " +
      "micro-batch, picks up versions published mid-stream, and a " +
      "restart resumes from the checkpoint without re-delivery") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("glsrc-stream")
    val dir = s"$root/lake"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    VersionedLake.commit(spark.range(10, 20).toDF("id"), dir)

    def drain(sinkTable: String): Unit = {
      val q = spark.readStream.format("graftlake").load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/cp")
        .format("parquet").option("path", s"$root/sink")
        .start()
      q.awaitTermination()
    }
    drain("s1")
    def sink() = spark.read.parquet(s"$root/sink")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(sink() == (0L until 20L))
    // versions published AFTER the first drain arrive incrementally —
    // the restarted stream reads ONLY the new version's files
    VersionedLake.commit(spark.range(20, 25).toDF("id"), dir)
    drain("s2")
    assert(sink() == (0L until 25L), "new version not consumed")
    // replay safety: draining again with the same checkpoint delivers
    // nothing new (offsets are versions; data dirs immutable)
    drain("s3")
    assert(sink() == (0L until 25L), "replay double-delivered rows")
  }

  test("streaming refuses a non-append history step instead of " +
      "silently double-delivering rewritten rows") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("glsrc-stream-ow")
    val dir = s"$root/lake"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    val q1 = spark.readStream.format("graftlake").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp")
      .format("parquet").option("path", s"$root/sink")
      .start()
    q1.awaitTermination()
    VersionedLake.commit(spark.range(100, 103).toDF("id"), dir,
      mode = "overwrite")
    val q2 = spark.readStream.format("graftlake").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp")
      .format("parquet").option("path", s"$root/sink")
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q2.awaitTermination())
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")),
      s"wrong failure: ${e.getMessage}")
  }

  test("RESTORE x streaming source contract: a stream whose next " +
      "planning cycle crosses a restore commit throws the append-only " +
      "refusal (naming restore as a cause), and with " +
      "skipChangeCommits=true skips the restore commit whole while " +
      "post-restore appends keep delivering exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("glsrc-stream-restore")
    val dir = s"$root/lake"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)   // v1
    val q1 = spark.readStream.format("graftlake").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp")
      .format("parquet").option("path", s"$root/sink")
      .start()
    q1.awaitTermination()
    VersionedLake.commit(spark.range(10, 20).toDF("id"), dir)  // v2
    VersionedLake.restore(spark, dir, 1)                       // v3
    VersionedLake.commit(spark.range(50, 55).toDF("id"), dir)  // v4
    // default: the restore commit is a non-append step — the stream
    // must refuse with the retention-contract-style error, never a
    // raw missing-path/planning error
    val q2 = spark.readStream.format("graftlake").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp")
      .format("parquet").option("path", s"$root/sink")
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q2.awaitTermination())
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => Option(c.getMessage).getOrElse(""))
          .getOrElse("")
    assert(msg(e).contains("append-only"), s"wrong failure: ${msg(e)}")
    assert(msg(e).contains("restore"),
      s"the refusal should name restore as a possible cause: ${msg(e)}")
    // opting into skipping change commits: the restore commit (v2's
    // rows dropped, v1's entries re-referenced) is skipped WHOLE —
    // v2's append (pending at the crossed commit) and v4's append
    // still deliver, and nothing double-delivers
    val q3 = spark.readStream.format("graftlake")
      .option(GraftLakeDataSource.SkipChangeCommits, "true").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp")
      .format("parquet").option("path", s"$root/sink")
      .start()
    q3.awaitTermination()
    val got = spark.read.parquet(s"$root/sink")
      .as[Long].collect().sorted.toSeq
    assert(got == ((0L until 20L) ++ (50L until 55L)),
      s"skipChangeCommits drain delivered $got")
  }

  test("a layout-only compaction mid-history is SKIPPED by the stream: " +
      "no duplicates, no loss, pending dirs keep delivering from their " +
      "original files, and a restart resumes cleanly") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("glsrc-stream-opt")
    val dir = s"$root/lake"
    def drainTo(cp: String, sink: String): Unit = {
      val q = spark.readStream.format("graftlake").load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .format("parquet").option("path", sink)
        .start()
      q.awaitTermination()
    }
    def ids(sink: String): Seq[Long] = spark.read.parquet(sink)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    drainTo(s"$root/cp", s"$root/sink")
    assert(ids(s"$root/sink") == (0L until 10L))
    // v2 lands but is NOT yet delivered; the compaction (v3) rewrites
    // BOTH dirs — delivered v1 rows and pending v2 rows — into one
    VersionedLake.commit(spark.range(10, 20).toDF("id"), dir)
    assert(VersionedLake.compactSmall(spark, dir, Long.MaxValue).contains(3))
    assert(VersionedLake.isLayoutOnly(spark, dir, 3))
    VersionedLake.commit(spark.range(20, 25).toDF("id"), dir)
    // resumed stream must deliver v2 (from its ORIGINAL dir) and v4 —
    // never the compacted dir, which would re-deliver v1's rows
    drainTo(s"$root/cp", s"$root/sink")
    assert(ids(s"$root/sink") == (0L until 25L),
      "resume across a layout commit must deliver pending+new exactly once")
    // a FRESH stream over the same history also sees each row once
    drainTo(s"$root/cp2", s"$root/sink2")
    assert(ids(s"$root/sink2") == (0L until 25L),
      "fresh drain across a layout commit must deliver everything once")
    // a DATA-changing rewrite still refuses (scoped, not weakened)
    VersionedLake.commit(spark.range(100, 103).toDF("id"), dir,
      mode = "overwrite")
    val q = spark.readStream.format("graftlake").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp")
      .format("parquet").option("path", s"$root/sink")
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination())
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")))
  }

  test("the bloom table property gives SQL-written data point-lookup " +
      "parity: INSERT/CTAS dirs carry bloom sidecars and a string " +
      "equality through plain spark.read prunes files") {
    val root = tempDir("glsrc-bloomprop")
    val cat = "glbp"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.range(0, 300).toDF("id")
      .selectExpr("concat('k', id) AS tag", "id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("glbp_src")
    spark.sql(s"CREATE TABLE $cat.b TBLPROPERTIES ('bloom' = 'tag') AS " +
      "SELECT * FROM glbp_src WHERE id < 100")
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM glbp_src " +
      "WHERE id >= 100 AND id < 200")
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM glbp_src WHERE id >= 200")
    val dir = s"$root/b"
    assert(VersionedLake.bloomIndexCols(spark, dir).headOption.contains("tag"),
      "the CTAS must persist the declared bloom policy")
    val total = VersionedLake.readLatest(spark, dir).inputFiles.length
    val probe = spark.read.format("graftlake").load(dir)
      .filter(col("tag") === "k250")
    assert(GraftLakeDataSource.filesRead(probe) < total,
      s"string point lookup on SQL-written data must prune ($total files)")
    assert(probe.collect().map(_.getLong(1)).toSeq == Seq(250L))
    // the COW path inherits the policy too: UPDATE rewrites a dir and
    // the rewritten dir still prunes point lookups
    spark.sql(s"UPDATE $cat.b SET v = v + 0.5 WHERE tag = 'k250'")
    val probe2 = spark.read.format("graftlake").load(dir)
      .filter(col("tag") === "k150")
    assert(GraftLakeDataSource.filesRead(probe2) <
      VersionedLake.readLatest(spark, dir).inputFiles.length)
    assert(probe2.collect().map(_.getLong(1)).toSeq == Seq(150L))
    // the library deleteRange's survivor dir carries the policy too
    VersionedLake.deleteRange(spark, dir, "id", 0, 9)
    val probe3 = spark.read.format("graftlake").load(dir)
      .filter(col("tag") === "k40")
    assert(GraftLakeDataSource.filesRead(probe3) <
      VersionedLake.readLatest(spark, dir).inputFiles.length,
      "deleteRange's rewrite must keep the bloom policy")
    assert(probe3.collect().map(_.getLong(1)).toSeq == Seq(40L))
    // a typo'd declaration fails the DDL instead of silently indexing
    // nothing
    val bad = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.bad TBLPROPERTIES ('bloom' = 'nope') AS " +
        "SELECT * FROM glbp_src"))
    assert(bad.getMessage.contains("unknown column"), bad.getMessage)
  }

  test("readChangeFeed streams op-tagged events across COW rewrites: " +
      "signed aggregation reconstructs every snapshot exactly") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("glsrc-cdf")
    val dir = s"$root/lake"
    def drain(): Unit = {
      val q = spark.readStream.format("graftlake")
        .option(GraftLakeDataSource.ReadChangeFeed, "true").load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/cp")
        .format("parquet").option("path", s"$root/sink")
        .start()
      q.awaitTermination()
    }
    VersionedLake.commitWithStats(spark.range(0, 100).toDF("id"), dir,
      Seq("id"))
    VersionedLake.commitWithStats(spark.range(1000, 1100).toDF("id"), dir,
      Seq("id"))
    drain()
    val sink0 = spark.read.parquet(s"$root/sink")
    assert(sink0.columns.contains("_change_type"))
    assert(sink0.filter(col("_change_type") =!= "insert").count() == 0,
      "append-only history is all inserts")
    assert(sink0.count() == 200)
    // a stats-pruned DELETE rewrites only the low band; the feed must
    // deliver that band's pre-image as delete and its survivors as
    // insert — the untouched high band contributes nothing
    VersionedLake.deleteRange(spark, dir, "id", 10, 19)
    // a layout-only compaction mid-feed contributes nothing either
    assert(VersionedLake.compactSmall(spark, dir, Long.MaxValue).isDefined)
    VersionedLake.commit(spark.range(5000, 5010).toDF("id"), dir)
    drain()
    val events = spark.read.parquet(s"$root/sink")
      .groupBy(col("id"), col("_change_type")).count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // the delete batch: 100 pre-image deletes, 90 survivor re-inserts
    // (the cancelling pair shape), plus the later append's 10 inserts
    val signed = events.groupBy(_._1).view.mapValues(_.map {
      case (_, "insert", n) => n
      case (_, "delete", n) => -n
      case other => fail(s"unexpected op $other")
    }.sum).toMap
    val latest = VersionedLake.readLatest(spark, dir)
      .select("id").as[Long].collect().toSet
    // signed-consistency: net multiplicity per id == membership in the
    // latest snapshot (1 present, 0 deleted), for every id ever seen
    signed.foreach { case (id, net) =>
      assert(net == (if (latest(id)) 1L else 0L),
        s"id $id net=$net latest=${latest(id)}")
    }
    assert(signed.keySet ==
      ((0L until 100L) ++ (1000L until 1100L) ++
        (5000L until 5010L)).toSet)
    // high band rows were never re-delivered (no cancel pairs for the
    // untouched dir): each appears exactly once, as one insert
    assert((1000L until 1100L).forall(id =>
      events.count(_._1 == id) == 1))
  }

  test("a filtered lake stream prunes each micro-batch's files through " +
      "the stats sidecars — file-level skipping, not just row filters") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.execution.datasources.FilePartition
    val root = tempDir("glsrc-stream-prune")
    val dir = s"$root/lake"
    VersionedLake.commitWithStats(
      spark.range(0, 100).toDF("id").coalesce(1), dir, Seq("id"))
    VersionedLake.commitWithStats(
      spark.range(1000, 1100).toDF("id").coalesce(1), dir, Seq("id"))
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", dir))
    val provider = new GraftLakeDataSource()
    val table = provider.getTable(provider.inferSchema(opts),
      Array.empty, opts)
    val sb = table.asInstanceOf[GraftLakeTable].newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    sb.pushFilters(Seq(GreaterThanOrEqual(
      AttributeReference("id", org.apache.spark.sql.types.LongType)(),
      Literal(1000L))))
    val stream = sb.build().asInstanceOf[GraftLakeParquetScan]
      .toMicroBatchStream(s"$root/cp")
    def files(from: Int, to: Int): Int =
      stream.planInputPartitions(GraftLakeOffset(from), GraftLakeOffset(to))
        .collect { case fp: FilePartition => fp.files.length }.sum
    // one batch over both versions: only the matching band's file reads
    assert(files(0, 2) == 1,
      "stream batch must skip the non-matching band's file via stats")
    // per-version batches: the low band's batch plans ZERO files
    assert(files(0, 1) == 0)
    assert(files(1, 2) == 1)
  }

  test("skipChangeCommits streams across data-changing rewrites: the " +
      "rewrite commit is dropped whole, appends before and after " +
      "deliver exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("glsrc-skipchg")
    val dir = s"$root/lake"
    def drain(): Unit = {
      val q = spark.readStream.format("graftlake")
        .option(GraftLakeDataSource.SkipChangeCommits, "true").load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/cp")
        .format("parquet").option("path", s"$root/sink")
        .start()
      q.awaitTermination()
    }
    def ids(): Seq[Long] = spark.read.parquet(s"$root/sink")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    VersionedLake.commitWithStats(spark.range(0, 10).toDF("id"), dir,
      Seq("id"))
    drain()
    assert(ids() == (0L until 10L))
    // a pending append, then a DELETE rewrites the first dir (data
    // change) — the rewrite commit must be dropped whole: neither the
    // pending-superseding replacement nor a re-delivery of v1's rows
    VersionedLake.commitWithStats(spark.range(100L, 110L).toDF("id"), dir,
      Seq("id"))
    VersionedLake.deleteRange(spark, dir, "id", 0, 4)
    VersionedLake.commit(spark.range(200L, 205L).toDF("id"), dir)
    drain()
    // v2's append delivered... unless the delete rewrote v2's dir too.
    // deleteRange prunes by stats: [0,4] intersects only v1's dir, so
    // v2's dir survives by reference and its rows DELIVER; v4 appends
    // deliver; the deleted band is NOT retracted (the consumer opted
    // into missing deletes).
    assert(ids() == (0L until 10L) ++ (100L until 110L) ++
      (200L until 205L),
      s"got ${ids()}")
    // without the option the same history still refuses
    val q = spark.readStream.format("graftlake").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp2")
      .format("parquet").option("path", s"$root/sink2")
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination())
    assert(e.getMessage.contains("skipChangeCommits") ||
      Option(e.getCause).exists(_.getMessage.contains("skipChangeCommits")))
    // a PENDING append rewritten by a later delete still delivers from
    // its ORIGINAL dir (Delta's semantics: the append commit's own
    // files; the consumer opted into missing the delete, not into
    // losing the append)
    VersionedLake.commit(spark.range(50L, 54L).toDF("id"), dir,
      mode = "overwrite") // change commit, skipped whole
    VersionedLake.commitWithStats(spark.range(300L, 310L).toDF("id"), dir,
      Seq("id")) // pending — NOT yet drained
    VersionedLake.deleteRange(spark, dir, "id", 300, 304)
    drain()
    assert(ids() == (0L until 10L) ++ (100L until 110L) ++
      (200L until 205L) ++ (300L until 310L),
      s"pending append must survive the rewrite: got ${ids()}")
  }

  test("count/min/max through the V2 path answer from the stats " +
      "sidecars: a local row, no data file read, exact values") {
    val dir = tempDir("glsrc-agg") + "/lake"
    VersionedLake.commitWithStats(spark.range(0, 500).toDF("id"), dir,
      Seq("id"))
    VersionedLake.commitWithStats(spark.range(500, 800).toDF("id"), dir,
      Seq("id"))
    val df = v2(dir).agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx"))
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("LocalTableScan") &&
      GraftLakeDataSource.filesRead(df) == 0,
      s"aggregate not answered from the sidecars:\n$plan")
    val read = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          read.addAndGet(m.inputMetrics.recordsRead))
    }
    spark.sparkContext.addSparkListener(l)
    val r = try {
      val r = df.head()
      org.apache.spark.graft.ListenerBusFlush.waitUntilEmpty(
        spark.sparkContext, 120000)
      r
    } finally spark.sparkContext.removeSparkListener(l)
    assert(read.get == 0, s"read ${read.get} rows")
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((800L, 0L, 799L)))
  }

  test("compactZOrder: a range probe on EITHER dimension alone prunes " +
      "files through the V2 path — the rectangle property a 1-D sort " +
      "cannot give") {
    import spark.implicits._
    val dir = tempDir("glsrc-zorder") + "/lake"
    // full 256×256 grid, one row per (a, b) cell
    val grid = spark.range(0, 65536).select(
      (col("id") % 256).as("a"), (col("id") / 256).cast("long").as("b"))
    VersionedLake.commit(grid.repartition(16), dir)
    VersionedLake.compactZOrder(spark, dir, "a", "b", nFiles = 16,
      bits = 8)
    val total = VersionedLake.readLatest(spark, dir).inputFiles.length
    assert(total >= 8, s"fixture produced only $total files")
    val aProbe = v2(dir).filter(col("a") >= 0 && col("a") <= 15)
    val bProbe = v2(dir).filter(col("b") >= 0 && col("b") <= 15)
    val (aRead, bRead) = (GraftLakeDataSource.filesRead(aProbe),
      GraftLakeDataSource.filesRead(bProbe))
    assert(aRead < total, s"a-dim probe read $aRead/$total files")
    assert(bRead < total, s"b-dim probe read $bRead/$total files")
    // layout commits never change data
    assert(aProbe.count() == 16L * 256 && bProbe.count() == 16L * 256)
    assert(VersionedLake.readLatest(spark, dir).count() == 65536L)
  }

  test("INSERT INTO / INSERT OVERWRITE through the catalog are real " +
      "versioned commits: atomic version bump, time travel sees the " +
      "pre-insert snapshot, library and SQL reads agree") {
    import spark.implicits._
    val base = tempDir("glsrc-dml")
    val dir = s"$base/t"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    spark.conf.set("spark.sql.catalog.glake_dml",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.glake_dml.root", base)
    spark.sql("INSERT INTO glake_dml.t SELECT id FROM range(10, 25)")
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2))
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 25L))
    assert(spark.sql("SELECT count(*) AS n FROM glake_dml.t")
      .head().getLong(0) == 25L)
    // the pre-insert snapshot is untouched
    assert(spark.sql("SELECT count(*) AS n FROM glake_dml.t VERSION AS OF 1")
      .head().getLong(0) == 10L)
    // DML commits are auto-indexed from the parquet footers: a range
    // probe that excludes the inserted ids skips the inserted files
    // (the un-indexed base commit is always read — conservative)
    val all = GraftLakeDataSource.filesRead(v2(dir))
    val pruned = GraftLakeDataSource.filesRead(
      v2(dir).filter(col("id") >= 1000))
    assert(pruned < all,
      s"footer-lifted stats did not prune inserted files: $pruned/$all")
    // self-referential insert: the scan plans the OLD snapshot, the
    // write lands a new version — no read-your-own-writes anomaly
    spark.sql("INSERT INTO glake_dml.t SELECT id + 100 FROM glake_dml.t " +
      "WHERE id < 5")
    assert(ids(VersionedLake.readLatest(spark, dir)) ==
      ((0L until 25L) ++ (100L until 105L)))
    // INSERT OVERWRITE = manifest-level truncate; history stays readable
    spark.sql("INSERT OVERWRITE glake_dml.t SELECT id FROM range(500, 503)")
    assert(ids(VersionedLake.readLatest(spark, dir)) == (500L until 503L))
    assert(spark.sql("SELECT count(*) AS n FROM glake_dml.t VERSION AS OF 2")
      .head().getLong(0) == 25L)
  }

  test("df.write.format(graftlake) appends/overwrites through the " +
      "manifest protocol; a failed write leaves no trace (no version, " +
      "no orphan staging dir)") {
    import spark.implicits._
    val dir = tempDir("glsrc-wpath") + "/lake"
    VersionedLake.commit(spark.range(0, 5).toDF("id"), dir)
    spark.range(5, 9).toDF("id").write.format("graftlake")
      .mode("append").save(dir)
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 9L))
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2))
    spark.range(50, 52).toDF("id").write.format("graftlake")
      .mode("overwrite").save(dir)
    assert(ids(VersionedLake.readLatest(spark, dir)) == (50L until 52L))
    // atomicity: a write whose tasks fail publishes nothing and cleans
    // its staging dir — readers never observe a partial commit
    val before = VersionedLake.versions(spark, dir)
    val dirsBefore = listDataDirs(dir)
    intercept[Exception] {
      spark.range(0, 10).toDF("id")
        .select((lit(100) / (col("id") - col("id"))).cast("long").as("id"))
        .filter(expr("raise_error('task boom') IS NULL OR id > 0"))
        .write.format("graftlake").mode("append").save(dir)
    }
    assert(VersionedLake.versions(spark, dir) == before,
      "failed write published a version")
    assert(listDataDirs(dir) == dirsBefore,
      "failed write left an orphan staging dir")
    assert(ids(VersionedLake.readLatest(spark, dir)) == (50L until 52L))
  }

  test("DELETE FROM translates to the stats-pruned range delete: one " +
      "versioned commit, strict bounds exact, NULLs survive, no-match " +
      "publishes nothing, no-WHERE truncates, untranslatable refused") {
    import spark.implicits._
    val base = tempDir("glsrc-del")
    val dir = s"$base/t"
    // stats-indexed base so the no-match delete can prove itself a no-op
    VersionedLake.commitWithStats(
      Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (3L, "c"),
        (4L, "d"), (null, "n")).toDF("id", "tag"),
      dir, Seq("id"))
    spark.conf.set("spark.sql.catalog.glake_del",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.glake_del.root", base)
    // strict bounds: > 1 AND < 4 deletes exactly {2, 3}; NULL survives
    spark.sql("DELETE FROM glake_del.t WHERE id > 1 AND id < 4")
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2))
    assert(spark.sql("SELECT tag FROM glake_del.t ORDER BY tag")
      .collect().map(_.getString(0)).toSeq == Seq("a", "d", "n"))
    // time travel still sees the pre-delete rows
    assert(spark.sql(
      "SELECT count(*) AS n FROM glake_del.t VERSION AS OF 1")
      .head().getLong(0) == 5L)
    // a delete that matches nothing publishes nothing
    spark.sql("DELETE FROM glake_del.t WHERE id >= 1000")
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2),
      "no-match DELETE published a version")
    // a string condition and an OR of points take the same metadata
    // commit, rewriting survivors exactly (one version each)
    spark.sql("DELETE FROM glake_del.t WHERE tag = 'a'")
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2, 3))
    assert(spark.sql("SELECT tag FROM glake_del.t ORDER BY tag")
      .collect().map(_.getString(0)).toSeq == Seq("d", "n"))
    spark.sql("DELETE FROM glake_del.t WHERE id = 1 OR id = 4")
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2, 3, 4))
    assert(spark.sql("SELECT tag FROM glake_del.t ORDER BY tag")
      .collect().map(_.getString(0)).toSeq == Seq("n"),
      "OR-of-points delete must remove 4 and keep the NULL row")
    // DELETE with no WHERE = manifest-level truncate; history readable
    spark.sql("DELETE FROM glake_del.t")
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2, 3, 4, 5))
    assert(spark.sql("SELECT count(*) AS n FROM glake_del.t")
      .head().getLong(0) == 0L)
    assert(spark.table("glake_del.t").schema.fieldNames.toSeq ==
      Seq("id", "tag"), "truncate lost the schema")
    assert(spark.sql(
      "SELECT count(*) AS n FROM glake_del.t VERSION AS OF 2")
      .head().getLong(0) == 3L)
  }

  test("MERGE INTO runs as group-based copy-on-write: matched rows " +
      "update/delete, unmatched insert, ONE versioned replace-commit; " +
      "the runtime group filter keeps untouched dirs out of the " +
      "rewrite (witnessed by what vacuum keeps alive)") {
    import spark.implicits._
    val base = tempDir("glsrc-merge")
    val dir = s"$base/t"
    // two well-separated indexed commits so the group filter can prove
    // the second dir holds no matching keys
    VersionedLake.commitIndexed(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v").coalesce(1),
      dir, Seq("id"), Some("id"))
    VersionedLake.commitIndexed(
      Seq((100L, 1.0), (101L, 2.0)).toDF("id", "v").coalesce(1),
      dir, Seq("id"), Some("id"))
    spark.conf.set("spark.sql.catalog.glake_m",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.glake_m.root", base)
    Seq((2L, 200.0), (3L, -1.0), (4L, 40.0)).toDF("id", "v")
      .createOrReplaceTempView("src_m")
    spark.sql(
      """MERGE INTO glake_m.t AS t USING src_m AS s ON t.id = s.id
        |WHEN MATCHED AND s.v < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        |""".stripMargin)
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2, 3),
      "MERGE must publish exactly one version")
    def state(): Set[(Long, Double)] = VersionedLake
      .readLatest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(state() == Set((1L, 10.0), (2L, 200.0), (4L, 40.0),
      (100L, 1.0), (101L, 2.0)))
    // pre-merge snapshot intact
    assert(spark.sql("SELECT count(*) AS n FROM glake_m.t VERSION AS OF 2")
      .head().getLong(0) == 5L)
    // group-filter witness: the merge keys {2,3,4} can only live in
    // dir 1's range, so dir 2 must have been carried by manifest
    // reference, not rewritten — after vacuum(retain=1) the tip keeps
    // BOTH dir 2 and the rewrite output (3 dirs incl. insert target
    // would mean no pruning... exactly 2 = dir 2 + one rewrite dir)
    VersionedLake.vacuum(spark, dir, retain = 1, graceMs = 0)
    val live = listDataDirs(dir)
    assert(live.size == 2,
      s"expected untouched dir + rewrite dir after vacuum, got $live")
    assert(state() == Set((1L, 10.0), (2L, 200.0), (4L, 40.0),
      (100L, 1.0), (101L, 2.0)), "vacuum after COW merge broke the tip")
  }

  test("UPDATE runs as copy-on-write and a concurrent rewrite of a " +
      "scanned dir makes the publish fail loudly instead of " +
      "resurrecting rows") {
    import spark.implicits._
    val base = tempDir("glsrc-upd")
    val dir = s"$base/t"
    VersionedLake.commitWithStats(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
        .toDF("id", "tag", "v"), dir, Seq("id"))
    spark.conf.set("spark.sql.catalog.glake_u",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.glake_u.root", base)
    spark.sql("UPDATE glake_u.t SET v = v * 10 WHERE tag = 'a'")
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2))
    assert(VersionedLake.readLatest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSet ==
      Set((1L, 10.0), (2L, 2.0), (3L, 30.0)))
    // conflict 1: compact (rewrites every dir) between an UPDATE's
    // scan and its publish — simulated by compacting, then replaying
    // the publish against dirs that no longer exist in the tip
    val tipBefore = listDataDirs(dir)
    VersionedLake.compactVersions(spark, dir, statsCols = Seq("id"))
    val e = intercept[java.util.ConcurrentModificationException] {
      VersionedLake.publish(spark, dir, VersionedLake.Commit(
        Seq("d-stale-cow"), tipBefore, check = VersionedLake
          .refuseConflicts(tipBefore, Some(tipBefore))))
    }
    assert(e.getMessage.contains("copy-on-write conflict"))
    // conflict 2: a concurrent APPEND after the operation's snapshot —
    // the appended dir may hold rows matching the operation's
    // condition (a key a MERGE inserted would be duplicated), so the
    // publish must refuse, serializable-style, not absorb it
    val dir2 = tempDir("glsrc-upd2") + "/t"
    VersionedLake.commit(Seq((1L, "a", 1.0)).toDF("id", "tag", "v"), dir2)
    val snap = listDataDirs(dir2) // single commit: disk set == tip set
    VersionedLake.commit(Seq((99L, "z", 9.0)).toDF("id", "tag", "v"), dir2)
    val e2 = intercept[java.util.ConcurrentModificationException] {
      VersionedLake.publish(spark, dir2, VersionedLake.Commit(
        Seq("d-stale-cow2"), snap, check = VersionedLake
          .refuseConflicts(snap, Some(snap))))
    }
    assert(e2.getMessage.contains("appended by a concurrent commit"))
  }

  test("COW group filtering picks the most selective indexed attribute " +
      "by sidecar ranges — not the first declared column") {
    val root = tempDir("glsrc-cowsel")
    val dir = s"$root/lake"
    val cat = "glcs"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // column `a` (declared FIRST) is unclustered: every dir spans its
    // whole 0..6 domain; column `b` (second) is clustered: disjoint
    // 100-wide bands per dir. A first-declared chooser would filter
    // groups on `a`, admit every dir, and rewrite the whole lake.
    def band(i: Int) = spark.range(i * 100L, (i + 1) * 100L).toDF("id")
      .selectExpr("CAST(id % 7 AS BIGINT) AS a", "id AS b",
        "CAST(1.0 AS DOUBLE) AS v")
    (0 to 2).foreach(i =>
      VersionedLake.commitIndexed(band(i), dir, Seq("a", "b"), None))
    val before = VersionedLake.manifestEntries(spark, dir, 3)
    spark.range(0L, 10L).toDF("b")
      .createOrReplaceTempView("glcs_src")
    spark.sql(s"""MERGE INTO $cat.lake AS t USING glcs_src AS s
                 |ON t.b = s.b
                 |WHEN MATCHED THEN UPDATE SET v = 2.0""".stripMargin)
    val after = VersionedLake.manifestEntries(spark, dir, 4)
    assert(before.count(after.contains) == 2,
      s"the two untouched band dirs must carry by reference; " +
        s"before=$before after=$after")
    // correctness of the rewrite itself
    val rows = VersionedLake.readLatest(spark, dir)
    assert(rows.count() == 300)
    assert(rows.filter(col("v") === 2.0).count() == 10)
  }

  test("COW group filtering intersects MULTIPLE indexed attributes: a " +
      "two-key MERGE prunes on both dimensions, rewriting strictly " +
      "fewer dirs than either key alone admits") {
    val root = tempDir("glsrc-cow2d")
    val dir = s"$root/lake"
    val cat = "glc2"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // four dirs tiling a 2x2 grid of disjoint (a, b) bands: a MERGE
    // keyed on (a=5, b=150) matches only the (lowA, highB) tile —
    // pruning on `a` alone admits TWO dirs, on `b` alone two dirs,
    // and only their intersection isolates the one
    def tile(aLo: Long, bLo: Long) =
      spark.range(0L, 100L).toDF("id")
        .selectExpr(s"id + $aLo AS a", s"id + $bLo AS b",
          "CAST(1.0 AS DOUBLE) AS v")
    Seq((0L, 0L), (0L, 100L), (100L, 0L), (100L, 100L)).foreach {
      case (aLo, bLo) =>
        VersionedLake.commitIndexed(tile(aLo, bLo), dir,
          Seq("a", "b"), None)
    }
    val before = VersionedLake.manifestEntries(spark, dir, 4)
    spark.sql("SELECT 5L AS a, 105L AS b")
      .createOrReplaceTempView("glc2_src")
    spark.sql(s"""MERGE INTO $cat.lake AS t USING glc2_src AS s
                 |ON t.a = s.a AND t.b = s.b
                 |WHEN MATCHED THEN UPDATE SET v = 2.0""".stripMargin)
    val after = VersionedLake.manifestEntries(spark, dir, 5)
    assert(before.count(after.contains) == 3,
      s"three of four tiles must carry by reference (two-dimension " +
        s"pruning); before=$before after=$after")
    val rows = VersionedLake.readLatest(spark, dir)
    assert(rows.count() == 400)
    assert(rows.filter(col("v") === 2.0).count() == 1)
    assert(rows.filter(col("a") === 5L && col("b") === 105L)
      .head().getAs[Double]("v") == 2.0)
  }

  test("TIMESTAMP AS OF resolves to the newest version published at " +
      "or before the instant; a pre-creation timestamp is an error") {
    import spark.implicits._
    val base = tempDir("glsrc-tsaof")
    val dir = s"$base/t"
    VersionedLake.commit(spark.range(0, 3).toDF("id"), dir)
    Thread.sleep(30)
    val tMid = System.currentTimeMillis()
    Thread.sleep(30)
    VersionedLake.commit(spark.range(3, 10).toDF("id"), dir)
    spark.conf.set("spark.sql.catalog.glake_ts",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.glake_ts.root", base)
    assert(spark.sql("SELECT count(*) AS n FROM glake_ts.t " +
      s"TIMESTAMP AS OF timestamp_millis(${tMid}L)")
      .head().getLong(0) == 3L)
    // an instant after the last publish sees the tip
    assert(spark.sql("SELECT count(*) AS n FROM glake_ts.t " +
      s"TIMESTAMP AS OF timestamp_millis(${System.currentTimeMillis()}L)")
      .head().getLong(0) == 10L)
    intercept[Exception](spark.sql("SELECT * FROM glake_ts.t " +
      "TIMESTAMP AS OF timestamp_millis(1000L)").collect())
    // the same instant resolves identically through the READ OPTION
    // (path-based time travel, Delta's option name)
    assert(spark.read.format("graftlake")
      .option(GraftLakeDataSource.TimestampAsOf, tMid.toString)
      .load(dir).count() == 3L)
    assert(spark.read.format("graftlake")
      .option(GraftLakeDataSource.TimestampAsOf,
        System.currentTimeMillis().toString)
      .load(dir).count() == 10L)
    intercept[Exception](spark.read.format("graftlake")
      .option(GraftLakeDataSource.TimestampAsOf, "1000")
      .load(dir).count())
    intercept[Exception](spark.read.format("graftlake")
      .option(GraftLakeDataSource.TimestampAsOf, tMid.toString)
      .option(GraftLakeDataSource.VersionAsOf, "1")
      .load(dir).count())
    // a 10-digit bare integer (epoch SECONDS) is refused as ambiguous
    // — it would silently resolve as 1970 in millis
    val amb = intercept[Exception](spark.read.format("graftlake")
      .option(GraftLakeDataSource.TimestampAsOf,
        (tMid / 1000L).toString).load(dir).count())
    assert(amb.getMessage.contains("ambiguous"), amb.getMessage)
    // ISO-8601 'T'-separated strings are accepted (Delta's shape;
    // Timestamp.valueOf used to reject them) and resolve identically
    val isoMid = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(tMid),
      java.time.ZoneId.systemDefault())
      .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    assert(spark.read.format("graftlake")
      .option(GraftLakeDataSource.TimestampAsOf, isoMid)
      .load(dir).count() == 3L, s"ISO-8601 '$isoMid' must resolve")
  }

  test("CALL procedures drive the lake lifecycle from SQL: history, " +
      "compact (indexed), zorder, vacuum — all versioned commits") {
    import spark.implicits._
    val base = tempDir("glsrc-proc")
    val dir = s"$base/t"
    VersionedLake.commit(spark.range(0, 6).toDF("id"), dir)
    VersionedLake.commit(spark.range(6, 10).toDF("id"), dir)
    spark.conf.set("spark.sql.catalog.glake_proc",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.glake_proc.root", base)
    val hist = spark.sql("CALL glake_proc.history('t')").collect()
    assert(hist.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(hist.map(_.getBoolean(3)).toSeq == Seq(false, true))
    assert(hist.map(_.getBoolean(4)).toSeq == Seq(false, false),
      "plain appends are not layout-only")
    // set_index: declare the bloom policy from SQL; the next INSERT's
    // dir carries a bloom sidecar (write-path parity, q200 shape)
    assert(spark.sql("CALL glake_proc.set_index('t', 'id')")
      .head().getString(0) == "id")
    assert(VersionedLake.bloomIndexCols(spark, dir).headOption.contains("id"))
    // compact with a stats index: one live dir, data intact, new version
    val cv = spark.sql("CALL glake_proc.compact('t', 'snappy', 'id')")
      .head().getInt(0)
    assert(cv == 3)
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 10L))
    // the compacted sidecar serves pushed range pruning through SQL
    assert(GraftLakeDataSource.filesRead(
      v2(dir).filter(col("id") >= 1000)) == 0)
    // zorder re-clusters into n_files rectangles as version 4
    assert(spark.sql(
      "CALL glake_proc.zorder('t', 'id', 'id', 2)").head().getInt(0) == 4)
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 10L))
    // vacuum(retain=1, grace 0): history gone, tip intact
    val vac = spark.sql(
      "CALL glake_proc.vacuum('t', 1, 0L)").head()
    assert(vac.getInt(0) == 1 && vac.getInt(1) == 4)
    assert(VersionedLake.versions(spark, dir) == Seq(4))
    assert(ids(VersionedLake.readLatest(spark, dir)) == (0L until 10L))
    intercept[Exception](spark.sql(
      "SELECT * FROM glake_proc.t VERSION AS OF 1").collect())
  }

  test("CALL optimize coalesces only the small-dir tail: the large " +
      "dir is carried by manifest reference, data is intact, and a " +
      "repeat call converges to a no-op without publishing") {
    import spark.implicits._
    val base = tempDir("glsrc-opt")
    val dir = s"$base/t"
    VersionedLake.commit(spark.range(0, 10).toDF("id").coalesce(1), dir)
    VersionedLake.commit(spark.range(10, 20).toDF("id").coalesce(1), dir)
    VersionedLake.commit(
      spark.range(20, 100000).toDF("id").coalesce(1), dir)
    spark.conf.set("spark.sql.catalog.glake_opt",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.glake_opt.root", base)
    val r = spark.sql("CALL glake_opt.optimize('t', 100000)").head()
    assert(!r.isNullAt(0) && r.getInt(0) == 4, s"optimize summary: $r")
    assert(r.getInt(1) == 2, "tip must hold merged-small + big dirs")
    assert(VersionedLake.readLatest(spark, dir).count() == 100000L)
    assert(spark.sql("SELECT sum(id) AS s FROM glake_opt.t")
      .head().getLong(0) == (0L until 100000L).sum)
    // the merged dir is now the only one under the threshold: no-op,
    // no version churn
    val r2 = spark.sql("CALL glake_opt.optimize('t', 100000)").head()
    assert(r2.isNullAt(0), s"repeat optimize must be a no-op: $r2")
    assert(VersionedLake.versions(spark, dir) == Seq(1, 2, 3, 4))
  }

  test("join-driven runtime file pruning: a filtered broadcast dim's " +
      "keys prune lake files through the sidecars at execution (the " +
      "V2 dynamic-pruning hook), with results identical to unpruned") {
    import spark.implicits._
    val dir = tempDir("glsrc-dpp") + "/lake"
    // four disjoint-range commits, stats+bloom indexed on id
    Seq((0L, 100L), (100L, 200L), (200L, 300L), (300L, 400L)).foreach {
      case (lo, hi) => VersionedLake.commitIndexed(
        spark.range(lo, hi).toDF("id").coalesce(2), dir,
        Seq("id"), Some("id"))
    }
    // the dim must be FILE-backed: ConvertToLocalRelation folds a
    // filter over a local relation away before the PartitionPruning
    // rule looks for a selective predicate, and no runtime filter is
    // ever injected (caught when the plan walk learned to see through
    // AQE query stages — the old gate measured an empty plan)
    Seq((250L, "x"), (260L, "y"), (9999L, "z")).toDF("k", "tag")
      .write.parquet(dir + "_dim")
    val dim = spark.read.parquet(dir + "_dim")
    val joined = v2(dir).join(
      org.apache.spark.sql.functions.broadcast(
        dim.filter($"tag".isin("x", "y"))), $"id" === $"k")
    val rows = joined.collect()
    assert(rows.length == 2)
    // static pushdown cannot see the dim's keys — only the runtime
    // filter can have dropped files; both keys live in one commit's
    // range, so at most that commit's files survive
    val read = GraftLakeDataSource.filesRead(joined)
    val total = GraftLakeDataSource.filesRead(v2(dir))
    assert(read < total,
      s"runtime (join-driven) pruning dropped nothing: $read/$total")
    assert(read <= 2, s"expected at most one commit's files, read $read")
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def listDataDirs(dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.listStatus(p).map(_.getPath.getName).filter(_.startsWith("d-")).toSet
  }

  test("startingVersion bounds the initial backfill") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("glsrc-stream-sv")
    val dir = s"$root/lake"
    VersionedLake.commit(spark.range(0, 10).toDF("id"), dir)
    VersionedLake.commit(spark.range(10, 20).toDF("id"), dir)
    val q = spark.readStream.format("graftlake")
      .option(GraftLakeDataSource.StartingVersion, 2).load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp")
      .format("parquet").option("path", s"$root/sink")
      .start()
    q.awaitTermination()
    // version 2 ADDED only the second commit's dir: ids 10..19
    assert(spark.read.parquet(s"$root/sink").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == (10L until 20L))

    // startingTimestamp resolves to the first version published at or
    // after the instant (manifest mtime clock — same as TIMESTAMP AS OF)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v2Mtime = f.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$dir/_manifests/v00002"))
      .getModificationTime
    val q2 = spark.readStream.format("graftlake")
      .option(GraftLakeDataSource.StartingTimestamp, v2Mtime.toString)
      .load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp_ts")
      .format("parquet").option("path", s"$root/sink_ts")
      .start()
    q2.awaitTermination()
    assert(spark.read.parquet(s"$root/sink_ts").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == (10L until 20L))
    // a timestamp past the tip delivers nothing yet (future-only)
    val q3 = spark.readStream.format("graftlake")
      .option(GraftLakeDataSource.StartingTimestamp,
        (System.currentTimeMillis() + 3600000L).toString)
      .load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/cp_fut")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(df.count() == 0, "future start must deliver nothing"); ()
      }
      .start()
    q3.awaitTermination()
    // both options together are refused
    val e = intercept[Exception] {
      spark.readStream.format("graftlake")
        .option(GraftLakeDataSource.StartingVersion, 1)
        .option(GraftLakeDataSource.StartingTimestamp, "0")
        .load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/cp_both")
        .format("noop").start().awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("mutually exclusive")), e.toString)
  }

  /** Drain with foreachBatch, returning (batchId, rowCount) per
    * non-empty micro-batch — ONE aggregated row collected per batch. */
  private def drainCounts(dir: String, cp: String,
      opts: Map[String, String]): Seq[(Long, Long)] = {
    import org.apache.spark.sql.streaming.Trigger
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val r = spark.readStream.format("graftlake")
    val q = opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }
      .load(dir).writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val n = df.count()
        if (n > 0) { acc.add((id, n)); () }
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq.sortBy(_._1)
  }

  test("maxVersionsPerTrigger drains a backlog as bounded batches; " +
      "maxFilesPerTrigger admits whole versions up to the file cap " +
      "with progress guaranteed past an oversized commit") {
    import spark.implicits._
    val root = tempDir("glsrc-ratelimit")
    val dir = s"$root/lake"
    // five commits × 10 rows, each dir exactly 2 parquet files
    (0 until 5).foreach(i => VersionedLake.commit(
      spark.range(i * 10, i * 10 + 10).toDF("id").repartition(2), dir))

    // versions cap: 5 pending versions / cap 2 -> batches of 20,20,10
    assert(drainCounts(dir, s"$root/cp-v",
        Map(GraftLakeDataSource.MaxVersionsPerTrigger -> "2"))
        .map(_._2) == Seq(20L, 20L, 10L),
      "cap 2: expected the 5-version backlog as 2+2+1 versions")

    // file cap 3 with 2 files/version: v(n) alone fits, v(n+1) would
    // make 4 > 3 -> one version per batch
    assert(drainCounts(dir, s"$root/cp-f",
        Map(GraftLakeDataSource.MaxFilesPerTrigger -> "3"))
        .map(_._2) == Seq.fill(5)(10L),
      "file cap 3: expected one 2-file version per batch")

    // file cap 4 admits exactly two 2-file versions per batch
    assert(drainCounts(dir, s"$root/cp-f4",
        Map(GraftLakeDataSource.MaxFilesPerTrigger -> "4"))
        .map(_._2) == Seq(20L, 20L, 10L))

    // progress guarantee: a single commit WIDER than the file cap is
    // still admitted whole (never split, never stuck)
    val dir2 = s"$root/lake2"
    VersionedLake.commit(
      spark.range(0, 40).toDF("id").repartition(4), dir2)
    VersionedLake.commit(
      spark.range(40, 50).toDF("id").repartition(1), dir2)
    assert(drainCounts(dir2, s"$root/cp-wide",
        Map(GraftLakeDataSource.MaxFilesPerTrigger -> "1"))
        .map(_._2) == Seq(40L, 10L),
      "an oversized commit must pass whole as its own batch")

    // rate-limited drains deliver exactly the full snapshot, once:
    // resuming on the same checkpoint mints nothing new
    assert(drainCounts(dir, s"$root/cp-v",
        Map(GraftLakeDataSource.MaxVersionsPerTrigger -> "2")).isEmpty,
      "re-drain on the same checkpoint must deliver nothing")

    // and versions published later arrive rate-limited too
    (5 until 8).foreach(i => VersionedLake.commit(
      spark.range(i * 10, i * 10 + 10).toDF("id").repartition(2), dir))
    assert(drainCounts(dir, s"$root/cp-v",
        Map(GraftLakeDataSource.MaxVersionsPerTrigger -> "1"))
        .map(_._2) == Seq(10L, 10L, 10L))
  }

  test("EXTENSION-ONLY sessions get the runtime-pruning rules at " +
      "table resolution: a two-key MERGE on a fresh newSession() — " +
      "never built by graft.Sessions — still prunes both dimensions") {
    val root = tempDir("glsrc-extpar")
    val dir = s"$root/lake"
    // a session the way a user would build it: extensions conf only,
    // no call into graft.Sessions — its experimental hook starts EMPTY
    // (newSession() mints a fresh SessionState, no parent clone)
    val s2 = spark.newSession()
    assert(s2.experimental.extraOptimizations.isEmpty,
      "precondition: a fresh session carries no experimental rules")
    val cat = "glextp"
    s2.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLakeCatalog].getName)
    s2.conf.set(s"spark.sql.catalog.$cat.root", root)
    // same 2x2 disjoint (a, b) tiling as the multi-attribute COW spec:
    // only the per-attribute split rule lets the struct-IN translate,
    // so without the rules a (a, b)-keyed MERGE rewrites extra tiles
    def tile(aLo: Long, bLo: Long) =
      spark.range(0L, 100L).toDF("id")
        .selectExpr(s"id + $aLo AS a", s"id + $bLo AS b",
          "CAST(1.0 AS DOUBLE) AS v")
    Seq((0L, 0L), (0L, 100L), (100L, 0L), (100L, 100L)).foreach {
      case (aLo, bLo) =>
        VersionedLake.commitIndexed(tile(aLo, bLo), dir,
          Seq("a", "b"), None)
    }
    val before = VersionedLake.manifestEntries(spark, dir, 4)
    s2.sql("SELECT 5L AS a, 105L AS b")
      .createOrReplaceTempView("glextp_src")
    s2.sql(s"""MERGE INTO $cat.lake AS t USING glextp_src AS s
              |ON t.a = s.a AND t.b = s.b
              |WHEN MATCHED THEN UPDATE SET v = 2.0""".stripMargin)
    // the resolution installed BOTH rules into s2's experimental hook
    assert(s2.experimental.extraOptimizations.contains(
      org.apache.spark.sql.graft.SplitCowGroupFilter) &&
      s2.experimental.extraOptimizations.contains(
        org.apache.spark.sql.graft.InjectDeltaRuntimeFilter),
      "table resolution must install the runtime-pruning rules")
    // and the MERGE itself already ran WITH them: three of four tiles
    // carried by reference (two-dimension pruning), result exact
    val after = VersionedLake.manifestEntries(spark, dir, 5)
    assert(before.count(after.contains) == 3,
      s"two-key pruning must carry three tiles; before=$before " +
        s"after=$after")
    val rows = VersionedLake.readLatest(spark, dir)
    assert(rows.count() == 400)
    assert(rows.filter(col("a") === 5L && col("b") === 105L)
      .head().getAs[Double]("v") == 2.0)
  }
}
