package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** The no-full-scan policy as a runtime check: partitioned lake scans
  * without a partition predicate are rejected; pruned scans, data-only
  * filters on unguarded paths, and unpartitioned tables pass — on V1
  * file scans and on the DSv2 scans of a partitioned graftlake. */
class ScanGuardSpec extends AnyFunSuite {
  import TestSpark.{spark, tempDir}

  private lazy val root = {
    val r = tempDir("scanguard")
    EegFixture.write(s"$r/in", EegFixture.specA)
    Ingest.ingestBatch(spark, s"$r/in", s"$r/lake", s"$r/registry",
      s"$r/processed")
    r
  }

  test("a partition-filtered lake scan passes; a bare scan is rejected " +
      "with the partition columns named") {
    ScanGuard.requirePruned(
      Lake.read(spark, s"$root/lake").filter("Year = 2019 AND Month = 7"),
      s"$root/lake")
    val e = intercept[IllegalArgumentException](
      ScanGuard.requirePruned(Lake.read(spark, s"$root/lake"), s"$root/lake"))
    assert(e.getMessage.contains("Year/Month/Day"))
    // a data-column filter alone does NOT prune partitions — still rejected
    intercept[IllegalArgumentException](ScanGuard.requirePruned(
      Lake.read(spark, s"$root/lake").filter("Time > 100.0"), s"$root/lake"))
  }

  test("unpartitioned tables and paths outside the guard are untouched; " +
      "the walk sees scans under joins and AQE") {
    val flat = s"$root/flat"
    spark.range(0, 100).toDF("id").write.parquet(flat)
    // unpartitioned: nothing to prune, full scan is legitimate
    ScanGuard.requirePruned(spark.read.parquet(flat), flat)
    // guarded path elsewhere: this df never touches it
    ScanGuard.requirePruned(spark.read.parquet(flat), s"$root/lake")
    // the guarded scan hides under a join on a DATA column — no
    // partition filter can exist, so it is found and rejected
    val dataJoin = Lake.read(spark, s"$root/lake")
      .join(spark.read.parquet(flat),
        col("Time") === col("id").cast("double"), "left_semi")
    intercept[IllegalArgumentException](
      ScanGuard.requirePruned(dataJoin, s"$root/lake"))
    // ...and passes once the partition predicate is added
    ScanGuard.requirePruned(dataJoin.filter("Year = 2019"), s"$root/lake")
    // a join ON the partition column passes WITHOUT a literal filter:
    // dynamic partition pruning plants a runtime partition filter, and
    // runtime pruning satisfies the policy as well as a static one
    ScanGuard.requirePruned(
      Lake.read(spark, s"$root/lake")
        .join(spark.read.parquet(flat), col("Day") === col("id"),
          "left_semi"),
      s"$root/lake")
  }

  test("Lake.probe is the guarded production entry point: a windowed " +
      "probe builds, an unwindowed probe throws at build time") {
    val probed = Lake.probe(spark, s"$root/lake")(
      _.filter("Year = 2019 AND Month = 7").select(col("Time")))
    assert(probed.columns.sameElements(Array("Time")))
    intercept[IllegalArgumentException](
      Lake.probe(spark, s"$root/lake")(_.select(col("Time"))))
  }

  test("requireNarrow enforces the scan-narrow half: accounting reads " +
      "pass, a wide projection of the guarded lake throws") {
    // partitionCounts guards itself (0 data columns) — must build clean
    Lake.partitionCounts(spark, s"$root/lake").columns
    // a 1-data-column accounting scan at the matching bound passes
    ScanGuard.requireNarrow(
      Lake.read(spark, s"$root/lake")
        .groupBy(col("Year")).agg(sum(col("Time"))),
      s"$root/lake", maxDataCols = 1)
    // the same lake probed with a full-width projection is rejected,
    // and the message names the width
    val e = intercept[IllegalArgumentException](ScanGuard.requireNarrow(
      Lake.read(spark, s"$root/lake"), s"$root/lake", maxDataCols = 2))
    assert(e.getMessage.contains("narrow"))
    // unguarded paths stay untouched whatever their width
    ScanGuard.requireNarrow(
      Lake.read(spark, s"$root/lake"), s"$root/other", maxDataCols = 0)
  }

  test("DSv2 file scans are guarded: an unfiltered read of a partitioned " +
      "graftlake table is rejected, a filtered one passes, and " +
      "requireNarrow counts the DSv2 read schema") {
    val groot = tempDir("scanguard-glake")
    spark.conf.set("spark.sql.catalog.sguard",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.sguard.root", groot)
    spark.sql("CREATE TABLE sguard.t (id BIGINT, v DOUBLE, w DOUBLE, " +
      "m INT) PARTITIONED BY (m)")
    spark.sql("INSERT INTO sguard.t SELECT id, id * 1.0, id * 2.0, " +
      "CAST(id % 3 AS INT) FROM range(0, 30)")
    val dir = s"$groot/t"
    val t = spark.table("sguard.t")
    assert(t.queryExecution.executedPlan.toString.contains("BatchScan"),
      "the partitioned read no longer plans a DSv2 scan")
    val e = intercept[IllegalArgumentException](
      ScanGuard.requirePruned(t, dir))
    assert(e.getMessage.contains("filter on m"), e.getMessage)
    ScanGuard.requirePruned(t.filter("m = 1"), dir)
    // the library snapshot read plans the same scan
    intercept[IllegalArgumentException](ScanGuard.requirePruned(
      VersionedLake.readLatest(spark, dir).select(col("v")), dir))
    ScanGuard.requirePruned(
      VersionedLake.readLatest(spark, dir).filter(col("m") === 2), dir)
    // narrow: per-partition accounting reads no data column, a
    // one-column sum reads one, the full width is rejected
    ScanGuard.requireNarrow(t.groupBy(col("m")).count(), dir,
      maxDataCols = 0)
    ScanGuard.requireNarrow(t.groupBy(col("m")).agg(sum(col("v"))), dir,
      maxDataCols = 1)
    val wide = intercept[IllegalArgumentException](
      ScanGuard.requireNarrow(t, dir, maxDataCols = 2))
    assert(wide.getMessage.contains("reads 3 data columns"), wide.getMessage)
  }

  test("a DSv2 runtime filter counts as partition pruning only on a " +
      "partition column: a join on a data column is rejected") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val groot = tempDir("scanguard-glake-dpp")
    spark.conf.set("spark.sql.catalog.sguard_dpp",
      classOf[GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.sguard_dpp.root", groot)
    spark.sql("CREATE TABLE sguard_dpp.t (id BIGINT, v DOUBLE, m INT) " +
      "PARTITIONED BY (m)")
    spark.sql("INSERT INTO sguard_dpp.t SELECT id, id * 1.0, " +
      "CAST(id % 3 AS INT) FROM range(0, 300)")
    val dir = s"$groot/t"
    val dim = spark.range(0, 100).toDF("k").filter("k < 3")
    def runtimeRefs(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect { case b: BatchScanExec => b.runtimeFilters }.flatten
        .flatMap(_.references.map(_.name))
    }
    // dynamic pruning on the data column v plants a runtime filter on
    // v, which prunes no partition
    val onData = spark.table("sguard_dpp.t")
      .join(dim, col("v") === col("k").cast("double"), "left_semi")
    assert(runtimeRefs(onData) == Seq("v"),
      "no runtime filter on the data column: the case is not exercised")
    val e = intercept[IllegalArgumentException](
      ScanGuard.requirePruned(onData, dir))
    assert(e.getMessage.contains("filter on m"), e.getMessage)
    // the same join on the partition column passes
    val onPart = spark.table("sguard_dpp.t")
      .join(dim, col("m") === col("k").cast("int"), "left_semi")
    assert(runtimeRefs(onPart) == Seq("m"))
    ScanGuard.requirePruned(onPart, dir)
  }
}
