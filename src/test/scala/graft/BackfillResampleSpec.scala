package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._

/** Targeted partition overwrite (`replaceWhereIn`), the backfill loop on
  * it, and resample-fill semantics on hand fixtures. */
class BackfillResampleSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("replaceWhereIn rewrites only stats-intersecting dirs, keeps " +
      "null-keyed rows, no-ops on empty values") {
    val root = TestSpark.tempDir("replace-where")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").repartition(1)
      .createOrReplaceTempView("chunk1")
    VersionedLake.commitWithStats(spark.table("chunk1"), root, Seq("k"))
    VersionedLake.commitWithStats(
      Seq((Some(4L), "d"), (Option.empty[Long], "nullkey"))
        .toDF("k", "v").repartition(1), root, Seq("k"))
    VersionedLake.commitWithStats(
      Seq((7L, "g"), (8L, "h")).toDF("k", "v").repartition(1), root, Seq("k"))
    val before = VersionedLake.readLatest(spark, root).inputFiles.toSet
    // empty values → no-op, no version minted
    val tip = VersionedLake.versions(spark, root).last
    assert(VersionedLake.replaceWhereIn(spark, root, "k", Seq.empty,
      Seq.empty[(Long, String)].toDF("k", "v")) == tip)
    // replace k ∈ {4, 8}: dirs 2 and 3 rewrite, dir 1 carries forward
    VersionedLake.replaceWhereIn(spark, root, "k", Seq(4L, 8L),
      Seq((4L, "D"), (8L, "H")).toDF("k", "v"))
    val after = VersionedLake.readLatest(spark, root).inputFiles.toSet
    assert((before intersect after).nonEmpty, "chunk1 must carry by reference")
    val rows = VersionedLake.readLatest(spark, root)
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1))
      .toMap
    assert(rows(Some(4L)) == "D" && rows(Some(8L)) == "H")
    assert(rows(Some(7L)) == "g", "non-matching row in a rewritten dir survives")
    assert(rows(None) == "nullkey", "null keys are outside every value set")
    assert(rows.size == 7, "3 carried + 4,7,8 + null key")
  }

  test("backfill recomputes exactly the changed partitions") {
    val root = TestSpark.tempDir("backfill")
    val inL = s"$root/in"; val outL = s"$root/out"
    def rows(t: (Long, Long, Long)*) = t.toDF("day", "user", "cents")
    VersionedLake.commit(rows((1L, 1L, 10L), (1L, 2L, 20L), (2L, 1L, 30L)),
      inL)
    VersionedLake.commit(rows((2L, 3L, 5L), (3L, 1L, 7L)), inL) // late + new
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("day")).agg(sum(col("cents")).as("total"))
    Seq(1L, 2L).foreach(d => VersionedLake.commitWithStats(
      agg(VersionedLake.readAt(spark, inL, 1)).filter(col("day") === d)
        .repartition(1), outL, Seq("day")))
    val before = VersionedLake.readLatest(spark, outL).inputFiles.toSet
    val (_, affected) = Backfill.backfill(spark, inL, outL, "day", 1, 2, agg)
    assert(affected == Seq(2L, 3L))
    val after = VersionedLake.readLatest(spark, outL).inputFiles.toSet
    assert((before intersect after).nonEmpty, "day-1 dir carries by reference")
    val got = VersionedLake.readLatest(spark, outL)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 30L, 2L -> 35L, 3L -> 7L))
  }

  test("resampleFill: grid, deterministic last-in-slot pick, forward " +
      "fill, observed flags") {
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 $h%02d:$m%02d:00")
    val df = Seq(
      ("a", ts(0, 10), 1L, 100L),
      ("a", ts(0, 50), 2L, 150L), // same slot, higher id wins
      ("a", ts(3, 5), 9L, 400L),  // slots 1,2 are gaps
      ("b", ts(1, 0), 5L, 700L))
      .toDF("k", "ts", "eid", "cents")
    val got = Temporal.resampleFill(df, "k", "ts", "cents", "eid", 3600L)
      .orderBy(col("k"), col("slot"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString.take(13),
        r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      ("a", "2024-01-01 00", 150L, true),
      ("a", "2024-01-01 01", 150L, false),
      ("a", "2024-01-01 02", 150L, false),
      ("a", "2024-01-01 03", 400L, true),
      ("b", "2024-01-01 01", 700L, true)))
  }
}
