package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental partition-level backfill — the production answer to
  * "input data arrived (or arrived LATE); which output partitions must
  * recompute?" for a derived lake maintained from a versioned input
  * lake. Reference analogue: the platform's monthly drops land whole
  * months, but late-arriving hospital files would dirty PAST months —
  * recomputing the whole derived table per drop is O(history) per
  * ingest; this recomputes O(changed partitions).
  *
  * The loop:
  *  1. `VersionedLake.changes(in, fromV, toV)` yields the delta rows
  *     (inserts AND deletes — an overwritten input partition dirties
  *     its output partition too);
  *  2. the AFFECTED partition set is the delta's distinct partition
  *     keys — a bounded driver list (≤ number of partitions, never rows;
  *     the one `.collect()` here, documented);
  *  3. ONLY affected input partitions are re-read from the new input
  *     snapshot (the partition filter composes with pruning/skipping)
  *     and re-derived through `transform`;
  *  4. [[VersionedLake.replaceWhereIn]] swaps the recomputed partitions
  *     into the output lake — data dirs whose stats don't intersect the
  *     affected set carry forward BY REFERENCE, untouched on disk.
  *
  * Correctness contract: `transform` must be PER-PARTITION (output
  * partition p derives only from input rows with key p — true of any
  * groupBy on the partition key); under that contract the backfilled
  * lake equals `transform` of the full new snapshot, which is exactly
  * what the q157 oracle checks from scratch. */
object Backfill {

  /** Returns `(newOutVersion, affected partition keys, sorted)`. */
  def backfill(spark: SparkSession, inDir: String, outDir: String,
      partCol: String, fromV: Int, toV: Int,
      transform: DataFrame => DataFrame): (Int, Seq[Long]) = {
    val delta = VersionedLake.changes(spark, inDir, fromV, toV)
    // bounded: one key per TOUCHED partition, not per row
    val affected = delta.select(col(partCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    if (affected.isEmpty)
      (VersionedLake.versions(spark, outDir).last, Seq.empty)
    else {
      val recomputed = transform(
        VersionedLake.readAt(spark, inDir, toV)
          .filter(col(partCol).isin(affected: _*)))
      val v = VersionedLake.replaceWhereIn(spark, outDir, partCol,
        affected, recomputed)
      (v, affected)
    }
  }
}
