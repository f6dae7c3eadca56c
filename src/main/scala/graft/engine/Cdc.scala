package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational CDC MERGE — the changelog-apply operator (Delta/Iceberg
  * `MERGE INTO`, Flink changelog materialization) expressed as one
  * declarative plan: given a base snapshot and a keyed changelog of
  * I/U/D operations with a per-key sequence, produce the next snapshot
  * under latest-wins semantics.
  *
  * Resolution rules (each a deliberate MERGE convention, replayed
  * verbatim by the q154 oracle):
  *  - the change with the highest `seq` per key WINS (earlier changes
  *    for the key are superseded — rank, never apply-in-sequence);
  *  - winner `D`: the key is absent from the result, whether it came
  *    from base or an earlier insert;
  *  - winner `U`: applied if the key exists in base OR the changelog
  *    also carries an `I` for it (update-after-insert in the same
  *    batch); an update for a truly unknown key is DROPPED, not
  *    upserted — silent upsert-on-update masks producer bugs;
  *  - winner `I`: always materializes the row (insert-or-replace);
  *  - keys untouched by the changelog carry their base row forward.
  *
  * Scale shape: the base NEVER shuffles. Spark 4.1.2's `JoinSelection`
  * excludes FullOuter from broadcast (a full-outer merge plans
  * SortMergeJoin — both sides exchange+sort — even with an explicit
  * hint), so the naive "one full-outer join" merge pays a full shuffle
  * AND sort of a 100 TB base per changelog batch. Instead the base is
  * split on the broadcast winner-key set — `untouched = base
  * LEFT-ANTI⋉ keys`, `touched = base LEFT-SEMI⋉ keys` — both of which
  * DO broadcast, so the base side is map-only (two scans, the semi one
  * pruned to the key column); the winner rows then resolve against the
  * changelog-sized touched-key set and the untouched rows union back
  * unmoved. The winner pick itself is a streaming `row_number` over the
  * changelog only. Composed with the lake layer (a copy-on-write SQL
  * `MERGE INTO` on a partitioned graftlake table, whose runtime group
  * filter admits a partition by its values, no sidecar needed), only
  * base partitions holding changed keys are rewritten. The
  * no-Exchange-on-base shape is a failing test (PlanAuditSpec
  * "Cdc.merge never shuffles the base"). The
  * broadcasts are size-guarded: a batch with more distinct keys than
  * `maxBroadcastKeys` (a bulk load, not a changelog) drops the hints
  * and lets the planner shuffle — identical results, no forced
  * driver-sized collect.
  * Output columns: `key, payloadCols…, src` (`base`/`upd`/`ins`).
  */
object Cdc {

  def merge(base: DataFrame, changes: DataFrame, keyCol: String,
      seqCol: String, opCol: String, payloadCols: Seq[String],
      maxBroadcastKeys: Int = 16 << 20): DataFrame = {
    require(payloadCols.nonEmpty, "merge needs at least one payload column")
    val k = col(keyCol)
    // "changelog-sized" is a distribution assumption, not a guarantee:
    // a bulk backfill batch can carry more keys than a broadcast (and
    // the driver) survives. Probe the DISTINCT key count (== winner
    // count, one winner per key) with a bounded early-out action; an
    // over-bound batch drops the hints and lets the planner shuffle —
    // a batch that large is a bulk load, and rewriting the base is
    // then the honest cost. Same guard shape as the boilerplate
    // removers' heavy-set bound.
    val fits = changes.select(k).distinct()
      .limit(maxBroadcastKeys + 1).count() <= maxBroadcastKeys
    def bcast(df: DataFrame): DataFrame = if (fits) broadcast(df) else df
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(k).orderBy(col(seqCol).desc)
    val winner = changes
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(k +: col(opCol).as("_op") +:
        payloadCols.map(c => col(c).as(s"_ch_$c")): _*)
    val hasIns = changes.filter(col(opCol) === "I")
      .select(k).distinct().withColumn("_has_i", lit(true))
    val ch = winner.join(bcast(hasIns), Seq(keyCol), "left")
    val winnerKeys = winner.select(k)
    // Base side: map-only broadcast semi/anti split — never an Exchange.
    val untouched = base
      .join(bcast(winnerKeys), Seq(keyCol), "left_anti")
      .select(k +: payloadCols.map(col) :+ lit("base").as("src"): _*)
    val touchedKeys = base.select(k)
      .join(bcast(winnerKeys), Seq(keyCol), "left_semi")
      .withColumn("_in_base", lit(true))
    // Winner resolution happens entirely at changelog scale: every
    // surviving winner (I, or U with a pre-existing/base-inserted key)
    // carries the CHANGE payload, so the touched base rows contribute
    // only their key presence.
    val applied = ch.join(bcast(touchedKeys), Seq(keyCol), "left")
      .filter(col("_op") === "I" ||
        (col("_op") === "U" &&
          (coalesce(col("_in_base"), lit(false)) ||
            coalesce(col("_has_i"), lit(false)))))
      .select(k +: payloadCols.map(c => col(s"_ch_$c").as(c)) :+
        when(col("_op") === "I", "ins").otherwise("upd").as("src"): _*)
    untouched.unionByName(applied)
  }
}
