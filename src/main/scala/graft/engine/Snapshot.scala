package graft.engine

import org.apache.spark.sql.types.{StructField, StructType}

/** The bounds the deletion-vector registry (`_dv`) declares; a lake
  * carrying the registry has deletion vectors enabled. */
final case class DvPolicy(maxRatio: Option[Double],
    maxPending: Option[Long])

/** One published version of a lake, resolved once per statement or
  * library call ([[VersionedLake.resolve]]) and handed to every reader,
  * pruner and rewrite of that operation, so none of them looks a fact
  * up again.
  *
  * The manifest half — `entries` (the live set), `layoutOnly`, `dvUuid`
  * (the `#dv` binding) and `declared` (the `#schema` line) — is parsed
  * from one read of the version's manifest. The registry half is what
  * the lake root's registry files said at resolution: `partCols`
  * (`_partition`), `mapping` (`_mapping`), `dv` (`_dv`), `cdf` (`_cdf`)
  * and `bloomCols` (`_index`). */
final case class Snapshot(dir: String, version: Int, entries: Seq[String],
    layoutOnly: Boolean, dvUuid: Option[String],
    declared: Option[StructType], partCols: Seq[StructField],
    mapping: Option[GraftLakeMapping.Registry], dv: Option[DvPolicy],
    cdf: Boolean, bloomCols: Seq[String]) {
  def mapped: Boolean = mapping.nonEmpty
  def dvEnabled: Boolean = dv.nonEmpty

  /** Every name `c`'s field id has had in the current mapping era — the
    * names its sidecar lines may be keyed under ([[GraftLakeMapping
    * .Registry.aliases]]); Seq(c) on an unmapped lake. */
  def aliasesOf(c: String): Seq[String] =
    mapping.fold(Seq(c))(_.aliases.getOrElse(c, Seq(c)))

  /** `schema` without the partition columns — the columns a data file
    * of this lake holds. */
  def dataColumns(schema: StructType): StructType =
    StructType(schema.filterNot(f =>
      partCols.exists(_.name.equalsIgnoreCase(f.name))))
}

object Snapshot {
  /** The registry files at a lake root, each read only by
    * [[VersionedLake.resolve]] and rewritten only by its writer. */
  val PartitionReg = "_partition"
  val MappingReg = "_mapping"
  val DvReg = "_dv"
  val CdfReg = "_cdf"
  val IndexReg = "_index"

  def registryPath(dir: String, name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$dir/$name")
}
