package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField,
  StructType}

/** Column mapping for graftlake tables — `ALTER TABLE RENAME/DROP
  * COLUMN` as METADATA-ONLY commits (Delta's column-mapping feature,
  * realized through Spark's native parquet FIELD-ID machinery):
  *
  *  - `TBLPROPERTIES ('column_mapping' = 'id')` at CREATE assigns each
  *    column a stable field id (`parquet.field.id` metadata); every
  *    write stamps the ids into the parquet footers (Spark's writer
  *    does this natively when the write schema carries the metadata);
  *  - readers resolve columns BY ID, not by name
  *    (`spark.sql.parquet.fieldId.read.enabled`, injected through the
  *    table's options so the scope is exactly these tables): a rename
  *    is then one empty schema-declaring commit — zero data rewritten,
  *    old files' differently-named columns still bind — and a DROP is
  *    the same commit minus the field (data bytes orphaned in place);
  *  - `VERSION AS OF` keeps each era's names: every version's manifest
  *    declares its own schema ([[VersionedLake.manifestSchema]]), ids
  *    constant across eras;
  *  - the stats/bloom sidecars keep pruning across renames: their
  *    lines are keyed by each FILE's own column name, and the probes
  *    consult every name the field id has ever had
  *    ([[Registry.aliases]]).
  *
  * The `_mapping` registry at the lake root holds the mode line plus
  * one `name <id> <colName>` line per name a field has ever had —
  * append-only, metadata-sized, the alias source that survives vacuum
  * (old manifests' schemas expire; the registry does not). */
object GraftLakeMapping {

  /** The metadata key Spark's parquet writer/reader natively honor. */
  val IdKey = "parquet.field.id"

  private def regPath(dir: String) =
    Snapshot.registryPath(dir, Snapshot.MappingReg)

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The `_mapping` registry as a [[Snapshot]] resolved it: the mode
    * line, one `name <id> <colName> [<epoch>]` line per name a field has
    * had, and the `epoch <n>` lines [[bumpEpoch]] appends. */
  final case class Registry(lines: Seq[String]) {

    /** The next never-used field id — the registry never forgets (a
      * dropped column's id stays retired: old files carry it, and a
      * reused id would bind new reads to the dropped bytes). Counts
      * EVERY epoch: a REPLACEd table's old ids stay retired too — its
      * pre-replace versions are still time-travelable. */
    lazy val nextId: Long = lines.collect {
      case l if l.startsWith("name\t") => l.split('\t')(1).toLong
    }.foldLeft(0L)(math.max) + 1

    /** The current mapping ERA. `REPLACE TABLE` bumps it
      * ([[bumpEpoch]]): the replaced table is a NEW id universe layered
      * over a registry that never forgets, and [[aliases]] must not
      * merge names across the boundary. Lines without an epoch field
      * (pre-epoch registries) read as era 0. */
    lazy val currentEpoch: Long = lines.collect {
      case l if l.startsWith("epoch\t") => l.split('\t')(1).toLong
    }.foldLeft(0L)(math.max)

    /** Every name each field id has had IN THE CURRENT EPOCH, keyed by
      * each of those names — the sidecar probes' alias table. Pre-era
      * names are excluded by design: after a REPLACE they belong to a
      * different id universe, and merging them could probe an unrelated
      * column's sidecar history (the degradation is conservative — a
      * missing alias admits the file, never skips it). A name two ids
      * have had in the epoch (a rename onto a former name, or a dropped
      * name added again) keys sidecar lines that may describe either
      * column, so those ids get no names: their sidecars go unused, the
      * same conservative degradation. */
    lazy val aliases: Map[String, Seq[String]] = {
      val byId = lines.collect {
        case l if l.startsWith("name\t") =>
          val a = l.split('\t')
          (a(1), a(2), if (a.length > 3) a(3).toLong else 0L)
      }.filter(_._3 == currentEpoch)
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.toSeq).toMap
      val shared = byId.values.toSeq.flatten.groupBy(identity)
        .collect { case (n, ids) if ids.length > 1 => n }.toSet
      byId.values.flatMap { names =>
        val usable = if (names.exists(shared)) Seq.empty else names
        names.map(n => n -> usable)
      }.toMap
    }
  }

  /** The tip's mapping era ([[Registry.currentEpoch]]). */
  def currentEpoch(spark: SparkSession, dir: String): Long =
    VersionedLake.resolveTip(spark, dir).mapping.fold(0L)(_.currentEpoch)

  /** The tip's alias table ([[Registry.aliases]]); empty off mapped
    * lakes. */
  def aliases(spark: SparkSession, dir: String): Map[String, Seq[String]] =
    VersionedLake.resolveTip(spark, dir).mapping
      .fold(Map.empty[String, Seq[String]])(_.aliases)

  def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(IdKey)) Some(f.metadata.getLong(IdKey))
    else None

  /** Assign ids to fields that lack one, starting at `startAt`
    * (CREATE assigns 1..k; ADD COLUMN continues from the registry's
    * never-reused counter). */
  def assignIds(schema: StructType, startAt: Long = 1L): StructType = {
    var next = math.max(startAt,
      schema.fields.flatMap(fieldId).foldLeft(0L)(math.max) + 1)
    StructType(schema.fields.map { f =>
      if (fieldId(f).nonEmpty) f
      else {
        val m = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(IdKey, next).build()
        next += 1
        f.copy(metadata = m)
      }
    })
  }

  /** Open a new mapping era (REPLACE TABLE's commit step). Names
    * recorded before the bump stay in the registry — they keep their
    * ids retired ([[Registry.nextId]]) — but stop aliasing. */
  def bumpEpoch(spark: SparkSession, dir: String): Unit = {
    val reg = lines(spark, dir)
    val keep = reg.filter(l =>
      l.startsWith("name\t") || l.startsWith("epoch\t")).toSet
    val all = (keep + s"epoch\t${Registry(reg).currentEpoch + 1}")
      .toSeq.sorted
    val out = fs(spark, dir).create(regPath(dir), true)
    try out.write(("mode\tid" +: all).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The registry's lines as its writers merge into them — readers
    * take them from their [[Snapshot]]. */
  private def lines(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    if (!f.exists(regPath(dir))) Seq.empty
    else {
      val in = f.open(regPath(dir))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** Persist/refresh the registry: the mode line plus the (id, name)
    * pairs of `schema` merged into the existing history (append-only
    * set — names are never forgotten, they are the sidecar aliases
    * and the id-retirement record). New names stamp the CURRENT epoch
    * so alias probing scopes to the live era. */
  def record(spark: SparkSession, dir: String, schema: StructType): Unit = {
    val reg = lines(spark, dir)
    val epoch = Registry(reg).currentEpoch
    val existing = reg.collect {
      case l if l.startsWith("name\t") || l.startsWith("epoch\t") => l
    }.toSet
    val added = schema.fields.flatMap(f =>
      fieldId(f).map(id =>
        if (epoch == 0L) s"name\t$id\t${f.name}"
        else s"name\t$id\t${f.name}\t$epoch"))
    val all = (existing ++ added).toSeq.sorted
    val out = fs(spark, dir).create(regPath(dir), true)
    try out.write(("mode\tid" +: all).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Overlay the table schema's field-id metadata onto a WRITE schema
    * by name — the analyzer does not reliably carry metadata through
    * query resolution, and a file written without ids would be
    * unreadable to the id-matching reader. */
  def withFieldIds(write: StructType, table: StructType): StructType =
    StructType(write.fields.map { f =>
      table.fields.find(_.name.equalsIgnoreCase(f.name))
        .flatMap(t => fieldId(t).map(id =>
          f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata).putLong(IdKey, id).build())))
        .getOrElse(f)
    })

  /** Read/write conf keys injected into a mapped table's OPTIONS (they
    * reach the scan's and write's hadoop configurations, scoping the
    * id-matching behavior to exactly these tables). */
  def confOptions: Map[String, String] = Map(
    "spark.sql.parquet.fieldId.read.enabled" -> "true",
    "spark.sql.parquet.fieldId.write.enabled" -> "true")
}
