package graft.engine

import org.apache.hadoop.fs.Path
import VersionedLake.{Commit, Expect}
import VersionedLake.CommitSchema.Declared
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet,
  LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex,
  PartitionDirectory, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `graftlake` DataSource V2 format — the engine-integrated read
  * path for the [[VersionedLake]] (the Delta/Iceberg consumption seam:
  * the reference's lake is likewise read through a catalog by its query
  * engine, reference README.md:13-15, never through library calls):
  *
  * {{{
  * spark.read.format("graftlake").load(dir)                    // latest
  * spark.read.format("graftlake")
  *   .option("versionAsOf", 3).load(dir)                       // time travel
  * }}}
  *
  * Architecture: everything below the file listing is Spark's OWN
  * parquet DSv2 machinery — [[GraftLakeTable]] WRAPS a `ParquetTable`
  * (vectorized reader, pushed filters, columnar batches, AQE), with
  * exactly ONE seam replaced: the `FileIndex` resolves the snapshot
  * from the manifest log instead of listing the directory, and applies
  * the manifest's stats/bloom sidecars to the PUSHED data filters so a
  * range or point probe through plain `spark.read` skips files. It is
  * the one admission rule: the library probes
  * ([[VersionedLake.readSkipping]] / [[VersionedLake.readBloomProbe]])
  * are filters over a [[VersionedLake.readAt]] snapshot, whose plain
  * relation is built over this same index. That keeps the fast path
  * driver-side metadata (nothing size-of-data at plan time) and the
  * scan path 100% native — a reimplemented row-by-row reader would
  * have been a 10× regression at 100 TB.
  *
  * Correctness posture: pruning only ever REMOVES files the sidecars
  * prove cannot match (ranges conservative on missing stats, bloom
  * conservative on missing filters), and the pushed predicate is still
  * evaluated row-level by the parquet reader — a sidecar bug costs IO
  * or a hash mismatch in q182's differential, never silent wrong rows
  * from a stale listing.
  */
final class GraftLakeDataSource
    extends org.apache.spark.sql.connector.catalog.TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graftlake"

  // Deliberately a PLAIN TableProvider, not FileDataSourceV2: Spark's
  // ResolveDataSource hard-routes every FileDataSourceV2 stream to the
  // V1 FileStreamSource path (which would stream raw d-* dirs,
  // manifest-unaware — including uncommitted orphans). A plain
  // provider keeps batch on loadV2Source and lets the MICRO_BATCH_READ
  // capability reach the streaming planner.

  private def makeTable(options: CaseInsensitiveStringMap,
      schema: Option[StructType]): Table = {
    require(options.get("paths") == null,
      "graftlake reads one lake root, got multiple paths")
    val lakeDir = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graftlake needs the lake root: spark.read.format(\"graftlake\")" +
          ".load(<dir>)"))
    val spark = SparkSession.active
    val byTs = Option(options.get(GraftLakeDataSource.TimestampAsOf))
      .map { raw =>
        require(options.get(GraftLakeDataSource.VersionAsOf) == null,
          "versionAsOf and timestampAsOf are mutually exclusive")
        val tsMillis = GraftLakeDataSource.parseTsOption(raw,
          GraftLakeDataSource.TimestampAsOf)
        VersionedLake.versionAt(spark, lakeDir, tsMillis).getOrElse(
          throw new IllegalArgumentException(
            s"no version of $lakeDir was published at or before " +
              s"$raw — the lake did not exist yet"))
      }
    val version = byTs
      .orElse(Option(options.get(GraftLakeDataSource.VersionAsOf))
        .map(_.trim.toInt))
      .getOrElse {
        val t = VersionedLake.tip(spark, lakeDir)
        require(t.nonEmpty, s"no versions published at $lakeDir")
        t.get
      }
    val cdf = Option(options.get(GraftLakeDataSource.ReadChangeFeed))
      .exists(_.trim.equalsIgnoreCase("true"))
    // inferSchema and getTable of one load resolve the version once
    val snap = resolved.filter(s => s.dir == lakeDir && s.version == version)
      .getOrElse(VersionedLake.resolve(spark, lakeDir, version))
    resolved = Some(snap)
    GraftLakeDataSource.snapshotTable(spark, snap,
      options.asCaseSensitiveMap(), schema, cdf)
  }

  private var resolved: Option[Snapshot] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    makeTable(options, None).asInstanceOf[GraftLakeTable].schema

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table =
    makeTable(new CaseInsensitiveStringMap(properties), Option(schema))
}

object GraftLakeDataSource {
  /** The table of snapshot `version` — over its live entries, or over
    * `entries` alone (a subset of them) when given. `options` are the
    * caller's read options; the snapshot ones are added here. */
  private[engine] def snapshotTable(spark: SparkSession, snap: Snapshot,
      options: java.util.Map[String, String],
      schema: Option[StructType] = None, cdf: Boolean = false,
      entries: Option[Seq[String]] = None,
      name: Option[String] = None): GraftLakeTable = {
    // snapshots may span schema-evolving commits — same mergeSchema
    // semantics as VersionedLake.readAt
    val merged = new java.util.HashMap[String, String](options)
    merged.put("mergeSchema", "true")
    // column-mapping lakes: id-matching read/write confs ride the
    // table OPTIONS (they reach the scan's and write's hadoop
    // configuration — scoped to exactly these tables, never a session
    // conf mutation)
    if (snap.mapped)
      GraftLakeMapping.confOptions.foreach { case (k, v) =>
        merged.put(k, v) }
    // schema from the version's OWN manifest when its writer declared
    // one — the cold plan then skips the O(live files) footer-merge
    // inference (library-committed versions without a declaration
    // still infer)
    new GraftLakeTable(name.getOrElse(snap.dir), spark,
      new CaseInsensitiveStringMap(merged), schema.orElse(snap.declared),
      snap, cdf, entries)
  }

  /** Snapshot `version` as a frame over its [[GraftLakeTable]], planned
    * as a `graftlake` load plans it — restricted to `entries` when
    * given, with deletion vectors as of `version`, field ids matched on
    * mapped lakes and partition columns from the entry names. */
  private[engine] def snapshotFrame(spark: SparkSession, snap: Snapshot,
      entries: Option[Seq[String]] = None): DataFrame = {
    val options = java.util.Map.of("path", snap.dir, VersionAsOf,
      snap.version.toString)
    org.apache.spark.sql.graft.RelationBridge.ofTable(spark,
      snapshotTable(spark, snap, options, entries = entries),
      new CaseInsensitiveStringMap(options))
  }

  /** Parse a time-travel option value (`timestampAsOf` /
    * `startingTimestamp`) to epoch millis. Accepted shapes:
    *
    *  - bare integer: epoch MILLIS, but only in the unambiguous
    *    13-digit range (>= 1e12, ~2001-09). A 10-digit epoch-SECONDS
    *    value — the most common Unix timestamp — would otherwise
    *    silently resolve to 1970: for `timestampAsOf` a confusing
    *    "lake did not exist" error, for `startingTimestamp` a SILENT
    *    full reprocess from v1. Refused loudly instead.
    *  - `yyyy-MM-dd` (midnight), `yyyy-MM-dd HH:mm:ss[.f]`, and
    *    ISO-8601 `yyyy-MM-dd'T'HH:mm:ss[.f]` with an optional zone
    *    offset (Delta accepts the 'T' form; `Timestamp.valueOf` used
    *    to reject it). Zone-less strings are session-local, matching
    *    the previous `Timestamp.valueOf` semantics. */
  private[engine] def parseTsOption(raw: String, optName: String): Long = {
    val s = raw.trim
    s.toLongOption match {
      case Some(n) =>
        require(n >= 1000000000000L,
          s"$optName='$raw' is ambiguous: bare integers are epoch " +
            "MILLIS, and this value lands before 2001 as millis (it " +
            "looks like epoch seconds) — pass milliseconds or a " +
            "'yyyy-MM-dd[ HH:mm:ss]' / ISO-8601 timestamp string")
        n
      case None =>
        val norm =
          (if (s.length <= 10) s + "T00:00:00" else s).replace(' ', 'T')
        try java.time.OffsetDateTime.parse(norm).toInstant.toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            java.time.LocalDateTime.parse(norm)
              .atZone(java.time.ZoneId.systemDefault()).toInstant
              .toEpochMilli
        }
    }
  }

  /** Read-option key for time travel (Delta's option name, so the idiom
    * transfers): absent → latest published version. */
  val VersionAsOf = "versionAsOf"

  /** Wall-clock time travel as a read option (Delta's name): newest
    * version published at or before the instant — epoch millis or
    * `yyyy-MM-dd[ HH:mm:ss]`, same clock as SQL `TIMESTAMP AS OF`
    * ([[VersionedLake.versionAt]]). */
  val TimestampAsOf = "timestampAsOf"

  /** readStream option: first lake version the stream consumes
    * (inclusive; default 1 = the full history as the initial batches). */
  val StartingVersion = "startingVersion"

  /** readStream option (Delta's idiom): start from the first version
    * published AT or AFTER this wall-clock instant — accepts epoch
    * millis or `yyyy-MM-dd[ HH:mm:ss]`. Resolved ONCE at stream
    * construction to a version ([[VersionedLake.versionAt]] mtime
    * clock); mutually exclusive with `startingVersion`. A timestamp
    * after the tip starts at tip+1 (only future commits deliver —
    * Delta's semantics). */
  val StartingTimestamp = "startingTimestamp"

  /** readStream admission-control options (Delta's rate-limiting idiom):
    * cap how much backlog one micro-batch admits. `maxVersionsPerTrigger`
    * bounds versions per batch; `maxFilesPerTrigger` bounds the ADDED
    * parquet files per batch (a version is never split — the first
    * pending version is always admitted whole, so progress is
    * guaranteed even when one commit exceeds the cap). Absent → all
    * available, the previous behavior. */
  val MaxVersionsPerTrigger = "maxVersionsPerTrigger"
  val MaxFilesPerTrigger = "maxFilesPerTrigger"

  /** readStream option (Delta's idiom, same name): skip data-changing
    * rewrite commits (COW MERGE/UPDATE/DELETE, overwrite, replaceWhere)
    * instead of refusing the history — the whole commit is dropped,
    * appends before and after still deliver. For consumers that
    * tolerate missing updates/deletes (append-only downstream tables);
    * layout-only compaction commits are always skipped regardless. */
  val SkipChangeCommits = "skipChangeCommits"

  /** readStream option (Delta's CDF idiom): deliver the lake as a
    * CHANGE FEED — every row tagged with a `_change_type` column
    * (insert | delete) so the stream survives data-changing rewrite
    * commits instead of refusing them. Semantics are GROUP-level CDF:
    * an append commit delivers its rows as `insert`; a COW MERGE/
    * UPDATE/DELETE/overwrite commit delivers the PRE-IMAGE rows of its
    * rewritten dirs as `delete` and the replacement dirs' rows as
    * `insert` — survivor rows carried through the rewrite appear as a
    * delete+insert PAIR that cancels exactly under signed aggregation
    * (the MV-maintenance consumption shape; volume is the rewritten
    * fraction, never the lake). Layout-only compaction commits deliver
    * nothing. Streaming-only: batch diffs are `VersionedLake.changes`,
    * which cancels carried pairs via the localized multiset diff. */
  val ReadChangeFeed = "readChangeFeed"

  /** readStream option (Kafka/Delta's idiom, default true): when a
    * LAGGING consumer's next batch needs versions that vacuum expired,
    * fail AT OFFSET-PLANNING TIME with the retention-contract error
    * (not a raw missing-path error from deep inside a scan). `false`
    * opts into skipping the expired commits: the stream resumes from
    * the oldest readable version's successor — rows published in the
    * lost commits are never delivered to this consumer (logged, by
    * explicit choice). */
  val FailOnDataLoss = "failOnDataLoss"

  /** The change-type column the CDF stream appends. */
  val ChangeTypeCol = "_change_type"

  /** The commit-version column the CDF stream appends (Delta CDF's
    * `_commit_version`): per-commit ordering made visible, so an
    * order-applying consumer (keyed upsert sink) can sequence events —
    * CDF micro-batch partitions are also EMITTED in commit order
    * (per-version delete-then-insert), never all-deletes-then-all-
    * inserts across the batch. */
  val CommitVersionCol = "_commit_version"

  /** Columns the DML paths auto-index (stats sidecars lifted from the
    * parquet footers): every top-level numeric field — SQL writers
    * have no `commitWithStats` to opt into, so index everything
    * range-skippable by default. */
  private[engine] def numericCols(schema: StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    schema.fields.collect {
      case f if f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == ShortType || f.dataType == ByteType ||
        f.dataType == FloatType || f.dataType == DoubleType => f.name
    }.toSeq
  }

  /** Runtime-filter predicates → per-column IN value lists, shared by
    * the read scan and the COW operation scan. Only single-column INs
    * with literal children translate; a build side larger than
    * `maxValues` is dropped (admit() is values × files driver work,
    * and a set that large is also too unselective to prune with). */
  private[engine] def parseInPredicates(
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate],
      maxValues: Int): Seq[(String, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.{Literal,
      NamedReference}
    predicates.toSeq.flatMap { p =>
      if (p.name() != "IN") None
      else p.children().toSeq match {
        case (f: NamedReference) +: rest
          if f.fieldNames().length == 1 && rest.size <= maxValues &&
            rest.forall {
              case l: Literal[_] =>
                GraftLakeFileIndex.runtimeProbeable(l.dataType())
              case _ => false
            } =>
          Some((f.fieldNames()(0),
            rest.map(_.asInstanceOf[Literal[_]].value)))
        case _ => None
      }
    }
  }

  /** Lake files the executed plan will actually read — the post-pruning
    * evidence q182 and the spec gates assert on
    * (`DataFrame.inputFiles` reports the index's full listing, BEFORE
    * per-scan filter pruning, so it cannot serve as this witness). */
  def filesRead(df: DataFrame): Int =
    filesReadPlan(df.queryExecution.executedPlan)

  /** [[filesRead]] over an already-executed physical plan — the form a
    * QueryExecutionListener-captured COMMAND plan (MERGE/UPDATE/DELETE)
    * needs: commands have no DataFrame handle, but their captured plan
    * still carries the scans whose runtime filters were applied. */
  def filesReadPlan(plan: org.apache.spark.sql.execution.SparkPlan)
      : Int =
    scannedFiles(plan).length

  /** [[filesRead]] but the file PATHS — the witness for assertions
    * about WHICH dirs/partitions a plan reads (`DataFrame.inputFiles`
    * is empty on non-FileTable V2 relations, so it cannot serve). */
  def filesReadPaths(df: DataFrame): Seq[String] =
    scannedFiles(df.queryExecution.executedPlan)

  /** The planned files of every lake scan in `plan`, one per file
    * split, subqueries included: V2 `BatchScanExec` (the `graftlake`
    * scan) and V1 `FileSourceScanExec` over a [[GraftLakeFileIndex]]
    * (a plain lake's [[VersionedLake.readAt]] snapshot) — not the
    * plain parquet reads a plan may join the lake with. */
  private def scannedFiles(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] = {
    import org.apache.spark.sql.connector.read.InputPartition
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.datasources.{FilePartition,
      FileScanRDD}
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec,
      FileScan}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      // AQE wraps executed stages (ResultQueryStage/BroadcastQueryStage
      // in Spark 4) as LEAF nodes whose real plan hangs off `.plan` —
      // without descending, an executed frame measures ZERO scans and
      // a `< total` pruning gate passes vacuously
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(plan).flatMap {
      case b: BatchScanExec => b.scan match {
        case f: FileScan => f.planInputPartitions().toSeq
        case _ => Seq.empty[InputPartition]
      }
      case s: FileSourceScanExec
          if s.relation.location.isInstanceOf[GraftLakeFileIndex] =>
        s.inputRDD match {
          case r: FileScanRDD => r.filePartitions
          case _ => Seq.empty[InputPartition]
        }
      case _ => Seq.empty[InputPartition]
    }.flatMap {
      case fp: FilePartition => fp.files.map(_.urlEncodedPath).toSeq
      case _ => Seq.empty[String]
    }
  }
}

/** V2 catalog over a directory of versioned lakes — the SQL seam of
  * the format (the reference consumes its lake exactly this way:
  * Athena reads S3 parquet through the Glue catalog, reference
  * README.md:13-15). Register and query, time travel included, with
  * zero library calls:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.glake",
  *   "graft.engine.GraftLakeCatalog")
  * spark.conf.set("spark.sql.catalog.glake.root", "/data/lakes")
  * spark.sql("SELECT * FROM glake.events")                  // latest
  * spark.sql("SELECT * FROM glake.events VERSION AS OF 3")  // time travel
  * }}}
  *
  * A table identifier maps to `<root>/<namespace…>/<name>`; a table
  * exists iff that directory has published manifests. DML writes are
  * first-class — `INSERT INTO glake.events …` / `INSERT OVERWRITE`
  * stage parquet and swing the same manifest CAS as
  * [[VersionedLake.commit]] (see [[GraftLakeWrite]]), and
  * `DELETE FROM` runs the stats-pruned survivor rewrite
  * ([[VersionedLake.replaceWhere]]). Creation is SQL-first-class too:
  * `CREATE TABLE` publishes a schema-bearing empty version 1, and
  * CTAS / `REPLACE TABLE AS SELECT` are ATOMIC through the
  * `StagingTableCatalog` seam ([[GraftLakeStagedTable]] — data staged
  * unpublished, manifest CAS at commit, the replaced snapshot still
  * time-travelable). Only destructive DDL (drop/alter/rename) is
  * refused: a lake is retired by vacuum with retention, never by a
  * SQL `DROP TABLE` that would unlink 100 TB with no undo. */
final class GraftLakeCatalog
    extends org.apache.spark.sql.connector.catalog.TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  import org.apache.spark.sql.connector.catalog.Identifier
  import org.apache.spark.sql.catalyst.analysis.NoSuchTableException

  private var catalogName: String = _
  private var root: String = _
  private def spark = SparkSession.active

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw
      new IllegalArgumentException(
        s"graftlake catalog '$name' needs spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    (root +: ident.namespace.toSeq :+ ident.name).mkString("/")

  private def load(ident: Identifier, version: Option[Int]): Table = {
    val dir = dirOf(ident)
    val t = VersionedLake.tip(spark, dir)
    if (t.isEmpty) throw new NoSuchTableException(ident)
    tableOf(ident, VersionedLake.resolve(spark, dir, version.getOrElse(t.get)))
  }

  private def tableOf(ident: Identifier, snap: Snapshot): GraftLakeTable =
    GraftLakeDataSource.snapshotTable(spark, snap,
      java.util.Map.of("path", snap.dir), name = Some(ident.toString))

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <v>` lands here (the analyzer's time-travel hook). */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.trim.toInt))

  /** `TIMESTAMP AS OF <ts>` — the analyzer hands micros since epoch;
    * resolve to the newest version published at or before that instant
    * ([[VersionedLake.versionAt]], manifest mtimes — one clock for all
    * writers). A timestamp before the first publish is an error, not
    * an empty table: the lake did not exist yet, and an empty answer
    * would be indistinguishable from a real empty snapshot. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val tsMillis = Math.floorDiv(timestamp, 1000L)
    val v = VersionedLake.versionAt(spark, dirOf(ident), tsMillis)
      .getOrElse(throw new NoSuchTableException(ident))
    load(ident, Some(v))
  }

  override def tableExists(ident: Identifier): Boolean =
    VersionedLake.tip(spark, dirOf(ident)).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = new Path((root +: namespace.toSeq).mkString("/"))
    val f = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(base)) Array.empty
    else f.listStatus(base).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => f.exists(new Path(p, "_manifests")))
      .map(p => Identifier.of(namespace, p.getName)).toArray
  }

  private def readOnly: Nothing = throw new UnsupportedOperationException(
    "graftlake catalog supports CREATE TABLE [AS SELECT] / REPLACE " +
      "TABLE AS SELECT, ALTER TABLE ADD COLUMN(S), and DML (INSERT " +
      "INTO / INSERT OVERWRITE / DELETE FROM / MERGE / UPDATE commit " +
      "through the versioned manifest protocol) but not destructive " +
      "DDL: a lake is retired by vacuum with retention, never by SQL " +
      "DROP or a column drop/rename — an unlinked 100 TB lake has no " +
      "undo")

  private def toStruct(
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
      : StructType =
    StructType(columns.map { c =>
      val f = org.apache.spark.sql.types
        .StructField(c.name(), c.dataType(), c.nullable())
      Option(c.comment()).fold(f)(f.withComment)
    })

  /** Identity `PARTITIONED BY` columns, validated: every transform
    * must be an identity over one declared top-level column of a
    * dir-renderable type. Returned in declaration order; empty = an
    * unpartitioned lake (the default). Partition values become hive
    * `c=v` dirs inside each commit's data dir and first-class manifest
    * entries — see [[GraftLakePartitions]]. */
  private def identityPartitionCols(
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
      : Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    val cols = partitions.toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1 &&
        t.references()(0).fieldNames().length == 1,
        s"graftlake supports identity PARTITIONED BY columns only, " +
          s"got $t — derive the partition column in the query " +
          "(bucketing/temporal binning: CALL zorder or the stats/bloom " +
          "sidecars cover those probe shapes without a dir layout)")
      val n = t.references()(0).fieldNames()(0)
      val c = columns.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITIONED BY names unknown column '$n' " +
            s"(have: ${columns.map(_.name).mkString(", ")})"))
      require(c.dataType match {
        case StringType | IntegerType | LongType | ShortType | ByteType |
             DateType | BooleanType => true
        case _ => false
      }, s"partition column $n has type ${c.dataType.sql}; partition " +
        "values must render as directory names " +
        "(string/integral/date/boolean)")
      StructField(c.name, c.dataType, c.nullable())
    }
    require(cols.isEmpty || cols.size < columns.length,
      "a table cannot be partitioned by every column")
    cols
  }

  /** A REPLACE over an existing partitioned lake must keep its spec:
    * the registry is lake-global (old versions' manifest entries parse
    * against it), so changing partitioning means a new table. */
  private def requireSpecUnchanged(snap: Snapshot,
      cols: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    val existing = snap.partCols
    require(existing.map(f => (f.name, f.dataType)) ==
      cols.map(f => (f.name, f.dataType)),
      s"cannot change PARTITIONED BY of an existing lake (" +
        s"${existing.map(_.name).mkString(",")} -> " +
        s"${cols.map(_.name).mkString(",")}): old versions' manifest " +
        "entries resolve against the declared spec — create a new " +
        "table and backfill instead")
  }

  /** `TBLPROPERTIES ('bloom' = '<col>[,<col>…]')` — declares the
    * lake's bloom-indexed columns ([[VersionedLake.setBloomIndex]]):
    * every commit, SQL or streaming, then writes per-file bloom
    * sections over EACH so point lookups on any declared key prune. */
  private def bloomProp(
      properties: java.util.Map[String, String],
      columns: Array[org.apache.spark.sql.connector.catalog.Column])
      : Seq[String] =
    Option(properties.get("bloom")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .map { c =>
        // a typo'd column would silently yield a policy every commit
        // filters out — fail the DDL instead
        require(columns.exists(_.name == c),
          s"bloom table property names unknown column '$c' " +
            s"(have: ${columns.map(_.name).mkString(", ")})")
        c
      }.distinct

  /** `TBLPROPERTIES ('cdf' = 'true')` — opts the lake into row-level
    * change capture (Delta's `enableChangeDataFeed`): data-changing
    * commits persist their exact changed rows as `_changes/<version>`
    * sidecars, and change feeds serve O(changed rows) instead of the
    * rewritten dirs' delete+insert pairs. */
  private def cdfProp(properties: java.util.Map[String, String]): Boolean =
    Option(properties.get("cdf")).exists(_.trim.equalsIgnoreCase("true"))

  /** `TBLPROPERTIES ('column_mapping' = 'id')` — parquet field-id
    * column mapping ([[GraftLakeMapping]]): RENAME/DROP COLUMN become
    * metadata-only commits. Declared at CREATE only (ids must be in
    * every file from the first write). */
  private def mappingProp(
      properties: java.util.Map[String, String]): Boolean =
    Option(properties.get("column_mapping")).map(_.trim)
      .filter(_.nonEmpty) match {
      case None => false
      case Some("id") => true
      case Some(other) => throw new IllegalArgumentException(
        s"column_mapping supports 'id' (parquet field-id mapping), " +
          s"got '$other'")
    }

  /** `TBLPROPERTIES ('deletion_vectors' = 'true')` — merge-on-read
    * point deletes ([[VersionedLake]] DV section): a SQL DELETE records
    * (entry, file, position) sidecars instead of rewriting dirs; scans
    * apply them, OPTIMIZE materializes them away. Composes with
    * PARTITIONED BY (the reference's Y/M/D layout + a GDPR point
    * delete is DV's best case — partition-decidable predicates still
    * take the cheaper manifest-only whole-leaf drop); UNMAPPED lakes
    * only (the DV position scan binds columns by name). */
  private def dvProp(properties: java.util.Map[String, String]): Boolean =
    Option(properties.get("deletion_vectors"))
      .exists(_.trim.equalsIgnoreCase("true"))

  private def requireDvCompatible(dv: Boolean,
      partCols: Seq[org.apache.spark.sql.types.StructField],
      mapped: Boolean): Unit = {
    // deletion_vectors composes with BOTH partitioning and column
    // mapping now: the position scan id-matches through the declared
    // schema on mapped lakes, and positions are per-file so partition
    // dirs change nothing structurally. Nothing left to refuse — the
    // hook stays for future property combinations.
    val _ = (dv, partCols, mapped)
  }

  /** `TBLPROPERTIES ('dv_max_ratio' = '0.05')` — the DV maintenance
    * CONTRACT: when live deleted positions exceed this fraction of
    * the rows in the files they cover, the delete that crossed the
    * bound auto-materializes those files' vectors
    * ([[VersionedLake.materializeVectors]]). Requires
    * deletion_vectors. */
  private def dvMaxRatioProp(
      properties: java.util.Map[String, String]): Option[Double] = {
    val raw = Option(properties.get("dv_max_ratio")).map(_.trim)
      .filter(_.nonEmpty)
    raw.foreach { _ =>
      require(dvProp(properties),
        "dv_max_ratio requires 'deletion_vectors' = 'true'")
    }
    raw.map { s =>
      val d =
        try s.toDouble
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"dv_max_ratio must be a number in (0, 1], got '$s'")
        }
      require(d > 0 && d <= 1,
        s"dv_max_ratio must be in (0, 1], got $d")
      d
    }
  }

  /** `TBLPROPERTIES ('dv_max_pending' = '1000000')` — the ABSOLUTE
    * pending-positions bound. Unlike the ratio it is always in force:
    * undeclared tables inherit [[VersionedLake.DvDefaultMaxPending]]
    * (session-overridable via `spark.graft.dv.maxPendingDefault`), so
    * declaring this property RAISES or LOWERS the default rather than
    * opting in. Requires deletion_vectors. */
  private def dvMaxPendingProp(
      properties: java.util.Map[String, String]): Option[Long] = {
    val raw = Option(properties.get("dv_max_pending")).map(_.trim)
      .filter(_.nonEmpty)
    raw.foreach { _ =>
      require(dvProp(properties),
        "dv_max_pending requires 'deletion_vectors' = 'true'")
    }
    raw.map { s =>
      val n =
        try s.toLong
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"dv_max_pending must be a positive integer, got '$s'")
        }
      require(n > 0, s"dv_max_pending must be positive, got $n")
      n
    }
  }

  /** Plain `CREATE TABLE` (no AS SELECT): the lake exists from a
    * schema-bearing empty version-1 commit — the same shape a library
    * caller stages before pointing stream writers at a new lake. */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table = {
    val partCols = identityPartitionCols(partitions, columns)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val dir = dirOf(ident)
    val mapped = mappingProp(properties)
    val dv = dvProp(properties)
    requireDvCompatible(dv, partCols, mapped)
    // every property is validated BEFORE anything is written: a rejected
    // DDL must leave no version (and no table) behind
    val (dvMaxRatio, dvMaxPending) =
      (dvMaxRatioProp(properties), dvMaxPendingProp(properties))
    val blooms = bloomProp(properties, columns)
    blooms.foreach(c => require(!partCols.exists(_.name == c),
      s"bloom table property names partition column '$c' — " +
        "partition pruning already answers point lookups on it"))
    val declared =
      if (mapped) GraftLakeMapping.assignIds(toStruct(columns))
      else toStruct(columns)
    // exactly version 1, NOT commit's CAS-retry: two racing CREATEs
    // must yield one winner and one clean error, never a retried append
    // that unions their schemas/data. On a partitioned lake the schema
    // carrier lives at the null partition (an empty frame has no
    // partition values), indexed with the declared blooms; the spec
    // registry lands only AFTER the create wins — a lost-race loser
    // must not plant its spec
    val entry = GraftLakePartitions.seedEmpty(spark, dir,
      VersionedLake.newDataDir(), declared, partCols, blooms)
    if (VersionedLake.publish(spark, dir, Commit(Seq(entry),
        replaceAll = true, schema = Declared(Some(declared.json)),
        expect = Expect.First)).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    if (partCols.nonEmpty) GraftLakePartitions.set(spark, dir, partCols)
    if (mapped) GraftLakeMapping.record(spark, dir, declared)
    if (dv) VersionedLake.setDeletionVectors(spark, dir, dvMaxRatio,
      dvMaxPending)
    // accumulates per column
    blooms.foreach(VersionedLake.setBloomIndex(spark, dir, _))
    if (cdfProp(properties)) VersionedLake.setChangeDataFeed(spark, dir)
    loadTable(ident)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ------------------------
  // The query writes into an UNPUBLISHED data dir; commitStagedChanges
  // swings the manifest CAS — table-with-data appears atomically or not
  // at all, and REPLACE keeps the old snapshot time-travelable. See
  // [[GraftLakeStagedTable]].

  override def stageCreate(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val partCols = identityPartitionCols(partitions, columns)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val mapped = mappingProp(properties)
    val dv = dvProp(properties)
    requireDvCompatible(dv, partCols, mapped)
    val declared =
      if (mapped) GraftLakeMapping.assignIds(toStruct(columns))
      else toStruct(columns)
    new GraftLakeStagedTable(ident, dirOf(ident), declared,
      replace = false, orCreate = false,
      bloomProp(properties, columns), partCols, cdfProp(properties),
      mapped, dvProp = dv, dvMaxRatio = dvMaxRatioProp(properties),
      dvMaxPending = dvMaxPendingProp(properties))
  }

  override def stageReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val partCols = identityPartitionCols(partitions, columns)
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    val snap = VersionedLake.resolveTip(spark, dirOf(ident))
    val dir = snap.dir
    requireSpecUnchanged(snap, partCols)
    // REPLACE on a MAPPED lake: the new table keeps mapping (old files
    // are only readable by id, and the registry persists). Its columns
    // take FRESH ids from the never-reused counter — pre-replace ids
    // stay retired because pre-replace versions stay time-travelable —
    // and the commit opens a new mapping EPOCH so alias probing cannot
    // merge a reused name with a pre-replace column's history.
    val mapped = snap.mapped
    require(!mappingProp(properties) || mapped,
      "column_mapping is declared at CREATE TABLE, not REPLACE")
    val declared = snap.mapping.fold(toStruct(columns))(reg =>
      GraftLakeMapping.assignIds(toStruct(columns), reg.nextId))
    new GraftLakeStagedTable(ident, dir, declared,
      replace = true, orCreate = false,
      bloomProp(properties, columns), partCols, cdfProp(properties),
      mapped = mapped, dvProp = dvProp(properties),
      dvMaxRatio = dvMaxRatioProp(properties),
      dvMaxPending = dvMaxPendingProp(properties),
      epochBump = mapped)
  }

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val partCols = identityPartitionCols(partitions, columns)
    val dir = dirOf(ident)
    val existing = VersionedLake.tip(spark, dir)
      .map(VersionedLake.resolve(spark, dir, _))
    val existingMapped = existing.exists(_.mapped)
    existing.foreach { snap =>
      requireSpecUnchanged(snap, partCols)
      // an UNMAPPED table cannot gain mapping by replace (its existing
      // files carry no ids); a MAPPED one keeps it, with or without
      // the property respelled
      require(!mappingProp(properties) || existingMapped,
        "column_mapping is declared at CREATE TABLE of a NEW table")
    }
    val mapped = mappingProp(properties) || existingMapped
    val dv = dvProp(properties)
    requireDvCompatible(dv, partCols, mapped)
    val declared = existing.flatMap(_.mapping) match {
      // fresh-id + epoch discipline, as stageReplace
      case Some(reg) =>
        GraftLakeMapping.assignIds(toStruct(columns), reg.nextId)
      case None =>
        if (mapped) GraftLakeMapping.assignIds(toStruct(columns))
        else toStruct(columns)
    }
    new GraftLakeStagedTable(ident, dir, declared,
      replace = true, orCreate = true,
      bloomProp(properties, columns), partCols, cdfProp(properties),
      mapped, dvProp = dv, dvMaxRatio = dvMaxRatioProp(properties),
      dvMaxPending = dvMaxPendingProp(properties),
      epochBump = existingMapped)
  }

  /** `ALTER TABLE … ADD COLUMN(S)` records the widened schema as a
    * schema-declaring EMPTY append commit: existing rows read null for
    * the new column, older versions keep their own schema via VERSION
    * AS OF, and the change is itself versioned history.
    *
    * `RENAME COLUMN` / `DROP COLUMN` additionally require COLUMN
    * MAPPING (`TBLPROPERTIES ('column_mapping'='id')` at CREATE): with
    * stable parquet field ids in every file, both are METADATA-ONLY
    * commits — a rename re-declares the schema under the new name
    * (same id, old files' differently-named column still binds by id),
    * a drop removes the field (the data bytes stay in place, invisible
    * — the undo is VERSION AS OF). Without mapping they stay refused:
    * a name-matched rename would null out every old file's column.
    * Retype/reposition stay refused (parquet footers cannot express a
    * reorder; a retype would rewrite data). */
  override def alterTable(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    val setProps = changes.collect { case p: TableChange.SetProperty => p }
    val unsetProps = changes.collect {
      case p: TableChange.RemoveProperty => p }
    if (adds.size + renames.size + drops.size + setProps.size +
        unsetProps.size != changes.size || changes.isEmpty) readOnly
    // SET/UNSET TBLPROPERTIES: the DV maintenance bounds are the
    // tunable policy surface (a lake created without one must be
    // re-boundable without a REPLACE). Registry-only metadata — no
    // version minted, matching the bloom/cdf policy registries — and
    // a TIGHTENED bound acts immediately (the enforcement pass runs
    // here, not just on the next delete). Everything else refuses
    // loudly: silently accepting an unknown property would let a user
    // believe e.g. 'column_mapping' was enabled post-CREATE.
    if (setProps.nonEmpty || unsetProps.nonEmpty) {
      require(adds.isEmpty && renames.isEmpty && drops.isEmpty,
        "graftlake ALTER handles property and column changes in " +
          "separate statements")
      val dir0 = dirOf(ident)
      val touched = setProps.map(_.property) ++
        unsetProps.map(_.property)
      val allowed = Set("dv_max_ratio", "dv_max_pending")
      require(touched.forall(allowed.contains),
        s"graftlake ALTER TABLE SET/UNSET TBLPROPERTIES supports " +
          s"${allowed.mkString(", ")}; got ${touched.mkString(", ")} " +
          "(deletion_vectors/column_mapping/bloom/cdf are declared " +
          "at CREATE TABLE)")
      val dv = VersionedLake.resolveTip(spark, dir0).dv.getOrElse(
        throw new IllegalArgumentException("requirement failed: the DV " +
          "maintenance bounds require a 'deletion_vectors' table"))
      var ratio = dv.maxRatio
      var pending = dv.maxPending
      setProps.foreach { pr =>
        pr.property match {
          case "dv_max_ratio" =>
            ratio = Some(
              try pr.value.trim.toDouble
              catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"dv_max_ratio must be a number in (0, 1], got " +
                      s"'${pr.value}'")
              })
          case "dv_max_pending" =>
            pending = Some(
              try pr.value.trim.toLong
              catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(
                    s"dv_max_pending must be a positive integer, got " +
                      s"'${pr.value}'")
              })
        }
      }
      unsetProps.foreach { pr =>
        pr.property match {
          case "dv_max_ratio"   => ratio = None
          case "dv_max_pending" => pending = None
        }
      }
      // setDeletionVectors re-validates ranges; a tightened bound
      // materializes the backlog NOW
      VersionedLake.setDeletionVectors(spark, dir0, ratio, pending)
      VersionedLake.enforceDvBound(spark, dir0)
      return loadTable(ident)
    }
    val snap = VersionedLake.resolveTip(spark, dirOf(ident))
    val (dir, mapped, partCols) = (snap.dir, snap.mapped, snap.partCols)
    if ((renames.nonEmpty || drops.nonEmpty) && !mapped)
      throw new UnsupportedOperationException(
        "graftlake RENAME/DROP COLUMN needs column mapping — create " +
          "the table with TBLPROPERTIES ('column_mapping'='id'): " +
          "stable parquet field ids make both metadata-only; without " +
          "them a rename would silently null the column in every " +
          "existing file")
    var schema = tableOf(ident, snap).schema()
    adds.foreach { a =>
      require(a.fieldNames().length == 1,
        "graftlake ADD COLUMN supports top-level columns, got " +
          a.fieldNames().mkString("."))
      val colName = a.fieldNames()(0)
      require(a.isNullable,
        s"added column $colName must be nullable: existing rows have " +
          "no value for it")
      require(a.position() == null,
        "graftlake ADD COLUMN appends at the end (mergeSchema union " +
          "order); FIRST/AFTER is not supported")
      require(!schema.fields.exists(_.name.equalsIgnoreCase(colName)),
        s"column $colName already exists")
      val fld = org.apache.spark.sql.types.StructField(colName,
        a.dataType(), nullable = true)
      schema = schema.add(Option(a.comment()).fold(fld)(fld.withComment))
    }
    if (adds.nonEmpty) snap.mapping.foreach(reg =>
      // fresh ids for added columns, from the registry's never-reused
      // counter (a DROPPED column's id must stay retired: old files
      // still carry it, and a reused id would bind new reads to the
      // dropped column's bytes)
      schema = GraftLakeMapping.assignIds(schema, reg.nextId))
    renames.foreach { r =>
      require(r.fieldNames().length == 1,
        "graftlake RENAME COLUMN supports top-level columns")
      val from = r.fieldNames()(0)
      require(!partCols.exists(_.name.equalsIgnoreCase(from)),
        s"cannot rename partition column $from: partition values are " +
          "directory names, renaming them means re-laying data out")
      require(schema.fieldNames.contains(from), s"no such column $from")
      require(!schema.fields.exists(_.name.equalsIgnoreCase(r.newName())),
        s"column ${r.newName()} already exists")
      schema = org.apache.spark.sql.types.StructType(schema.fields.map(
        f => if (f.name == from) f.copy(name = r.newName()) else f))
    }
    drops.foreach { d =>
      require(d.fieldNames().length == 1,
        "graftlake DROP COLUMN supports top-level columns")
      val c = d.fieldNames()(0)
      require(!partCols.exists(_.name.equalsIgnoreCase(c)),
        s"cannot drop partition column $c")
      require(schema.fieldNames.contains(c), s"no such column $c")
      require(schema.fields.length > partCols.length + 1,
        "cannot drop the last data column")
      schema = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == c))
    }
    if (renames.nonEmpty) {
      // the bloom policy follows renamed names (sidecar ALIASES keep
      // old files pruning; new commits index under the new name)
      val renamedBloom = snap.bloomCols.map(c =>
        renames.find(_.fieldNames()(0) == c).fold(c)(_.newName()))
      VersionedLake.setBloomIndexCols(spark, dir, renamedBloom)
    }
    // plain append commit (CAS-retried): racing writers are safe — an
    // empty dir unions with anything, and two concurrent ALTERs land
    // as successive versions whose schemas merge. On a partitioned
    // lake the schema carrier lives at the null-partition entry like
    // every other empty commit.
    VersionedLake.publish(spark, dir, Commit(Seq(GraftLakePartitions
      .seedEmpty(spark, dir, VersionedLake.newDataDir(), schema, partCols,
        snap.bloomCols)), schema = Declared(Some(schema.json))))
    if (mapped) GraftLakeMapping.record(spark, dir, schema)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = readOnly

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly

  /** Lifecycle operations as `CALL glake.<proc>(…)` — see
    * [[GraftLakeProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftLakeProcedures.load(root, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftLakeProcedures.list(namespace)
}

/** One published snapshot as a native parquet DSv2 table. The scan
  * machinery is Spark's own `ParquetTable` (held as a DELEGATE, with
  * the file index replaced by the manifest snapshot + sidecar
  * pruning) — but the table deliberately does NOT extend `FileTable`:
  * the analyzer's `FallBackFileSourceV2` rule rewrites every
  * `INSERT INTO` over a `FileTable` into a V1
  * `InsertIntoHadoopFsRelationCommand` aimed at the index's root
  * paths, which here would APPEND RAW FILES INTO A PUBLISHED DATA DIR
  * — mutating an immutable snapshot behind every reader's and time
  * traveler's back, with no version bump. Wrapping instead of
  * extending keeps that rule from matching, so writes stay on the V2
  * path and land in [[GraftLakeWrite]]'s staged-dir + manifest-CAS
  * protocol. */
object GraftLakeTable {
  /** Install the two post-PartitionPruning runtime-pruning rules into
    * THIS session's experimental hook if absent. They cannot ride
    * `GraftExtensions`: no SparkSessionExtensions injection point
    * lands after the optimizer's "PartitionPruning" batch (where Spark
    * builds the struct-IN that [[org.apache.spark.sql.graft
    * .SplitCowGroupFilter]] decomposes), and "User Provided
    * Optimizers" is the only batch back there. A session built outside
    * [[graft.Sessions]] — a user's own builder with just
    * `spark.sql.extensions` — would silently lose multi-key COW group
    * pruning AND join-driven MoR file pruning (correctness unaffected,
    * but a two-key MERGE rewrites dirs both keys could have pruned).
    * Called at TABLE RESOLUTION: every query that can hit either rule
    * resolves a GraftLakeTable first, and the optimizer re-reads
    * `extraOptimizations` per run, so even the resolving query's own
    * optimization already sees the rules. */
  private[graft] def ensureRuntimeRules(spark: SparkSession): Unit =
    // check-then-act on a shared mutable field: concurrent table
    // resolutions on one session (the supported disjoint-key writer
    // race) would otherwise append the pair twice — each duplicate
    // costs optimizer time on every later query's fixedPoint batch
    spark.experimental.synchronized {
      val cur = spark.experimental.extraOptimizations
      val missing = Seq(
        org.apache.spark.sql.graft.SplitCowGroupFilter,
        org.apache.spark.sql.graft.InjectDeltaRuntimeFilter)
        .filterNot(cur.contains)
      if (missing.nonEmpty)
        spark.experimental.extraOptimizations = cur ++ missing
    }
}

final class GraftLakeTable(tableName: String, spark: SparkSession,
    options: CaseInsensitiveStringMap,
    userSpecifiedSchema: Option[StructType], snap: Snapshot,
    cdf: Boolean = false, entries: Option[Seq[String]] = None)
  extends org.apache.spark.sql.connector.catalog.Table
  with org.apache.spark.sql.connector.catalog.SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import org.apache.spark.sql.connector.catalog.TableCapability

  GraftLakeTable.ensureRuntimeRules(spark)

  private val lakeDir = snap.dir
  private val delegate: ParquetTable =
    new ParquetTable(tableName, spark, options, Seq(lakeDir),
        userSpecifiedSchema, classOf[ParquetFileFormat]) {
      override lazy val fileIndex: PartitioningAwareFileIndex =
        new GraftLakeFileIndex(spark, snap,
          entries.getOrElse(snap.entries).map(e => new Path(s"$lakeDir/$e")))
    }

  /** Table creation options merged under call-site options — the same
    * precedence as FileTable's protected `mergedOptions`, replicated
    * here because the delegate's copy is FileTable-protected. */
  private def merged(o: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    m.putAll(o.asCaseSensitiveMap())
    new CaseInsensitiveStringMap(m)
  }

  /** The CDF column, appended LAST so positional consumers of the base
    * schema are unaffected. Nullable=false in spirit (the stream always
    * fills it), but declared nullable because the underlying parquet
    * files do not carry it — the reader materializes it as null and
    * the per-partition projection overwrites it with the op constant. */
  private def widen(s: StructType): StructType =
    // idempotent: getTable receives inferSchema's output (already
    // widened) as the user-specified schema — widening again would
    // plant a duplicate column
    if (!cdf || s.fieldNames.contains(GraftLakeDataSource.ChangeTypeCol)) s
    else StructType(s.fields :+ org.apache.spark.sql.types.StructField(
      GraftLakeDataSource.ChangeTypeCol,
      org.apache.spark.sql.types.StringType, nullable = true)
      :+ org.apache.spark.sql.types.StructField(
      GraftLakeDataSource.CommitVersionCol,
      org.apache.spark.sql.types.LongType, nullable = true))

  override def name(): String = tableName
  override def schema(): StructType = widen(delegate.schema)

  /** Declared identity partitioning, surfaced so DESCRIBE/SHOW and the
    * analyzer see the layout (the registry is the source of truth —
    * see [[GraftLakePartitions]]). */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    snap.partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions
        .identity(c.name)).toArray
  /** Declared feature registries, surfaced so SHOW TBLPROPERTIES /
    * DESCRIBE EXTENDED reflect what the lake actually enforces —
    * including maintenance bounds set later via
    * `ALTER TABLE SET TBLPROPERTIES` — as the table's snapshot resolved
    * them. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    snap.dv.foreach { dv =>
      m.put("deletion_vectors", "true")
      dv.maxRatio.foreach(r => m.put("dv_max_ratio", r.toString))
      dv.maxPending.foreach(n => m.put("dv_max_pending", n.toString))
    }
    if (snap.mapped) m.put("column_mapping", "id")
    if (snap.cdf) m.put("cdf", "true")
    if (snap.bloomCols.nonEmpty) m.put("bloom", snap.bloomCols.mkString(","))
    m
  }

  override def columns()
      : Array[org.apache.spark.sql.connector.catalog.Column] =
    // same idempotence as widen(): the delegate may already carry the
    // CDF columns via the round-tripped user-specified schema
    if (!cdf || delegate.schema.fieldNames.contains(
        GraftLakeDataSource.ChangeTypeCol)) delegate.columns()
    else delegate.columns() :+
      org.apache.spark.sql.connector.catalog.Column.create(
        GraftLakeDataSource.ChangeTypeCol,
        org.apache.spark.sql.types.StringType, true) :+
      org.apache.spark.sql.connector.catalog.Column.create(
        GraftLakeDataSource.CommitVersionCol,
        org.apache.spark.sql.types.LongType, true)
  private[engine] def dataSchema: StructType = delegate.dataSchema
  private[engine] def formatName: String = delegate.formatName
  private[engine] def supportsDataType(
      dt: org.apache.spark.sql.types.DataType): Boolean =
    delegate.supportsDataType(dt)

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, // versions as offsets, below
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, // epoch-tagged commits, below
      TableCapability.TRUNCATE, // INSERT OVERWRITE on the whole table
      TableCapability.OVERWRITE_BY_FILTER) // writeTo(...).overwrite(cond)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =
    // cdf: _change_type rides in BOTH schemas so the builder treats it
    // as a (files-absent → null) data column; the stream's reader
    // factory overwrites it with each partition's op constant
    new GraftLakeScanBuilder(spark, delegate.fileIndex, schema(),
      widen(delegate.dataSchema), merged(options), snap, cdf,
      // deletion vectors applying to THIS snapshot (version-bound:
      // time travel below a DV commit must not see it), restricted to
      // files the snapshot actually holds — once a rewrite/OPTIMIZE
      // materializes every vector away, scans are vectorized again
      // IMMEDIATELY, not only after vacuum sweeps the dead sidecars
      {
        val dv0 =
          if (!snap.dvEnabled) Map.empty[String, GraftLakeDvRef]
          else VersionedLake.dvRefs(spark, lakeDir, snap.version)
        if (dv0.isEmpty) dv0
        else {
          // keys are `entry…/fileName` relative paths — match by the
          // same-depth suffix of each live file's full path
          val segs = dv0.keysIterator.next().count(_ == '/') + 1
          // inputFiles reports URL-ENCODED URI strings; DV keys are
          // on-disk (decoded) relative paths — normalize before the
          // suffix match or an encodable partition value (a space, a
          // '#') would silently filter the vector out of the scan
          val live = delegate.fileIndex.inputFiles
            .map(p => GraftLakeDvScan.tailSegments(
              GraftLakeDvScan.decodedPathString(p), segs)).toSet
          dv0.filter { case (k, _) => live(k) }
        }
      })

  /** Batch writes go through the SAME commit protocol as the library:
    * tasks stage parquet into a fresh `d-*` dir via Spark's own
    * committer, and the driver-side `BatchWrite.commit` swings the
    * manifest CAS ([[VersionedLake.publish]]) — so `INSERT INTO`,
    * `INSERT OVERWRITE` and `df.write.format("graftlake")` are real
    * versioned commits: atomic (readers see the old tip until the
    * pointer lands), concurrency-safe (CAS retry), and vacuum-visible.
    * Streaming writes (`writeStream.format("graftlake")`) commit one
    * version per micro-batch through the SAME tag-deduplicated manifest
    * protocol as the library's exactly-once sinks — the transaction id
    * is (queryId, epochId), so a checkpoint replay no-ops
    * ([[GraftLakeStreamingWrite]]). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(!cdf, "a readChangeFeed handle is read-only")
    val mergedInfo = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = merged(info.options())
      override def queryId(): String = info.queryId()
      override def schema(): StructType = info.schema()
    }
    new GraftLakeWriteBuilder(this, snap, mergedInfo)
  }

  /** Whether row-level SQL routes MERGE-ON-READ: EVERY deletion-vector
    * lake — flat, partitioned, and column-mapped — publishes UPDATE /
    * MERGE / DELETE as positions sidecar + small append
    * ([[GraftLakeDeltaOperation]]; mapped lakes id-match the scan and
    * overlay field ids on the staged rewrite). Copy-on-write remains
    * for lakes without vectors. */
  private def deltaCapable: Boolean = snap.dvEnabled

  /** Row-address metadata columns — surfaced on every DV lake, served
    * by BOTH scan paths that can synthesize them: the row-level delta
    * scan and the plain batch read (which routes through the same
    * wrapper when a query projects them —
    * [[GraftLakeScanBuilder.pruneColumns]]). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (deltaCapable) GraftLakeDeltaOp.metadataColumns
    else Array.empty

  /** SQL `MERGE INTO` / `UPDATE` / a `DELETE` that [[canDeleteWhere]]
    * refuses: on EVERY deletion-vector lake — flat, partitioned,
    * column-mapped — MERGE-ON-READ ([[GraftLakeDeltaOperation]] —
    * O(changed rows) written, zero data rewritten); otherwise
    * group-based copy-on-write ([[GraftLakeRowLevelOperation]]):
    * Spark rewrites each into read-groups → mutate rows → replace-
    * groups, with the sidecars pruning unaffected dirs at runtime. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build()
          : org.apache.spark.sql.connector.write.RowLevelOperation =
        if (deltaCapable)
          new GraftLakeDeltaOperation(GraftLakeTable.this, spark, snap,
            info.command())
        else new GraftLakeRowLevelOperation(GraftLakeTable.this, spark,
          snap, info.command())
    }

  /** SQL `DELETE FROM` as a metadata commit
    * ([[VersionedLake.replaceWhere]], staging nothing) for every
    * condition that reaches the table whole: each pushed filter has an
    * exact replay ([[GraftLakeDelete.toColumn]]) and survives Spark's
    * V1 conversion faithfully ([[faithfulToV1]]). A condition on
    * partition columns only, or none (the truncate), drops whole entries
    * by manifest reference; any other rewrites the survivors of the
    * entries the sidecars cannot clear, and a no-match delete publishes
    * nothing. On a deletion-vector lake only the whole-entry drop is
    * taken. Everything else reports `canDeleteWhere = false` and Spark
    * plans the row-level operation: the merge-on-read DELETE on a
    * deletion-vector lake ([[GraftLakeDeltaOperation]]: positions
    * sidecar, zero data rewritten), otherwise the group-based
    * copy-on-write rewrite ([[GraftLakeRowLevelOperation]]) for a
    * predicate Spark cannot push (`user_id % 7 = 3`). */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => GraftLakeDelete.toColumn(schema(), f).isDefined) &&
      (!snap.dvEnabled ||
        GraftLakePartitions.partitionDecidable(filters, snap.partCols))

  /** GUARD against Spark's lossy V2→V1 predicate bridge:
    * `PredicateUtils.toV1` converts `OR(a, b)` with an untranslatable
    * side into JUST THE OTHER SIDE (a strictly stronger predicate),
    * and the default `SupportsDelete` bridge's only defense is an
    * outer array-length check an OR never trips. Unchecked, a
    * `DELETE WHERE id % 1000 = 1 OR v > 9998.5` arrives at
    * [[deleteWhere]] as `v > 9998.5` alone — a SILENT partial delete.
    * Accept a predicate only when its V1 conversion is FAITHFUL:
    * every OR/AND/NOT node's children must themselves convert (the
    * default leaf conversion is all-or-nothing, so only the boolean
    * connectives need the recursion). Refusal falls back to the
    * row-level plan, which is exact for every predicate. */
  private def faithfulToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.filter._
    p match {
      case o: Or => faithfulToV1(o.left()) && faithfulToV1(o.right())
      case a: And => faithfulToV1(a.left()) && faithfulToV1(a.right())
      case n: Not => faithfulToV1(n.child())
      case leaf =>
        org.apache.spark.sql.graft.PredicateBridge.toV1(leaf).isDefined
    }
  }

  override def canDeleteWhere(
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean =
    predicates.forall(faithfulToV1) && super.canDeleteWhere(predicates)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    VersionedLake.replaceWhere(spark, snap, filters.toSeq, Nil,
      VersionedLake.newDataDir())
    ()
  }
}

/** Pushed V1 filters, as the conditional rewrites read them: the exact
  * catalyst replay of a condition ([[toColumn]]), and the one closed
  * interval the conjuncts on one numeric column compose into
  * ([[translate]]), the stats bound of [[VersionedLake.entriesTouched]].
  * The interval is exact-or-refuse, so it never clears an entry holding
  * a row the condition matches: NULLs never match a range in either
  * engine; strict bounds become the adjacent representable double;
  * integral literals beyond 2^52 are refused because the interval
  * compares as double and would round. The one systematic divergence
  * is NaN: Spark orders NaN above +Infinity, so `c > v` with no upper
  * bound MATCHES NaN in catalyst but no closed [lo, hi] interval can —
  * ranges unbounded above on float/double columns are therefore not
  * translated and bound nothing. */
private[engine] object GraftLakeDelete {
  // the file imports catalyst's expressions of the same names; the
  // V1 pushdown filters need explicit qualification
  import org.apache.spark.sql.{sources => sf}
  import org.apache.spark.sql.sources.Filter
  import org.apache.spark.sql.types._

  private val MaxExactLong = 1L << 52

  private def asExactDouble(v: Any): Option[Double] = v match {
    case i: Int => Some(i.toDouble)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case l: Long =>
      if (math.abs(l) <= MaxExactLong) Some(l.toDouble) else None
    case f: Float if !f.isNaN => Some(f.toDouble)
    case d: Double if !d.isNaN => Some(d)
    case _ => None
  }

  /** Exact replay of one pushed V1 filter as a catalyst `Column` —
    * the full algebra Spark's own `DataSourceStrategy.translateFilter`
    * emits, so every condition that REACHES a data source (Spark
    * refuses to plan the untranslatable ones) evaluates here with
    * catalyst's exact semantics, three-valued logic included: the
    * filter was BORN from a catalyst expression, and this maps each
    * node back to the catalyst function it came from. Refuses (None)
    * any attribute not a top-level schema field and any future filter
    * node this version doesn't know — callers gate on `isDefined`
    * (`canOverwrite`), so unknown shapes fail analysis, never rows. */
  def toColumn(schema: StructType,
      f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    def ref(a: String): Option[Column] =
      if (schema.fields.exists(_.name == a))
        Some(col("`" + a.replace("`", "``") + "`"))
      else None
    def rec(f: Filter): Option[Column] = f match {
      case _: sf.AlwaysTrue => Some(lit(true))
      case _: sf.AlwaysFalse => Some(lit(false))
      case sf.And(a, b) => for {x <- rec(a); y <- rec(b)} yield x && y
      case sf.Or(a, b) => for {x <- rec(a); y <- rec(b)} yield x || y
      case sf.Not(a) => rec(a).map(!_)
      case sf.EqualTo(a, v) => ref(a).map(_ === lit(v))
      case sf.EqualNullSafe(a, v) => ref(a).map(_ <=> lit(v))
      case sf.GreaterThan(a, v) => ref(a).map(_ > lit(v))
      case sf.GreaterThanOrEqual(a, v) => ref(a).map(_ >= lit(v))
      case sf.LessThan(a, v) => ref(a).map(_ < lit(v))
      case sf.LessThanOrEqual(a, v) => ref(a).map(_ <= lit(v))
      case sf.In(a, vs) => ref(a).map(_.isin(vs.toSeq: _*))
      case sf.IsNull(a) => ref(a).map(_.isNull)
      case sf.IsNotNull(a) => ref(a).map(_.isNotNull)
      case sf.StringStartsWith(a, v) => ref(a).map(_.startsWith(v))
      case sf.StringEndsWith(a, v) => ref(a).map(_.endsWith(v))
      case sf.StringContains(a, v) => ref(a).map(_.contains(v))
      case _ => None
    }
    rec(f)
  }

  /** The interval `(column, lo, hi)` the `conjuncts` compose into, if
    * they are all bounds on one numeric top-level column. */
  def translate(schema: StructType,
      conjuncts: Seq[Filter]): Option[(String, Double, Double)] = {
    def numericTopLevel(a: String): Boolean =
      schema.fields.exists(f => f.name == a && (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType => true
        case _ => false
      }))
    def floating(a: String): Boolean =
      schema.fields.exists(f => f.name == a &&
        (f.dataType == FloatType || f.dataType == DoubleType))

    // each conjunct contributes one [lo, hi] bound on one column
    val bounds = conjuncts.map {
      case sf.EqualTo(a, v) => asExactDouble(v).map(d => (a, d, d))
      case sf.GreaterThan(a, v) =>
        asExactDouble(v).map(d =>
          (a, Math.nextUp(d), Double.PositiveInfinity))
      case sf.GreaterThanOrEqual(a, v) =>
        asExactDouble(v).map(d => (a, d, Double.PositiveInfinity))
      case sf.LessThan(a, v) =>
        asExactDouble(v).map(d =>
          (a, Double.NegativeInfinity, Math.nextDown(d)))
      case sf.LessThanOrEqual(a, v) =>
        asExactDouble(v).map(d => (a, Double.NegativeInfinity, d))
      // implied by any range (a range never matches NULL), and alone
      // it is the full non-null interval
      case sf.IsNotNull(a) =>
        Some((a, Double.NegativeInfinity, Double.PositiveInfinity))
      case _ => None
    }
    if (bounds.isEmpty || bounds.exists(_.isEmpty)) return None
    val bs = bounds.flatten
    val col = bs.head._1
    if (!bs.forall(_._1 == col) || !numericTopLevel(col)) return None
    val lo = bs.map(_._2).max
    val hi = bs.map(_._3).min
    // NaN divergence (see scaladoc): refuse unbounded-above floats
    if (floating(col) && hi.isPosInfinity) return None
    Some((col, lo, hi))
  }
}

/** WriteBuilder for the lake: append by default, `truncate()` (what
  * Spark plans for `INSERT OVERWRITE` / `mode("overwrite")` on an
  * unpartitioned table) becomes a manifest-level overwrite — the new
  * version's live set is just the staged dir; old dirs stay readable
  * through time travel until vacuum.
  *
  * `overwrite(filters)` — what Spark plans for
  * `df.writeTo("glake.t").overwrite(cond)` (replaceWhere) — becomes ONE
  * atomic versioned commit: rows matching the condition are deleted,
  * the new data appended, published together as a single manifest swap.
  * The condition is evaluated EXACTLY (the full pushed-filter algebra,
  * [[GraftLakeDelete.toColumn]]) by the one conditional rewrite,
  * [[VersionedLake.replaceWhere]], the commit of SQL `DELETE`,
  * [[VersionedLake.deleteRange]] and [[VersionedLake.replaceWhereIn]]
  * too: a partition condition swaps whole entries by manifest
  * reference, any other rewrites only the survivors of the entries the
  * sidecars cannot clear, and every other entry carries by reference. */
final class GraftLakeWriteBuilder(table: GraftLakeTable, snap: Snapshot,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  extends org.apache.spark.sql.connector.write.WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsOverwrite {

  private var mode = "append"
  private var replaceCond: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    mode = "overwrite"; replaceCond = Array.empty; this
  }

  // exact-or-refuse, consulted by Spark BEFORE overwrite(): a filter
  // shape toColumn cannot replay exactly surfaces as a clean analysis
  // error ("table does not support overwrite by filter"), never a
  // wrong-rows commit
  override def canOverwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f =>
      GraftLakeDelete.toColumn(table.schema(), f).isDefined)

  override def overwrite(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(canOverwrite(filters),
      "graftlake overwrite-by-filter got an untranslatable condition " +
        s"(Spark should have consulted canOverwrite): ${filters.mkString(", ")}")
    mode = "replace"; replaceCond = filters; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write = {
    // same dir shape as VersionedLake.commit — compaction, vacuum and
    // the racing-writer specs treat every d-* dir uniformly
    val dataDir = s"d-${java.util.UUID.randomUUID.toString.take(12)}"
    val (lakeDir, partCols, mapped) = (snap.dir, snap.partCols, snap.mapped)
    val inner: org.apache.spark.sql.connector.write.Write =
      if (partCols.isEmpty && !mapped)
        org.apache.spark.sql.execution.datasources.v2.parquet
          .ParquetWrite(Seq(s"$lakeDir/$dataDir"), table.formatName,
            table.supportsDataType _, info)
      // the custom write also serves MAPPED tables (field-id overlay)
      else new GraftLakePartitionedWrite(s"$lakeDir/$dataDir", info,
        partCols.map(_.name),
        s"graftlake partitioned $mode $lakeDir (staging $dataDir)",
        if (mapped) Some(table.schema()) else None)
    new GraftLakeWrite(inner, info, snap, dataDir, mode,
      table.schema(), replaceCond)
  }
}

/** The staged write: execution is byte-for-byte Spark's parquet V2
  * write into the staging dir (task commits, speculation, the lot);
  * the ONLY addition is the driver-side manifest publish after the
  * file committer lands — the same two-phase shape as
  * [[VersionedLake.commit]] (durable data dir, then pointer CAS). An
  * abort deletes the staging dir; a crash between file-commit and
  * manifest-publish leaves an unreferenced dir that no reader ever
  * sees and vacuum sweeps. */
final class GraftLakeWrite(
    inner: org.apache.spark.sql.connector.write.Write,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    snap: Snapshot, dataDir: String, mode: String,
    tableSchema: StructType,
    replaceCond: Array[org.apache.spark.sql.sources.Filter])
  extends org.apache.spark.sql.connector.write.Write
  with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory,
    PhysicalWriteInfo, WriterCommitMessage}

  private val (lakeDir, partCols) = (snap.dir, snap.partCols)

  override def description(): String =
    s"graftlake $mode $lakeDir (staging $dataDir)"

  // a partitioned staging write needs rows ordered by the partition
  // columns (one open file per task); unpartitioned is a no-op
  override def requiredDistribution
      : org.apache.spark.sql.connector.distributions.Distribution =
    inner match {
      case r: org.apache.spark.sql.connector.write
        .RequiresDistributionAndOrdering => r.requiredDistribution
      case _ => org.apache.spark.sql.connector.distributions.Distributions
        .unspecified()
    }
  override def requiredOrdering
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    inner match {
      case r: org.apache.spark.sql.connector.write
        .RequiresDistributionAndOrdering => r.requiredOrdering
      case _ => Array.empty
    }

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    import scala.jdk.CollectionConverters._
    require(mode != "replace", // unreachable: no streaming plan builds it
      "overwrite-by-filter is a batch operation; streams append (or " +
        "truncate per batch in Complete mode)")
    // the batch staging dir allocated by the builder is unused here (a
    // name only — nothing touches disk until tasks write); streaming
    // stages per-epoch files under _stage and commits per epoch instead.
    // Partitioned lakes route each epoch's rows into c=v leaf files and
    // publish one manifest entry per (epoch, partition leaf) — the
    // reference's flagship micro-batch-into-Y/M/D shape.
    new GraftLakeStreamingWrite(snap, info.schema(),
      info.queryId(), mode,
      info.options().asCaseSensitiveMap().asScala.toMap,
      Some(tableSchema))
  }

  override def toBatch: BatchWrite = new BatchWrite {
    private val innerBatch = inner.toBatch
    override def createBatchWriterFactory(p: PhysicalWriteInfo)
        : DataWriterFactory = innerBatch.createBatchWriterFactory(p)
    override def useCommitCoordinator: Boolean =
      innerBatch.useCommitCoordinator
    override def onDataWriterCommit(m: WriterCommitMessage): Unit =
      innerBatch.onDataWriterCommit(m)
    override def commit(msgs: Array[WriterCommitMessage]): Unit = {
      innerBatch.commit(msgs) // file committer: task temps -> staging dir
      val spark = SparkSession.active
      if (mode == "replace") {
        // the staged rows replace the rows the condition matches
        VersionedLake.replaceWhere(spark, snap, replaceCond.toSeq,
          if (partCols.isEmpty) Seq(dataDir)
          else GraftLakePartitions.stagedEntries(spark, lakeDir, dataDir,
            partCols.length), dataDir)
        return
      }
      if (partCols.nonEmpty) { commitPartitioned(spark); return }
      // every DML commit is auto-indexed (numeric range stats + the
      // lake's declared bloom columns, VersionedLake.indexStagedEntries)
      // — INSERT'd data is immediately skippable through the same
      // sidecar paths as library-indexed commits
      VersionedLake.indexStagedEntries(spark, lakeDir, Seq(dataDir),
        info.schema(), snap.bloomCols)
      VersionedLake.publish(spark, lakeDir, Commit(Seq(dataDir),
        replaceAll = mode == "overwrite",
        schema = Declared(Some(tableSchema.json))))
      ()
    }

    /** Partitioned append or overwrite: the dynamic-partition writer
      * laid the staged rows out as `c=v` leaf dirs; publish one manifest
      * entry per leaf, each with its own stats/bloom sidecars. A
      * zero-row append publishes nothing; a zero-row overwrite publishes
      * the schema carrier. */
    private def commitPartitioned(spark: SparkSession): Unit = {
      val staged = GraftLakePartitions.stagedEntries(spark, lakeDir,
        dataDir, partCols.length)
      if (staged.isEmpty && mode == "append") return
      val entries =
        if (staged.nonEmpty) {
          VersionedLake.indexStagedEntries(spark, lakeDir, staged,
            snap.dataColumns(info.schema()), snap.bloomCols)
          staged
        } else Seq(GraftLakePartitions.seedEmpty(spark, lakeDir, dataDir,
          info.schema(), partCols, snap.bloomCols))
      VersionedLake.publish(spark, lakeDir, Commit(entries,
        replaceAll = mode == "overwrite",
        schema = Declared(Some(tableSchema.json))))
      ()
    }

    override def abort(msgs: Array[WriterCommitMessage]): Unit = {
      innerBatch.abort(msgs)
      val p = new Path(s"$lakeDir/$dataDir")
      p.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration).delete(p, true)
      ()
    }
  }
}

/** ParquetScanBuilder that builds a [[GraftLakeParquetScan]] — same
  * pushdown surface for columns and catalyst filters, the built scan
  * merely knows how to serve micro-batches too; aggregates are pushed
  * only when the stats sidecars answer them ([[pushAggregation]]). */
final class GraftLakeScanBuilder(spark: SparkSession,
    fileIndex: PartitioningAwareFileIndex, schema: StructType,
    dataSchema: StructType, options: CaseInsensitiveStringMap,
    snap: Snapshot, cdf: Boolean = false,
    dvRefs: Map[String, GraftLakeDvRef] = Map.empty)
  extends org.apache.spark.sql.execution.datasources.v2.parquet
    .ParquetScanBuilder(spark, fileIndex, schema, dataSchema, options) {
  private val lakeDir = snap.dir

  /** `SELECT count(*), min(c), max(c)` answered from the stats
    * sidecars while planning: [[build]] then returns a [[LocalScan]]
    * holding the one answer row, planned as a `LocalTableScanExec`,
    * so no data file is opened. Served when, decided before any IO
    * ([[statsShape]]): the aggregates are COUNT(*) and MIN/MAX of
    * top-level integral data columns, with no GROUP BY, no data
    * filter (Spark offers the aggregate only once every filter is
    * pushed fully, so partition filters are in), no change feed and
    * no deletion vector (sidecar rows still count deleted ones). The
    * snapshot is the files `fileIndex.listFiles(partitionFilters,
    * Nil)` admits, folded by [[VersionedLake.foldStats]] — the fold
    * `statsAggregate` uses; it must find a stats line for every file
    * (for every MIN/MAX column) in sidecars carrying
    * [[VersionedLake.StatsHeader]], and long bounds inside ±2^53,
    * where the sidecar's doubles are exact, or the aggregate is
    * refused and runs over the plain scan. No other aggregate is
    * pushed. A pushed one never meets a requested row-address column
    * (positions are per row; V2ScanRelationPushDown pushes aggregates
    * BEFORE pruneColumns populates metaCols, so build() checks it
    * where both facts are finally known). */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    statsRow = statsShape(aggregation).flatMap(foldSidecars(aggregation, _))
    statsRow.nonEmpty
  }

  /** A served shape is answered whole: its row carries the aggregates'
    * own result types, so Spark adds no final aggregate. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    statsShape(aggregation).nonEmpty

  /** The pushed aggregation's schema and answer row, once
    * [[pushAggregation]] served it from the sidecars. */
  @volatile private var statsRow: Option[(Aggregation, StructType,
    org.apache.spark.sql.catalyst.InternalRow)] = None

  /** Per aggregate, None for COUNT(*) or the MIN/MAX column (with true
    * for MAX) — or None overall when the shape is not served. No IO. */
  private def statsShape(aggregation: Aggregation)
      : Option[Seq[Option[(org.apache.spark.sql.types.StructField, Boolean)]]] = {
    import org.apache.spark.sql.connector.expressions.{Expression,
      NamedReference}
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar,
      Max, Min}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType}
    def integral(e: Expression) = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        dataSchema.fields.find(_.name == r.fieldNames.head).filter(f =>
          Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType))
      case _ => None
    }
    if (cdf || dvRefs.nonEmpty || metaCols.nonEmpty || dataFilters.nonEmpty ||
        aggregation.groupByExpressions.nonEmpty) None
    else {
      val shape = aggregation.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(None)
        case m: Min => integral(m.column).map(f => Some((f, false)))
        case m: Max => integral(m.column).map(f => Some((f, true)))
        case _ => None
      }
      if (shape.forall(_.nonEmpty)) Some(shape.flatten) else None
    }
  }

  /** The answer row of a served `shape`, folded from the sidecars of
    * the files the snapshot admits; None when a file has no line. */
  private def foldSidecars(aggregation: Aggregation,
      shape: Seq[Option[(org.apache.spark.sql.types.StructField, Boolean)]])
      : Option[(Aggregation, StructType,
        org.apache.spark.sql.catalyst.InternalRow)] = {
    import org.apache.spark.sql.types._
    val probe = fileIndex match {
      case g: GraftLakeFileIndex => g.probe
      case _ => return None
    }
    val byDir = fileIndex.listFiles(partitionFilters, Nil)
      .flatMap(_.files).map(_.getPath)
      .groupBy(p => probe.entryOf(p.getParent)).toSeq
    /** Every file's line of one sidecar lookup per dir, or None at the
      * first dir that lacks one: a missing sidecar is not cached, so a
      * lake without stats pays one lookup per plan, not one per dir. */
    def lines[T](lookup: String => Map[String, T]): Option[Seq[T]] =
      Some(byDir.flatMap { case (d, ps) =>
        val byFile = lookup(d)
        ps.map(p => byFile.getOrElse(p.getName, return None))
      })
    // every dir past this carries the header, so its ranges are exact
    val rows = lines(VersionedLake.fileStatsRows(spark, lakeDir, _))
      .getOrElse(return None).sum
    val bounds = shape.flatten.map(_._1).distinct.map { f =>
      val ranges = lines(probe.stats(_, f.name)).getOrElse(return None)
      // a stored double of magnitude 2^53 or more may be a rounded long
      if (f.dataType == LongType && ranges.exists(r => r._1 <= r._2 &&
          math.max(math.abs(r._1), math.abs(r._2)) >= (1L << 53)))
        return None
      f.name -> VersionedLake.foldStats(ranges)._2
    }.toMap
    val values = shape.map {
      case None => rows
      case Some((f, isMax)) =>
        bounds(f.name).map[Any] { case (mn, mx) =>
          val v = if (isMax) mx else mn
          f.dataType match {
            case ByteType => v.toByte
            case ShortType => v.toShort
            case IntegerType => v.toInt
            case _ => v.toLong
          }
        }.orNull
    }
    val schema = StructType(shape.zipWithIndex.map {
      case (None, i) => StructField(s"agg_func_$i", LongType, nullable = false)
      case (Some((f, _)), i) => StructField(s"agg_func_$i", f.dataType)
    })
    Some((aggregation, schema,
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(values)))
  }

  /** Row-address metadata columns (`__graft_file`/`__graft_pos`,
    * advertised on DV lakes via [[GraftLakeTable.metadataColumns]])
    * requested by THIS query. They are synthesized, not stored: strip
    * them out of what reaches the parquet reader and route build() to
    * the delta scan — an ordinary scan would read all-NULLs for
    * columns declared non-nullable (silently wrong results). */
  @volatile private var metaCols: Seq[String] = Seq.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val (meta, data) = requiredSchema.fields.partition(f =>
      GraftLakeDeltaOp.isMetaCol(f.name))
    metaCols = meta.map(_.name).toSeq
    super.pruneColumns(StructType(data))
  }

  override def build()
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    if (metaCols.nonEmpty) {
      // an aggregate answered from per-file stats under a synthesized
      // row-address column would answer per-FILE where the query asks
      // per-ROW — fail loudly if Spark's pushdown ordering ever lets
      // both in
      require(statsRow.isEmpty, "aggregate pushdown cannot combine " +
        "with row-address metadata columns (stats are per file, " +
        "addresses are per row)")
      // row-address projection: single-file partitions + synthesized
      // address columns + DV application — the SAME wrapper the
      // row-level operations scan through. Batch-only by construction
      // (the streaming source replays versions, where a row's address
      // is not a stable identity; GraftLakeDeltaScan implements no
      // toMicroBatchStream, so a readStream projecting __graft_* fails
      // loudly instead of mis-addressing).
      require(!cdf, "row-address columns are a snapshot-read surface; " +
        "the change feed delivers _change_type events instead")
      return new GraftLakeDeltaScan(dvRefs, super.build(), snap,
        metaCols)
    }
    statsRow.foreach { case (aggregation, schema, row) =>
      return new GraftLakeStatsScan(super.build(), aggregation, schema, row)
    }
    def intOpt(k: String): Option[Int] =
      Option(options.get(k)).map(_.trim.toInt)
    Seq(GraftLakeDataSource.MaxVersionsPerTrigger,
        GraftLakeDataSource.MaxFilesPerTrigger).foreach(k =>
      intOpt(k).foreach(n => require(n > 0, s"$k must be positive, got $n")))
    val fromTs = Option(
      options.get(GraftLakeDataSource.StartingTimestamp)).map { raw =>
      require(intOpt(GraftLakeDataSource.StartingVersion).isEmpty,
        "startingVersion and startingTimestamp are mutually exclusive")
      val tsMillis = GraftLakeDataSource.parseTsOption(raw,
        GraftLakeDataSource.StartingTimestamp)
      // first version published AT/AFTER the instant: one past the
      // newest version published BEFORE it (none before → from v1;
      // instant past the tip → tip+1, only future commits deliver)
      VersionedLake.versionAt(spark, lakeDir, tsMillis - 1)
        .map(_ + 1).getOrElse(1)
    }
    val skip = Option(options.get(GraftLakeDataSource.SkipChangeCommits))
      .exists(_.trim.equalsIgnoreCase("true"))
    require(!(cdf && skip),
      s"${GraftLakeDataSource.ReadChangeFeed} delivers change commits " +
        s"as tagged events; ${GraftLakeDataSource.SkipChangeCommits} " +
        "drops them — pick one")
    val failOnLoss = Option(
      options.get(GraftLakeDataSource.FailOnDataLoss))
      .forall(!_.trim.equalsIgnoreCase("false"))
    new GraftLakeParquetScan(super.build(), snap,
      fromTs.orElse(intOpt(GraftLakeDataSource.StartingVersion))
        .getOrElse(1),
      intOpt(GraftLakeDataSource.MaxVersionsPerTrigger),
      intOpt(GraftLakeDataSource.MaxFilesPerTrigger),
      skip, cdf, failOnLoss, dvRefs)
  }
}

/** An aggregate answered from the stats sidecars while planning
  * ([[GraftLakeScanBuilder.pushAggregation]]): a [[LocalScan]] of its
  * one row, which Spark plans as a `LocalTableScanExec`. It is a
  * ParquetScan only because the builder's `build()` must return one;
  * the pushed aggregation is part of its identity and its explain. */
final class GraftLakeStatsScan(
    base: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    aggregation: Aggregation, schema: StructType,
    row: org.apache.spark.sql.catalyst.InternalRow)
  extends org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
    base.sparkSession, base.hadoopConf, base.fileIndex, base.dataSchema,
    schema, base.readPartitionSchema, base.pushedFilters, base.options,
    Some(aggregation), base.partitionFilters, base.dataFilters,
    base.pushedVariantExtractions)
  with LocalScan {
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    Array(row)
}

/** ParquetScan + `toMicroBatchStream`: batch execution is byte-for-byte
  * the parent's (same reader factory, same partitions); only the
  * streaming entry point is added. */
final class GraftLakeParquetScan(
    base: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    snap: Snapshot, startingVersion: Int,
    maxVersionsPerTrigger: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    skipChangeCommits: Boolean = false,
    cdf: Boolean = false,
    failOnDataLoss: Boolean = true,
    dvRefs: Map[String, GraftLakeDvRef] = Map.empty)
  extends org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
    base.sparkSession, base.hadoopConf, base.fileIndex, base.dataSchema,
    base.readDataSchema, base.readPartitionSchema, base.pushedFilters,
    base.options, base.pushedAggregate, base.partitionFilters,
    base.dataFilters, base.pushedVariantExtractions)
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftLakeMicroBatchStream(this, snap, startingVersion,
      maxVersionsPerTrigger, maxFilesPerTrigger, skipChangeCommits, cdf,
      failOnDataLoss)

  /** CDF is a STREAMING shape (versions as offsets, per-commit
    * partitions); a batch `_change_type` read would silently be all
    * null — refuse with the right tool's name instead. */
  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    require(!cdf,
      s"${GraftLakeDataSource.ReadChangeFeed} is a readStream option; " +
        "batch change feeds are VersionedLake.changes(fromV, toV)")
    super.toBatch
  }

  /** Runtime (join-driven) file pruning — dynamic partition pruning's
    * V2 hook, answered from the SAME sidecars as static pushdown: when
    * this scan joins a filtered dimension on a declared attribute,
    * Spark re-plans the scan at execution with `IN (build-side keys)`,
    * and files whose stats range excludes every key (or whose bloom
    * rejects every key) are dropped WITHOUT reading them. This is the
    * 100 TB shape for "fact lake ⋈ filtered dim": static pushdown
    * cannot see the dim's keys at plan time, so without it the lake
    * pays a full scan no matter how selective the dim filter is. */
  @volatile private var runtimeAdmit: Option[Path => Boolean] = None

  /** All atomic top-level read columns — DATA columns (a sidecar may
    * exist for any) plus PARTITION columns (pruned from the manifest
    * entry values, the dynamic-partition-pruning shape). A declared-
    * but-unindexed column degrades to no pruning (every file admitted)
    * — conservative, never wrong. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    (readDataSchema.fields ++ readPartitionSchema.fields).collect {
      case f if GraftLakeFileIndex.runtimeProbeable(f.dataType) =>
        org.apache.spark.sql.connector.expressions.Expressions
          .column(f.name)
    }
  }

  override def filter(predicates
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val ins = GraftLakeDataSource.parseInPredicates(predicates, 10000)
    if (ins.nonEmpty) fileIndex match {
      case g: GraftLakeFileIndex =>
        runtimeAdmit = Some(p => ins.forall { case (c, vs) =>
          g.admitAnyOf(p, c, vs) })
      case _ => ()
    }
  }

  override def partitions
      : Seq[org.apache.spark.sql.execution.datasources.FilePartition] = {
    val ps = super.partitions
    val admitted = runtimeAdmit match {
      case None => ps
      case Some(adm) =>
        // REINDEX the survivors: an RDD partition's `index` must equal
        // its position in the array — filtering with original indices
        // kept would leave gaps and break that contract downstream
        ps.flatMap { fp =>
          val kept = fp.files.filter(pf => adm(pf.toPath))
          if (kept.isEmpty) None else Some(kept)
        }.zipWithIndex.map { case (files, i) =>
          org.apache.spark.sql.execution.datasources.FilePartition(i, files)
        }
    }
    // DV-carrying files read alone (per-file positions — see
    // GraftLakeDvScan); clean files keep their grouping
    GraftLakeDvScan.isolate(admitted, dvRefs)
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    if (dvRefs.isEmpty) super.createReaderFactory()
    else GraftLakeDvScan.readerFactory(this)

  /** The un-vectored factory — the STREAMING replay's reader: a
    * version's events replay as committed (the DV delete is its own
    * change event; applying the vector to an earlier version's insert
    * replay would under-deliver it AND double-count the delete). */
  private[engine] def plainReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    super.createReaderFactory()

  /** DV-NET statistics: the inherited file-size estimate counts bytes
    * of rows pending vectors have already deleted, so join planning on
    * a heavily-vectored lake over-estimates the build side and a
    * broadcast-able table shuffles. Subtract each vectored file's
    * deleted fraction (sidecar position count over footer row count —
    * both O(DV files), memoized metadata) from the size estimate.
    * Conservative on any unknown: a failed footer read leaves that
    * file unadjusted. The default pending bound caps how wrong the
    * unadjusted estimate could ever get; this makes it right. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    GraftLakeDvScan.netStatistics(super.estimateStatistics(), dvRefs,
      fileIndex, sparkSession.sessionState.newHadoopConf())
}

/** Version offset: the stream's progress IS a published lake version. */
final case class GraftLakeOffset(v: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** Incremental lake consumption — `spark.readStream.format("graftlake")`
  * turns the versioned lake into a STREAM of its own commits (Delta's
  * streaming-source shape; the production "process only what's new
  * since yesterday" path without a rescan):
  *
  *  - offsets are version numbers; a micro-batch covers the versions
  *    published in `(start, end]` and reads EXACTLY the data dirs those
  *    manifests added — the [[VersionedLake.changes]] append fast path,
  *    O(delta) from manifest metadata, zero row-level comparison;
  *  - exactly-once follows from offsets-in-checkpoint + immutable data
  *    dirs: a replayed batch re-reads the same manifest delta
  *    bit-for-bit;
  *  - a history step that DROPS dirs between consumed versions
  *    (overwrite, compaction, deleteRange) fails loudly: silently
  *    re-reading rewritten data would double-deliver rows — the caller
  *    chooses a fresh checkpoint (reprocess) instead, Delta's
  *    `ignoreChanges` refusal semantics;
  *  - `startingVersion` option (inclusive, default 1) bounds the
  *    initial backfill; vacuumed-away manifests below it fail with the
  *    retention error rather than silently skipping data;
  *  - `maxVersionsPerTrigger` / `maxFilesPerTrigger` admission control
  *    ([[org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]])
  *    drains a backlog as BOUNDED micro-batches instead of one giant
  *    catch-up batch — each batch a durable checkpoint, peak state
  *    bounded by the cap, a retry repeating only its own batch. The
  *    decision is metadata-only (manifest diff + memoized dir list);
  *    AvailableNow captures the tip at start and drains rate-limited
  *    batches up to exactly there.
  *
  * Reader machinery is the wrapped ParquetScan's own factory over a
  * per-batch file index of the added dirs — the streaming path reuses
  * the native vectorized reader like everything else here. */
final class GraftLakeMicroBatchStream(scan: GraftLakeParquetScan,
    snap: Snapshot, startingVersion: Int,
    maxVersionsPerTrigger: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    skipChangeCommits: Boolean = false,
    cdf: Boolean = false,
    failOnDataLoss: Boolean = true)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming
    .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit,
    Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles}
  import org.apache.spark.sql.connector.read.InputPartition

  private def spark = scan.sparkSession
  private val lakeDir = snap.dir

  override def initialOffset(): Offset = GraftLakeOffset(startingVersion - 1)

  /** Published tip, floored at initialOffset: with startingVersion
    * ahead of the published tip, reporting the (smaller) tip would
    * checkpoint a REGRESSED offset, and versions published later would
    * be delivered from the regressed point — including the ones
    * startingVersion asked to skip. */
  private def publishedTip: Int = {
    val t = VersionedLake.tip(spark, lakeDir)
    math.max(startingVersion - 1, t.getOrElse(startingVersion - 1))
  }

  override def latestOffset(): Offset = GraftLakeOffset(publishedTip)

  /** Offset-planning retention check: a lagging consumer whose next
    * batch needs a vacuum-expired version fails HERE with the
    * retention-contract error — never a raw missing-path error from
    * deep inside a scan — and `failOnDataLoss=false` opts into
    * resuming from the oldest readable version (commits expired in
    * between are LOST to this consumer, logged). Returns the effective
    * start offset the walk proceeds from. One existence probe on the
    * happy path. */
  private def retentionCheckedStart(from: Int): Int = {
    val probe = math.max(from, 1)
    if (probe > publishedTip ||
        VersionedLake.versionExists(spark, lakeDir, probe)) from
    else {
      val lo = VersionedLake.versionRange(spark, lakeDir)
        .fold(publishedTip)(_._1)
      if (failOnDataLoss)
        throw new IllegalStateException(
          s"stream over $lakeDir needs version $probe but retention " +
            s"(vacuum) expired it — the oldest readable version is " +
            s"$lo. Restart from a fresh checkpoint (optionally with " +
            s"${GraftLakeDataSource.StartingVersion} >= $lo) to " +
            s"reprocess, or set ${GraftLakeDataSource.FailOnDataLoss}" +
            "=false to skip the expired commits (their rows are lost " +
            "to this consumer)")
      System.err.println(
        s"[graftlake] WARN stream over $lakeDir skipping expired " +
          s"versions $probe..$lo (failOnDataLoss=false): their rows " +
          "are lost to this consumer")
      lo
    }
  }

  // ---- admission control (rate limiting) ------------------------------
  //
  // Without it, a fresh checkpoint against a deep lake admits the ENTIRE
  // backlog as one micro-batch — at 100 TB that is one giant batch that
  // must succeed whole (no incremental checkpoint progress, peak shuffle
  // state proportional to the backlog, a retry repeats everything).
  // With a cap, the backlog drains as bounded batches, each a durable
  // checkpoint — the same reason Delta ships maxFilesPerTrigger.

  /** Versions the lake had when an AvailableNow run started: the run
    * drains rate-limited batches UP TO this tip, then stops — versions
    * published mid-run wait for the next run (the AvailableNow
    * contract). */
  @volatile private var availableNowTip: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTip = Some(publishedTip)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  /** True published tip regardless of rate limit — the lag the progress
    * metrics report. */
  override def reportLatestOffset(): Offset = GraftLakeOffset(publishedTip)

  /** Parquet files a version ADDED over its predecessor — metadata only
    * (one manifest diff + one dir list), memoized for the stream's
    * lifetime: data dirs are immutable once published, so a count never
    * changes. */
  private val addedFilesMemo =
    scala.collection.mutable.HashMap.empty[Int, Int]

  /** Fill the memo for `(from, end]` in ONE incremental manifest walk
    * (resolve `from` once, then one small read per version) — the
    * per-trigger admission cost; per-version random-access resolution
    * would pay the delta-replay walk for EVERY candidate version. */
  private def ensureAddedFileCounts(from: Int, end: Int): Unit =
    synchronized {
      if ((from + 1 to end).forall(addedFilesMemo.contains)) return
      val f = new Path(lakeDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(dirs: Iterable[String]): Int =
        dirs.map(d => f.listStatus(new Path(s"$lakeDir/$d"))
          .count(_.getPath.getName.endsWith(".parquet"))).sum
      var prev: Seq[String] =
        if (from <= 0) Seq.empty
        else VersionedLake.manifestEntries(spark, lakeDir, from)
      var v = from + 1
      while (v <= end) {
        val (cur, layoutOnly, isDv) =
          VersionedLake.manifestStep(spark, lakeDir, prev, v)
        if (!addedFilesMemo.contains(v)) {
          // layout-only commits deliver nothing (planInputPartitions
          // skips them), so they weigh nothing against the admission
          // cap; under skipChangeCommits the same holds for
          // data-changing rewrites and deletion-vector commits
          val prevSet = prev.toSet
          val removed = prevSet.diff(cur.toSet)
          val skipped =
            layoutOnly ||
              (skipChangeCommits && (removed.nonEmpty || isDv))
          val c =
            if (skipped) 0
            // a change feed also DELIVERS the rewrite's pre-image
            // dirs, so they weigh against the cap like the added ones;
            // a DV commit delivers its (small) change sidecar
            else if (isDv) 1
            else files(cur.filterNot(prevSet)) +
              (if (cdf) files(removed) else 0)
          addedFilesMemo.put(v, c)
          ()
        }
        prev = cur
        v += 1
      }
    }

  private def addedFileCount(v: Int): Int =
    synchronized(addedFilesMemo(v))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = retentionCheckedStart(start.asInstanceOf[GraftLakeOffset].v)
    // an AvailableNow run never passes its captured tip (min: a vacuum
    // cannot shrink the published tip, but defensive beats regressed)
    val tip = availableNowTip.fold(publishedTip)(math.min(_, publishedTip))
    if (tip <= from) return GraftLakeOffset(from)
    var end = tip
    maxVersionsPerTrigger.foreach(n => end = math.min(end, from + n))
    def fileCapOf(l: ReadLimit): Option[Int] = l match {
      case m: ReadMaxFiles => Some(m.maxFiles())
      case c: CompositeReadLimit =>
        c.getReadLimits.toSeq.flatMap(fileCapOf).reduceOption(math.min)
      case _: ReadAllAvailable => None
      case _ => None // minRows etc.: nothing to admit-limit on versions
    }
    fileCapOf(limit).foreach { cap =>
      ensureAddedFileCounts(from, end)
      var admitted = from
      var files = 0
      var v = from + 1
      while (v <= end &&
          // first pending version always admitted whole: progress even
          // when one commit alone exceeds the cap (Delta's contract)
          (admitted == from || files + addedFileCount(v) <= cap)) {
        files += addedFileCount(v); admitted = v; v += 1
      }
      end = admitted
    }
    GraftLakeOffset(end)
  }

  override def deserializeOffset(json: String): Offset =
    GraftLakeOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = retentionCheckedStart(start.asInstanceOf[GraftLakeOffset].v)
    val to = end.asInstanceOf[GraftLakeOffset].v
    if (to <= from) return Array.empty
    // Version-by-version walk over (from, to] (version 0 is "before
    // the first commit"; a vacuumed-away manifest in the range fails
    // with the retention error rather than silently re-delivering).
    // Each version contributes its ADDED dirs — except LAYOUT-ONLY
    // commits (compaction/Z-order, `dataChange=false`), which preserve
    // every row and contribute NOTHING: their rewritten output mixes
    // already-delivered rows with pending ones, so the batch keeps
    // reading the pending ORIGINAL dirs (immutable, still on disk
    // until vacuum — the same retention-vs-lag contract as the
    // manifests themselves). Only a DATA-changing rewrite (overwrite,
    // COW DML, replaceWhere) still refuses: re-reading rewritten rows
    // would double-deliver, and skipping them would lose data —
    // Delta's ignoreChanges refusal, scoped now to genuine changes.
    // incremental walk: resolve the START version once, then advance
    // with one manifest read per version (manifestStep) — never a
    // delta-chain re-resolution per version
    var prevSeq: Seq[String] =
      if (from <= 0) Seq.empty[String]
      else VersionedLake.manifestEntries(spark, lakeDir, from)
    var prev: Set[String] = prevSeq.toSet
    // sidecar-aware per-batch index + the scan's own pushed data
    // filters: a filtered stream prunes each batch's files through the
    // same stats/bloom path as a batch read (metadata-only decision;
    // files without sidecars are conservatively read)
    def planDirs(paths: Seq[Path]): Seq[
        org.apache.spark.sql.execution.datasources.FilePartition] =
      if (paths.isEmpty) Seq.empty
      else scan.copy(
        fileIndex = new GraftLakeFileIndex(spark, snap, paths),
        partitionFilters = Nil, dataFilters = scan.dataFilters)
        .planInputPartitions().toSeq.collect {
          case fp: org.apache.spark.sql.execution.datasources
            .FilePartition => fp
        }
    def entryPaths(dirs: Seq[String]): Seq[Path] =
      dirs.map(d => new Path(s"$lakeDir/$d"))
    // row-level sidecar dirs on a PARTITIONED lake: plain listing (no
    // partition spec — the sidecar dir has no `c=v` layout) and the
    // partition columns read from the FILE BYTES via the widened data
    // schema; the emitted row layout (data..., cdf..., partition...)
    // is byte-identical to the normal scan's
    def planSidecar(p: Path): Seq[
        org.apache.spark.sql.execution.datasources.FilePartition] =
      scan.copy(
        fileIndex = new org.apache.spark.sql.execution.datasources
          .InMemoryFileIndex(spark, Seq(p), Map.empty, None),
        partitionFilters = Nil, dataFilters = Nil,
        readDataSchema = StructType(
          scan.readDataSchema.fields ++ scan.readPartitionSchema.fields),
        readPartitionSchema = new StructType())
        .planInputPartitions().toSeq.collect {
          case fp: org.apache.spark.sql.execution.datasources
            .FilePartition => fp
        }
    val pending = scala.collection.mutable.LinkedHashSet.empty[String]
    // CDF groups in COMMIT ORDER: (partitions, op, version) — an
    // order-applying consumer must see each commit's deletes before
    // its inserts and commits in sequence, never all-deletes-then-
    // all-inserts across the whole batch
    val cdfGroups = scala.collection.mutable.ArrayBuffer.empty[
      (Seq[org.apache.spark.sql.execution.datasources.FilePartition],
        String, Int)]
    val partitionedLake = snap.partCols.nonEmpty
    var v = from + 1
    while (v <= to) {
      val (cur, layoutOnly, isDv) =
        VersionedLake.manifestStep(spark, lakeDir, prevSeq, v)
      val removed = prev.diff(cur.toSet)
      val added = cur.filterNot(prev)
      if (layoutOnly) {
        // row-preserving: nothing to deliver; pending dirs the rewrite
        // replaced keep being read from their original files
      } else if ((removed.nonEmpty || isDv) && skipChangeCommits) {
        // Delta's skipChangeCommits: the data-changing rewrite commit
        // is dropped WHOLE — neither its replacement dirs (they mix
        // rewritten old rows with DML-inserted ones) nor any
        // retraction delivers. PENDING appends it rewrote still
        // deliver from their ORIGINAL immutable dirs (Delta likewise
        // delivers the append commit's own files): the consumer opted
        // into missing the updates/deletes, not into losing the
        // append — same retention-vs-lag contract as the layout skip.
      } else if ((removed.nonEmpty || isDv) && cdf) {
        // change feed across a rewrite: with a ROW-LEVEL sidecar
        // (opt-in cdf policy), deliver the commit's EXACT changes —
        // `_change_type` comes from the sidecar files themselves,
        // O(changed rows), zero survivor noise. Without one, the
        // rewrite's pre-image dirs deliver as `delete` and its
        // replacements as `insert` — survivor rows carry as a
        // delete+insert pair that cancels under signed aggregation
        // (group-level CDF; see ReadChangeFeed's doc). Sidecar files
        // hold partition columns as DATA columns, so on a partitioned
        // lake the dir-granular path keeps serving (its scan expects
        // partition values from the index).
        VersionedLake.changeSidecarPath(spark, lakeDir, v) match {
          case Some(p) if !partitionedLake =>
            cdfGroups += ((planDirs(Seq(p)), "file", v))
          case Some(p) =>
            // PARTITIONED lake: sidecar files carry the partition
            // columns as DATA columns (no hive layout), so they read
            // through a scan copy whose data schema absorbs the
            // partition fields — falling through to the dir-granular
            // path here would deliver NOTHING for a DV commit (no
            // dirs changed: the delete events would be silently lost)
            cdfGroups += ((planSidecar(p), "sidecar", v))
          case None if isDv =>
            // a DV commit's sidecar is staged BEFORE its publish; the
            // dir-granular fallback would be silently EMPTY here (no
            // dirs changed) — losing the delete events
            throw new IllegalStateException(
              s"deletion-vector commit v$v of $lakeDir lacks its " +
                "change sidecar (_changes/dv-*) — it was removed " +
                "outside the vacuum protocol; the delete events " +
                "cannot be replayed")
          case _ =>
            cdfGroups += ((planDirs(entryPaths(removed.toSeq)),
              "delete", v))
            cdfGroups += ((planDirs(entryPaths(added)), "insert", v))
        }
      } else {
        require(removed.isEmpty && !isDv,
          s"streaming read of $lakeDir requires append-only history " +
            s"(layout-only compaction commits are skipped), but " +
            s"version $v ${if (isDv) "deleted rows by deletion vector"
            else "dropped data dirs with data change " +
              "(overwrite/DML/delete/restore)"} — restart from a fresh checkpoint " +
            s"to reprocess the rewritten snapshot, set " +
            s"${GraftLakeDataSource.SkipChangeCommits}=true to skip " +
            s"data-changing rewrite commits, or consume with " +
            s"${GraftLakeDataSource.ReadChangeFeed}=true for tagged " +
            "change events")
        if (cdf) cdfGroups += ((planDirs(entryPaths(added)), "insert", v))
        else added.foreach(pending += _)
      }
      prevSeq = cur
      prev = cur.toSet
      v += 1
    }
    if (!cdf) {
      if (pending.isEmpty) Array.empty
      else planDirs(entryPaths(pending.toSeq)).toArray
    } else {
      // commit-ordered groups, partitions REINDEXED so the RDD
      // contract (index == array position) holds across the groups
      cdfGroups.toSeq.flatMap { case (fps, op, ver) =>
        fps.map(fp => (fp, op, ver))
      }.zipWithIndex.map { case ((fp, op, ver), i) =>
        GraftLakeCdfPartition(
          org.apache.spark.sql.execution.datasources.FilePartition(
            i, fp.files), op, ver): InputPartition
      }.toArray
    }
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    // plainReaderFactory: per-commit replay semantics — deletion
    // vectors arrive as their OWN change events, never retroactively
    if (cdf) {
      // partitioned lakes additionally need the SIDECAR factory: same
      // row layout, partition columns sourced from file bytes (own
      // hadoop conf copy — factory creation writes its schema there)
      val sidecarInner =
        if (snap.partCols.isEmpty) None
        else Some(scan.copy(
          hadoopConf = new org.apache.hadoop.conf.Configuration(
            scan.hadoopConf),
          readDataSchema = StructType(scan.readDataSchema.fields ++
            scan.readPartitionSchema.fields),
          readPartitionSchema = new StructType(),
          pushedAggregate = None).createReaderFactory())
      new GraftLakeCdfReaderFactory(scan.plainReaderFactory(),
        scan.readSchema(), sidecarInner)
    } else scan.plainReaderFactory()

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** A CDF micro-batch partition: the wrapped file partition plus the
  * change type its rows deliver as (`"file"` = the change type comes
  * from the sidecar files themselves) and the commit version. */
private[engine] final case class GraftLakeCdfPartition(
    inner: org.apache.spark.sql.execution.datasources.FilePartition,
    op: String, version: Int)
  extends org.apache.spark.sql.connector.read.InputPartition {
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Reader factory for the change feed: runs the wrapped parquet ROW
  * reader and overwrites the `_change_type` column (materialized as
  * null by the files-absent schema-evolution path) with the
  * partition's op constant — unless the partition reads a ROW-LEVEL
  * sidecar, whose files carry their own change types — and the
  * `_commit_version` column with the partition's version, via one
  * bound projection. Row-based by construction — a CDF batch is the
  * changed fraction, so the columnar path's throughput edge is not
  * worth per-column batch rewriting. A consumer that pruned both CDF
  * columns away gets the wrapped reader untouched. */
private[engine] final class GraftLakeCdfReaderFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory,
    readSchema: StructType,
    sidecarInner: Option[
      org.apache.spark.sql.connector.read.PartitionReaderFactory] = None)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.{InputPartition,
    PartitionReader}

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[GraftLakeCdfPartition]
    val r =
      (if (cp.op == "sidecar") sidecarInner.getOrElse(inner) else inner)
        .createReader(cp.inner)
    val ctIdx = readSchema.fieldNames
      .indexOf(GraftLakeDataSource.ChangeTypeCol)
    val cvIdx = readSchema.fieldNames
      .indexOf(GraftLakeDataSource.CommitVersionCol)
    if (ctIdx < 0 && cvIdx < 0) r
    else {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference,
        Literal, UnsafeProjection}
      val proj = UnsafeProjection.create(
        readSchema.fields.zipWithIndex.map { case (f, i) =>
          if (i == ctIdx && cp.op != "file" && cp.op != "sidecar")
            Literal(org.apache.spark.unsafe.types.UTF8String
              .fromString(cp.op), f.dataType)
          else if (i == cvIdx)
            Literal(cp.version.toLong, f.dataType)
          else BoundReference(i, f.dataType, f.nullable)
        }.toSeq)
      new PartitionReader[InternalRow] {
        override def next(): Boolean = r.next()
        override def get(): InternalRow = proj(r.get())
        override def close(): Unit = r.close()
      }
    }
  }
}

/** Manifest-resolved file index with sidecar skipping. Each live data
  * dir's listing comes from [[LakeMetaCache]] (one `getFileStatus` per
  * dir per plan; the listing itself once per process, on the driver —
  * never the Spark listing job `InMemoryFileIndex` runs over many
  * roots); the pruning decision per pushed filter is one cached
  * sidecar lookup per (data dir, column). The dirs-explicit
  * constructor serves the STREAMING path and [[VersionedLake.readAt]]:
  * each micro-batch indexes only its delta dirs, and the same sidecar
  * pruning applies — a filtered stream skips non-matching files per
  * batch instead of reading every delta file. */
final class GraftLakeFileIndex(spark: SparkSession, snap: Snapshot,
    dataDirPaths: Seq[Path], sidecarPrune: Boolean = true)
  extends InMemoryFileIndex(spark, dataDirPaths, Map.empty, None,
    VersionedLake.listingCache(spark),
    // partitioned lakes: partition values decided from MANIFEST entry
    // names (an explicit PartitionSpec), never inferred from listings —
    // planning-time partition pruning + DPP then drop whole entries
    GraftLakePartitions.specFor(spark, snap.dir, snap.partCols,
      dataDirPaths), None) {

  private[engine] val probe = new SidecarProbe(spark, snap)

  private[engine] def admitAnyOf(p: Path, c: String,
      values: Seq[Any]): Boolean = probe.admitAnyOf(p, c, values)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    // sidecarPrune=false is the COW-scan contract: a file pruned out
    // of a replace-semantics scan is a file NOT rewritten — with its
    // dir still replaced, its rows would be SILENTLY LOST. Partition
    // pruning (super's, above) stays: all rows of a pruned partition
    // provably fail the condition, so their dir is not replaced at all.
    if (!sidecarPrune) return base
    // one window per column, the intersection of its bounds (`c >= lo
    // AND c <= hi` is two), so each (dir, column) costs one lookup
    val ranges = GraftLakeFileIndex.rangePredicates(dataFilters)
      .groupBy(_._1).toSeq.map { case (c, ws) =>
        (c, ws.map(_._2).max, ws.map(_._3).min) }
    val points = GraftLakeFileIndex.pointPredicates(dataFilters)
    val ins = GraftLakeFileIndex.inPredicates(dataFilters)
    if (ranges.isEmpty && points.isEmpty && ins.isEmpty) base
    else {
      // sidecars looked up once per (data dir, column), not per file
      val admitIn = base.flatMap(_.files.map(_.getPath.getParent)).distinct
        .map { parent =>
          val d = probe.entryOf(parent)
          val rs = ranges.map { case (c, lo, hi) =>
            (probe.stats(d, c), lo, hi) }
          val ps = points.map { case (c, want) => (probe.bloom(d, c), want) }
          parent -> ((f: String) =>
            rs.forall { case (stats, lo, hi) =>
              stats.get(f) // no recorded range for this file → cannot skip
                .forall { case (mn, mx, _) => mx >= lo && mn <= hi }
            } && ps.forall { case (bloom, want) =>
              bloom.get(f).forall(bits => want.forall(bits.get))
            })
        }.toMap
      base.map(pd => pd.copy(files = pd.files.filter(fs =>
        admitIn(fs.getPath.getParent)(fs.getPath.getName) &&
          ins.forall { case (c, vs) => probe.admitAnyOf(fs.getPath, c, vs) })))
    }
  }
}

/** The per-file sidecar oracle shared by every pruning path (static
  * pushdown, join-driven runtime filtering, COW group filtering):
  * answers "might file `p` contain …?" from the stats + bloom
  * sidecars, parsed once per sidecar in [[LakeMetaCache]] (each lookup
  * is one `getFileStatus`), and conservative at every gap — no sidecar
  * / no entry / unrenderable value → admit. */
private[engine] final class SidecarProbe(spark: SparkSession,
    snap: Snapshot) {
  private val (lakeDir, partCols) = (snap.dir, snap.partCols)
  private val entryDepth = 1 + partCols.length

  // column-mapping renames: a column's sidecar lines are keyed by each
  // FILE's own era name, so a probe consults every name the field id
  // has ever had — a file appears under exactly one era name, the
  // merged map stays one-entry-per-file
  private def aliasesOf(c: String): Seq[String] = snap.aliasesOf(c)

  /** Runtime (join-driven) pruning on a PARTITION column — the V2
    * dynamic-partition-pruning shape: the build side's key set arrives
    * as an IN filter, and whole partition dirs drop by comparing the
    * MANIFEST entry's value segment, zero sidecar or file IO. Renders
    * both sides as strings (hive dir names are string renderings;
    * integral/string keys round-trip exactly); an unrenderable value
    * admits — conservative, never wrong. */
  private def partitionAdmit(parent: Path, c: String,
      rendered: Seq[String]): Option[Boolean] = {
    val i = partCols.indexWhere(_.name.equalsIgnoreCase(c))
    if (i < 0) None
    else {
      val segs = entryOf(parent).split('/').drop(1)
      if (i >= segs.length) Some(true)
      else {
        val raw = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(
            segs(i).substring(segs(i).indexOf('=') + 1))
        Some(rendered.contains(raw))
      }
    }
  }

  /** Manifest-entry key of a file's parent dir (`d-x` or
    * `d-x/c=v/...` on a partitioned lake) — what the sidecar files are
    * named by. */
  private[engine] def entryOf(parent: Path): String =
    GraftLakePartitions.entryOfDepth(parent, entryDepth)

  def stats(d: String, c: String): Map[String, (Double, Double, Long)] =
    aliasesOf(c).map(n => VersionedLake.statsFor(spark, lakeDir, d, n))
      .foldLeft(Map.empty[String, (Double, Double, Long)])(_ ++ _)

  def bloom(d: String, c: String): Map[String, java.util.BitSet] =
    aliasesOf(c).map(n => VersionedLake.bloomFor(spark, lakeDir, d, n))
      .foldLeft(Map.empty[String, java.util.BitSet])(_ ++ _)

  /** Can file `p` contain ANY of `values` in column `c`? The runtime
    * pruning predicate — OR-of-points where the static path answers
    * single ranges/points. Values are either runtime IN-list values of
    * a [[GraftLakeFileIndex.runtimeProbeable]] column, or a pushed V1
    * filter's external values (a date is a `java.sql.Date` or
    * `LocalDate` there, which renders to nothing and admits). */
  def admitAnyOf(p: Path, c: String, values: Seq[Any]): Boolean = {
    val d = entryOf(p.getParent)
    val f = p.getName
    def render(v: Any): Option[String] = v match {
      case i: java.lang.Integer => Some(i.toString)
      case i: java.lang.Long => Some(i.toString)
      case i: java.lang.Short => Some(i.toString)
      case i: java.lang.Byte => Some(i.toString)
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case s: String => Some(s)
      case _ => None
    }
    val renders = values.flatMap(render(_))
    // a partition column decides from the MANIFEST ENTRY's value
    // segment alone (runtime/dynamic partition pruning, zero IO);
    // only fully-rendered value sets may prune, a null rendering as
    // the null-partition segment (a null-safe MERGE key matches it)
    val segments = values.flatMap(v =>
      if (v == null) Some(org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      else render(v))
    if (segments.length == values.length)
      partitionAdmit(p.getParent, c, segments).foreach(a => return a)
    // a decimal value (a DECIMAL column's V1 filter value) never meets
    // the stats: parquet records such a column's min/max unscaled, and
    // sidecars written before that was known hold those lines
    val nums = values.collect {
      case n: Number if !n.isInstanceOf[java.math.BigDecimal] &&
        !n.isInstanceOf[scala.math.BigDecimal] => n.doubleValue()
    }
    val statsOk = nums.length != values.length ||
      stats(d, c).get(f)
        .forall { case (mn, mx, _) => nums.exists(v => v >= mn && v <= mx) }
    val bloomOk = renders.length != values.length ||
      bloom(d, c).get(f)
        .forall(bits => renders.exists(r =>
          VersionedLake.bloomWantPositions(r).forall(bits.get)))
    statsOk && bloomOk
  }
}

object GraftLakeFileIndex {

  /** `[lo, hi]` windows a file's recorded min/max must intersect, from
    * the pushed data filters. Only shapes the sidecar can answer are
    * extracted; strict comparisons widen to inclusive (conservative —
    * skipping may only remove provably-non-matching files). */
  private[engine] def rangePredicates(filters: Seq[Expression])
      : Seq[(String, Double, Double)] = {
    def num(l: Literal): Option[Double] = l.value match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    filters.flatMap {
      case EqualTo(Ranged(a), l: Literal) => num(l).map(v => (a, v, v))
      case EqualTo(l: Literal, Ranged(a)) => num(l).map(v => (a, v, v))
      case GreaterThan(Ranged(a), l: Literal) =>
        num(l).map(v => (a, v, Double.PositiveInfinity))
      case GreaterThanOrEqual(Ranged(a), l: Literal) =>
        num(l).map(v => (a, v, Double.PositiveInfinity))
      case LessThan(Ranged(a), l: Literal) =>
        num(l).map(v => (a, Double.NegativeInfinity, v))
      case LessThanOrEqual(Ranged(a), l: Literal) =>
        num(l).map(v => (a, Double.NegativeInfinity, v))
      case GreaterThan(l: Literal, Ranged(a)) =>
        num(l).map(v => (a, Double.NegativeInfinity, v))
      case GreaterThanOrEqual(l: Literal, Ranged(a)) =>
        num(l).map(v => (a, Double.NegativeInfinity, v))
      case LessThan(l: Literal, Ranged(a)) =>
        num(l).map(v => (a, v, Double.PositiveInfinity))
      case LessThanOrEqual(l: Literal, Ranged(a)) =>
        num(l).map(v => (a, v, Double.PositiveInfinity))
      case _ => None
    }
  }

  /** The column a range bound applies to: a bare attribute, or a
    * bigint attribute cast to double — the shape a double bound on a
    * bigint column plans as (Spark's `UnwrapCastInBinaryComparison`
    * unwraps the narrower numeric casts to double, not long→double).
    * The cast is monotone and the sidecar records its bounds as
    * doubles, so the window test stays exact. */
  private object Ranged {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    def unapply(e: Expression): Option[String] = e match {
      case a: Attribute => Some(a.name)
      case Cast(a: Attribute, DoubleType, _, _) if a.dataType == LongType =>
        Some(a.name)
      case _ => None
    }
  }

  /** Column types a scan offers for runtime (join-driven) filtering:
    * their catalyst values are boxed integrals, fractionals or strings,
    * which [[SidecarProbe.admitAnyOf]] compares with the sidecars as
    * they are. A date's or timestamp's value is a bare day or
    * microsecond count, which the bloom's string rendering would not
    * match, so those types are not offered. */
  private[engine] def runtimeProbeable(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType => true
      case _ => false
    }
  }

  /** IN-list filters on a [[runtimeProbeable]] column — `In` over
    * literals, or the `InSet` the optimizer folds a long list into — as
    * the (column, values) pairs [[SidecarProbe.admitAnyOf]] takes: the
    * static face of the runtime IN filter, so a key-set DELETE's
    * row-level scan reads only the files that can hold a key. */
  private[engine] def inPredicates(filters: Seq[Expression])
      : Seq[(String, Seq[Any])] = filters.flatMap {
    case In(a: Attribute, list) if runtimeProbeable(a.dataType) &&
        list.forall(_.isInstanceOf[Literal]) =>
      Some((a.name, list.map(_.asInstanceOf[Literal].value)))
    case InSet(a: Attribute, hset) if runtimeProbeable(a.dataType) =>
      Some((a.name, hset.toSeq))
    case _ => None
  }

  /** Bloom probe positions per equality filter. The hashed rendering
    * is Spark's own `cast(... as string)` of the literal, as on the
    * commit side, and is taken only for an integral, string or date
    * column: the literal holds a catalyst internal (a date is its day
    * count), so the column's type — not the value's class — decides.
    * Fractional columns (`-0.0` = `0.0` renders twice), timestamps
    * (rendered in the session time zone) and every other type are NOT
    * probed — conservative. */
  private[engine] def pointPredicates(filters: Seq[Expression])
      : Seq[(String, Seq[Int])] = {
    import org.apache.spark.sql.types._
    def probe(a: Attribute, l: Literal) = a.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           DateType if l.value != null && l.dataType == a.dataType =>
        Some((a.name, VersionedLake.bloomWantPositions(
          Cast(l, StringType).eval().toString)))
      case _ => None
    }
    filters.flatMap {
      case EqualTo(a: Attribute, l: Literal) => probe(a, l)
      case EqualTo(l: Literal, a: Attribute) => probe(a, l)
      case _ => None
    }
  }
}
