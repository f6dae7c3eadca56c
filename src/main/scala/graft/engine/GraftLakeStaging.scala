package graft.engine

import org.apache.spark.sql.SparkSession
import VersionedLake.{Commit, Expect}
import VersionedLake.CommitSchema.Declared
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable,
  SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetTable,
  ParquetWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.hadoop.fs.Path

/** Atomic `CREATE TABLE … AS SELECT` / `REPLACE TABLE … AS SELECT`
  * through the manifest protocol (the `StagingTableCatalog` seam —
  * Delta/Iceberg's CTAS shape).
  *
  * Spark's non-atomic CTAS fallback is create-then-insert with a
  * `DROP TABLE` cleanup on failure — two visible states and a DDL this
  * catalog refuses. Staging needs neither: the query writes parquet
  * into an UNPUBLISHED data dir (invisible to every reader — the
  * manifest is the only discovery path), and `commitStagedChanges`
  * swings the same manifest CAS as [[VersionedLake.commit]] — the
  * table appears (or is replaced) atomically WITH its data, or not at
  * all. An abort deletes the staging dir; a crash before publish
  * leaves an unreferenced dir that vacuum sweeps.
  *
  * CREATE publishes version 1 append-mode; REPLACE publishes an
  * overwrite commit — the replaced snapshot stays readable via
  * `VERSION AS OF` until vacuum, so `REPLACE TABLE` is itself
  * time-travelable history, not a destructive swap. */
final class GraftLakeStagedTable(ident: Identifier, lakeDir: String,
    stSchema: StructType, replace: Boolean, orCreate: Boolean,
    bloomProp: Seq[String] = Seq.empty,
    partCols: Seq[org.apache.spark.sql.types.StructField] = Seq.empty,
    cdfProp: Boolean = false,
    mapped: Boolean = false,
    dvProp: Boolean = false,
    dvMaxRatio: Option[Double] = None,
    dvMaxPending: Option[Long] = None,
    epochBump: Boolean = false)
  extends StagedTable with SupportsWrite {

  private def spark = SparkSession.active
  private val dataDir = s"d-${java.util.UUID.randomUUID.toString.take(12)}"

  /** Partition columns hold no data bytes — sidecars and the seed file
    * index/carry the DATA columns only. */
  private def dataOnlySchema: StructType =
    StructType(stSchema.filterNot(f =>
      partCols.exists(_.name.equalsIgnoreCase(f.name))))

  /** Tip version observed when the DDL was staged (0 = no table). The
    * commit publishes against EXACTLY this tip: staged DDL must not
    * absorb a racing writer through publish's CAS-retry (a CTAS that
    * lost the v1 race would land its data as an APPEND at v2 — two
    * racing CREATEs silently unioned) — see commitStagedChanges. */
  private val observedTip: Int =
    VersionedLake.tip(spark, lakeDir).getOrElse(0)

  /** Throwaway ParquetTable purely for the format predicates — the
    * same type-support surface as every other graftlake write; its
    * lazy file index is never touched. */
  private lazy val fmt = new ParquetTable(ident.toString, spark,
    CaseInsensitiveStringMap.empty(), Seq(lakeDir), Some(stSchema),
    classOf[ParquetFileFormat])

  override def name(): String = ident.toString
  override def schema(): StructType = stSchema
  // TRUNCATE because Spark plans RTAS as OverwriteByExpression(true)
  // over the staged relation — the capability (and the builder's
  // truncate()) are demanded by TableCapabilityCheck even though the
  // staging dir starts empty and "truncate" is therefore a no-op: the
  // REPLACE semantics live in commitStagedChanges' overwrite publish.
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write
            .RequiresDistributionAndOrdering {
        private val inner: Write =
          if (partCols.isEmpty && !mapped)
            ParquetWrite(Seq(s"$lakeDir/$dataDir"),
              fmt.formatName, fmt.supportsDataType _, info)
          // the custom write also serves MAPPED unpartitioned tables:
          // it overlays the table's field ids onto the write schema so
          // every staged file carries them (the id-matching reader's
          // contract)
          else new GraftLakePartitionedWrite(s"$lakeDir/$dataDir", info,
            partCols.map(_.name),
            s"graftlake staged partitioned $lakeDir (staging $dataDir)",
            if (mapped) Some(stSchema) else None)
        override def description(): String =
          s"graftlake staged ${if (replace) "replace" else "create"} " +
            s"$lakeDir (staging $dataDir)"
        // partitioned staging orders rows by the partition columns
        // (one open file per task); unpartitioned is a no-op
        override def requiredDistribution
            : org.apache.spark.sql.connector.distributions.Distribution =
          inner match {
            case r: org.apache.spark.sql.connector.write
              .RequiresDistributionAndOrdering => r.requiredDistribution
            case _ => org.apache.spark.sql.connector.distributions
              .Distributions.unspecified()
          }
        override def requiredOrdering: Array[
            org.apache.spark.sql.connector.expressions.SortOrder] =
          inner match {
            case r: org.apache.spark.sql.connector.write
              .RequiresDistributionAndOrdering => r.requiredOrdering
            case _ => Array.empty
          }
        override def toBatch: BatchWrite = new BatchWrite {
          private val innerBatch = inner.toBatch
          override def createBatchWriterFactory(p: PhysicalWriteInfo)
              : DataWriterFactory = innerBatch.createBatchWriterFactory(p)
          override def useCommitCoordinator: Boolean =
            innerBatch.useCommitCoordinator
          override def onDataWriterCommit(m: WriterCommitMessage): Unit =
            innerBatch.onDataWriterCommit(m)
          // files land + stats sidecar here; the manifest publish — the
          // step that makes anything visible — waits for
          // commitStagedChanges (Spark aborts the staged table if the
          // write OR any later part of the DDL fails)
          override def commit(msgs: Array[WriterCommitMessage]): Unit = {
            innerBatch.commit(msgs)
            if (partCols.isEmpty)
              VersionedLake.indexStagedEntries(spark, lakeDir,
                Seq(dataDir), stSchema, bloomProp)
            else VersionedLake.indexStagedEntries(spark, lakeDir,
              GraftLakePartitions.stagedEntries(spark, lakeDir, dataDir,
                partCols.length), dataOnlySchema, bloomProp)
          }
          override def abort(msgs: Array[WriterCommitMessage]): Unit =
            innerBatch.abort(msgs)
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    if (replace && !orCreate && observedTip == 0)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    // a zero-row CTAS may have landed zero files; a manifest entry must
    // still carry the schema, so seed one empty schema-bearing file —
    // the same carrier as CREATE TABLE (partitioned: the null-partition
    // entry, data columns only)
    val f = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new Path(s"$lakeDir/$dataDir")
    val written: Seq[String] =
      if (partCols.nonEmpty) GraftLakePartitions.stagedEntries(spark,
        lakeDir, dataDir, partCols.length)
      else if (f.exists(staged) && f.listStatus(staged)
          .exists(_.getPath.getName.endsWith(".parquet"))) Seq(dataDir)
      else Nil
    val entries =
      if (written.nonEmpty) written
      else Seq(GraftLakePartitions.seedEmpty(spark, lakeDir, dataDir,
        stSchema, partCols, bloomProp))
    // exact expectations — never the CAS retry, which would absorb a
    // racing writer as a silent append/union (exactly-one-winner is
    // CTAS's contract; the library commit path WANTS retry, DDL does
    // not). A lost race leaves this writer's staged dir as an
    // unreferenced orphan for vacuum.
    def publishAs(expect: Expect): Option[Int] =
      VersionedLake.publish(spark, lakeDir, Commit(entries,
        replaceAll = true, schema = Declared(Some(stSchema.json)),
        expect = expect))
    if (observedTip == 0) {
      // CREATE (or the create half of CREATE OR REPLACE): claim v1
      // exactly once; a racer's publish — any version — loses a plain
      // CREATE's DDL. But the user who wrote CREATE OR REPLACE asked
      // for last-writer-wins: losing the v1 race degrades to the
      // REPLACE path against the racer's tip (the same outcome as the
      // two DDLs running sequentially), not a failed DDL. Any FURTHER
      // tip movement between that observation and the publish is still
      // a loud serializable conflict.
      if (publishAs(Expect.First).isEmpty) {
        if (!(replace && orCreate))
          throw new org.apache.spark.sql.catalyst.analysis
            .TableAlreadyExistsException(ident)
        val racerTip = VersionedLake.tip(spark, lakeDir).getOrElse(
          throw new IllegalStateException(
            s"lost the CREATE race on $lakeDir but no tip is readable " +
              "— the racer's publish should be visible"))
        // the degrade-to-replace publishes into the RACER'S lake and
        // then overwrites its registries below — that is only the
        // sequential CREATE-then-REPLACE outcome if the two DDLs
        // DECLARED THE SAME table shape. A differing partition spec or
        // mapping mode would leave the winner's v1 entries unparseable
        // against the overwritten lake-global registry: refuse loudly
        // (requireSpecUnchanged/requireNotMapped ran at stage time,
        // when no table existed to check against).
        val racer = VersionedLake.resolve(spark, lakeDir, racerTip)
        val racerCols = racer.partCols
          .map(c => (c.name.toLowerCase, c.dataType))
        require(racerCols == partCols.map(c =>
            (c.name.toLowerCase, c.dataType)),
          s"CREATE OR REPLACE lost the create race on $lakeDir and the " +
            s"racing CREATE declared a different partition spec " +
            s"(${racerCols.map(_._1).mkString(",")} vs " +
            s"${partCols.map(_.name).mkString(",")}) — re-run against " +
            "the existing table or drop it first")
        require(racer.mapped == mapped,
          s"CREATE OR REPLACE lost the create race on $lakeDir and the " +
            "racing CREATE's column-mapping mode differs — re-run " +
            "against the existing table or drop it first")
        // a MAPPED CREATE OR REPLACE that staged against NO table
        // assigned ids from 1 — the racing CREATE did too, so the
        // degrade-to-replace would collide two id universes (old
        // files' bytes binding to this writer's unrelated columns).
        // Refuse; the re-run stages against the winner's registry and
        // takes fresh ids + an epoch bump.
        require(!mapped,
          s"CREATE OR REPLACE lost the create race on $lakeDir and " +
            "both sides assigned fresh column-mapping field ids — " +
            "re-run (the retry takes never-used ids from the winner's " +
            "registry)")
        publishAs(Expect.After(racerTip))
        ()
      }
    } else if (!replace) {
      // staged as CREATE but a table existed — unreachable (stageCreate
      // refuses), kept as a loud guard rather than a silent overwrite
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    } else {
      // RTAS: overwrite exactly the tip this replace was staged
      // against; any concurrent commit since is a serializable
      // conflict, refused loudly for the caller to re-run
      publishAs(Expect.After(observedTip))
      ()
    }
    // persist the declared policies so every LATER commit inherits
    // them (this CTAS's own entries were indexed at write time via
    // declaredBloom). AFTER the publish: a lost-race loser must not
    // plant its policy in the winner's lake
    if (partCols.nonEmpty)
      GraftLakePartitions.set(spark, lakeDir, partCols)
    // a mapped REPLACE opens a new mapping ERA before recording its
    // names: alias probing must not merge a reused name with a
    // pre-replace column's history ([[GraftLakeMapping.bumpEpoch]])
    if (mapped && epochBump) GraftLakeMapping.bumpEpoch(spark, lakeDir)
    if (mapped) GraftLakeMapping.record(spark, lakeDir, stSchema)
    if (dvProp)
      VersionedLake.setDeletionVectors(spark, lakeDir, dvMaxRatio,
        dvMaxPending)
    bloomProp.foreach(c =>
      VersionedLake.setBloomIndex(spark, lakeDir, c)) // accumulates
    if (cdfProp) VersionedLake.setChangeDataFeed(spark, lakeDir)
  }

  override def abortStagedChanges(): Unit = {
    val f = new Path(lakeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(s"$lakeDir/$dataDir"), true)
    // sidecars were written at write-commit time (before the DDL could
    // fail); without this they would orphan — vacuum only sweeps
    // sidecars together with their data dir, which is already gone
    f.delete(new Path(s"$lakeDir/_stats/$dataDir.stats"), false)
    f.delete(new Path(s"$lakeDir/_bloom/$dataDir.bloom"), false)
    Seq("_stats", "_bloom").foreach { d =>
      val p = new Path(s"$lakeDir/$d")
      if (f.exists(p) && f.listStatus(p).isEmpty) f.delete(p, false)
    }
    // a CREATE that never published may have left only the empty lake
    // root behind — remove it too so tableExists stays false
    if (!replace && VersionedLake.versions(spark, lakeDir).isEmpty &&
        f.exists(new Path(lakeDir)) &&
        f.listStatus(new Path(lakeDir)).isEmpty)
      f.delete(new Path(lakeDir), false)
    ()
  }
}
