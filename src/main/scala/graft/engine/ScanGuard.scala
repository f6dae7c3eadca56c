package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}

/** The reference's one stated cost rule — "avoid full scans: partition
  * the data and query only matching partitions" (reference
  * README.md:29-31, enforced organizationally through Athena) — as a
  * RUNTIME guard on the physical plan. PlanAuditSpec enforces the
  * policy on this repo's own queries at test time; this makes the same
  * check available to callers at query-build time, the way a data
  * platform team actually deploys such a rule against ad-hoc users.
  *
  * [[requirePruned]] walks the executed plan's file scans and rejects
  * any scan of a guarded path that arrives with NO partition filters —
  * i.e. a scan that would list and read every partition directory of a
  * partitioned lake. Unpartitioned tables (nothing to prune — e.g.
  * small dims) and paths outside the guard are untouched, and the walk
  * descends into AQE's wrapped plans. File scans are both V1
  * (`FileSourceScanExec`) and DSv2 (`BatchScanExec` over a `FileScan`,
  * which is how a partitioned or deletion-vector graftlake snapshot
  * reads). The check inspects ONLY plan metadata; it never runs the
  * query.
  */
object ScanGuard {

  /** One file scan as the guard sees it: the roots it lists, its
    * partition columns, the partition filters it carries (static and
    * dynamic) and the data columns it reads. */
  private final case class Scanned(roots: Seq[Path], partCols: Seq[String],
      partFilters: Seq[Expression], dataCols: Int) {
    def under(guardedPath: String): Boolean = {
      val guard = new Path(guardedPath).toUri.getPath
      roots.exists(_.toUri.getPath.startsWith(guard))
    }
  }

  private def fileScans(p: SparkPlan): Seq[Scanned] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case s: FileSourceScanExec =>
      Seq(Scanned(s.relation.location.rootPaths,
        s.relation.partitionSchema.fieldNames.toSeq, s.partitionFilters,
        s.requiredSchema.size))
    case b: BatchScanExec if b.scan.isInstanceOf[FileScan] =>
      val f = b.scan.asInstanceOf[FileScan]
      val partCols = f.fileIndex.partitionSchema.fieldNames.toSeq
      // a DSv2 scan takes runtime filters on data columns too; only
      // those on partition columns prune partitions
      val partRuntime = b.runtimeFilters.filter { e =>
        e.references.nonEmpty && e.references.forall(a =>
          partCols.exists(_.equalsIgnoreCase(a.name)))
      }
      Seq(Scanned(f.fileIndex.rootPaths, partCols,
        f.partitionFilters ++ partRuntime, f.readDataSchema.size))
    case other =>
      (other.children ++ other.subqueries).flatMap(fileScans)
  }

  /** Fail fast if `df` would full-scan a PARTITIONED table under
    * `guardedPath`: every file scan rooted there whose relation has
    * partition columns must carry at least one partition filter. */
  def requirePruned(df: DataFrame, guardedPath: String): Unit = {
    val offenders = fileScans(df.queryExecution.executedPlan).filter(s =>
      s.partCols.nonEmpty && s.under(guardedPath) && s.partFilters.isEmpty)
    require(offenders.isEmpty,
      s"full scan of partitioned data under $guardedPath — add a filter " +
        s"on ${offenders.map(_.partCols.mkString("/")).distinct
          .mkString(", ")} (reference README.md:29-31 policy)")
  }

  /** The other half of the policy — "derive wide once, scan narrow
    * many": a query over a guarded lake may read every PARTITION only
    * when it reads almost no DATA columns (per-partition accounting /
    * maintenance, where the bytes touched are partition values +
    * footers, not rows). Rejects any guarded file scan whose pushed
    * ReadSchema carries more than `maxDataCols` data columns — the
    * regression this catches is column pruning silently breaking, which
    * turns an O(metadata) accounting query into an O(total bytes) scan
    * (catastrophic at 6,037 data columns / 100 TB). */
  def requireNarrow(df: DataFrame, guardedPath: String,
      maxDataCols: Int = 2): Unit = {
    val offenders = fileScans(df.queryExecution.executedPlan).filter(s =>
      s.under(guardedPath) && s.dataCols > maxDataCols)
    require(offenders.isEmpty,
      s"wide scan of guarded lake under $guardedPath — reads " +
        s"${offenders.map(_.dataCols).max} data columns " +
        s"(> $maxDataCols); project only what the query needs " +
        "(reference README.md:29-31 policy, narrow-scan half)")
  }
}
