package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Access shim for Spark's `private[spark]` listing and schema helpers,
  * so the lake's metadata cache lists a data dir and shapes a snapshot
  * relation exactly as `spark.read.parquet` would. */
object ListingBridge {

  /** Leaf files under `p` as `InMemoryFileIndex` lists them (hidden
    * names skipped, sub-dirs recursed, block locations unless data
    * locality is ignored, a missing root listing as empty), but always
    * serially on the driver: the parallelism threshold that would turn
    * the listing into a Spark job is never reached. */
  def leafFiles(spark: SparkSession, p: Path): Seq[FileStatus] =
    HadoopFSUtils.parallelListLeafFiles(spark.sparkContext, Seq(p),
      spark.sparkContext.hadoopConfiguration, null,
      ignoreMissingFiles = false,
      ignoreLocality = spark.sessionState.conf.ignoreDataLocality,
      parallelismThreshold = Int.MaxValue, parallelismMax = 1).flatMap(_._2)

  /** The deep nullable copy `DataSource` gives a file relation's data
    * schema. */
  def asNullable(s: StructType): StructType = s.asNullable
}
