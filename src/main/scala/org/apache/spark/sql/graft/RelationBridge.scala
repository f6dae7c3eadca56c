package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Access shim for Spark's `private[sql]` `Dataset.ofRows`: a frame over
  * a DSv2 table the engine built itself, planned exactly as
  * `spark.read.format(...).load()` plans the table a provider returns,
  * without going through a provider or a read option. */
object RelationBridge {
  def ofTable(spark: SparkSession, table: Table,
      options: CaseInsensitiveStringMap): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None, options))
}
