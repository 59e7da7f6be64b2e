package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource V2 table instance as a DataFrame: the relation
  * `spark.read.format(...).load()` builds, for a table whose read
  * descriptor the caller already holds (no string options). Lives in an
  * `org.apache.spark.sql` subpackage for the `private[sql]`
  * `Dataset.ofRows`.
  */
object ScanShim {
  def relation(spark: SparkSession, table: Table): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None,
        CaseInsensitiveStringMap.empty()))
}
