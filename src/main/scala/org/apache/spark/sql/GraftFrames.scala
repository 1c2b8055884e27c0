package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Bridge into the private[sql] side of `Dataset`: a DataFrame over an
  * already-built DSv2 table, planned exactly like the SQL face plans the
  * same table (`DataSourceV2Relation` → `BatchScanExec`). */
object GraftFrames {
  def ofTable(spark: SparkSession, table: Table,
      options: Map[String, String]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None,
        new CaseInsensitiveStringMap(options.asJava)))
}
