package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation, NoopCache}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** private[sql] bridge: build a DataFrame from a custom LogicalPlan
  * (`Dataset.ofRows` is private[sql]; extension libraries conventionally
  * shim it from inside the org.apache.spark.sql package). */
object GraftPlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → catalyst Expression (Column wraps a ColumnNode in Spark 4). */
  def expr(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** catalyst Expression → Column (inverse of [[expr]]). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** A parquet table under `root` with a fixed schema, read over a private
    * file listing. `spark.read.schema(..).parquet` would also skip schema
    * inference, but it registers a new client in the session-shared
    * `FileStatusCache` on every call and never reads it again: a reader that
    * resolves the table per request fills that cache up to its size cap.
    * Here the listing lives only as long as the returned frame. Partition
    * values are parsed from `col=value` directories with the types of
    * `partitionSchema`. */
  def parquetTable(spark: org.apache.spark.sql.SparkSession, root: String,
                   dataSchema: StructType,
                   partitionSchema: StructType): org.apache.spark.sql.DataFrame = {
    val index = new InMemoryFileIndex(spark, Seq(new Path(root)), Map.empty,
      Some(StructType(dataSchema ++ partitionSchema)), NoopCache)
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema,
      bucketSpec = None, new ParquetFileFormat, Map.empty)(spark)
    ofRows(spark, LogicalRelation(relation))
  }
}
