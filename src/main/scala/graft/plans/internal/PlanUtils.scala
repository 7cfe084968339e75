package org.apache.spark.sql.graftshim

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** private[sql] bridge: build a DataFrame from a custom LogicalPlan
  * (`Dataset.ofRows` is private[sql]; extension libraries conventionally
  * shim it from inside the org.apache.spark.sql package). */
object GraftPlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A private clone of `spark` for one sized computation. The clone copies
    * the caller's conf, temp views and functions, and shares its cache and
    * catalog, so a plan rebound into it with [[ofRows]] still reads the
    * caller's persisted data. Its shuffle-partition count is `partitions`
    * applied to the caller's, and its AQE flag is `adaptive` (the caller's
    * when `None`). Nothing set here reaches the caller, so no concurrent
    * request on the caller's session can plan under these values. */
  def sizedClone(spark: org.apache.spark.sql.SparkSession,
                 adaptive: Option[Boolean] = None)
                (partitions: Int => Int): org.apache.spark.sql.SparkSession = {
    val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
    val conf = clone.sessionState.conf
    conf.setConf(SQLConf.SHUFFLE_PARTITIONS, partitions(conf.numShufflePartitions))
    adaptive.foreach(conf.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, _))
    clone
  }

  /** Column → catalyst Expression (Column wraps a ColumnNode in Spark 4). */
  def expr(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** catalyst Expression → Column (inverse of [[expr]]). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  /** A parquet table over an explicit file list, with a fixed schema.
    * Each file comes as (path, partition values as strings, byte length);
    * the values are cast to `partitionSchema`'s types, as directory
    * discovery would parse them. Resolving the table makes no filesystem
    * call and launches no listing job at any file count: the index is
    * exactly the given files, private to the returned frame (nothing
    * enters the session-shared `FileStatusCache`). Every column reads as
    * nullable, as Spark writes and discovers parquet tables. `root` only
    * names the table in plans. */
  def listedTable(spark: org.apache.spark.sql.SparkSession, root: String,
                  files: Seq[(String, Seq[String], Long)], dataSchema: StructType,
                  partitionSchema: StructType): org.apache.spark.sql.DataFrame = {
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val parts = partitionSchema.asNullable
    val index = new ListedFileIndex(spark, new Path(root), files.map { case (p, values, len) =>
      (new FileStatus(len, false, 0, 0, 0, new Path(p)), InternalRow.fromSeq(
        parts.zip(values).map { case (f, v) => Cast(Literal(v), f.dataType, tz).eval() }))
    }, parts)
    val relation = HadoopFsRelation(index, parts, dataSchema.asNullable,
      bucketSpec = None, new ParquetFileFormat, Map.empty)(spark)
    ofRows(spark, LogicalRelation(relation))
  }

  private class ListedFileIndex(spark: org.apache.spark.sql.SparkSession, root: Path,
                                files: Seq[(FileStatus, InternalRow)],
                                partitionColumns: StructType)
      extends PartitioningAwareFileIndex(spark, Map.empty, None) {
    override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
      mutable.LinkedHashMap(files.map { case (st, _) => st.getPath -> st }: _*)
    override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      files.map(_._1).groupBy(_.getPath.getParent).map { case (d, sts) => d -> sts.toArray }
    private val spec = PartitionSpec(partitionColumns,
      files.map { case (st, row) => PartitionPath(row, st.getPath.getParent) }.distinct)
    override def partitionSpec(): PartitionSpec = spec
    override def rootPaths: Seq[Path] = Seq(root)
    // an unpartitioned table's files sit in commit dirs below the root,
    // where the default root-children lookup would not find them
    override def allFiles(): Seq[FileStatus] = leafFiles.values.toSeq
    override def refresh(): Unit = ()
  }
}
