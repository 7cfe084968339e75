package graft.operators

import org.apache.spark.sql.SparkSession

/** A shim kept only for the four call sites in
  * `perfbench/src/graft/perfbench/Retrieve.scala`, to be removed with them by a
  * later benchmark change: an artifact root is one [[SegmentStore]] root. */
object Generations {
  def advance(spark: SparkSession, root: String)(build: String => Unit): String = {
    build(root); root
  }
  def resolve(spark: SparkSession, root: String): String = {
    require(SegmentStore.latest(SeqFiles.fs(spark, root), root).nonEmpty, s"no store at $root"); root
  }
}
