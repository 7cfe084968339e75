package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Dumps every executed plan of a forced-distributed pageRank and
  * dupClusters run (broadcastNodeLimit = 0 / driverEdgeLimit = 0) over the
  * 1995 trade graph, with the shuffle-partition count and AQE flag of the
  * session each plan ran in: the loops' rounds run in a sized clone
  * (`ceil(edges / 64Ki)` partitions), the caller's own actions at its
  * configured count.
  *
  * Not built by sbt. Compile it against the project's classes with the
  * Spark distribution's scalac (`scala.tools.nsc.Main -usejavacp -cp
  * target/scala-2.13/classes`) and run it with the Spark jars on the class
  * path: `graft.ForcedDist <sf dir> <output file>`. */
object ForcedDist {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args(1)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    var section = ""
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = sb.synchronized {
        sb.append(s"==== [$section] $f (${d / 1000000} ms), session shuffle partitions = " +
          qe.sparkSession.sessionState.conf.numShufflePartitions +
          s", AQE = ${qe.sparkSession.sessionState.conf.adaptiveExecutionEnabled}\n")
        sb.append(qe.executedPlan.toString).append("\n")
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val edges = GraphArtifacts.directedEdges1995(spark, sfDir).cache()
    println("edges " + edges.count())
    section = "pagerank_trade forced-distributed (broadcastNodeLimit = 0)"
    val pr = graft.operators.Graph.pageRank(edges, iters = 3, edgesDistinct = true,
      broadcastNodeLimit = 0L)
    println("ranks " + pr.count())
    section = "dupClusters forced-distributed (driverEdgeLimit = 0)"
    val dc = graft.operators.Dedup.dupClusters(
      edges.select(col("src").as("a"), col("dst").as("b")), driverEdgeLimit = 0)
    println("clusters " + dc.count())
    Thread.sleep(2000)
    java.nio.file.Files.write(java.nio.file.Paths.get(out), sb.toString.getBytes("UTF-8"))
    println("session conf after: " + spark.conf.get("spark.sql.shuffle.partitions") + " " +
      spark.conf.get("spark.sql.adaptive.enabled"))
    spark.stop()
  }
}
