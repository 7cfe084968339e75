package graft

import org.apache.spark.sql.SparkSession

/** Smoke runner mirroring the driver's t1 check: `entry()` on sf0.001 must
  * return rows. Prints the row count and the first rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // engine extension stack (SQL functions + TopK strategy),
      // loaded the way a cluster deployment would
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry() rows = $n")
    df.show(5, truncate = false)
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
