package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Optimization-round measurement harness (guide §1: measure first; §7.2:
 * read the plan). For each named query this runs the SAME session shape as
 * [[Bench]] and reports, per query:
 *
 *  - `.explain("formatted")` of the returned frame (written to
 *    `plans/<tag>/<name>.txt` so plan claims are auditable without Spark),
 *  - a job-level timing table (job id, duration, description) for one cold
 *    run — the local-mode stand-in for the UI's Jobs page, which separates
 *    lifecycle write jobs from compute jobs inside multi-action queries,
 *  - cold and warm wall seconds (warm = second count() on one Dataset —
 *    isolates execution from analysis/codegen, mirroring Bench's `warm`),
 *  - for streaming entries, the distinct state-shuffle partition counts
 *    their micro-batches reported (`state_partitions`).
 *
 * Usage: `runMain graft.Probe <outDirTag> <query1,query2,...>` with the
 * usual `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` env. Not part of the
 * driver contract; diagnostics only.
 */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val tag = args.headOption.getOrElse("probe")
    val names = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class JobRow(id: Int, desc: String, started: Long, var ended: Long)
    val jobs = new ConcurrentLinkedQueue[JobRow]()
    val stateParts = new ConcurrentLinkedQueue[Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      // progress of every streaming query, whichever session started it (a
      // sized gate starts its query from a clone of this session)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent =>
          p.progress.stateOperators.foreach(op => stateParts.add(op.numShufflePartitions))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(JobRow(e.jobId,
          Option(e.properties.getProperty("spark.job.description"))
            .orElse(Option(e.properties.getProperty("callSite.short")))
            .getOrElse(""),
          e.time, -1L))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val it = jobs.iterator()
        while (it.hasNext) { val j = it.next(); if (j.id == e.jobId) j.ended = e.time }
      }
    })

    // same JVM/codegen warmup as Bench
    SparkEntry.queries.get("q1_agg").foreach(fn => fn(spark, sfDir).count())

    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir)
    val picked =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else names.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    picked.foreach { case (name, fn) =>
      spark.catalog.clearCache()
      jobs.clear()
      stateParts.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      df.count()
      val tCold = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      df.count()
      val tWarm = (System.nanoTime() - t2) / 1e9
      // plan AFTER execution so AQE's final plan is available
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
        plan.getBytes("UTF-8"))
      val sb = new StringBuilder
      sb.append(f"[probe] $name build=$tBuild%.3f cold=$tCold%.3f warm=$tWarm%.3f\n")
      val it = jobs.iterator()
      var njobs = 0
      var sum = 0.0
      while (it.hasNext) {
        val j = it.next()
        val dur = if (j.ended > 0) (j.ended - j.started) / 1e3 else -1.0
        njobs += 1
        if (dur > 0) sum += dur
        sb.append(f"[probe]   job ${j.id}%4d ${dur}%8.3fs  ${j.desc.take(110)}\n")
      }
      sb.append(f"[probe] $name jobs=$njobs jobsum=$sum%.3f\n")
      if (!stateParts.isEmpty)
        sb.append(s"[probe] $name state_partitions=" +
          stateParts.asScala.toSeq.distinct.sorted.mkString(",") + "\n")
      print(sb.toString)
      java.nio.file.Files.write(outDir.resolve(s"${name}_jobs.txt"),
        sb.toString.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
