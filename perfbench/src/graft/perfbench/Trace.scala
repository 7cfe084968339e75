package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Spans around the benchmark's calls into each engine layer. A span has a
 * name, start and end, the span that was open when it began (its parent) and
 * the op it belongs to. Spans stay in memory and are written out when the run
 * ends. While tracing is off, `span` only runs its body.
 */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def op[A](id: Long)(body: => A): A = {
    val prev = currentOp.get
    currentOp.set(id)
    try body finally currentOp.set(prev)
  }

  def span[A](name: String)(body: => A): A = spanFrom(name, identity)(body)

  /** A span that may start before its body: `start` maps the time the body
    * began to the span's start, and is asked once the body has run (for work
    * the engine began before calling the benchmark's code). */
  def spanFrom[A](name: String, start: Long => Long)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, stack.headOption.getOrElse(0L), currentOp.get, name, start(t0), System.nanoTime()))
        open.set(stack)
      }
    }

  private val values = new ConcurrentLinkedQueue[(String, Double)]()

  /** A count observed at a layer boundary (cover size, result rows, ...). */
  def record(name: String, v: Double): Unit = if (on) values.add((name, v))
  def recorded(name: String): Vector[Double] =
    values.asScala.iterator.filter(_._1 == name).map(_._2).toVector

  def all: Vector[Span] = spans.asScala.toVector
  def ms(name: String): Vector[Double] = all.filter(_.name == name).map(_.ms)

  /** Self time of each span: its duration minus the part its children cover
    * (children of one span run one after another on its thread). */
  def selfMs: Map[Long, Double] = {
    val s = all
    val childMs = s.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    s.map(x => x.id -> (x.ms - childMs.getOrElse(x.id, 0.0))).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.quote(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${Json.num(self(s.id))}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/**
 * Spark-side counts for the traced run, split by who submitted the job: the
 * streaming query's micro-batches, or everything else (the servers' requests
 * and direct calls). Jobs carry the submitting thread's local properties, and
 * Structured Streaming tags its jobs with the query id and batch id.
 */
final class SparkCounters extends SparkListener {
  final class Bucket {
    val jobs, stages, tasks, jobWallMs, taskRunMs, shuffleWrite, spill, bytesRead,
      filesRead = new AtomicLong()
    def snapshot: Map[String, Long] = Map(
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "job_wall_ms" -> jobWallMs.get, "task_run_ms" -> taskRunMs.get,
      "shuffle_write_bytes" -> shuffleWrite.get, "spill_bytes" -> spill.get,
      "bytes_read" -> bytesRead.get, "files_read" -> filesRead.get)
  }
  val stream = new Bucket
  val other = new Bucket
  @volatile var enabled = false

  private val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Bucket)]()
  private val stageInfo = new java.util.concurrent.ConcurrentHashMap[Int, (Bucket, Long)]()
  private val execInfo = new java.util.concurrent.ConcurrentHashMap[Long, Bucket]()
  /** records written per micro-batch id (the upsert's day rewrite) */
  val writtenPerBatch = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val props = Option(e.properties)
    val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
    val b = if (streaming) stream else other
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    b.jobs.incrementAndGet()
    jobInfo.put(e.jobId, (e.time, b))
    e.stageIds.foreach(s => stageInfo.put(s, (b, batch)))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execInfo.put(x.toLong, b))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (t0, b) => b.jobWallMs.addAndGet(e.time - t0) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageInfo.get(e.stageInfo.stageId)).foreach(_._1.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageInfo.get(e.stageId)).foreach { case (b, batch) =>
      b.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        b.taskRunMs.addAndGet(m.executorRunTime)
        b.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        b.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        b.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        val w = m.outputMetrics.recordsWritten
        if (batch >= 0 && w > 0)
          writtenPerBatch.computeIfAbsent(batch, _ => new AtomicLong()).addAndGet(w)
      }
    }

  /** Files opened by the scans of a finished query, from the scan nodes'
    * `numFiles` metric, booked to the bucket of the query's jobs. */
  val filesListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val b = Option(execInfo.get(qe.id)).getOrElse(other)
        b.filesRead.addAndGet(scanFiles(qe.executedPlan))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def scanFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanFiles(a.executedPlan)
    case q: QueryStageExec => scanFiles(q.plan)
    case other =>
      other.metrics.get("numFiles").map(_.value).getOrElse(0L) +
        other.children.map(scanFiles).sum + other.subqueries.map(scanFiles).sum
  }

  /** Start times (epoch ms) of SQL executions, by execution id. */
  private val execStartMs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execStartMs.put(s.executionId, s.time)
    case _ =>
  }

  /** When SQL execution `id` started, on the `System.nanoTime` clock; waits
    * up to a second for the listener bus to deliver its start event. */
  def executionStartNs(id: Long): Option[Long] = {
    val deadline = System.nanoTime() + 1000000000L
    while (!execStartMs.containsKey(id) && System.nanoTime() < deadline) Thread.sleep(1)
    Option(execStartMs.get(id)).map(ms => System.nanoTime() - (System.currentTimeMillis() - ms) * 1000000L)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(filesListener)
  }
}

/** Difference of two bucket snapshots, divided over `ops` operations. */
object PerOp {
  def metrics(before: Map[String, Long], after: Map[String, Long], ops: Long,
              r: Report): Unit = {
    def d(k: String): Double = if (ops <= 0) 0.0 else (after(k) - before(k)).toDouble / ops
    r.put("spark.jobs_per_op", d("jobs"), "count")
    r.put("spark.stages_per_op", d("stages"), "count")
    r.put("spark.tasks_per_op", d("tasks"), "count")
    r.put("spark.job_wall_ms_per_op", d("job_wall_ms"), "ms")
    r.put("spark.task_run_ms_per_op", d("task_run_ms"), "ms")
    r.put("spark.shuffle_write_bytes_per_op", d("shuffle_write_bytes"), "bytes")
    r.put("spark.spill_bytes_per_op", d("spill_bytes"), "bytes")
    r.put("spark.files_read_per_op", d("files_read"), "count")
    r.put("spark.bytes_read_per_op", d("bytes_read"), "bytes")
  }
}
