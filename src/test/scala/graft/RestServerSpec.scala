package graft

import scala.io.Source

import org.apache.spark.sql.functions._

import graft.operators.AggCore
import graft.serving.RestServer

class RestServerSpec extends SparkSpec {
  import spark.implicits._

  // cells around the reference README bbox area (u155* ≈ Antwerp)
  lazy val view = AggCore.hourlyView(Seq(
    ("2024-01-01 00:10:00", "u155mz82dv33", 10.0),
    ("2024-01-01 00:20:00", "u155mz82aaaa", 30.0),
    ("2024-01-01 01:10:00", "u155krxynu5s", 40.0))
    .toDF("t", "gh", "value")
    .select(to_timestamp($"t").as("ts"), substring($"gh", 1, 6).as("key"), $"value"))

  private def get(url: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setReadTimeout(60000) // a server that serializes requests fails, not hangs
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(is).mkString
    (code, body)
  }

  test("history endpoint returns the reference Message envelope") {
    val srv = new RestServer(view, port = 0)
    val port = srv.start()
    try {
      val (code, body) = get(s"http://localhost:$port/api/temperature/aggregate/avg/history" +
        "?geohashes=u155&from=1704067200000&to=1704153600000")
      assert(code == 200)
      // hour 0 avg = 20.0 across u155mz cells; hour 1 avg = 40.0 (u155kr)
      assert(body ==
        """{"columns":["timestamp","avg"],"data":[[1704067200000,20.0],[1704070800000,40.0]],"metadata":{"metric":"temperature"}}""")
    } finally srv.stop()
  }

  test("snapshot endpoint covers a bbox and returns per-geohash cells") {
    val srv = new RestServer(view, port = 0)
    val port = srv.start()
    try {
      // README.md:115 example bbox (covers u155*); ts inside hour 0
      val (code, body) = get(s"http://localhost:$port/api/temperature/aggregate/count/snapshot" +
        "?ts=1704068100000&bbox=51.5,4.0,51.1,4.8")
      assert(code == 200)
      assert(body.contains(""""columns":["geohash","count"]"""))
      assert(body.contains("""["u155mz",2]"""))
    } finally srv.stop()
  }

  test("validation errors surface as ErrorMessage with HTTP 400") {
    val srv = new RestServer(view, port = 0)
    val port = srv.start()
    try {
      val (code, body) = get(s"http://localhost:$port/api/temperature/aggregate/median/history" +
        "?geohashes=u155&from=1&to=2")
      assert(code == 400)
      assert(body.contains("errorMessage") && body.contains("median"))
      val (code2, _) = get(s"http://localhost:$port/api/temperature/aggregate/avg/snapshot" +
        "?ts=1704068100000&bbox=bad")
      assert(code2 == 400)
      val (code3, body3) = get(s"http://localhost:$port/api/temperature/aggregate/avg/history" +
        "?geohashes=u155&from=5&to=2")
      assert(code3 == 400 && body3.contains("Invalid range"), body3)
    } finally srv.stop()
    // the range is checked before the view resolves: a live server over a
    // table never committed to still answers an inverted range with 400
    val none = java.nio.file.Files.createTempDirectory("serve_none").toString
    val live = RestServer.live(spark, none, port = 0)
    val livePort = live.start()
    try {
      val (code, body) = get(s"http://localhost:$livePort/api/temperature/aggregate/avg/history" +
        "?geohashes=u155&from=5&to=2")
      assert(code == 400 && body.contains("Invalid range"), body)
    } finally { live.stop(); Gates.deleteTree(none) }
  }

  test("interval-form history works end to end") {
    val srv = new RestServer(view, port = 0)
    val port = srv.start()
    try {
      val (code, body) = get(s"http://localhost:$port/api/temperature/aggregate/sum/history" +
        "?geohashes=u155&interval=all&to=1704153600000")
      assert(code == 200)
      assert(body.contains("[1704067200000,40.0]") && body.contains("[1704070800000,40.0]"))
    } finally srv.stop()
  }

  test("full loop: stream -> upsert -> REST, late data revises the served cell") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingPipeline

    def json(tsMs: Long, gh: String, v: Double): String =
      s"""{"timestamp":$tsMs,"sensorId":"s1","geohash":"$gh","tempVal":$v,"tempUnit":"c"}"""
    val H0 = 1704067200000L
    val dir = java.nio.file.Files.createTempDirectory("serve_live").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_live").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]

    mem.addData(json(H0 + 60000, "u155mz82dv33", 10.0),
      json(H0 + 120000, "u155mz82aaaa", 30.0))
    val q = StreamingPipeline.start(mem.toDF().withColumnRenamed("value", "json"),
      dir, ckpt, precision = 6, trigger = Trigger.AvailableNow())
    q.processAllAvailable(); q.stop()

    // ONE live server across the whole test: every request re-reads the
    // serving table, so the stream's upserts are visible with no restart
    // (Kafka-Streams interactive-query behavior)
    val srv = RestServer.live(spark, dir, port = 0)
    val port = srv.start()
    try {
      val url = s"http://localhost:$port/api/temperature/aggregate/avg/history" +
        s"?geohashes=u155&from=$H0&to=${H0 + 86400000}"
      val (code, body) = get(url)
      assert(code == 200 && body.contains(s"[[$H0,20.0]]"))

      // late reading revises hour 0; restart stream from the same checkpoint
      mem.addData(json(H0 + 180000, "u155mz82zzzz", 50.0))
      val q2 = StreamingPipeline.start(mem.toDF().withColumnRenamed("value", "json"),
        dir, ckpt, precision = 6, trigger = Trigger.AvailableNow())
      q2.processAllAvailable(); q2.stop()

      // SAME server instance now serves the revised cell
      val (code2, body2) = get(url)
      assert(code2 == 200 && body2.contains(s"[[$H0,30.0]]"), body2) // (10+30+50)/3
    } finally srv.stop()
  }

  /** Run `f`; returns its value and the Spark jobs and tasks started
    * meanwhile, on any thread. A marker job flushes the listener bus:
    * events arrive in order, so once its start is seen every earlier
    * job's tasks are too. */
  private def jobsAndTasks[A](f: => A): (A, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val marker = s"marker-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = new java.util.concurrent.ConcurrentHashMap[Integer, String]
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = String.valueOf(e.properties.getProperty("spark.job.description"))
        jobs.add(d)
        e.stageIds.foreach(st => stages.put(st, d))
      }
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.add(e.stageId)
    }
    sc.addSparkListener(listener)
    try {
      val a = f
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      (a, jobs.asScala.count(_ != marker), tasks.asScala.count(st => stages.get(st) != marker))
    } finally sc.removeSparkListener(listener)
  }

  test("a live history or snapshot request over a backfilled table runs as one " +
    "Spark job of one task with no exchange, its filters pushed into the scan; " +
    "a read above OneTaskReadBytes keeps its exchange and answers the same bytes") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.operators.{SegmentStore, SeqFiles}
    import graft.streaming.StreamingPipeline

    val H0 = 1704067200000L // 2024-01-01 00:00:00 UTC
    val H = 3600000L
    // three days of readings over 40 geohashes, two readings per cell
    val readings = for {
      d <- 0 until 3; h <- Seq(0, 11, 23); g <- 0 until 40; r <- 0 until 2
    } yield s"""{"timestamp":${H0 + d * 24 * H + h * H + r * 60000},"sensorId":"s$g",""" +
      s""""geohash":"u155${"0123456789bcdefghjkmnpqrstuvwxyz"(g % 32)}${g / 32}x","tempVal":${g + r},"tempUnit":"c"}"""
    val dir = java.nio.file.Files.createTempDirectory("serve_plan").toString
    StreamingPipeline.backfill(readings.toDF("json"), dir)

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val day2 = H0 + 24 * H
    val history = s"/api/temperature/aggregate/avg/history?geohashes=u155&from=$day2&to=${day2 + 23 * H}"
    val snapshot = s"/api/temperature/aggregate/sum/snapshot?ts=${day2 + 11 * H + 5}&bbox=51.5,4.0,51.1,4.8"
    def serve(path: String, srv: RestServer = RestServer.live(spark, dir, port = 0),
              oneTask: Boolean = true): (String, SparkPlan) = {
      plans.clear()
      spark.listenerManager.register(listener)
      val port = srv.start()
      try {
        val ((code, body), jobs, tasks) = jobsAndTasks(get(s"http://localhost:$port$path"))
        assert(code == 200, body)
        val deadline = System.nanoTime() + 30000000000L
        while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
        assert(plans.size == 1, plans)
        if (oneTask) assert(jobs == 1 && tasks == 1, s"$path: $jobs jobs, $tasks tasks")
        (body, plans.peek())
      } finally { srv.stop(); spark.listenerManager.unregister(listener) }
    }
    // the final plan's nodes, inside an adaptive plan and its stages too
    val aqe = new AdaptiveSparkPlanHelper {}
    def exchanges(p: SparkPlan) = aqe.collect(p) { case e: Exchange => e }

    try {
      Seq(history, snapshot).foreach { path =>
        val (body, plan) = serve(path)
        assert(body.contains("\"data\":[["), body)
        assert(exchanges(plan).isEmpty, s"$path:\n$plan")
        val pushed = aqe.collect(plan) { case s: FileSourceScanExec => s }.head.metadata("PushedFilters")
        assert(pushed.contains("GreaterThanOrEqual(key,u15") && pushed.contains("LessThan(key,u15") &&
          pushed.contains("(window_start,"), pushed)
      }

      // a day larger than OneTaskReadBytes: Spark's split plan with its
      // exchange, answering the same bytes as one task over the whole table
      val big = H0 + 4 * 24 * H // 2024-01-05
      StreamingPipeline.upsertBatch(spark.range(0L, 60000L).select(
        concat(lit("u155"), lower(reverse(lpad(conv((col("id") % 30000).cast("string"), 10, 32), 4, "0")))).as("key"),
        (lit(big / 1000) + (col("id") / 30000).cast("long") * 3600).cast("timestamp").as("window_start"),
        (lit(big / 1000) + (col("id") / 30000).cast("long") * 3600 + 3600).cast("timestamp").as("window_end"),
        (col("id") % 7 + 1).as("count"),
        (rand(7) * 100).as("sum"))
        .withColumn("avg", col("sum") / col("count")), dir)
      val m = SegmentStore.latest(SeqFiles.fs(spark, dir), dir).get
      assert(m.live.filter(_.values.head == "2024-01-05").map(_.bytes).sum >
        StreamingPipeline.OneTaskReadBytes)
      Seq(s"/api/temperature/aggregate/avg/history?geohashes=u155&from=$big&to=${big + H}",
          s"/api/temperature/aggregate/sum/snapshot?ts=${big + H + 5}&bbox=51.5,4.0,51.1,4.8").foreach { path =>
        val (body, plan) = serve(path, oneTask = false)
        assert(body.contains("\"data\":[["), body)
        assert(exchanges(plan).nonEmpty, s"$path:\n$plan")
        val whole = new RestServer(StreamingPipeline.servingView(spark, dir).coalesce(1), 0)
        assert(serve(path, whole, oneTask = false)._1 == body)
      }

      // a range or hour with no live day: an empty answer, not an error
      val far = H0 + 30 * 24 * H
      Seq(s"/api/temperature/aggregate/count/history?geohashes=u155&from=$far&to=${far + H}",
          s"/api/temperature/aggregate/count/snapshot?ts=$far&bbox=51.5,4.0,51.1,4.8").foreach { path =>
        val (body, _) = serve(path)
        assert(body.contains("\"data\":[]"), body)
      }
    } finally Gates.deleteTree(dir)
  }

  test("the view provider gets each request's window_start range") {
    val ranges = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val srv = new RestServer((from, to) => { ranges.add((from, to)); view }, 0)
    val port = srv.start()
    try {
      val base = s"http://localhost:$port/api/temperature/aggregate/count"
      get(s"$base/history?geohashes=u155&from=1704067200000&to=1704153600000")
      get(s"$base/history?geohashes=u155&interval=1week&to=1704153600000")
      get(s"$base/snapshot?ts=1704068100000&bbox=51.5,4.0,51.1,4.8")
      assert(ranges.toArray.toSeq == Seq(
        (1704067200000L, 1704153600000L),
        (1704153600000L - 7 * 86400000L, 1704153600000L),
        (1704067200000L, 1704067200000L)))
    } finally srv.stop()
  }

  test("error-body JSON escaping covers control characters, not just quotes") {
    // Spark exception text routinely carries newlines/tabs; RFC 8259
    // requires every char < 0x20 escaped or the error body is unparseable
    assert(graft.serving.Json.escape("a\nb\rc\td\"e\\fg") ==
      "a\\nb\\rc\\td\\\"e\\\\fg")
    assert(graft.serving.Json.escape("x" + 1.toChar + "y" + 31.toChar + "z") ==
      "x\\u0001y\\u001fz")
    assert(graft.serving.Json.escape("plain") == "plain")
    assert(graft.serving.Json.escape("\b\f") == "\\b\\f")
  }

  test("requests are served concurrently: one held request does not block " +
    "another, answers match sequential ones, and stop() ends every pool thread") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import scala.jdk.CollectionConverters._

    val history = "/api/temperature/aggregate/avg/history" +
      "?geohashes=u155&from=1704067200000&to=1704153600000"
    val snapshot = "/api/temperature/aggregate/count/snapshot" +
      "?ts=1704068100000&bbox=51.5,4.0,51.1,4.8"
    val confBefore = spark.conf.getAll

    val plain = new RestServer(view, port = 0)
    val plainPort = plain.start()
    val sequential =
      try Seq(history, snapshot).map(p => get(s"http://localhost:$plainPort$p"))
      finally plain.stop()
    assert(sequential.forall(_._1 == 200), sequential)

    // the first request to resolve the view is held until released
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val calls = new AtomicInteger(0)
    val gated = new RestServer((_, _) => {
      if (calls.incrementAndGet() == 1) {
        entered.countDown()
        release.await(120, TimeUnit.SECONDS) // longer than get's read timeout
      }
      view
    }, 0)
    val port = gated.start()
    try {
      @volatile var held: (Int, String) = null
      val first = new Thread(() => held = get(s"http://localhost:$port$history"))
      first.start()
      assert(entered.await(30, TimeUnit.SECONDS), "the first request never arrived")
      val second = get(s"http://localhost:$port$snapshot")
      assert(first.isAlive && held == null, "the first request must still be held")
      release.countDown()
      first.join(60000)
      assert(Seq(held, second) == sequential)
    } finally {
      release.countDown()
      gated.stop()
    }
    // a terminated pool's workers are past their last task; give each a
    // moment to finish exiting
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-http-"))
      .filter { t => t.join(5000); t.isAlive }
    assert(alive.isEmpty, s"pool threads alive after stop(): ${alive.map(_.getName)}")
    assert(spark.conf.getAll == confBefore, "serving must not change session conf")
  }
}
