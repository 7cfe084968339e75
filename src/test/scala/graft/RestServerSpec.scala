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
    } finally srv.stop()
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
    val gated = new RestServer(() => {
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
