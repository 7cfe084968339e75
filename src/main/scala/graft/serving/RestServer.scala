package graft.serving

import com.sun.net.httpserver.HttpExchange

import org.apache.spark.sql.DataFrame

import graft.operators.QueryBuilders
import graft.operators.QueryBuilders.QueryError
import graft.serving.HttpEndpoint.{parseQuery, respond}

/**
 * Thin REST layer over the query builders — the engine-side equivalent of the
 * reference's Jetty/Jersey endpoints (`querying/QueryingService.java:39,125`):
 *
 *   GET /api/temperature/aggregate/{op}/history?geohashes=g1,g2[&from=ms][&to=ms][&interval=1day|1week|1month|all]
 *   GET /api/temperature/aggregate/{op}/snapshot?ts=ms&bbox=N,W,S,E
 *
 * Responses use the reference's `Message` envelope
 * (`model/Message.java:7-16`, examples `README.md:81-145`):
 * `{"columns":[...],"data":[[k,v],...],"metadata":{"metric":"temperature"}}`;
 * errors use `{"errorMessage":...,"errorCode":...}` with HTTP 400/500
 * (`model/ErrorMessage.java:3-5`).
 *
 * The reference's scatter-gather `local` flag (`QueryingController.java:53-57`)
 * is accepted and ignored: Spark executors replace the host fan-out, so every
 * node serves global results.
 *
 * Built on the JDK's HttpServer ([[HttpEndpoint]]) — zero extra
 * dependencies; requests are handled concurrently, one pool thread per
 * core, each resolving the view and running its own Spark jobs. The
 * serving layer only ever touches already-aggregated, already-small query
 * results.
 *
 * `viewProvider(fromMs, toMs)` is called once per request with the
 * `window_start` range the request reads: a history's range (a named
 * interval's included), a snapshot's truncated hour at both ends.
 */
class RestServer(viewProvider: (Long, Long) => DataFrame, port: Int) {

  /** Static view (batch results, tests): every request sees the same frame. */
  def this(view: DataFrame, port: Int) = this((_, _) => view, port)
  def this(view: DataFrame) = this(view, 7070)

  private val endpoint = new HttpEndpoint(port, "/api/temperature/aggregate", handle)

  /** Start serving; returns the bound port. */
  def start(): Int = endpoint.start()

  /** Stop accepting requests and wait for the handler threads to exit. */
  def stop(): Unit = endpoint.stop()

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
      // path = api, temperature, aggregate, {op}, history|snapshot
      val params = parseQuery(ex)
      if (path.length != 5) respond(ex, 404, Json.error("not found", 404))
      else {
        val (op, kind) = (path(3), path(4))
        kind match {
          case "history"  => respond(ex, 200, history(op, params))
          case "snapshot" => respond(ex, 200, snapshot(op, params))
          case _          => respond(ex, 404, Json.error("not found", 404))
        }
      }
    } catch {
      case QueryError(msg, code) => respond(ex, code, Json.error(msg, code))
      case t: Throwable          =>
        // log server-side, answer generically: exception text carries
        // paths/class names a public-facing 500 must not leak
        System.err.println(s"[serving] 500 on ${ex.getRequestURI}: $t")
        respond(ex, 500, Json.error("internal error", 500))
    }
  }

  private def history(op: String, params: Map[String, String]): String = {
    val prefixes = params.getOrElse("geohashes", "").split(",").toSeq.filter(_.nonEmpty)
    val now = System.currentTimeMillis()
    val to = params.get("to").flatMap(_.toLongOption).filter(_ > 0).getOrElse(now)
    val from = params.get("interval").filter(_.nonEmpty) match {
      case Some(iv) => QueryBuilders.fromForInterval(to, iv)
      case None => params.get("from").flatMap(_.toLongOption).filter(_ > 0).getOrElse(0L)
    }
    // before the view: an inverted range is a 400 even with no table
    QueryBuilders.validateRange(from, to)
    val result = QueryBuilders.history(viewProvider(from, to), op, prefixes, from, to)
    // reference history columns: ["timestamp", op] with epoch-ms keys
    // (README.md:83-86)
    val rows = result.collect().map { r =>
      s"[${r.getTimestamp(0).getTime},${Json.number(r.get(1))}]"
    }
    Json.message(Seq("timestamp", op.toLowerCase), rows.toSeq, "temperature")
  }

  private def snapshot(op: String, params: Map[String, String]): String = {
    val ts = params.get("ts").flatMap(_.toLongOption)
      .getOrElse(throw QueryError("Missing or invalid snapshot timestamp"))
    val bbox = params.getOrElse("bbox", "").split(",").toSeq
      .filter(_.nonEmpty).flatMap(_.toDoubleOption)
    if (bbox.length != 4) throw QueryError(s"Invalid bbox: ${params.getOrElse("bbox", "")}")
    val hour = QueryBuilders.truncateToHourMs(ts)
    val result = QueryBuilders.snapshot(viewProvider(hour, hour), op, ts,
      bbox(0), bbox(1), bbox(2), bbox(3))
    val rows = result.collect().map { r =>
      s"""["${r.getString(0)}",${Json.number(r.get(1))}]"""
    }
    Json.message(Seq("geohash", op.toLowerCase), rows.toSeq, "temperature")
  }
}

object RestServer {
  /** Serve the STREAMING pipeline's table live: each request resolves the
    * serving table afresh ([[graft.streaming.StreamingPipeline.servingView]]:
    * pinned to the newest manifest, no Spark job), so
    * micro-batch upserts are visible immediately — the Kafka-Streams
    * interactive-query analogue (reference serves its RocksDB store the
    * same way, `querying/QueryingService.java:39`). Requests run
    * concurrently, and each reads exactly the UTC days its time range or
    * snapshot hour lies in, so a request's cost tracks the days it asks
    * for, not the table's retention; a read of at most
    * [[graft.streaming.StreamingPipeline.OneTaskReadBytes]] runs as one
    * Spark job of one task. */
  def live(spark: org.apache.spark.sql.SparkSession, tableDir: String,
           port: Int = 7070): RestServer =
    new RestServer(graft.streaming.StreamingPipeline.servingView(spark, tableDir, _, _), port)
}
