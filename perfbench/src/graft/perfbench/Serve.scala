package graft.perfbench

import java.time.{Instant, ZoneOffset, ZonedDateTime}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.functions.GeoFunctions
import graft.operators.QueryBuilders
import graft.serving.RestServer
import graft.streaming.StreamingPipeline

/** The temperature REST API's two request families, as the benchmark sends them. */
sealed trait TempReq {
  def kind: String
  def op: String
  def path: String
}

final case class HistoryReq(op: String, prefixes: Seq[String], from: Long, to: Long,
                            interval: Option[String]) extends TempReq {
  def kind = "history"
  def path: String = s"/api/temperature/aggregate/$op/history?geohashes=${prefixes.mkString(",")}" +
    interval.fold(s"&from=$from&to=$to")(iv => s"&to=$to&interval=$iv")
  /** the queried window_start range, both ends inclusive */
  def range: (Long, Long) = (interval.fold(from)(TempApi.intervalStart(to, _)), to)
}

final case class SnapshotReq(op: String, ts: Long, bbox: Seq[String]) extends TempReq {
  def kind = "snapshot"
  def path: String = s"/api/temperature/aggregate/$op/snapshot?ts=$ts&bbox=${bbox.mkString(",")}"
  def hour: Long = ts - Math.floorMod(ts, SensorNet.HourMs)
  def corners: Seq[Double] = bbox.map(_.toDouble)
  /** the prefixes the answer must cover, derived apart from the engine */
  def cover: Seq[String] = {
    val Seq(n, w, s, e) = corners
    Gh.cover(n, w, s, e, 12)
  }
}

object TempApi {
  val Ops = Vector("count", "sum", "avg")
  val Intervals = Vector("1day", "1week", "1month", "all")

  def intervalStart(to: Long, iv: String): Long = {
    val t = ZonedDateTime.ofInstant(Instant.ofEpochMilli(to), ZoneOffset.UTC)
    (iv match {
      case "1day" => t.minusDays(1)
      case "1week" => t.minusWeeks(1)
      case "1month" => t.minusMonths(1)
      case "all" => t.minusYears(30)
    }).toInstant.toEpochMilli
  }

  def prefixOf(net: SensorNet, r: SplittableRandom): String =
    net.geohash(r.nextInt(net.nSensors)).substring(0, 4 + r.nextInt(2))

  /** A bbox around a sensor, from inside one 6-char cell up to a region
    * whose cover needs the full 12 hashes; `size` in [0, 1) places its
    * half-height on a log scale between the two. */
  def bbox(net: SensorNet, r: SplittableRandom, size: Double): Seq[String] = {
    val s = r.nextInt(net.nSensors)
    val halfLat = math.exp(math.log(0.001) + size * (math.log(0.12) - math.log(0.001)))
    val halfLon = 1.6 * halfLat
    Seq(net.lat(s) + halfLat, net.lon(s) - halfLon, net.lat(s) - halfLat, net.lon(s) + halfLon)
      .map(v => f"$v%.6f")
  }

  /** The serve mix: history over 1-3 prefixes of length 4-5 with explicit
    * ranges or named intervals; snapshots over bboxes; ops count/sum/avg.
    * `turn` steps through the classes (kind, op, interval or range, bbox
    * size band) in a fixed cycle and the seed draws the rest, so every run
    * sends each class in the same share. */
  def serveReq(net: SensorNet, r: SplittableRandom, turn: Int): TempReq = {
    val op = Ops((turn / 2) % 3)
    val band = (turn / 2) % 5
    val span = net.histTo - net.histFrom
    if (turn % 2 == 0) {
      val prefixes = Seq.fill(1 + r.nextInt(3))(prefixOf(net, r)).distinct
      if (band < Intervals.length) {
        val to = net.histFrom + SensorNet.DayMs + (r.nextDouble() * (span - SensorNet.DayMs)).toLong
        HistoryReq(op, prefixes, 0L, to, Some(Intervals(band)))
      } else {
        val from = net.histFrom + (r.nextDouble() * (span - SensorNet.HourMs)).toLong
        val len = SensorNet.HourMs + (r.nextDouble() * 7 * SensorNet.DayMs).toLong
        HistoryReq(op, prefixes, from, math.min(net.histTo, from + len), None)
      }
    } else SnapshotReq(op, net.histFrom + (r.nextDouble() * span).toLong,
      bbox(net, r, (band + r.nextDouble()) / 5))
  }

  /** Exact check of a served body against the oracle. */
  def matches(req: TempReq, body: String, oracle: Oracle): Boolean = {
    val rows = Json.dataRows(body)
    req match {
      case h: HistoryReq =>
        val (from, to) = h.range
        val want = oracle.history(h.prefixes, from, to)
        rows.length == want.length && rows.zip(want).forall { case (got, (hour, c, s)) =>
          Json.toDouble(got(0)).toLong == hour && Oracle.close(Json.toDouble(got(1)), oracle.value(h.op, c, s))
        }
      case s: SnapshotReq =>
        val want = oracle.snapshot(s.cover, s.hour)
        rows.length == want.length && rows.zip(want).forall { case (got, (key, c, sum)) =>
          got(0) == key && Oracle.close(Json.toDouble(got(1)), oracle.value(s.op, c, sum))
        }
    }
  }

  /** The same query through the library, with spans: view resolution, the
    * bbox cover, plan construction and execution. Returns the result rows. */
  def direct(spark: org.apache.spark.sql.SparkSession, table: String, req: TempReq): Int = {
    val view = Trace.span("serving.view")(StreamingPipeline.servingView(spark, table))
    val df = req match {
      case h: HistoryReq =>
        val (from, to) = h.range
        Trace.span("operators.history_plan") {
          val d = QueryBuilders.history(view, h.op, h.prefixes, from, to)
          d.queryExecution.executedPlan
          d
        }
      case s: SnapshotReq =>
        val Seq(north, west, south, east) = s.corners
        val cover = Trace.span("geo.cover")(GeoFunctions.coverBoundingBox(north, west, south, east))
        Trace.record("geo.cover_hashes", cover.size)
        Trace.span("operators.snapshot_plan") {
          val d = QueryBuilders.snapshotByPrefixes(view, s.op, cover, s.ts)
          d.queryExecution.executedPlan
          d
        }
    }
    val n = Trace.span(s"operators.${req.kind}_exec")(df.collect().length)
    Trace.record("operators.result_rows", n)
    n
  }

  /** Size and layout of the parquet serving table. */
  def sourceMetrics(spark: org.apache.spark.sql.SparkSession, table: String, r: Report): Unit = {
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var files = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) files += 1
    val perDay = StreamingPipeline.servingView(spark, table).groupBy(col("window_day")).count()
      .collect().map(_.getLong(1).toDouble)
    r.put("sources.table_files", files, "count")
    r.put("sources.table_rows", perDay.sum, "rows")
    r.put("sources.day_partition_rows_p50", Stats.median(perDay), "rows")
  }
}

/**
 * A client pool's requests, fixed by the seed: client `c`'s `seq`-th request
 * is drawn from its own random stream, in order, and remembered so a
 * response can be checked against the request that produced it. `gen` also
 * gets `client + seq`, which workloads use to cycle through request kinds so
 * every run sends the kinds in the same proportions.
 */
final class RequestStreams[R](ctx: Ctx, gen: (SplittableRandom, Int) => R) {
  private val streams = mutable.Map[Int, (SplittableRandom, mutable.ArrayBuffer[R])]()
  def apply(client: Int, seq: Int): R = synchronized {
    val (rnd, buf) = streams.getOrElseUpdate(client, (ctx.rnd(100 + client), mutable.ArrayBuffer()))
    while (buf.length <= seq) buf += gen(rnd, client + buf.length)
    buf(seq)
  }
}

/** One API's closed-loop measurement; the traced fields stay empty untraced. */
final case class Phase(warm: Vector[Exchange], untraced: Vector[Exchange], traced: Vector[Exchange],
                       sampleMs: Vector[Double], directMs: Vector[Double], oneMs: Vector[Double]) {
  def all: Vector[Exchange] = warm ++ untraced ++ traced
  def p50: Double = Stats.median(untraced.map(_.ms))
  /** Closed-loop throughput: each client's completions over its busy time,
    * summed over clients (not quantized by where the window ends). */
  def perSecond: Double =
    untraced.groupBy(_.client).values.map(es => es.size / (es.map(_.ms).sum / 1000)).sum
}

/**
 * Closed-loop serving measurement. First K clients warm the server up
 * (unmeasured, still checked) until JIT and code generation settle.
 * Untraced: K clients for the phase.
 * Traced: K clients untraced for half the phase (the reference for the
 * tracing overhead and per-kind latencies), K clients with the Spark
 * listeners on for the other half (per-op Spark counts), then a sample of the
 * untraced requests once through the library directly with spans and once
 * over HTTP by a single client: HTTP overhead is one client minus direct,
 * queueing is K clients minus one.
 */
object ClosedLoop {
  val Sample = 4
  val WarmMs = 3000L

  def run[R](ctx: Ctx, base: String, reqs: RequestStreams[R], kindOf: R => String,
             pathOf: R => String, ms: Long, counters: SparkCounters,
             direct: R => Unit): Phase = {
    val next = (c: Int, s: Int) => { val q = reqs(c, s); (kindOf(q), pathOf(q)) }
    val warm = Http.closedLoop(base, ctx.clients, WarmMs, next, firstClient = 20)
    if (!ctx.trace) Phase(warm, Http.closedLoop(base, ctx.clients, ms, next), Vector(), Vector(), Vector(), Vector())
    else {
      val untraced = Http.closedLoop(base, ctx.clients, ms / 2, next)
      counters.enabled = true
      val traced = Http.closedLoop(base, ctx.clients, ms / 2, next, firstClient = 50)
      counters.enabled = false
      val sample = untraced.filter(_.code == 200).take(Sample)
      Trace.on = true
      val directMs = sample.map { e =>
        Trace.op(e.client * 100000L + e.seq + 1) {
          val t0 = System.nanoTime()
          Trace.span("direct")(direct(reqs(e.client, e.seq)))
          (System.nanoTime() - t0) / 1e6
        }
      }
      Trace.on = false
      val oneMs = sample.map { e =>
        val t0 = System.nanoTime(); Http.get(base, e.path); (System.nanoTime() - t0) / 1e6
      }
      Phase(warm, untraced, traced, sample.map(_.ms), directMs, oneMs)
    }
  }

  /** Per-layer numbers of traced phases: tracing overhead, per-kind
    * latency, HTTP overhead and queueing. */
  def layers(r: Report, phases: Seq[Phase]): Unit = {
    r.put("tracing.overhead_share", Stats.mean(phases.map(p =>
      Stats.mean(p.traced.map(_.ms)) / Stats.mean(p.untraced.map(_.ms)) - 1)), "ratio")
    phases.flatMap(_.untraced).groupBy(_.kind).foreach { case (k, es) =>
      r.put(s"requests.${k}_p50_ms", Stats.median(es.map(_.ms)), "ms")
    }
    r.put("serving.http_overhead_ms_p50",
      Stats.median(phases.flatMap(p => p.oneMs.zip(p.directMs).map { case (a, b) => a - b })), "ms")
    r.put("serving.queue_ms_p50",
      Stats.median(phases.flatMap(p => p.sampleMs.zip(p.oneMs).map { case (a, b) => a - b })), "ms")
  }
}

/**
 * `serve`: the temperature read path alone, no ingest. Set-up backfills the
 * serving table; K closed-loop clients query `RestServer.live`, and every
 * response is checked against the oracle. A traced run then also builds the
 * retrieval artifacts and measures `RetrievalServer` the same way.
 */
object Serve {
  def run(ctx: Ctx): Report = {
    val r = new Report
    val spark = ctx.spark
    val net = new SensorNet(ctx.seed, ctx.scaled(2000))
    val hist = net.history(ctx.scaled(50000), ctx.rnd(1))
    val oracle = new Oracle
    oracle.addAll(net, hist)
    if (ctx.corrupt) oracle.corruptOne()
    val raw = ctx.jsonFrame(hist.toSeq.map(h => net.json(h.sensor, h.ts, h.cents)))
    val table = ctx.setup(r) { i =>
      val dir = ctx.dir(s"table-$i")
      StreamingPipeline.backfill(raw, dir)
      dir
    }
    val counters = new SparkCounters
    if (ctx.trace) counters.attach(spark)
    val before = counters.other.snapshot
    val ms = ctx.seconds * 1000L
    val reqs = new RequestStreams[TempReq](ctx, TempApi.serveReq(net, _, _))
    val rest = RestServer.live(spark, table, port = 0)
    val temp =
      try ClosedLoop.run[TempReq](ctx, s"http://localhost:${rest.start()}", reqs,
        _.kind, _.path, ms, counters, q => TempApi.direct(spark, table, q))
      finally rest.stop()
    temp.all.foreach { e =>
      val q = reqs(e.client, e.seq)
      r.check(e.code == 200 && TempApi.matches(q, e.body, oracle),
        s"serve ${e.code} ${q.path} -> ${e.body.take(200)}")
    }
    if (!ctx.trace) {
      r.put("op_p50_ms", temp.p50, "ms")
      r.put("ops_per_s", temp.perSecond, "1/s")
    } else {
      val ret = Retrieve.measure(ctx, r, counters)
      PerOp.metrics(before, counters.other.snapshot, temp.traced.size + ret.traced.size, r)
      ClosedLoop.layers(r, Seq(temp, ret))
      Layers.serve(ctx, r, table)
      Layers.retrieve(r)
    }
    Layers.finish(ctx, r)
    r
  }
}
