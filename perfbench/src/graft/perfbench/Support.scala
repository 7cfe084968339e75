package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

/** Percentiles over raw samples (linear interpolation between closest ranks). */
object Stats {
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  /** p95 is only reported when at least ten samples lie above it. */
  def p95(xs: Iterable[Double]): Double = {
    val n = xs.size
    if (n < 200) Double.NaN else quantile(xs, 0.95)
  }
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def nanToZero(x: Double): Double = if (x.isNaN || x.isInfinite) 0.0 else x
}

/** What one run reports: the correctness tally and named metrics with units. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  var correct = true
  val notes = mutable.ArrayBuffer[String]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (notes.size < 20) notes += what }
  }
  def fail(what: String): Unit = { correct = false; if (notes.size < 20) notes += what }

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${correct && failed == 0}, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {$ms}}"""
  }
}

/** Minimal JSON reader for the servers' `Message` envelopes, plus number output. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.1f"
    else java.lang.Double.toString(v)

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def parse(s: String): Any = new Parser(s).value()

  private final class Parser(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def value(): Any = {
      ws()
      s.charAt(i) match {
        case '{' =>
          i += 1; val m = mutable.LinkedHashMap[String, Any](); ws()
          if (s.charAt(i) == '}') { i += 1; return m.toMap }
          while (true) {
            ws(); val k = str(); ws(); i += 1 // ':'
            m(k) = value(); ws()
            if (s.charAt(i) == ',') i += 1 else { i += 1; return m.toMap }
          }
          m.toMap
        case '[' =>
          i += 1; val b = mutable.ArrayBuffer[Any](); ws()
          if (s.charAt(i) == ']') { i += 1; return b.toVector }
          while (true) {
            b += value(); ws()
            if (s.charAt(i) == ',') i += 1 else { i += 1; return b.toVector }
          }
          b.toVector
        case '"' => str()
        case 'n' => i += 4; null
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case _ =>
          val st = i
          while (i < s.length && "+-.eE0123456789".indexOf(s.charAt(i)) >= 0) i += 1
          BigDecimal(s.substring(st, i))
      }
    }
    private def str(): String = {
      i += 1
      val sb = new StringBuilder
      while (s.charAt(i) != '"') {
        if (s.charAt(i) == '\\') {
          i += 1
          s.charAt(i) match {
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case 'n' => sb += '\n'; case 't' => sb += '\t'; case c => sb += c
          }
        } else sb += s.charAt(i)
        i += 1
      }
      i += 1
      sb.toString
    }
  }

  /** The `data` rows of a `{"columns":…,"data":[[…],…],…}` envelope. */
  def dataRows(body: String): Vector[Vector[Any]] =
    parse(body).asInstanceOf[Map[String, Any]]("data").asInstanceOf[Vector[Any]]
      .map(_.asInstanceOf[Vector[Any]])

  def toDouble(v: Any): Double = v match {
    case b: BigDecimal => b.toDouble
    case null => Double.NaN
    case other => other.toString.toDouble
  }
}

/** One HTTP exchange as a client saw it. */
final case class Exchange(client: Int, seq: Int, kind: String, path: String,
                          startNs: Long, endNs: Long, code: Int, body: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Http {
  def get(base: String, path: String): (Int, String) = {
    val conn = URI.create(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    try {
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      (code, body)
    } catch {
      case e: java.io.IOException => (-1, e.toString)
    }
  }

  def enc(s: String): String = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

  /**
   * Closed loop: `clients` threads each send their next request only after
   * the previous response arrived, until `durationMs` has passed. Client `c`
   * (numbered from `firstClient`) draws its requests from `next(c, seq)`, a
   * seeded sequence, so a seed fixes the request stream of every client.
   */
  def closedLoop(base: String, clients: Int, durationMs: Long,
                 next: (Int, Int) => (String, String), firstClient: Int = 0): Vector[Exchange] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Exchange]()
    val deadline = System.nanoTime() + durationMs * 1000000L
    val threads = (firstClient until firstClient + clients).map { c =>
      val t = new Thread(() => {
        var seq = 0
        while (System.nanoTime() < deadline) {
          val (kind, path) = next(c, seq)
          val t0 = System.nanoTime()
          val (code, body) = get(base, path)
          out.add(Exchange(c, seq, kind, path, t0, System.nanoTime(), code, body))
          seq += 1
        }
      }, s"perfbench-client-$c")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toVector.sortBy(e => (e.client, e.seq))
  }
}

object Heap {
  /** Used heap after full collections, in MB. */
  def liveMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(50); i += 1 }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
