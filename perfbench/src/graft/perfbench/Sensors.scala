package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Geohash encoding for the generator, kept apart from the engine's own so
  * the engine receives inputs it did not compute. */
object Gh {
  private val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
  def encode(lat: Double, lon: Double, length: Int): String = {
    var (latLo, latHi, lonLo, lonHi) = (-90.0, 90.0, -180.0, 180.0)
    val sb = new StringBuilder
    var even = true
    var bits = 0
    var ch = 0
    while (sb.length < length) {
      if (even) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = ch * 2 + 1; lonLo = mid } else { ch = ch * 2; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = ch * 2 + 1; latLo = mid } else { ch = ch * 2; latHi = mid }
      }
      even = !even
      bits += 1
      if (bits == 5) { sb += Alphabet.charAt(ch); bits = 0; ch = 0 }
    }
    sb.toString
  }

  /** The geohashes of one length whose cells meet the bbox (N, W, S, E), at
    * the finest length that needs at most `max` of them: the cover a
    * snapshot answer must span. */
  def cover(north: Double, west: Double, south: Double, east: Double, max: Int): Seq[String] = {
    // cell index ranges on the lat and lon grids of one hash length
    def grid(len: Int) = {
      val h = 180.0 / (1L << (5 * len / 2))
      val w = 360.0 / (1L << ((5 * len + 1) / 2))
      (h, w, math.floor((south + 90) / h).toLong to math.floor((north + 90) / h).toLong,
        math.floor((west + 180) / w).toLong to math.floor((east + 180) / w).toLong)
    }
    val len = (1 to 12).takeWhile { l =>
      val (_, _, lat, lon) = grid(l)
      l == 1 || lat.size.toLong * lon.size <= max
    }.last
    val (h, w, lat, lon) = grid(len)
    (for (i <- lat; j <- lon) yield encode((i + 0.5) * h - 90, (j + 0.5) * w - 180, len)).sorted
  }
}

/**
 * A seeded sensor network inside a fixed bounding box, with 12-char geohashes.
 * Serving keys are 6-char geohash prefixes, the pipeline's default precision.
 * Readings carry two-decimal temperatures, held here as integer hundredths so
 * the oracle's sums are exact.
 */
final class SensorNet(seed: Long, val nSensors: Int) {
  import SensorNet._
  private val rnd = new SplittableRandom(seed)
  val lat: Array[Double] = Array.fill(nSensors)(South + rnd.nextDouble() * (North - South))
  val lon: Array[Double] = Array.fill(nSensors)(West + rnd.nextDouble() * (East - West))
  val geohash: Array[String] = Array.tabulate(nSensors)(i => Gh.encode(lat(i), lon(i), 12))
  private val base: Array[Int] = Array.fill(nSensors)(1200 + rnd.nextInt(1000))

  /** The "now" of the generated world: 02:00 UTC on a seed-chosen day, so the
    * live hour is on day D and the late hour (23:00) on day D-1. */
  val t0: Long = java.time.Instant.parse("2024-03-01T02:00:00Z").toEpochMilli +
    Math.floorMod(seed, 97L) * DayMs
  /** Backfilled history covers [histFrom, histTo); the stream owns the rest. */
  val histFrom: Long = t0 - 14 * DayMs
  val histTo: Long = t0 - 3 * HourMs
  /** The hour late readings fall into (the previous day's last hour). */
  val lateHour: Long = histTo

  def cents(sensor: Int, ts: Long, r: SplittableRandom): Int = {
    val hourOfDay = (ts / HourMs) % 24
    base(sensor) + (300 * math.sin(2 * math.Pi * hourOfDay / 24)).toInt + r.nextInt(201) - 100
  }

  def json(sensor: Int, ts: Long, c: Int): String = {
    val sign = if (c < 0) "-" else ""
    val a = math.abs(c)
    f"""{"timestamp":$ts,"sensorId":"s$sensor%06d","geohash":"${geohash(sensor)}",""" +
      f""""tempVal":$sign${a / 100}.${a % 100}%02d,"tempUnit":"c"}"""
  }

  /** `n` historical readings, uniform over the backfill range. */
  def history(n: Int, r: SplittableRandom): Array[Reading] = Array.fill(n) {
    val s = r.nextInt(nSensors)
    val ts = histFrom + (r.nextDouble() * (histTo - histFrom)).toLong
    Reading(s, ts, cents(s, ts, r))
  }
}

object SensorNet {
  val HourMs = 3600000L
  val DayMs = 24 * HourMs
  // around Antwerp, the reference's README area
  val South = 51.05
  val North = 51.35
  val West = 4.15
  val East = 4.65
}

final case class Reading(sensor: Int, ts: Long, cents: Int)

/**
 * Exact ground truth: a count and a sum in hundredths for every
 * (6-char prefix, hour) cell the generator emitted.
 */
final class Oracle {
  private val byKey = mutable.HashMap[String, java.util.TreeMap[java.lang.Long, Array[Long]]]()

  def add(key: String, ts: Long, cents: Long): Unit = {
    val hour = ts - Math.floorMod(ts, SensorNet.HourMs)
    val m = byKey.getOrElseUpdate(key, new java.util.TreeMap())
    val c = m.computeIfAbsent(hour, _ => Array(0L, 0L))
    c(0) += 1; c(1) += cents
  }

  def addAll(net: SensorNet, rs: Iterable[Reading]): Unit =
    rs.foreach(r => add(net.geohash(r.sensor).substring(0, 6), r.ts, r.cents))

  /** Every cell: (key, hour) -> (count, hundredths). */
  def cells: Map[(String, Long), (Long, Long)] = byKey.iterator.flatMap { case (k, m) =>
    import scala.jdk.CollectionConverters._
    m.asScala.iterator.map { case (h, c) => (k, h.longValue) -> (c(0), c(1)) }
  }.toMap

  /** Corrupt one cell (the self-check proves the oracle comparison can fail). */
  def corruptOne(): Unit = {
    val k = byKey.keys.toSeq.sorted.head
    byKey(k).firstEntry().getValue()(0) += 1
  }

  private def matching(prefixes: Seq[String]) =
    byKey.iterator.filter { case (k, _) => prefixes.exists(p => k.startsWith(p)) }

  /** Per hour in [from, to] (inclusive), cells merged over the prefixes. */
  def history(prefixes: Seq[String], from: Long, to: Long): Vector[(Long, Long, Long)] = {
    val acc = mutable.TreeMap[Long, Array[Long]]()
    matching(prefixes).foreach { case (_, m) =>
      val it = m.subMap(from, true, to, true).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val a = acc.getOrElseUpdate(e.getKey.longValue, Array(0L, 0L))
        a(0) += e.getValue()(0); a(1) += e.getValue()(1)
      }
    }
    acc.iterator.map { case (h, a) => (h, a(0), a(1)) }.toVector
  }

  /** Per key under the prefixes, the cell of one hour. */
  def snapshot(prefixes: Seq[String], hour: Long): Vector[(String, Long, Long)] =
    matching(prefixes).flatMap { case (k, m) =>
      Option(m.get(hour)).map(c => (k, c(0), c(1)))
    }.toVector.sortBy(_._1)

  /** The value the REST layer should answer for `op` over (count, hundredths). */
  def value(op: String, count: Long, hundredths: Long): Double = op match {
    case "count" => count.toDouble
    case "sum" => hundredths / 100.0
    case "avg" => (hundredths / 100.0) / count
  }
}

object Oracle {
  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
}
