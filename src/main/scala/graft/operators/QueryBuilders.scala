package graft.operators

import java.sql.Timestamp
import java.time.{Instant, ZoneOffset, ZonedDateTime}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions

/**
 * The reference's two query families, as DataFrame builders over the
 * materialized hourly view (SURVEY.md §2.13):
 *
 *  - [[history]] ≙ `GET /api/temperature/aggregate/{op}/history`
 *    (`querying/QueryingService.java:38-122`): time-series of an aggregate
 *    over a set of key prefixes and a time range, ordered by window start.
 *  - [[snapshot]] ≙ `GET /api/temperature/aggregate/{op}/snapshot`
 *    (`querying/QueryingService.java:124-203`): per-key map of an aggregate at
 *    one hour-aligned instant inside a bbox, ordered by key.
 *
 * The reference's scatter-gather across app instances
 * (`querying/QueryingController.java:53-57,98-121`) disappears: Spark's
 * shuffle IS the scatter-gather — one `groupBy` replaces RPC + TreeMap merge.
 *
 * Declared divergences from the reference (SURVEY.md §7.4):
 *  - history treats queried prefixes as true prefixes (the reference's history
 *    path is exact-key `fetch`, `QueryingController.java:177`);
 *  - snapshot always hour-truncates `ts` (the reference's local branch
 *    forgets to, `QueryingController.java:86`);
 *  - named interval `all` returns full history, not ≈24h of store retention.
 */
object QueryBuilders {

  /** Allowed aggregate ops — reference `querying/util/AppConfig.java:7`. */
  val AllowedOps: Set[String] = Set("count", "sum", "avg")

  /** Allowed named intervals — reference `querying/util/AppConfig.java:8`. */
  val AllowedIntervals: Set[String] = Set("1day", "1week", "1month", "all")

  /** Validated, normalized query parameters (reference F5 validation,
    * `QueryingService.java:46-101,131-196`, as typed errors). */
  final case class QueryError(message: String, code: Int = 400)
    extends RuntimeException(message)

  def validateOp(op: String): String = {
    val o = op.toLowerCase
    if (!AllowedOps(o)) throw QueryError(s"Unsupported aggregate operation: $op")
    o
  }

  def validatePrefixes(prefixes: Seq[String]): Seq[String] = {
    val ps = prefixes.map(_.toLowerCase).filter(_.nonEmpty)
    if (ps.isEmpty) throw QueryError("Empty geohash/key prefix list")
    ps
  }

  /**
   * Named-interval arithmetic anchored at `to` (epoch ms) — reference
   * `QueryingController.java:220-238`: 1day → −1 day, 1week → −7 days,
   * 1month → −1 calendar month, all → −30 years, computed in UTC.
   */
  def fromForInterval(toMs: Long, interval: String): Long = {
    val to = ZonedDateTime.ofInstant(Instant.ofEpochMilli(toMs), ZoneOffset.UTC)
    val from = interval.toLowerCase match {
      case "1day"   => to.minusDays(1)
      case "1week"  => to.minusWeeks(1)
      case "1month" => to.minusMonths(1)
      case "all"    => to.minusYears(30)
      case other    => throw QueryError(s"Unknown interval: $other")
    }
    from.toInstant.toEpochMilli
  }

  /** Floor epoch-ms to the hour in UTC — reference `truncateTS`
    * (`QueryingController.java:240-249`), pinned to UTC per BASELINE.md. */
  def truncateToHourMs(tsMs: Long): Long =
    Instant.ofEpochMilli(tsMs).truncatedTo(ChronoUnit.HOURS).toEpochMilli

  private def tsLit(ms: Long): Column =
    lit(new Timestamp(ms)).cast("timestamp")

  /**
   * Restrict a view partitioned by `window_day` (the streaming serving
   * table) to the days that can hold a `window_start` in `[fromMs, toMs]`,
   * so the scan prunes every other day directory; a view without that
   * column is returned as is. `window_day` is `to_date(window_start)` in
   * the WRITER's session time zone, which a reader cannot know, so the
   * bounds are the UTC dates of the range widened by one day on each side:
   * a zone's local date never differs from the UTC date by more than one
   * day (offsets stay under 24 h), so no cell is pruned away whatever
   * zones the writer and the reader use.
   */
  private def dayPruned(view: DataFrame, fromMs: Long, toMs: Long): DataFrame =
    if (!view.columns.contains("window_day")) view
    else {
      def utcDay(ms: Long) = Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate
      view.filter(col("window_day").between(
        lit(utcDay(fromMs).minusDays(1)), lit(utcDay(toMs).plusDays(1))))
    }

  /**
   * History: aggregate time-series over `prefixes` within `[fromMs, toMs]`.
   * Result: `(window_start, <op>)` ordered by window_start — the shape of the
   * reference response (`README.md:81-108`; columns `[timestamp, <op>]`).
   *
   * Plan shape: prefix+time range filters push into the view scan (and
   * prune day partitions, see [[dayPruned]]); one partial/final
   * hash-aggregate merges cells across prefixes (A2); the aggregated,
   * query-sized result is coalesced to one partition and sorted there —
   * no range exchange, no sampling job.
   */
  def history(view: DataFrame, op: String, prefixes: Seq[String],
              fromMs: Long, toMs: Long): DataFrame = {
    val o = validateOp(op)
    val ps = validatePrefixes(prefixes)
    if (fromMs >= toMs) throw QueryError(s"Invalid range: from $fromMs >= to $toMs")
    val filtered = dayPruned(view, fromMs, toMs)
      .filter(GeoFunctions.prefixPredicate(col("key"), ps))
      .filter(col("window_start").between(tsLit(fromMs), tsLit(toMs)))
    AggCore.reAgg(filtered, Seq(col("window_start")))
      .select(col("window_start"), AggCore.opColumn(o).as(o))
      .coalesce(1).sortWithinPartitions(col("window_start"))
  }

  /** History with a named interval anchored at `toMs` (Q-H2). */
  def historyInterval(view: DataFrame, op: String, prefixes: Seq[String],
                      toMs: Long, interval: String): DataFrame =
    history(view, op, prefixes, fromForInterval(toMs, interval), toMs)

  /**
   * Snapshot: per-key aggregate at the hour containing `tsMs`, for keys under
   * any of `prefixes`. Result: `(key, <op>)` ordered by key
   * (`README.md:120-145`; columns `[geohash, <op>]`).
   */
  def snapshotByPrefixes(view: DataFrame, op: String, prefixes: Seq[String],
                         tsMs: Long): DataFrame = {
    val o = validateOp(op)
    val ps = validatePrefixes(prefixes)
    val hourMs = truncateToHourMs(tsMs)
    val filtered = dayPruned(view, hourMs, hourMs)
      .filter(col("window_start") === tsLit(hourMs))
      .filter(GeoFunctions.prefixPredicate(col("key"), ps))
    AggCore.reAgg(filtered, Seq(col("key")))
      .select(col("key"), AggCore.opColumn(o).as(o))
      .coalesce(1).sortWithinPartitions(col("key"))
  }

  /**
   * Snapshot over a lat/lon bbox (N, W, S, E): bbox → covering geohash
   * prefixes driver-side (reference `QueryingController.java:191-197`), then
   * [[snapshotByPrefixes]]. Assumes `view.key` is a geohash prefix.
   */
  def snapshot(view: DataFrame, op: String, tsMs: Long,
               north: Double, west: Double, south: Double, east: Double): DataFrame = {
    if (north < south || east < west)
      throw QueryError(s"Invalid bbox: [$north,$west,$south,$east]")
    snapshotByPrefixes(view, op, GeoFunctions.coverBoundingBox(north, west, south, east), tsMs)
  }

  /**
   * Response envelope — reference `model/Message.java:7-16`, assembled like
   * `QueryingService.java:205-224`. Serving-layer concern: collects the
   * (small, already-aggregated) result to the driver.
   */
  final case class Message(columns: Seq[String], data: Seq[Seq[Any]],
                           metadata: Map[String, String])

  def toMessage(result: DataFrame, metric: String = "temperature"): Message = {
    val cols = result.columns.toSeq
    val rows = result.collect().toSeq.map(r => cols.indices.map(r.get))
    Message(cols, rows, Map("metric" -> metric))
  }
}
