package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.geo.Geohash

/**
 * Spark Column-level geospatial functions backed by the pure-Scala
 * [[graft.geo.Geohash]] kernel — the engine-side replacement for the
 * davidmoten `geo` calls the reference makes at query-build time
 * (`querying/QueryingController.java:192,205`).
 *
 * Design note (SURVEY.md §7.3): these are plain Scala UDFs, not Catalyst
 * expressions — `geohash_cover` runs once per *query* (bbox → prefix set is
 * computed driver-side before the plan is built) and `geohash_encode` once per
 * row at ingest; neither is a hot inner-loop expression, so codegen pressure
 * is nil. Predicate construction ([[prefixPredicate]]) emits sargable
 * range comparisons that Catalyst pushes into the parquet scan.
 */
object GeoFunctions {

  /** geohash → struct(lat, lon) of the cell center. */
  val geohashDecodeUdf = udf((h: String) => {
    val (lat, lon) = Geohash.decodeCenter(h)
    (lat, lon)
  })

  /** geohash → true iff point is inside cell. */
  val geohashContainsUdf = udf((h: String, lat: Double, lon: Double) => Geohash.contains(h, lat, lon))

  /** Per-row encode via the native codegen'd Catalyst expression
    * ([[graft.plans.GeohashEncode]]); requires
    * `GraftFunctions.register(spark)` (or the GraftExtensions session
    * extension) — the ingest hot path must not cross a UDF boundary. */
  def geohash_encode(lat: Column, lon: Column, length: Column): Column =
    call_function("geohash_encode", lat, lon, length)

  /**
   * Driver-side bbox → covering geohash prefixes (N, W, S, E).
   * Runs BEFORE the plan is built (the reference likewise covers the bbox on
   * the query thread, `QueryingController.java:191-197`); the result feeds
   * [[prefixPredicate]], so the scan sees only simple range comparisons.
   */
  def coverBoundingBox(north: Double, west: Double, south: Double, east: Double,
                       maxHashes: Int = 12): Seq[String] =
    Geohash.coverBoundingBox(north, west, south, east, maxHashes).toSeq.sorted

  /**
   * Smallest string greater than every string with prefix `p`, over the FULL
   * char domain (works for any string key, not just base-32 geohashes):
   * increment the last incrementable char, drop the tail. None if every char
   * is ￿ (degenerate; predicate falls back to `>= p` alone).
   */
  def stringSuccessor(p: String): Option[String] = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) == Char.MaxValue) i -= 1
    if (i < 0) None else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /**
   * Sargable prefix predicate: `key ∈ [p, successor(p))` for any of
   * `prefixes` — semantically `startsWith(p)`, expressed as two range
   * comparisons per prefix so it pushes into the parquet scan as min/max-
   * skippable filters, instead of the reference's 32^(precision-len)
   * point-lookup enumeration (`QueryingController.java:199-218`).
   */
  def prefixPredicate(key: Column, prefixes: Seq[String]): Column = {
    require(prefixes.nonEmpty, "empty prefix list")
    prefixes.map { p =>
      stringSuccessor(p) match {
        case Some(s) => key >= lit(p) && key < lit(s)
        case None    => key >= lit(p)
      }
    }.reduce(_ || _)
  }
}
