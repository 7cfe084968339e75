package graft.geo

/**
 * Pure-Scala geohash kernel: encode/decode, bounding-box cover, and
 * prefix-successor math for sargable range predicates.
 *
 * Re-implements (from the public geohash algorithm, en.wikipedia.org/wiki/Geohash)
 * the capabilities the reference pulls from the davidmoten `geo` library
 * (reference `pom.xml:193-197`):
 *   - `GeoHash.coverBoundingBox(n,w,s,e)` used at reference
 *     `querying/QueryingController.java:192` to turn a lat/lon bbox into a set
 *     of covering geohash prefixes;
 *   - `Base32.encodeBase32` used at `QueryingController.java:205` to enumerate
 *     prefix completions — replaced here by [[successor]]-based range predicates
 *     (no enumeration; a len-4 prefix at precision 6 would otherwise expand to
 *     32^2 = 1024 point lookups, see reference `QueryingController.java:199-218`).
 *
 * No Spark imports — this object is usable from plain UDFs, Catalyst
 * expressions, and tests alike.
 */
object Geohash {

  /** Standard geohash base-32 alphabet (no a, i, l, o). */
  val Alphabet: String = "0123456789bcdefghjkmnpqrstuvwxyz"

  private val charIndex: Array[Int] = {
    val arr = Array.fill(128)(-1)
    Alphabet.zipWithIndex.foreach { case (c, i) => arr(c.toInt) = i }
    arr
  }

  val MaxHashLength = 12

  /** Encode (lat, lon) to a geohash of `length` chars. Interleaves lon/lat bits
    * starting with lon, 5 bits per base-32 char. */
  def encode(lat: Double, lon: Double, length: Int): String = {
    require(length >= 1 && length <= MaxHashLength, s"bad geohash length $length")
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    val sb = new java.lang.StringBuilder(length)
    var isLon = true
    var bit = 0
    var ch = 0
    while (sb.length < length) {
      if (isLon) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid } else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid } else { ch = ch << 1; latHi = mid }
      }
      isLon = !isLon
      bit += 1
      if (bit == 5) { sb.append(Alphabet.charAt(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }

  /** Decode a geohash to its bounding box: (latMin, latMax, lonMin, lonMax). */
  def decodeBbox(hash: String): (Double, Double, Double, Double) = {
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    var isLon = true
    var i = 0
    while (i < hash.length) {
      val c = hash.charAt(i).toLower
      val idx = if (c < 128) charIndex(c.toInt) else -1
      require(idx >= 0, s"invalid geohash char '$c' in '$hash'")
      var b = 4
      while (b >= 0) {
        val bitSet = ((idx >> b) & 1) == 1
        if (isLon) {
          val mid = (lonLo + lonHi) / 2
          if (bitSet) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (bitSet) latLo = mid else latHi = mid
        }
        isLon = !isLon
        b -= 1
      }
      i += 1
    }
    (latLo, latHi, lonLo, lonHi)
  }

  /** Decode a geohash to its center point (lat, lon). */
  def decodeCenter(hash: String): (Double, Double) = {
    val (latLo, latHi, lonLo, lonHi) = decodeBbox(hash)
    ((latLo + latHi) / 2, (lonLo + lonHi) / 2)
  }

  /** Cell width in degrees longitude for hashes of `length`. */
  def widthDegrees(length: Int): Double = {
    val lonBits = (5 * length + 1) / 2 // ceil(5n/2): lon gets the extra bit
    360.0 / math.pow(2.0, lonBits.toDouble)
  }

  /** Cell height in degrees latitude for hashes of `length`. */
  def heightDegrees(length: Int): Double = {
    val latBits = (5 * length) / 2
    180.0 / math.pow(2.0, latBits.toDouble)
  }

  /** True iff (lat, lon) falls inside the cell of `hash`. */
  def contains(hash: String, lat: Double, lon: Double): Boolean = {
    val (latLo, latHi, lonLo, lonHi) = decodeBbox(hash)
    lat >= latLo && lat < latHi && lon >= lonLo && lon < lonHi
  }

  /** Longest hash length such that one hash (the one containing the box's
    * top-left corner) covers the whole box; 0 if not even length 1 does. */
  def hashLengthToCoverBoundingBox(north: Double, west: Double,
                                   south: Double, east: Double): Int = {
    var len = MaxHashLength
    while (len >= 1) {
      val h = encode(north, west, len)
      if (contains(h, south, east)) return len
      len -= 1
    }
    0
  }

  /** All hashes of exactly `length` whose cells intersect the bbox (N,W,S,E).
    * Iterates the GRID CELL INDICES covering the box (not bbox-anchored
    * steps, which skip cells when the box straddles a cell boundary by less
    * than one cell size) and encodes each cell's center. */
  def hashesToCover(north: Double, west: Double, south: Double, east: Double,
                    length: Int): Set[String] = {
    require(north >= south, s"north $north < south $south")
    require(east >= west, "bbox crossing the antimeridian not supported")
    val w = widthDegrees(length)
    val h = heightDegrees(length)
    val latLo = math.floor((south + 90.0) / h).toLong
    val latHi = math.floor((north + 90.0) / h).toLong
    val lonLo = math.floor((west + 180.0) / w).toLong
    val lonHi = math.floor((east + 180.0) / w).toLong
    val out = scala.collection.mutable.Set.empty[String]
    var li = latLo
    while (li <= latHi) {
      // clamp relative to the CELL GRID (half a cell inside the pole), not a
      // fixed epsilon — at length ≥ 8 the cell height is < 1e-6°, so a fixed
      // 89.999999 would fall into a lower cell and miss covers touching ±90
      val lat = math.min((li + 0.5) * h - 90.0, 90.0 - h / 2)
      var lo = lonLo
      while (lo <= lonHi) {
        val lon = math.min((lo + 0.5) * w - 180.0, 180.0 - w / 2)
        out += encode(lat, lon, length)
        lo += 1
      }
      li += 1
    }
    out.toSet
  }

  /** Cover the bbox with at most `maxHashes` hashes, preferring the finest
    * length that stays under the budget (mirrors the published
    * coverBoundingBoxMaxHashes heuristic the reference relies on at
    * `QueryingController.java:192`; default budget 12). */
  def coverBoundingBox(north: Double, west: Double, south: Double, east: Double,
                       maxHashes: Int = 12): Set[String] = {
    var best: Set[String] = null
    var len = math.max(1, hashLengthToCoverBoundingBox(north, west, south, east))
    while (len <= MaxHashLength) {
      val c = hashesToCover(north, west, south, east, len)
      if (c.size > maxHashes) {
        return if (best != null) best else c // fall back to coarsest if even it overflows
      }
      best = c
      len += 1
    }
    best
  }

  /**
   * Smallest string strictly greater than every string with prefix `p`
   * (over the base-32 alphabet): increments the last incrementable char and
   * drops trailing 'z's. Enables the sargable rewrite
   *   `gh.startsWith(p)` ⇔ `gh >= p AND gh < successor(p)`
   * that replaces the reference's 32^(k) prefix enumeration
   * (`QueryingController.java:204-205`). Returns None when p is all-'z'
   * (prefix predicate degenerates to `gh >= p`).
   */
  def successor(p: String): Option[String] = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) == 'z') i -= 1
    if (i < 0) None
    else {
      val c = p.charAt(i)
      val next = Alphabet.charAt(charIndex(c.toInt) + 1)
      Some(p.substring(0, i) + next)
    }
  }
}
