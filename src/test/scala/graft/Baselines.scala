package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.geo.Geohash
import graft.plans.TextKernels

/** The Scala-UDF and higher-order-function formulations that the native
  * Catalyst expressions replaced, kept as parity baselines: the expression
  * specs pin each native expression row-for-row against its baseline. */
object Baselines {

  private val geohashEncodeUdf =
    udf((lat: Double, lon: Double, len: Int) => Geohash.encode(lat, lon, len))

  /** Scala-UDF variant of [[graft.functions.GeoFunctions.geohash_encode]]. */
  def geohash_encode_udf(lat: Column, lon: Column, length: Column): Column =
    geohashEncodeUdf(lat, lon, length)

  private val shinglesUdf = udf { (text: String, n: Int) =>
    if (text == null) Array.empty[String]
    else {
      val toks = text.trim.toLowerCase.split("\\s+")
      if (toks.length < n) Array.empty[String]
      else {
        val out = new Array[String](toks.length - n + 1)
        var i = 0
        while (i < out.length) {
          val sb = new java.lang.StringBuilder(32)
          var j = 0
          while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
          out(i) = sb.toString
          i += 1
        }
        out
      }
    }
  }

  /** Scala-UDF variant of [[graft.functions.TextFunctions.shingles]]. The
    * equivalent sequence+transform+slice+concat_ws higher-order stack
    * measured ~1 ms/doc — ~100× this UDF; the native expression beats
    * both. */
  def shingles_udf(text: Column, n: Int): Column = shinglesUdf(text, lit(n))

  /** Higher-order-function variant of
    * [[graft.functions.TextFunctions.minHashSignature]]: `numHashes`
    * transform + array_min traversals. */
  def minHashSignature_hof(shingleArr: Column, numHashes: Int): Column = {
    val base = transform(shingleArr, s => xxhash64(s))
    array((0 until numHashes).map { i =>
      array_min(transform(base, h => h.bitwiseXOR(lit(TextKernels.mixConstant(i)))))
    }: _*)
  }

  private val simHashVoteUdf = udf { hs: Seq[Long] =>
    // bit b of result = 1 iff (# tokens with bit b set) * 2 > n
    val counts = new Array[Int](64)
    hs.foreach { h =>
      var b = 0
      while (b < 64) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
    }
    val n = hs.length
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) * 2 > n) out |= (1L << b); b += 1 }
    out
  }

  /** Transform+vote-UDF variant of
    * [[graft.functions.TextFunctions.simHash64]] (a 64-term Catalyst
    * expression tree was also tried — blew up codegen size and ran ~50×
    * slower than the UDF). */
  def simHash64_udf(tokensArr: Column): Column =
    simHashVoteUdf(transform(tokensArr, t => xxhash64(t)))

  private val dotUdf = udf { (a: Array[Float], b: Array[Float]) =>
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Scala-UDF variant of [[VectorFunctions.dot]] (conversion-boundary
    * baseline). */
  def dot_udf(a: Column, b: Column): Column = dotUdf(a, b)

  private val cosineUdf = udf { (a: Array[Float], b: Array[Float]) =>
    val n = math.min(a.length, b.length)
    var d = 0.0
    var i = 0
    while (i < n) { d += a(i).toDouble * b(i).toDouble; i += 1 }
    var na = 0.0
    i = 0
    while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
    var nb = 0.0
    i = 0
    while (i < b.length) { val x = b(i).toDouble; nb += x * x; i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else d / denom
  }

  /** Scala-UDF variant of [[VectorFunctions.cosine]] (conversion-boundary
    * baseline). */
  def cosine_udf(a: Column, b: Column): Column = cosineUdf(a, b)

  /** Scala-UDF variant of [[VectorFunctions.srpBucket]], over the same
    * sign table. */
  def srpBucket_udf(v: Column, nBits: Int, dim: Int, seed: Int = 0): Column = {
    val signs = VectorFunctions.srpSigns(nBits, dim, seed)
    val f = udf { v: Array[Float] =>
      var out = 0L
      var b = 0
      while (b < nBits) {
        val row = signs(b)
        val n = math.min(v.length, dim)
        var proj = 0.0
        var i = 0
        while (i < n) { proj += v(i).toDouble * row(i); i += 1 }
        if (proj >= 0) out |= (1L << b)
        b += 1
      }
      out
    }
    f(v)
  }
}
