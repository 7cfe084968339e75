package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Bloom filter as a mergeable, SQL-replayable sketch — the MEMBERSHIP
 * cell of the sketch matrix (count-min = frequency, KMV/HLL =
 * cardinality, SpaceSaving = heavy hitters, THIS = set membership), and
 * the standard 100 TB join-pruning tool: build a KB-sized filter over a
 * selective dimension's keys once, ship it into the fact scan as a
 * codegen'd predicate, and drop the vast majority of the scan BEFORE any
 * join exchange (semi-join pushdown by hand — what runtime row-group
 * filters do, made explicit, persistable, and mergeable across slices).
 *
 * Representation: occupied 62-bit WORDS, one row (w, bits) per word with
 * any bit set — at most m/62 rows, absent words are zero. 62 (not 64)
 * bits per word keeps `1 << b` strictly positive in int64, so every
 * build/probe step is plain integer arithmetic that replays bit-for-bit
 * in DuckDB (no unsigned/overflow divergence).
 *
 * Hashing: double hashing (Kirsch & Mitzenmacher 2006) — bit_i(key) =
 * (h1 + i·h2) mod m from two independent 52-bit md5-substring hashes
 * (the [[Sketches.kmvHash]] cross-engine construction), k positions from
 * one md5 evaluation.
 *
 * Laws: NO FALSE NEGATIVES ever (an inserted key's bits are all set, and
 * the word-wise OR-merge only adds bits); false-positive rate
 * ≈ (1 − e^(−k·n/m))^k, measured — not assumed — by the gated entry's
 * exact-membership companion column.
 */
object Bloom {

  /** Bits packed per word — 62 keeps `1 << b` positive in signed int64
    * on both engines (b ≤ 61). */
  val WordBits = 62

  private def md5Slice(key: Column, from: Int): Column =
    conv(substring(md5(key.cast("string")), from, 13), 16, 10).cast("long")

  /** bit_i(key) = (h1 + i·h2) mod m; h1, h2 < 2^52 so i·h2 stays far
    * from int64 range for i ≤ 8. */
  private[graft] def bitPos(key: Column, i: Int, mBits: Int): Column =
    pmod(md5Slice(key, 1) + lit(i.toLong) * md5Slice(key, 14), lit(mBits.toLong))

  /** One digest instance per thread — [[bitPositionsJvm]] runs in the
    * [[graft.plans.BloomWordsAgg]] per-ROW update hot path, where a fresh
    * `MessageDigest.getInstance` per key was a measurable constant. */
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Hex digit `j` (0-indexed, high nibble first) of a 16-byte digest. */
  @inline private def nibble(d: Array[Byte], j: Int): Long = {
    val b = d(j >> 1) & 0xff
    if ((j & 1) == 0) (b >>> 4).toLong else (b & 0xf).toLong
  }

  /** The JVM twin of [[bitPos]] for aggregate buffers
    * ([[graft.plans.BloomWordsAgg]]): md5 of the key's STRING form —
    * exactly Spark's `md5(cast(key as string))` (a long's decimal string,
    * a string's raw UTF-8 bytes) — sliced to the same two 52-bit hashes
    * by direct nibble indexing (no hex-string round trip; h = 13 hex
    * digits = digest nibbles [13·slice, 13·slice+13)). Returns the
    * numHashes bit positions. */
  private[graft] def bitPositionsJvm(keyBytes: Array[Byte], mBits: Int,
                                     numHashes: Int): Array[Int] = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(keyBytes)
    var h1 = 0L
    var h2 = 0L
    var t = 0
    while (t < 13) {
      h1 = (h1 << 4) | nibble(d, t)
      h2 = (h2 << 4) | nibble(d, 13 + t)
      t += 1
    }
    Array.tabulate(numHashes)(i =>
      java.lang.Math.floorMod(h1 + i.toLong * h2, mBits.toLong).toInt)
  }

  /** [[bitPositionsJvm]] for an int64 key: hash the decimal string — the
    * cast-to-string form [[bitPos]]'s SQL md5 sees. */
  private[graft] def bitPositionsJvm(key: Long, mBits: Int,
                                     numHashes: Int): Array[Int] =
    bitPositionsJvm(java.lang.Long.toString(key)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8), mBits, numHashes)

  private def checkParams(mBits: Int, numHashes: Int, who: String): Unit = {
    require(mBits >= WordBits && mBits % WordBits == 0,
      s"$who: mBits must be a positive multiple of $WordBits, got $mBits")
    require(numHashes >= 1 && numHashes <= 8,
      s"$who: numHashes must be in [1, 8], got $numHashes")
  }

  /**
   * Build the filter over `key`: one narrow explode to numHashes bit
   * positions, a distinct (map-side combine collapses the dominant
   * duplication — re-sighted keys — before the shuffle), then a word
   * groupBy whose output is ≤ m/62 rows. Distinct (w, b) pairs make
   * `sum(1 << b)` EXACTLY the word's bit-OR — pure integer arithmetic,
   * no bitwise aggregate needed on the replay side. NULL keys are
   * skipped (matching [[graft.plans.BloomWordsAgg]]'s update) — a null
   * would otherwise hash to a null bit and poison [[denseWords]].
   */
  def bloomWords(df: DataFrame, key: Column, mBits: Int, numHashes: Int): DataFrame = {
    checkParams(mBits, numHashes, "bloomWords")
    df.filter(key.isNotNull)
      .select(explode(array((0 until numHashes).map(i =>
        bitPos(key, i, mBits)): _*)).as("bit"))
      .distinct()
      .select(floor(col("bit") / lit(WordBits)).cast("long").as("w"),
        (col("bit") % WordBits).cast("int").as("b"))
      .groupBy(col("w"))
      .agg(sum(call_function("shiftleft", lit(1L), col("b"))).as("bits"))
  }

  /** Merge filters built over corpus slices (same mBits/numHashes):
    * word-wise OR — exactly the filter one pass over the union builds. */
  def bloomMerge(filters: Seq[DataFrame]): DataFrame = {
    require(filters.nonEmpty, "bloomMerge: need at least one filter")
    filters.reduce(_ unionByName _)
      .groupBy(col("w"))
      .agg(call_function("bit_or", col("bits")).as("bits"))
  }

  /** Collect a words table into the dense m/62-long array [[containsExpr]]
    * ships into codegen — bounded by construction (the codebook-collect
    * discipline: model-sized state local, corpus-sized work distributed). */
  def denseWords(filter: DataFrame, mBits: Int): Array[Long] = {
    require(mBits >= WordBits && mBits % WordBits == 0,
      s"denseWords: mBits must be a positive multiple of $WordBits, got $mBits")
    val words = Array.ofDim[Long](mBits / WordBits)
    filter.select(col("w"), col("bits")).collect().foreach { r =>
      val w = r.getLong(0)
      require(w >= 0 && w < words.length,
        s"denseWords: word index $w out of range for mBits=$mBits — " +
          "the filter was built with different parameters")
      words(w.toInt) = r.getLong(1)
    }
    words
  }

  /**
   * The probe as a pure COLUMN: true iff all numHashes bits are set in
   * the word array literal. One `element_at` + shift + mask per hash,
   * conjoined — evaluates inside whole-stage codegen on the scan, no
   * explode, no join, no shuffle. This is the form a 100 TB fact scan
   * wants: the filter rides the closure like a PQ codebook, and the
   * predicate can sit directly in a `.filter` ahead of every exchange.
   */
  def containsExpr(words: Array[Long], key: Column, mBits: Int,
                   numHashes: Int): Column = {
    checkParams(mBits, numHashes, "containsExpr")
    require(words.length == mBits / WordBits,
      s"containsExpr: ${words.length} words do not match mBits=$mBits")
    containsColumn(typedlit(words.toSeq), key, mBits, numHashes)
  }

  /** [[containsExpr]] generalized to ANY dense word-array COLUMN — e.g. a
    * drained streaming [[graft.plans.BloomWordsAgg]] artifact probed
    * batch-side: all-bits-set as a pure row expression, no join state. */
  def containsColumn(words: Column, key: Column, mBits: Int,
                     numHashes: Int): Column = {
    checkParams(mBits, numHashes, "containsColumn")
    (0 until numHashes).map { i =>
      val bit = bitPos(key, i, mBits)
      val word = element_at(words, floor(bit / lit(WordBits)).cast("int") + 1)
      call_function("shiftright", word, (bit % WordBits).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /**
   * Membership probe against the words TABLE (no driver collect — the
   * variant for an m too large to ship as a literal): explode to
   * numHashes slim rows, broadcast-join the filter on the word, regroup
   * on the probe columns with `min(hit)` (duplicate bit positions — i ≠ j
   * colliding mod m — cannot double-count a miss away). Returns
   * `probes.columns` + `bloom_hit`. Probe rows must be distinct (the
   * regroup collapses duplicates); [[containsExpr]] has no such caveat.
   */
  def bloomContains(filter: DataFrame, probes: DataFrame, keyCol: String,
                    mBits: Int, numHashes: Int): DataFrame = {
    checkParams(mBits, numHashes, "bloomContains")
    val pcols = probes.columns.toSeq
    probes
      .select(pcols.map(col) :+ explode(array((0 until numHashes).map(i =>
        bitPos(col(keyCol), i, mBits)): _*)).as("bit"): _*)
      .select(pcols.map(col) :+ floor(col("bit") / lit(WordBits)).cast("long").as("w") :+
        (col("bit") % WordBits).cast("int").as("b"): _*)
      .join(broadcast(filter), Seq("w"), "left")
      .select(pcols.map(col) :+
        when(col("bits").isNotNull &&
          call_function("shiftright", col("bits"), col("b"))
            .bitwiseAND(lit(1L)) === lit(1L), 1)
          .otherwise(0).as("hit"): _*)
      .groupBy(pcols.map(col): _*)
      .agg((min(col("hit")) === 1).as("bloom_hit"))
  }

  /** Persist a words table (≤ m/62 rows, KB-sized at any corpus scale),
    * w-sorted for deterministic files — the shareable membership artifact
    * of an ingest pipeline ("have we seen this key"), the
    * winnow/BM25/moments lifecycle discipline applied to membership. */
  def saveWords(filter: DataFrame, path: String): Unit =
    SegmentStore.write(wordsLayout(filter), path, replace = true)

  /** Append a new slice's words as a [[SegmentStore]] append commit (no
    * rewrite of the base); [[loadWords]] folds duplicates by word-wise OR. */
  def appendWords(filter: DataFrame, path: String): Unit =
    SegmentStore.write(wordsLayout(filter), path, replace = false)

  private def wordsLayout(filter: DataFrame): DataFrame =
    filter.select(col("w"), col("bits")).coalesce(1).sortWithinPartitions(col("w"))

  /** Load base + appends back into ONE merged filter: bit-OR per word —
    * exactly the filter a single build over the union would produce
    * ([[bloomMerge]]'s law, applied at the storage boundary). */
  def loadWords(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    orWords(SegmentStore.load(spark, path, "bloom words"))

  private def orWords(words: DataFrame): DataFrame =
    words.groupBy(col("w")).agg(call_function("bit_or", col("bits")).as("bits"))

  /**
   * Compact a words artifact in place: fold the base [[saveWords]] plus
   * its [[appendWords]] commits into ONE merged commit — the fold IS
   * the merge semantics (word-wise bit-OR, [[loadWords]]'s law), so the
   * compacted artifact holds ≤ m/62 rows forever after no matter how many
   * slices were appended. Under per-trigger membership maintenance the
   * pile otherwise grows one file set per batch for an artifact whose
   * information content is fixed-size (the
   * [[JoinPlanner.compactTableProfile]] shape). Audited on the merged
   * word set by [[SegmentStore.compact]]; readers loaded before keep the
   * pile's files for the store's grace.
   */
  def compactWords(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    SegmentStore.compact(spark, path, "bloom words", Nil, orWords)(
      pile => wordsLayout(orWords(pile)))

  /**
   * Bloom-pruned equi-join: filter the FACT side down to bloom hits with
   * the codegen'd [[containsExpr]] predicate, then run the real join with
   * `dim`. The result is EXACTLY `fact ⋈ dim` — no false negatives means
   * no lost matches, and the join discards the false positives — so
   * correctness oracle-checks against the plain join while the fact-side
   * exchange carries only hits (at 1% fpp, ~1% of non-matching rows)
   * instead of the full scan. Row multiplicity is untouched: the prune
   * is a plain Filter, never a regroup.
   */
  def prunedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, mBits: Int, numHashes: Int): DataFrame = {
    checkParams(mBits, numHashes, "prunedJoin")
    val words = denseWords(bloomWords(dim, col(dimKey), mBits, numHashes), mBits)
    val pruned = fact.filter(containsExpr(words, col(factKey), mBits, numHashes))
    pruned.join(dim, pruned(factKey) === dim(dimKey))
  }
}
