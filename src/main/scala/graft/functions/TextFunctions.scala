package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis column functions for the training-data-pipeline extensions
 * (SURVEY.md §7.2 M6). Everything here is built from codegen'd
 * `org.apache.spark.sql.functions` (split/transform/aggregate/xxhash64/...);
 * no Scala closures in the hot path except where noted — at 100 TB these run
 * per-document inside whole-stage codegen or as vectorized higher-order
 * expressions, never on the driver.
 */
object TextFunctions {

  import org.apache.spark.sql.graftshim.GraftPlanBridge.{column => toCol, expr => toExpr}

  /** Whitespace tokenization (lowercased). `split` on \s+ after trim. */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(tokens(text))

  /**
   * BPE-ish subword count approximation: word-piece regex — runs of letters,
   * runs of digits, or single non-space symbols — ≈ pre-tokenizer output
   * length. Deterministic, language-agnostic.
   */
  def subwordCount(text: Column): Column =
    size(filter(split(lower(text), "(?<=[^a-z0-9])|(?=[^a-z0-9])"),
      t => t =!= "" && t =!= " "))

  /** Word n-gram shingles: array of `n`-token windows joined by single
    * spaces; empty array when fewer than n tokens (null text too — matching
    * the legacy UDF contract, hence the coalesce). Native codegen'd
    * expression ([[graft.plans.WordShingles]]): one byte pass over the
    * UTF8String, zero String allocation, no UDF conversion boundary — this
    * is the per-document inner loop of every dedup scan. TextExprSpec pins
    * row-for-row equality with the Scala-UDF baseline. */
  def shingles(text: Column, n: Int): Column =
    coalesce(
      toCol(graft.plans.WordShingles(toExpr(text), toExpr(lit(n)))),
      array().cast("array<string>"))

  /** Content-defined chunk spans (windowed-Gear CDC): array of
    * (start, len) BYTE offsets into the UTF-8 encoding, boundaries where
    * the 16-byte windowed gear hash's top `maskBits` bits are zero —
    * expected chunk ≈ 2^maskBits bytes. Native codegen'd expression
    * ([[graft.plans.CdcChunks]]), one O(n) pass per document; null text →
    * empty array. The shift-robust dedup granularity: a one-byte edit
    * moves at most two boundaries. */
  def cdcChunks(text: Column, maskBits: Int): Column =
    coalesce(
      toCol(graft.plans.CdcChunks(toExpr(text), toExpr(lit(maskBits)))),
      array().cast(graft.plans.CdcChunks.Schema))

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) via the codegen'd
    * [[graft.plans.TextNormalize]] expression — the canonicalization pass a
    * crawled corpus runs before tokenization/dedup (decomposed accents and
    * compatibility forms otherwise defeat exact and shingle dedup). Null
    * propagates; the already-normalized fast path avoids reallocation. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    toCol(graft.plans.TextNormalize(toExpr(text), form))

  /** Character n-grams of the (lowercased, space-collapsed) text. */
  def charNgrams(text: Column, n: Int): Column = {
    val s = regexp_replace(trim(lower(text)), "\\s+", " ")
    when(length(s) < n, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(1), length(s) - (n - 1)),
          i => s.substr(i, lit(n))))
  }

  /**
   * MinHash signature over a set of string shingles: `numHashes` independent
   * min-hash values. Each shingle is string-hashed ONCE (xxhash64, the
   * expensive step); the hash family is then derived by XOR with splitmix64
   * constants (the standard xor-permutation family) — so the cost is
   * |shingles| string hashes + numHashes·|shingles| cheap long ops, not
   * numHashes·|shingles| string hashes.
   *
   * At scale this is a narrow map — no shuffle; the signature feeds LSH
   * banding ([[graft.operators.Dedup.minHashLsh]]).
   *
   * Native codegen'd expression ([[graft.plans.MinHashSignature]]): ONE pass
   * over the shingle array instead of `numHashes` interpreted higher-order
   * traversals (the higher-order formulation did 32 × transform +
   * array_min). Null/empty input → all-null signature, matching
   * `array_min(empty) = null` in the HOF formulation (the coalesce pins the
   * null-input edge; callers filter `size(sh) > 0` anyway).
   */
  def minHashSignature(shingleArr: Column, numHashes: Int): Column =
    coalesce(
      toCol(graft.plans.MinHashSignature(toExpr(shingleArr), toExpr(lit(numHashes)))),
      array((0 until numHashes).map(_ => lit(null).cast("long")): _*))

  /**
   * 64-bit SimHash over tokens: per bit position, majority vote of the
   * tokens' xxhash64 bits. Native codegen'd expression
   * ([[graft.plans.SimHash64]]): hashes + votes in one pass over the token
   * array — no per-row UDF boundary and no intermediate hash array (the
   * Scala-UDF formulation paid both). Empty array → 0L (identical);
   * null array → null (the legacy path NPE'd — strictly better).
   */
  def simHash64(tokensArr: Column): Column =
    toCol(graft.plans.SimHash64(toExpr(tokensArr)))

  /** Hamming distance between two 64-bit simhashes: bit_count(a XOR b). */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /**
   * Document fingerprint: hex MD5 of the whitespace-normalized, lowercased
   * text — stable under run-of-whitespace differences; directly reproducible
   * in any SQL engine (DuckDB: `md5(...)`) for oracle parity.
   */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Rolling 64-bit content fingerprints: xxhash64 of each `n`-shingle —
    * the winnowing-style local fingerprint set (kept as the full set; callers
    * may sample, e.g. `array_min` per doc). */
  def rollingFingerprints(text: Column, n: Int): Column =
    transform(shingles(text, n), s => xxhash64(s))

  // -------------------------------------------------------- PII redaction

  /** (pattern, replacement) pairs applied in order by [[redactPii]].
    * Deliberately RE2-compatible (no backrefs/lookaround/\b) so the same
    * patterns run identically in Spark (java.util.regex) and DuckDB (RE2)
    * — and in any RE2-based scrubber at the ingest edge. Emails must go
    * first (their local part can contain digits that the phone/IP patterns
    * would otherwise mangle). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "\\d{3}-\\d{3}-\\d{4}" -> "[PHONE]",
    "(\\d{1,3}\\.){3}\\d{1,3}" -> "[IP]")

  /** Scrub emails / NANP-style phone numbers / IPv4 addresses. Pure
    * codegen'd `regexp_replace` chain — no UDF in the scan path. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  // ---------------------------------------------------------------- quality

  /** Punctuation character ratio (over total chars, 6-dec rounded). */
  def punctRatio(text: Column): Column =
    round(length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]-]", "")) /
      greatest(length(text), lit(1)).cast("double"), 6)

  /** Mean token length in chars. */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    round(aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") /
      greatest(size(t), lit(1)).cast("double"), 6)
  }

  /** Stopword hit ratio against a fixed stopword list (deduped hit count /
    * distinct token count) — one ingredient of a quality score. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val t = array_distinct(tokens(text))
    round(size(array_intersect(t, array(stopwords.map(lit): _*))).cast("double") /
      greatest(size(t), lit(1)).cast("double"), 6)
  }

  /**
   * Composite quality score in [0,1]: favors moderate length, low
   * punctuation density, some stopwords (prose-likeness). Deterministic,
   * SQL-expressible (oracle-checkable).
   */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatio(text, stopwords) * 4.0, lit(1.0))
    round((lenScore * 0.4 + (lit(1.0) - punctPenalty) * 0.3 + stopScore * 0.3), 6)
  }

  // ------------------------------------------------------------ language id

  /**
   * Tiny n-gram/stopword language classifier: per-language score = # of
   * distinct tokens hitting that language's marker list; argmax with
   * deterministic tie-break on language code order. 'und' when nothing hits.
   * Marker lists are small public function-word sets.
   */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ich", "ein", "mit", "für"),
    "en" -> Seq("the", "and", "not", "is", "a", "of", "to", "in", "that", "with"),
    "es" -> Seq("el", "la", "los", "las", "y", "no", "es", "un", "una", "con"),
    "fr" -> Seq("le", "la", "les", "et", "ne", "pas", "est", "un", "une", "avec"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val t = array_distinct(tokens(text))
    langMarkers.map { case (lang, ms) =>
      lang -> size(array_intersect(t, array(ms.map(lit): _*)))
    }
  }

  /** Predicted language code (argmax of [[langScores]], ties → first in code
    * order, all-zero → 'und'). */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map { case (lang, s) => struct(s.as("s"), lit(lang).as("l")) }
    // argmax by (score, then REVERSE lang order) so array_max's lexicographic
    // struct compare picks the highest score, first-lang-wins on ties
    val packed = scores.zipWithIndex.map { case ((lang, s), i) =>
      struct(s.as("s"), lit(-i).as("negidx"), lit(lang).as("l"))
    }
    val top = array_max(array(packed: _*))
    when(top.getField("s") === 0, lit("und")).otherwise(top.getField("l"))
  }
}
