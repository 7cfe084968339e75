package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/**
 * End-to-end training-data curation: the composition the individual M6
 * operators exist for. One call takes a raw documents table and returns the
 * kept corpus plus a per-stage audit trail:
 *
 *   1. exact dedup        — keep min-id doc per normalized-text fingerprint
 *   2. near-dup removal   — MinHash-LSH pairs; drop the higher id of each
 *                           verified pair (connected components degenerate to
 *                           this under the a<b convention applied repeatedly;
 *                           single-pass drop-b is the standard approximation)
 *   3. quality filter     — composite score ≥ minQuality
 *   4. language filter    — predicted language ∈ keepLangs (empty = keep all)
 *
 * Every stage is a shuffle-bounded DataFrame op (hash-agg, bucket-join,
 * narrow filter) — the pipeline form survives a 1000-executor 100 TB run:
 * nothing is collected, no stage is quadratic, and the near-dup join is
 * LSH-bucketed.
 */
object Curation {

  final case class Config(
      shingleN: Int = 3,
      minhashBands: Int = 8,
      minhashRowsPerBand: Int = 4,
      nearDupThreshold: Double = 0.8,
      minQuality: Double = 0.0,
      keepLangs: Seq[String] = Nil,
      stopwords: Seq[String] = TextAnalysis.Stopwords)

  /** Kept documents after all stages, with per-doc metrics attached.
    * Input needs (idCol, textCol); all other columns pass through. */
  def curate(docs: DataFrame, cfg: Config = Config(),
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // 1. exact dedup (deterministic representative)
    val exact = Dedup.exactDedupKept(docs, idCol, textCol)

    // 2. near-dup removal: drop the b side of each verified pair
    val dupB = Dedup.minHashLsh(exact, idCol, textCol,
      cfg.shingleN, cfg.minhashBands, cfg.minhashRowsPerBand, cfg.nearDupThreshold)
      .select(col("b").as(idCol)).distinct()
    val deduped = exact.join(dupB, Seq(idCol), "left_anti")

    // 3+4. quality + language, computed in one narrow pass
    deduped
      .withColumn("quality", TextFunctions.qualityScore(col(textCol), cfg.stopwords))
      .withColumn("lang_pred", TextFunctions.langId(col(textCol)))
      .filter(col("quality") >= cfg.minQuality)
      .filter(if (cfg.keepLangs.isEmpty) lit(true)
              else col("lang_pred").isin(cfg.keepLangs: _*))
  }

  /** Per-stage survivor counts — the audit table a curation run reports.
    * Cost: the MinHash-LSH pass plus ONE conditional-aggregation pass over
    * the cached exact-dedup frontier — the input cardinality (stage 0)
    * rides along as `Σ grp_n` of [[Dedup.exactDedupKeptCounted]]'s group
    * sizes, and the later stages are counted as filters, all within that
    * single aggregate rather than as separate actions. */
  def funnel(docs: DataFrame, cfg: Config = Config(),
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val exact = Dedup.exactDedupKeptCounted(docs, idCol, textCol).persist()
    // minHashLsh materializes eagerly (reading `exact` from cache) and
    // releases its own internal state before returning
    val dupB = Dedup.minHashLsh(exact, idCol, textCol,
      cfg.shingleN, cfg.minhashBands, cfg.minhashRowsPerBand, cfg.nearDupThreshold)
      .select(col("b").as(idCol)).distinct()
    val (n0, n1, n2, n3) = stageCounts(exact, dupB, cfg, idCol, textCol)
    exact.unpersist()
    Seq(
      ("0_input", n0),
      ("1_exact_dedup", n1),
      ("2_near_dedup", n2),
      ("3_quality_lang", n3))
      .toDF("stage", "n_docs")
  }

  /** The funnel's conditional four-count aggregate — stage 0 (input rows,
    * `Σ grp_n` over the frontier's duplicate-group sizes), stage 1
    * (exact-dedup survivors), stage 2 (minus near-dup b-sides), stage 3
    * (plus quality/lang filters) in ONE pass over `exact` (which must come
    * from [[Dedup.exactDedupKeptCounted]]). This is the single
    * implementation of the stage semantics, shared by [[funnel]] and the
    * `curation_funnel_check` gate: the gate re-derives stage 2 through an
    * independent anti-join COUNTING path, but the stage DEFINITIONS cannot
    * silently drift between pipeline and gate. */
  def stageCounts(exact: DataFrame, dupB: DataFrame, cfg: Config = Config(),
                  idCol: String = "doc_id", textCol: String = "text"): (Long, Long, Long, Long) = {
    val langOk =
      if (cfg.keepLangs.isEmpty) lit(true) else col("lang_pred").isin(cfg.keepLangs: _*)
    val counts = exact
      .join(dupB.withColumn("_dup", lit(1)), Seq(idCol), "left")
      .withColumn("quality", TextFunctions.qualityScore(col(textCol), cfg.stopwords))
      .withColumn("lang_pred", TextFunctions.langId(col(textCol)))
      .agg(
        sum(col("grp_n")).as("n0"),
        count(lit(1)).as("n1"),
        count(when(col("_dup").isNull, 1)).as("n2"),
        count(when(col("_dup").isNull && col("quality") >= cfg.minQuality && langOk, 1))
          .as("n3"))
      .collect()(0)
    (counts.getLong(0), counts.getLong(1), counts.getLong(2), counts.getLong(3))
  }

  /**
   * Deterministic token-budget sample: keep documents in md5(id) order until
   * the cumulative whitespace-token count reaches `tokenBudget`. Stable
   * across runs/partitionings (hash order, not input order).
   *
   * Scale: a naive `SUM() OVER (ORDER BY hash)` funnels the whole corpus
   * through ONE task. Instead, a distributed two-pass prefix sum:
   *   pass 1 — per-bucket token subtotals (bucket = first 2 hex chars of the
   *            hash, 256 ordered buckets), collected to the driver (bounded:
   *            ≤256 rows) and turned into exclusive prefix offsets;
   *   pass 2 — window partitioned BY BUCKET (parallel across buckets)
   *            computes the local cumsum; adding the bucket's offset yields
   *            the exact global running sum in hash order.
   * Both passes are narrow scans + one hash shuffle on the bucket key; no
   * single-partition stage anywhere, so the operator parallelizes to any
   * executor count (bucket granularity can be widened to 3–4 hex chars for
   * clusters larger than 256-way).
   */
  def sampleToTokenBudget(docs: DataFrame, tokenBudget: Long,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hashOrderCumsum(docs, idCol, textCol)
      .filter(col("_cum") <= tokenBudget)
      .drop("_h", "_bucket", "_cum")
      .withColumnRenamed("_tokens", "n_tokens")

  /**
   * Global md5(id)-order rank (1-based, `_rn`) WITHIN each `groupCol` value,
   * computed WITHOUT a per-group single-task window — the same bucketed
   * two-pass prefix machinery as [[sampleToTokenBudget]], applied to ranks:
   *   pass 1 — per-(group, bucket) row counts (bucket = first 2 hex chars of
   *            md5(id)), collected to the driver (bounded: |groups| × 256
   *            rows) and turned into exclusive prefix offsets per group in
   *            bucket order;
   *   pass 2 — window partitioned by (group, BUCKET) computes the local
   *            row_number; adding the group's bucket offset yields the exact
   *            global rank in hash order.
   * Parallelism is |groups| × 256 tasks instead of |groups| — a 40%-weight
   * web-crawl source is 256 tasks, not one reducer. Bucket granularity can
   * widen to 3–4 hex chars for clusters beyond 256-way parallelism.
   */
  private[graft] def groupedHashRank(df: DataFrame, groupCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // explicit string cast: the offset-map keys are strings, so a non-string
    // group column (int source ids, dates) must stringify identically in the
    // counts pass and the rank pass
    val gstr = col(groupCol).cast("string")
    val base = df
      .withColumn("_h", md5(col(idCol).cast("string")))
      .withColumn("_bucket", substring(col("_h"), 1, 2))
    val counts = base.groupBy(gstr.as("_g"), col("_bucket"))
      .agg(count(lit(1)).as("_n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val offsets: Seq[(String, Long)] = counts
      .groupBy(_._1).toSeq
      .flatMap { case (g, rows) =>
        var acc = 0L
        rows.sortBy(_._2).map { case (_, b, n) =>
          val o = (g + "\u0000" + b, acc); acc += n; o
        }
      }
    // typedLit for the empty frame: a zero-arg map() is map<string,string>,
    // which would silently retype _rn's addend
    val offsetMap =
      if (offsets.isEmpty) typedLit(Map.empty[String, Long])
      else map(offsets.flatMap { case (k, o) => Seq(lit(k), lit(o)) }: _*)
    val w = Window.partitionBy(col(groupCol), col("_bucket"))
      .orderBy(col("_h"), col(idCol))
    base.withColumn("_rn",
      row_number().over(w).cast("long") +
        element_at(offsetMap, concat(gstr, lit("\u0000"), col("_bucket"))))
      .drop("_h", "_bucket")
  }

  /** Inclusive running token count in global md5(id) order (helper columns
    * `_h`, `_bucket`, `_tokens`, `_cum`) — the distributed prefix sum
    * documented on [[sampleToTokenBudget]]. */
  private def hashOrderCumsum(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    hashOrderCumsumBy(docs, idCol, TextFunctions.tokenCount(col(textCol)))

  private def hashOrderCumsumBy(docs: DataFrame, idCol: String,
                                tokensExpr: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .withColumn("_h", md5(col(idCol).cast("string")))
      .withColumn("_bucket", substring(col("_h"), 1, 2))
      .withColumn("_tokens", tokensExpr.cast("long"))
    val subtotals = base.groupBy(col("_bucket"))
      .agg(sum(col("_tokens")).as("_bsum"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)
    var acc = 0L
    val offsets = subtotals.map { case (b, s) => val o = (b, acc); acc += s; o }
    val offsetMap = map(offsets.flatMap { case (b, o) => Seq(lit(b), lit(o)) }.toSeq: _*)
    val w = Window.partitionBy(col("_bucket")).orderBy(col("_h"), col(idCol))
    base.withColumn("_cum",
      sum(col("_tokens")).over(w) + element_at(offsetMap, col("_bucket")))
  }

  /**
   * Greedy contiguous sequence packing: concatenate documents in
   * deterministic md5(id) order and chunk the token stream into training
   * sequences of `seqTokens`; each document reports the first and last
   * sequence it lands in (a document longer than the remainder of its
   * sequence straddles into the next — standard concat-then-chunk packing).
   *
   * `seq_first = (cumsum_exclusive) div seqTokens`,
   * `seq_last = (cumsum_inclusive − 1) div seqTokens` — pure arithmetic on
   * the same distributed prefix sum as [[sampleToTokenBudget]], so packing
   * 100 TB is one bucket shuffle + a 256-row driver aggregate, with no
   * global-order bottleneck.
   */
  def packSequences(docs: DataFrame, seqTokens: Long,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    packSequencesBy(docs, seqTokens, idCol,
      TextFunctions.tokenCount(col(textCol)))

  /**
   * [[packSequences]] with a CALLER-SUPPLIED token-count expression — the
   * hook that makes a trained tokenizer load-bearing: pass
   * `size([[Bpe.encode]](text, model))` (or a precomputed `n_tokens`
   * column from [[Bpe.tokenize]]) and the chunk boundaries pack REAL
   * subword ids instead of the whitespace heuristic. Same distributed
   * hash-order prefix sum, same scale shape.
   */
  def packSequencesBy(docs: DataFrame, seqTokens: Long, idCol: String,
                      tokensExpr: Column): DataFrame =
    hashOrderCumsumBy(docs, idCol, tokensExpr)
      .filter(col("_tokens") > 0)
      // integer `div`, not double floor — exact past 2^53 tokens
      .withColumn("seq_first", expr(s"(_cum - _tokens) div $seqTokens"))
      .withColumn("seq_last", expr(s"(_cum - 1) div $seqTokens"))
      .drop("_h", "_bucket", "_cum")
      .withColumnRenamed("_tokens", "n_tokens")

  /**
   * Mix to EXACT per-source target counts, up-sampling allowed: each source
   * contributes its docs in deterministic md5-of-id order, replicated whole
   * epochs (`copy` = 0, 1, …) until the target is met — the standard
   * "repeat high-quality sources N epochs" training mixture, where
   * [[mixToWeights]] only down-samples. A document's replica index is
   * `copy × |source| + rank`; keeping indices ≤ target yields exactly
   * `target` rows per source with the fairest possible truncation (last
   * partial epoch cut in hash order).
   *
   * Per-source totals are a tiny driver aggregate (|sources| rows); the data
   * pass is one bucketed rank ([[groupedHashRank]] — parallel within each
   * source, no single-task window) + an explode bounded by ⌈target/avail⌉
   * copies.
   */
  def mixToTargetCounts(docs: DataFrame, sourceCol: String,
                        targets: Map[String, Long],
                        idCol: String = "doc_id"): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0))
    val inScope = docs.filter(col(sourceCol).isin(targets.keys.toSeq: _*))
    val avail = inScope.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def bySource(f: (String, Long) => Long): Column =
      targets.foldLeft(lit(0L)) { case (acc, (s, t)) =>
        when(col(sourceCol) === s, lit(f(s, t))).otherwise(acc)
      }
    val needExpr = bySource((_, t) => t)
    val availExpr = bySource((s, _) => avail.getOrElse(s, 0L))
    val repsExpr = bySource { (s, t) =>
      val a = avail.getOrElse(s, 0L)
      if (a == 0) 0L else (t + a - 1) / a
    }
    groupedHashRank(inScope, sourceCol, idCol)
      .withColumn("copy", explode(when(repsExpr > 0,
        sequence(lit(0L), repsExpr - 1)).otherwise(array().cast("array<bigint>"))))
      .filter(col("copy") * availExpr + col("_rn") <= needExpr)
      .select(col(idCol), col(sourceCol), col("copy"))
  }

  /**
   * Sliding token-window chunking: split each document into chunks of
   * `chunkTokens` whitespace tokens, consecutive chunks overlapping by
   * `overlapTokens` (stride = chunk − overlap). Chunk starts are
   * `i × stride` for `i < ceil((n − overlap) / stride)` — every chunk
   * contributes ≥ 1 new token, the last chunk may be short, and any
   * non-empty document yields at least one chunk.
   *
   * Pure per-row arithmetic + one explode: narrow, no shuffle, trivially
   * parallel at any scale — and exactly reproducible in ANSI SQL, so the
   * gate (`chunk_documents`) hash-checks chunk boundaries AND content
   * digests against DuckDB.
   */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, overlapTokens: Int,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkTokens > overlapTokens && overlapTokens >= 0,
      s"need chunkTokens > overlapTokens >= 0, got $chunkTokens/$overlapTokens")
    val stride = chunkTokens - overlapTokens
    docs
      .withColumn("_toks", TextFunctions.tokens(col(textCol)))
      .withColumn("_n", size(col("_toks")))
      .withColumn("_k", greatest(
        expr(s"(_n - $overlapTokens + $stride - 1) div $stride"), lit(1)).cast("long"))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("_k") - 1)))
      .withColumn("tok_start", col("chunk_id") * stride)
      .withColumn("chunk_tokens", least(lit(chunkTokens.toLong), col("_n") - col("tok_start")))
      .withColumn("chunk_md5", md5(concat_ws(" ",
        slice(col("_toks"), (col("tok_start") + 1).cast("int"), col("chunk_tokens").cast("int")))))
      .select(col(idCol), col("chunk_id"), col("tok_start"),
        col("chunk_tokens"), col("chunk_md5"))
  }

  /**
   * Content-defined chunking (windowed-Gear CDC, the shift-robust
   * complement of [[chunkDocuments]]'s fixed token windows): chunk
   * boundaries fall where the 16-byte windowed gear hash's top `maskBits`
   * bits are zero ([[graft.functions.TextFunctions.cdcChunks]], a native
   * codegen'd O(n)-per-document expression), so an insertion or deletion
   * moves at most the two adjacent boundaries — duplicated passages in
   * otherwise-edited documents keep identical chunks, which fixed-size
   * blocking destroys. Output: (idCol, chunk_idx, start, len, chunk_md5)
   * with BYTE offsets into the UTF-8 encoding; `chunk_md5` is the md5 of
   * the chunk's HEX-encoded bytes (hex, not raw, so the DuckDB oracle —
   * whose md5 only takes VARCHAR — replays it exactly).
   *
   * Scale shape: one narrow codegen'd scan (chunking + explode), no
   * shuffle at all — chunk rows stream straight to the consumer (the
   * dedup groupBy downstream is where the first shuffle happens).
   */
  def cdcChunkDocuments(docs: DataFrame, maskBits: Int = 6,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the kernel returns an empty boundary array outside this range (its
    // null-safety convention); at the operator level that would silently
    // posexplode every document away — reject loudly instead (the
    // LloydMath.toDecimal12 convention)
    require(maskBits >= 1 && maskBits <= 63,
      s"cdcChunkDocuments: maskBits must be in [1, 63], got $maskBits")
    docs
      .select(col(idCol),
        posexplode(TextFunctions.cdcChunks(col(textCol), maskBits))
          .as(Seq("chunk_idx", "c")),
        col(textCol))
      .select(col(idCol), col("chunk_idx"),
        col("c.start").as("start"), col("c.len").as("len"),
        md5(hex(encode(col(textCol), "UTF-8")
          .substr(col("c.start") + 1, col("c.len"))).cast("binary")).as("chunk_md5"))
  }

  /**
   * Chunk-level duplicate report over [[cdcChunkDocuments]] output: chunk
   * contents appearing in more than one document — the sub-document dedup
   * signal (boilerplate headers, license blocks, quoted passages) that
   * whole-document fingerprints cannot see and shifted copies hide from
   * fixed blocks. One hash-keyed aggregate (the standard partial/final
   * shape); `n_docs`/`n_occurrences` are exact, `min_doc_id` is the
   * deterministic representative.
   */
  def cdcDuplicateChunks(docs: DataFrame, maskBits: Int = 6, minDocs: Int = 2,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    cdcChunkDocuments(docs, maskBits, idCol, textCol)
      .groupBy(col("chunk_md5"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col(idCol)).as("min_doc_id"))
      .filter(col("n_docs") >= minDocs)

  /**
   * Deterministic train/validation/test split: each row is assigned to the
   * first split whose cumulative weight bound exceeds its hash fraction
   * `u = int(md5(id)[0:8]) / 2^32` — a pure function of the id, so the
   * assignment is reproducible across runs, partitionings and engines (no
   * `rand()`, no global sort, no state), rows never migrate between splits
   * when the corpus grows, and the same id always lands in the same split
   * across pipeline versions — the property that keeps eval sets
   * uncontaminated as training data is re-curated.
   *
   * Cumulative bounds are accumulated in exact decimal (`BigDecimal`) so
   * `Seq(0.8, 0.1, 0.1)` yields boundaries exactly 0.8 / 0.9 / 1.0 — a
   * naive double fold would produce 0.9000000000000001 and disagree with
   * any engine writing the boundary as the literal `0.9` (the DuckDB
   * oracle does exactly that).
   *
   * Scale: one narrow codegen'd scan, zero shuffles.
   */
  def hashSplit(docs: DataFrame, weights: Seq[Double], names: Seq[String],
                idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty && weights.length == names.length,
      s"need matching non-empty weights/names, got ${weights.length}/${names.length}")
    require(weights.forall(_ > 0), s"weights must be positive: $weights")
    val total = weights.map(BigDecimal(_)).sum
    val cum = weights.map(BigDecimal(_)).scanLeft(BigDecimal(0))(_ + _).tail
      .map(c => (c / total).toDouble)
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    // last split is the unconditional otherwise — u < 1.0 can miss the top
    // boundary only through float rounding, and every row must land somewhere
    val split = cum.init.zip(names.init).reverse
      .foldLeft(lit(names.last): Column) { case (acc, (bound, name)) =>
        when(u < lit(bound), lit(name)).otherwise(acc)
      }
    docs.withColumn("split", split)
  }

  /**
   * Exact-fraction stratified sample: per stratum, keep the first
   * `ceil(fraction × stratum size)` documents in deterministic md5-of-id
   * order. Reproducible across runs/partitionings (no `rand()`), and the
   * per-stratum fraction is hit exactly.
   *
   * Scale: one shuffle on the stratum key; each stratum is ranked inside its
   * own task, so parallelism = number of strata. Right for the common case
   * (strata = sources/languages, tens to thousands). For millions of rows in
   * ONE stratum with a tight driver-side latency budget, use
   * [[stratifiedSampleHash]] — stateless, no ranking, fraction approximate.
   */
  def stratifiedSampleExact(docs: DataFrame, strataCol: String,
                            fractions: Map[String, Double], defaultFraction: Double,
                            idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fracExpr = fractions.foldLeft(lit(defaultFraction)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit(f)).otherwise(acc)
    }
    val w = Window.partitionBy(col(strataCol))
    val wOrdered = w.orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs
      .withColumn("_rn", row_number().over(wOrdered))
      .withColumn("_n", count(lit(1)).over(w))
      .filter(col("_rn") <= ceil(fracExpr * col("_n")))
      .drop("_rn", "_n")
  }

  /**
   * Stateless hash-threshold stratified sample: keep a document iff the
   * first 32 bits of `md5(id)` fall under `fraction × 2^32`. No shuffle, no
   * state, embarrassingly parallel — the 100 TB path. Fraction is hit in
   * expectation (Chernoff-tight for large strata), not exactly.
   */
  def stratifiedSampleHash(docs: DataFrame, strataCol: String,
                           fractions: Map[String, Double], defaultFraction: Double,
                           idCol: String = "doc_id"): DataFrame = {
    val fracExpr = fractions.foldLeft(lit(defaultFraction)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit(f)).otherwise(acc)
    }
    val h32 = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long")
    docs.filter(h32 < (fracExpr * lit(4294967296L)).cast("long"))
  }

  /**
   * Deterministic weighted sampling WITHOUT replacement (Efraimidis–Spirakis
   * A-Res): each row draws a stable uniform u ∈ (0,1] from the first 52 bits
   * of `md5(id)` and ranks by `key = u^(1/w)` descending; the top `k` rows
   * per group win. Inclusion is weight-proportional in the
   * without-replacement sense — the standard quality-weighted corpus
   * subsample — and u is a pure function of the id, so the sample is
   * identical across runs, partitionings and engines. Weights must be > 0.
   *
   * The rank key is ROUNDED to 12 decimals with id tie-break: ranking is
   * unaffected (adjacent order-statistic gaps are ~1/n², far above 1e-12)
   * while cross-engine `pow` differences (~1 ulp, below 1e-12 relative)
   * vanish — so a DuckDB oracle reproduces the sample row for row.
   *
   * Nonpositive / null weights are REJECTED at run time (raise_error):
   * `pow(u, 1/w)` would otherwise turn them into NaN/Inf keys that
   * silently distort the sample. Note the rounding also means weights so
   * large that `u^(1/w)` rounds to exactly 1.0 (w ≳ 1e11 for typical u)
   * collapse to a tie — selection among such rows degenerates to
   * ascending-id order rather than the A-Res distribution; rescale
   * weights into a sane range if that matters.
   *
   * Scale shape: a narrow per-row key (computed as a column, so the weight
   * check runs on every row, a group of one included) and the heap-based
   * sort-free per-group top-k ([[graft.plans.TopK.perKey]]) every ranked
   * operator here uses.
   */
  def weightedSampleHash(docs: DataFrame, groupCol: String, weight: Column,
                         k: Int, idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be > 0")
    // 13 hex chars = 52 bits (exact in a double); +1 shifts to (0, 2^52]
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("double") + 1.0) / 4503599627370496.0
    // NaN must be caught explicitly: NaN <= 0.0 is false, and a NaN rank key
    // sorts ABOVE every valid key in Spark's descending order — NaN-weighted
    // rows would otherwise silently always win the sample
    val wChecked = when(weight.isNull || isnan(weight) || weight <= 0.0,
      raise_error(concat(lit("weightedSampleHash: weight must be > 0, got "),
        coalesce(weight.cast("string"), lit("null"))))).otherwise(weight)
    graft.plans.TopK.perKey(docs.withColumn("_wkey", round(pow(u, lit(1.0) / wChecked), 12)),
      k, Seq(col(groupCol)), Seq(col("_wkey").desc, col(idCol))).drop("_wkey", "rnk")
  }

  /**
   * Mix sources to target weights: the largest corpus with per-source counts
   * ∝ `weights` that the available data supports. The binding source sets
   * the total (`target = min_i(avail_i / w_i)`); each source then contributes
   * its first `floor(w_i × target)` docs in deterministic hash order.
   * Standard training-mixture construction (down-samples over-represented
   * sources; never up-samples). Sources absent from `weights` are dropped.
   *
   * Per-source counts are a tiny driver-side aggregate (one row per source);
   * the data pass is the bucketed rank-and-keep of [[groupedHashRank]] —
   * parallel WITHIN each source, so a 40%-weight source is not one reducer.
   */
  def mixToWeights(docs: DataFrame, sourceCol: String,
                   weights: Map[String, Double],
                   idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0))
    val avail = docs.filter(col(sourceCol).isin(weights.keys.toSeq: _*))
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val target = weights.collect {
      case (s, w) if avail.contains(s) => avail(s) / w
    }.foldLeft(Double.MaxValue)(math.min)
    val takeExpr = weights.foldLeft(lit(0L)) { case (acc, (s, w)) =>
      when(col(sourceCol) === s, lit(math.floor(w * target).toLong)).otherwise(acc)
    }
    groupedHashRank(docs.filter(col(sourceCol).isin(weights.keys.toSeq: _*)),
      sourceCol, idCol)
      .filter(col("_rn") <= takeExpr)
      .drop("_rn")
  }

  /**
   * Temperature-based mixture weighting — the multilingual/multi-source
   * sampling rule of mBERT / XLM-R / mT5: sampling weight p_i ∝ n_i^α
   * with α < 1 flattening the head and upweighting the tail so low-resource
   * slices are not drowned by sheer volume. α is FIXED at 0.5 so the
   * exponent is `sqrt` — IEEE-754 requires sqrt correctly rounded, hence
   * bit-identical across engines, where a general `pow` is not; α = 0.5
   * sits inside the range the literature actually uses (0.2–0.7).
   *
   * Arithmetic (the exact-sums discipline): n_docs / n_tokens are exact
   * integer aggregates; s_i = round6(sqrt(n_tokens_i)) carried as exact
   * 1e-6-unit longs; weight_i = round6(u_i / Σu) — one exact-integer
   * division per group; alloc_tokens_i = round6(weight_i · budgetTokens).
   * raw_share_i = round6(n_tokens_i / Σ n_tokens) is reported alongside so
   * the flattening is visible in the output.
   *
   * Scale: ONE partial/final aggregate to |groups| rows, then a broadcast
   * of the 1-row total — no driver state, no second corpus pass.
   */
  def temperatureMix(docs: DataFrame, groupCol: String = "source",
                     budgetTokens: Long = 1000000L,
                     textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val perGroup = docs
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
      .withColumn("_u", // re-round after the 1e6 scale — the product of the
        // grid double can land a hair under the integer and truncate
        round(round(sqrt(col("n_tokens").cast("double")), 6) * lit(1e6), 0)
          .cast("long"))
      // sever the fork: perGroup feeds BOTH the totals aggregate and the
      // crossJoin below — without a plan cut the full corpus tokenize+count
      // executes twice (the stv/ds localCheckpoint discipline in
      // TextAnalysis); the frame is |groups|-row, trivially checkpointable
      .localCheckpoint()
    val totals = perGroup.agg(
      sum(col("_u")).as("_ut"), sum(col("n_tokens")).as("_tt"))
    perGroup.crossJoin(broadcast(totals))
      .select(col(groupCol), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("_tt"), 6).as("raw_share"),
        round(col("_u").cast("double") / col("_ut"), 6).as("weight"),
        round(round(col("_u").cast("double") / col("_ut"), 6) * budgetTokens, 6)
          .as("alloc_tokens"))
  }

  /**
   * Snapshot diff — the dataset-versioning primitive of an iterative
   * curation pipeline: given two corpus snapshots keyed by `idCol`,
   * classify every id as `added` (new only), `removed` (old only),
   * `changed` (both, content fingerprint differs) or `unchanged`.
   * Content identity is `md5(contentCol)` — compare fingerprints, not
   * payloads, so the join rows stay narrow regardless of document size.
   *
   * Scale shape: ONE full outer shuffle join on the id of two
   * (id, fingerprint) projections — the minimum any diff must pay; at
   * 100 TB both sides prune to two columns at the parquet scan, and a
   * bucketed/Z-ordered id layout makes the join co-located. Output is
   * id + status (audit log); roll up with a groupBy for the summary.
   */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String = "doc_id",
                   contentCol: String = "text"): DataFrame = {
    // presence comes from explicit per-side markers, NOT from the
    // fingerprint — md5(NULL) is NULL, and a NULL-content row present on
    // both sides must compare as content (null-safely), not as absence
    def fp(df: DataFrame, side: String) = df.select(
      col(idCol).as("id"), md5(col(contentCol).cast("binary")).as(s"fp_$side"),
      lit(1).as(s"in_$side"))
    fp(oldSnap, "old").join(fp(newSnap, "new"), Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("fp_old") <=> col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /**
   * Exact interpolated per-group quantiles from a WEIGHTED HISTOGRAM —
   * the scale path for per-group quantile cuts. `percentile` buffers
   * every group value in one aggregation state (memory ∝ group size, a
   * non-starter when one source holds 10^10 docs); this computes the
   * identical quantile_cont value with state ∝ DISTINCT scores per group:
   * groupBy to the (group, score) histogram, one group-keyed window for
   * cumulative counts, then the interpolation
   * `v_lo + (h − ⌊h⌋)·(v_hi − v_lo)` at rank h = q·(n−1) via two
   * conditional aggregates. Every step is exact-int / power-of-two-exact
   * double arithmetic when scores are integers and q is a dyadic
   * rational (0.25, 0.5, 0.75) — bit-equal to DuckDB's quantile_cont.
   *
   * Output: one row per group — (groupCol, thr).
   */
  def groupQuantile(df: DataFrame, groupCol: String, scoreCol: Column,
                    q: Double): DataFrame =
    groupQuantiles(df, groupCol, scoreCol, Seq(q))
      .withColumnRenamed("thr_0", "thr")

  /** Several quantiles of the same score in ONE histogram pass: output
    * (groupCol, thr_0 … thr_{m−1}), one per entry of `qs` — the shape
    * [[winsorize]] needs both clip bounds from. */
  def groupQuantiles(df: DataFrame, groupCol: String, scoreCol: Column,
                     qs: Seq[Double]): DataFrame = {
    // NULL scores carry no quantile signal and must not become a
    // histogram bucket: a null `v` group would survive the groupBy and
    // the NULLS-FIRST window order would shift every cumulative rank.
    // percentile/quantile_cont ignore nulls; `n` below counts only
    // non-null scores to match.
    val hist = df.filter(scoreCol.isNotNull)
      .groupBy(col(groupCol), scoreCol.cast("double").as("v"))
      .agg(count(lit(1)).as("cnt"))
    histogramQuantiles(hist, groupCol, qs)
  }

  /** The histogram→quantile math of [[groupQuantiles]], exposed for
    * callers that ALREADY hold a (groupCol, v, cnt) weighted histogram —
    * e.g. a drained [[graft.streaming.StreamingHistogram]] artifact,
    * where the histogram is the streaming state and the quantile is
    * derived from the stored cells without raw data. Same exactness:
    * interpolation `v_lo + (h−⌊h⌋)(v_hi−v_lo)` at rank h = q·(n−1),
    * bit-equal to quantile_cont. */
  def histogramQuantiles(hist: DataFrame, groupCol: String,
                         qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty, "histogramQuantiles: need at least one quantile")
    qs.foreach(q => require(q >= 0 && q <= 1,
      s"histogramQuantiles: q must be in [0,1], got $q"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("v"))
    val wAll = wOrd.rowsBetween(Long.MinValue, Long.MaxValue)
    val withH = qs.zipWithIndex.foldLeft(
      hist
        .withColumn("cum", sum(col("cnt")).over(wOrd))
        .withColumn("n", sum(col("cnt")).over(wAll))) {
      case (d, (q, i)) => d.withColumn(s"h_$i", lit(q) * (col("n") - 1))
    }
    val aggs = qs.indices.flatMap { i =>
      Seq(
        max(when(col("cum") - col("cnt") < floor(col(s"h_$i")) + 1 &&
          floor(col(s"h_$i")) + 1 <= col("cum"), col("v"))).as(s"vlo_$i"),
        max(when(col("cum") - col("cnt") < ceil(col(s"h_$i")) + 1 &&
          ceil(col(s"h_$i")) + 1 <= col("cum"), col("v"))).as(s"vhi_$i"),
        max(col(s"h_$i")).as(s"h_$i"))
    }
    withH.groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(groupCol) +: qs.indices.map(i =>
        (col(s"vlo_$i") + (col(s"h_$i") - floor(col(s"h_$i"))) *
          (col(s"vhi_$i") - col(s"vlo_$i"))).as(s"thr_$i")): _*)
  }

  /**
   * Per-group winsorization: clip each row's value to its group's
   * [qLow, qHigh] quantile band — the outlier-robust normalization a
   * pipeline applies to heavy-tailed numeric features before training.
   * Returns the input plus (lo, hi, clipped). All comparisons are pure
   * IEEE on unrounded doubles — the thresholds come from
   * [[groupQuantiles]] (one histogram pass for both bounds), identical
   * bit-for-bit in any engine replaying the same interpolation.
   */
  def winsorize(df: DataFrame, groupCol: String, valueCol: Column,
                qLow: Double, qHigh: Double): DataFrame = {
    require(qLow < qHigh,
      s"winsorize: qLow must be < qHigh, got $qLow >= $qHigh")
    val thr = groupQuantiles(df, groupCol, valueCol, Seq(qLow, qHigh))
      .select(col(groupCol), col("thr_0").as("lo"), col("thr_1").as("hi"))
    df.withColumn("_v", valueCol.cast("double"))
      .join(broadcast(thr), Seq(groupCol))
      .withColumn("clipped", least(greatest(col("_v"), col("lo")), col("hi")))
      .drop("_v")
  }

  /**
   * Per-group quality floor: keep rows whose score is at or above their
   * group's q-quantile — the per-source length/quality cut every corpus
   * curation pipeline applies (a global floor over mixed sources throws
   * away the short-document source wholesale; a per-source floor trims
   * each source's own tail). Returns the input plus (thr, kept).
   *
   * Scale shape: [[groupQuantile]] reduces to |groups| thresholds
   * (histogram-state, skew-safe), broadcast back over one narrow scan.
   */
  def quantileFloor(df: DataFrame, groupCol: String, scoreCol: Column,
                    q: Double): DataFrame = {
    val thr = groupQuantile(df, groupCol, scoreCol, q)
    df.withColumn("_score", scoreCol.cast("double"))
      .join(broadcast(thr), Seq(groupCol))
      .withColumn("kept", col("_score") >= col("thr"))
      .drop("_score")
  }
}
