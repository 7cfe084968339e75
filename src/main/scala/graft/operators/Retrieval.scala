package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Rank fusion for hybrid retrieval — combining a lexical ranking (BM25,
 * [[TextAnalysis]]) with a vector ranking ([[Similarity]]) is the standard
 * retrieval shape for RAG serving and curation lookups: each ranker covers
 * the other's misses (exact keywords vs paraphrase).
 *
 * Reciprocal-rank fusion (RRF): `score(d) = Σ_r 1 / (kRrf + rank_r(d))`
 * over the rankings that contain `d`. Rank-based, so the two score scales
 * (BM25 vs cosine) never need calibrating — the classic robustness
 * argument for RRF over score interpolation.
 *
 * Scale/determinism shape: each input is already a top-k ranking (small by
 * construction), the fusion is one full-outer join on the id plus a single
 * per-row arithmetic expression — NOT a float aggregation, so the fused
 * score is a deterministic expression of the two ranks (no summation-order
 * sensitivity) and replays exactly in the DuckDB oracle; `round(…, 6)`
 * absorbs ulp-level division drift, ties break on the id.
 */
object Retrieval {

  /**
   * Fuse two rankings by RRF. Inputs carry (`idCol`, `rnkCol`) — ranks
   * 1-based, ids unique per frame (top-k lists). Output: (rnk, idCol,
   * rrf_score) — the fused top-`k`, rank 1 best.
   */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, kRrf: Int = 60,
              idCol: String = "id", rnkCol: String = "rnk"): DataFrame = {
    require(k > 0, "rrfFuse: k must be positive")
    require(kRrf >= 1, "rrfFuse: kRrf must be >= 1")
    def side(df: DataFrame, id: String, s: String): DataFrame =
      df.select(col(idCol).as(id),
        (lit(1.0) / (lit(kRrf.toDouble) + col(rnkCol).cast("double"))).as(s))
    val fused = side(a, "_ida", "_sa")
      .join(side(b, "_idb", "_sb"), col("_ida") === col("_idb"), "full_outer")
      .select(
        coalesce(col("_ida"), col("_idb")).as(idCol),
        round(coalesce(col("_sa"), lit(0.0)) + coalesce(col("_sb"), lit(0.0)), 6)
          .as("rrf_score"))
    val w = Window.orderBy(col("rrf_score").desc, col(idCol).asc)
    // the fused candidate set is |a| + |b| rows at most — two top-k lists —
    // so the single-partition window is bounded by construction, never by
    // any corpus
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col(idCol), col("rrf_score"))
  }

  /** Attach a 1-based rank column to a scored top-k list (deterministic:
    * score desc, id asc) — adapts score-shaped outputs like
    * [[TextAnalysis.bm25TopK]]'s (id, score) to [[rrfFuse]]'s rank input.
    * Bounded: callers pass top-k lists, never corpora. */
  def ranked(scored: DataFrame, idCol: String, scoreCol: String): DataFrame =
    scored.withColumn("rnk",
      row_number().over(Window.orderBy(col(scoreCol).desc, col(idCol).asc)))

  /**
   * Character-TRIGRAM posting pairs of `lower(textCol)` — the classic
   * substring-search index (what pg_trgm / code-search engines build):
   * distinct (id, gram) rows with ZERO shuffle — grams are deduplicated
   * PER DOCUMENT in-row by the codegen'd `char_grams` kernel (one pass +
   * hash set; the HOF `transform` + `array_distinct` formulation costs
   * O(len²) per row), and (id, gram) pairs across documents are distinct
   * by id, so no corpus-wide distinct exchange is ever needed. Documents
   * shorter than 3 chars contribute nothing. At 100 TB the posting table
   * is gram-partitionable on write.
   */
  def trigramPostings(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol),
      explode(call_function("char_grams", col(textCol), lit(3))).as("gram"))
  }

  /**
   * Substring search through the trigram index: a document is a CANDIDATE
   * iff its posting set contains EVERY trigram of the needle (a necessary
   * condition for containment), and candidates alone are verified with an
   * exact `contains` re-read — the filter-then-verify shape that lets a
   * `%needle%` predicate prune a 100 TB scan down to the posting
   * intersection instead of reading every row. Returns one row per
   * candidate: (idCol, verified), ordered by id — the verified=false rows
   * ARE the measured false-candidate rate.
   */
  def substringSearch(docs: DataFrame, needle: String,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    verifyCandidates(docs,
      candidatesFromPostings(trigramPostings(docs, idCol, textCol), needle, idCol),
      needle, idCol, textCol)

  /** Candidate ids holding EVERY trigram of `needle`, from a posting
    * frame (freshly built or loaded from a persisted index). */
  private def candidatesFromPostings(postings: DataFrame, needle: String,
                                     idCol: String): DataFrame = {
    require(needle.length >= 3,
      s"substringSearch: needle must be >= 3 chars, got '$needle'")
    // Locale.ROOT: char_grams and the DuckDB oracle lowercase
    // locale-independently — the default-locale form would derive
    // different grams under e.g. a Turkish JVM locale (dotless-I)
    val grams = needle.toLowerCase(java.util.Locale.ROOT).sliding(3).toSeq.distinct
    postings
      .filter(col("gram").isin(grams: _*))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("ng"))
      .filter(col("ng") === grams.size)
      .select(col(idCol))
  }

  private def verifyCandidates(docs: DataFrame, cands: DataFrame,
                               needle: String, idCol: String,
                               textCol: String): DataFrame =
    docs.join(cands, Seq(idCol))
      .select(col(idCol),
        lower(col(textCol))
          .contains(lit(needle.toLowerCase(java.util.Locale.ROOT))).as("verified"))
      .orderBy(col(idCol))

  /** Persist a posting table gram-range-partitioned and gram-sorted —
    * needle-gram predicates prune partitions AND row groups on search,
    * so a query touches ~numGrams slivers of the index, never the
    * corpus. The winnow/BM25/bloom artifact discipline applied to
    * substring search. */
  def saveTrigramIndex(postings: DataFrame, path: String,
                       partitions: Int = 8): Unit =
    SegmentStore.write(gramLayout(postings, partitions), path, replace = true)

  /** Append a new document slice's postings as a [[SegmentStore]] append
    * commit (no base rewrite) — (id, gram) pairs across slices are
    * distinct as long as the slices are, so the loaded union needs no
    * dedup. */
  def appendTrigramIndex(postings: DataFrame, path: String,
                         partitions: Int = 2): Unit =
    SegmentStore.write(gramLayout(postings, partitions), path, replace = false)

  private def gramLayout(postings: DataFrame, partitions: Int): DataFrame =
    postings.repartitionByRange(partitions, col("gram")).sortWithinPartitions(col("gram"))

  /**
   * Compact a trigram index in place: fold the base save plus its append
   * commits into one gram-range-partitioned, gram-sorted commit — the [[graft.operators.TextAnalysis.compactLexicalIndex]] discipline
   * applied to the substring index. Every [[appendTrigramIndex]] adds
   * small files whose gram ranges overlap the base layout, so under
   * continuous ingest each search pays more files and un-pruned row
   * groups until compaction restores the one-commit range-partitioned
   * layout. Posting rows are preserved VERBATIM (slices are distinct by
   * construction — compaction is pure file-layout work, no dedup, no
   * regroup), audited by [[SegmentStore.compact]], so
   * [[searchTrigramIndex]] after it is row-identical to before by
   * construction, and a reader loaded before keeps the pile's files for
   * the store's grace.
   */
  def compactTrigramIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                          partitions: Int = 8): Unit =
    SegmentStore.compact(spark, path, "trigram index", Nil, identity)(
      gramLayout(_, partitions))

  /**
   * Substring search FROM the persisted index: candidate generation
   * reads only the needle grams' slivers of the posting artifact
   * (PushedFilters on the sorted gram column), then ONLY candidates
   * re-read text for the exact verify — the repeated-query shape where
   * the corpus text is never rescanned per query.
   */
  def searchTrigramIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, docs: DataFrame, needle: String,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    verifyCandidates(docs,
      candidatesFromPostings(SegmentStore.load(spark, path, "trigram index"), needle, idCol),
      needle, idCol, textCol)
}
