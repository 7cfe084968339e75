package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SegmentStore

/**
 * Streaming winnow-fingerprint flagging — the streaming × winnowing cell
 * that completes the streaming dedup matrix ([[StreamingPhashDedup]] for
 * images, [[StreamingDedup]] for exact content, [[StreamingDivergence]] /
 * [[StreamingDsir]] for distributions): each incoming document is
 * winnow-fingerprinted in-flight
 * ([[graft.operators.TextAnalysis.winnowFingerprints]] semantics — the
 * compiled Karp-Rabin kernel, stateless narrow ops) and flagged against a
 * STORED fingerprint index of the existing corpus. The decontamination /
 * plagiarism admission check at ingest: "does this document share a
 * verbatim passage of >= w+k-1 chars with something we already have?"
 *
 * Statelessness is load-bearing (the [[StreamingPhashDedup]] lesson): a
 * (incoming, stored) pair sharing n fingerprints collides on n index rows,
 * and the batch report dedups that multiplicity with groupBy-count —
 * illegal state on an append stream. Instead each pair is emitted only
 * from its MINIMUM shared fingerprint, decided by a pure expression
 * (`fp = array_min(array_intersect(fps_incoming, fps_stored))`) over the
 * candidate row — exactly-once pair emission with zero state-store rows —
 * and the shared COUNT is `size(array_intersect(...))`, computed in-row
 * rather than aggregated.
 *
 * Scale shape: the static side is TWO narrow frames built once per corpus
 * epoch — the inverted (fp, dup_of) index with the df cut (boilerplate
 * fingerprints shared by everything would pair the corpus quadratically),
 * and the per-doc KEPT-fingerprint arrays, joined only onto candidate
 * rows (keeping the inverted index free of the array payload). Each
 * micro-batch pays fingerprinting on its own rows + two equi-joins.
 */
object StreamingWinnow {

  /** The stored-corpus side: `inverted` = (fp, dup_of) rows for
    * fingerprints with corpus df <= maxDf; `docSets` = (dup_of, fps_b)
    * with each stored doc's sorted kept-fingerprint array. */
  final case class WinnowIndex(inverted: DataFrame, docSets: DataFrame)

  /**
   * Build the static index from stored fingerprints (`fps`: an (id, fp)
   * frame, e.g. persisted [[graft.operators.TextAnalysis
   * .winnowFingerprints]] output or the per-JVM
   * [[graft.DedupArtifacts.winnowBaseFps]] cache; duplicates tolerated).
   * Only the df <= maxDf cut applies (unlike the batch pair report's
   * df >= 2 floor: a stored fingerprint unique in the corpus still pairs
   * with an incoming copy). Both frames are `localCheckpoint`ed — in a
   * stream-static join the static subplan re-executes per micro-batch,
   * so without severing them each batch would re-pay the df aggregation
   * and array collection.
   */
  def fingerprintIndex(fps: DataFrame, maxDf: Int = 20): WinnowIndex = {
    require(maxDf >= 1, s"fingerprintIndex: maxDf must be >= 1, got $maxDf")
    val distinctFps = fps.select(col("id"), col("fp")).distinct()
    val keptFp = distinctFps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("fp"))
    val kept = distinctFps.join(keptFp, Seq("fp"))
    val inverted = kept.select(col("fp"), col("id").as("dup_of"))
      .localCheckpoint()
    val docSets = kept.groupBy(col("id").as("dup_of"))
      .agg(sort_array(collect_set(col("fp"))).as("fps_b"))
      .localCheckpoint()
    WinnowIndex(inverted, docSets)
  }

  /**
   * Persist stored-corpus fingerprints as the on-disk decontamination
   * artifact: slim (id, fp) rows range-partitioned and sorted by `fp`, so
   * a flag join's probe prunes row groups via parquet min/max stats on
   * the join key. The size is the winnow density bound (~2·chars/(w+1)
   * per doc × 16 bytes) regardless of document length — corpus text is
   * never needed again at flag time.
   */
  def saveFingerprints(fps: DataFrame, path: String): Unit =
    SegmentStore.write(fpLayout(fps), path, replace = true)

  /** Append an ingest batch's fingerprints as a [[SegmentStore]] append
    * commit with the same per-file sort (the BM25 segment-append
    * discipline — no rewrite of existing files). The df <= maxDf cut is
    * applied at [[fingerprintIndex]] build time over the WHOLE loaded
    * set, so appended docs participate in boilerplate suppression exactly
    * as if the index had been rebuilt. */
  def appendFingerprints(fps: DataFrame, path: String): Unit =
    SegmentStore.write(fpLayout(fps), path, replace = false)

  private def fpLayout(fps: DataFrame): DataFrame =
    fps.select(col("id"), col("fp"))
      .repartitionByRange(col("fp")).sortWithinPartitions(col("fp"))

  /** Read a stored fingerprint set back; schema (id, fp). */
  def loadFingerprints(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame =
    SegmentStore.load(spark, path, "fingerprint set")

  /**
   * Compact a fingerprint artifact in place: fold the base
   * [[saveFingerprints]] plus its [[appendFingerprints]] commits into one
   * fp-range-partitioned, fp-sorted commit (the
   * [[graft.operators.Retrieval.compactTrigramIndex]] discipline).
   * Every append lands files whose fp ranges overlap the base layout,
   * so under continuous ingest a flag join's probe pays more files and
   * un-pruned row groups until a fold restores the one-commit range
   * layout. Rows are preserved VERBATIM (the df cut happens at
   * [[fingerprintIndex]] build, not here — compaction is pure
   * file-layout work), audited by [[SegmentStore.compact]], so an index
   * built after the fold is identical to one built from the pile by
   * construction.
   */
  def compactFingerprints(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    SegmentStore.compact(spark, path, "fingerprint set", Nil, identity)(fpLayout)

  /**
   * Flag a stream of (idCol, textCol) documents against a prebuilt
   * [[WinnowIndex]]. Returns (idCol, dup_of, n_shared) — one row per
   * (incoming, stored) pair sharing >= minShared distinct KEPT
   * fingerprints; an incoming doc absent from the output batch shares no
   * localized passage with the stored corpus. `k`/`w` must match the
   * values the stored fingerprints were built with.
   */
  def flagAgainstIndex(stream: DataFrame, index: WinnowIndex,
                       k: Int = 8, w: Int = 4, minShared: Long = 2,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    require(minShared >= 1, s"flagAgainstIndex: minShared must be >= 1, got $minShared")
    import org.apache.spark.sql.graftshim.GraftPlanBridge.{column => toCol, expr => toExpr}
    val norm = regexp_replace(
      trim(lower(coalesce(col(textCol), lit("")))), "\\s+", " ")
    // explode_OUTER and no size() guard, deliberately (the winnowFingerprints
    // plan pin): a size(_fps) > 0 filter is semantically dead here — plain
    // explode drops empty arrays anyway — but Catalyst pushes it below the
    // projection, alias-substituting the whole kernel expression into the
    // filter, and plain explode invites InferFiltersFromGenerate to inline
    // a third copy. With the outer variant nothing is inferred; a doc too
    // short for a gram yields one null-fp row, which the fp equi-join drops.
    // The coalesce makes the kernel input (hence fps_a) NON-NULLABLE, so
    // the downstream join condition on array_min(array_intersect(fps_a, …))
    // cannot infer an isnotnull(fps_a) constraint filter either — that
    // inference alias-substitutes a SECOND full kernel copy below the
    // projection (the same round-12 failure mode through a different rule);
    // null text ⇒ empty normalized text ⇒ no grams, identical semantics
    val withFps = stream
      .select(col(idCol), norm.as("_nm"))
      .withColumn("_fps", array_distinct(transform(
        toCol(graft.plans.WinnowSelect(toExpr(col("_nm")), k, w)),
        s => s.getField("fp"))))
      .select(col(idCol), col("_fps").as("fps_a"))
    val candidates = withFps
      .select(col(idCol), col("fps_a"), explode_outer(col("fps_a")).as("fp"))
      .join(index.inverted, Seq("fp"))
      .join(index.docSets, Seq("dup_of"))
    val shared = array_intersect(col("fps_a"), col("fps_b"))
    candidates
      // exactly-once: of the |shared| candidate rows this pair produces,
      // only the one carrying the minimum shared fingerprint emits
      .filter(col("fp") === array_min(shared))
      .select(col(idCol), col("dup_of"),
        size(shared).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The [[WinnowIndex]] of the fingerprint store at `root`, rebuilt only
    * when its base commit moves ([[SegmentStore.BaseMemo]]). */
  private[graft] def indexMemo(spark: org.apache.spark.sql.SparkSession, root: String,
                               maxDf: Int): SegmentStore.BaseMemo[WinnowIndex] =
    new SegmentStore.BaseMemo(spark, root, "fingerprint set", fingerprintIndex(_, maxDf))

  /**
   * Streamed admission flagging — [[flagAgainstIndex]] served from the
   * fingerprint store at `root`. The [[WinnowIndex]] (the df aggregation
   * plus array collection, corpus-epoch work) is built once per base
   * commit ([[indexMemo]]): a save or a compaction is served from the
   * NEXT micro-batch with no stream restart, while fingerprints appended
   * in between join the index at the next save or compaction, not the
   * next epoch (the `localCheckpoint` in [[fingerprintIndex]] makes the
   * index a snapshot) — the cadence where ingest appends continuously and
   * maintenance periodically folds. Construction fails fast on a missing
   * or unreadable store (the initial index is built eagerly).
   */
  def flagStreamFromRoot(stream: DataFrame, root: String, maxDf: Int = 20,
                         k: Int = 8, w: Int = 4, minShared: Long = 2,
                         idCol: String = "doc_id", textCol: String = "text")
                        (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val memo = indexMemo(stream.sparkSession, root, maxDf)
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epochId: Long) =>
        sink(flagAgainstIndex(batch.toDF(), memo.current()._2,
          k, w, minShared, idCol, textCol), epochId)
      }
      .start()
  }
}
