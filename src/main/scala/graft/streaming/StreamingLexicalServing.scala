package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/**
 * Streaming BM25 serving from a persisted lexical index
 * ([[TextAnalysis.saveLexicalIndex]] layout): the index artifact is the
 * STATIC side of a stream-static composition, the query batches are the
 * stream — the lexical twin of [[StreamingAnnServing]].
 *
 * Every micro-batch answers through the one lexical scorer
 * ([[TextAnalysis.bm25QueryIndexBatch]]: one pruned postings scan for the
 * union of the batch's terms, heap-based per-query top-k), so streaming
 * answers are row-identical to batch answers for the same query set by
 * construction (gated in StreamingLexicalSpec, not assumed). Per-query
 * top-k needs a rank over the candidate set, which append-mode streaming
 * cannot express without state; answering each micro-batch with the batch
 * operator is the standard serving shape and keeps ONE implementation of
 * the scoring semantics.
 *
 * Epoch cost discipline: the micro-batch is collected once (serving
 * batches are driver-small by contract) and the serve prelude — term
 * normalization ([[TextAnalysis.queryTokens]]), corpus stats (memoized on
 * the index's manifest version), bucket pruning ids (driver-side
 * xxhash64) — runs without Spark jobs, so each epoch spends its
 * wall-clock on the one pruned scoring scan.
 *
 * GROWING-INDEX semantics: the batch operator resolves the index's newest
 * manifest BY PATH inside each call, so every micro-batch reads the newest
 * commit — segments added by [[TextAnalysis.appendLexicalIndex]] become
 * searchable on the next epoch without restarting the stream (gate-pinned
 * with a term unique to the appended documents). This matters because a
 * captured DataFrame would snapshot its leaf files at stream construction
 * and silently never see appends. A save or a compaction of the index is
 * one more commit of the same store, so it is served from the next epoch
 * too, with no restart (gate-pinned by `streaming_bm25_generation_flip`).
 */
object StreamingLexicalServing {

  /**
   * Serve BM25 top-k answers for a stream of (query_id, terms) rows from
   * the index at `indexPath`: each micro-batch's answer frame
   * (query_id, doc_id, score, rnk) goes to `sink`. Queries with no term
   * that [[TextAnalysis.queryTokens]] keeps (empty/blank/null terms
   * arrays) are DATA, not exceptions: they contribute no rows, and a
   * micro-batch left with nothing servable is skipped — one malformed
   * client query must never take down serving for everyone (`sink` sees
   * only epochs that carried servable queries).
   */
  def serveBm25FromPath(queryStream: DataFrame, indexPath: String, k: Int,
                        k1: Double = 1.2, b: Double = 0.75,
                        queryIdCol: String = "query_id", termsCol: String = "terms",
                        maxBatchQueries: Int = 100000)
                       (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(maxBatchQueries > 0,
      "serveBm25FromPath: maxBatchQueries must be positive")
    // fail FAST at stream construction on a missing, corrupt or TORN
    // artifact (data files published without their stats commit record —
    // silently skewed idf/avgdl) instead of letting the deployment look
    // healthy until epoch 0 serves wrong scores. One scan of the index —
    // a construction-time audit, never a per-epoch cost.
    TextAnalysis.requireWholeLexicalIndex(
      TextAnalysis.validateLexicalIndex(queryStream.sparkSession, indexPath),
      indexPath, "serveBm25FromPath")
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        // collect the micro-batch ONCE (serving batches are driver-small by
        // contract) and run the whole serve prelude driver-side — term
        // normalization, blank/null-query filtering, stats (memoized),
        // bucket pruning ids — so the only Spark job per epoch is the
        // pruned scoring scan. A malformed client query (null/blank terms)
        // is dropped here, never an exception; an epoch left with nothing
        // servable is skipped (`sink` sees only epochs that carried
        // servable queries).
        // "serving batches are driver-small" is a CONTRACT, and contracts
        // get enforced: the collect is bounded by maxBatchQueries + 1 rows
        // (limit runs before collect, so driver memory is capped even when
        // a client violates it), and a violation fails with the config
        // knob's name instead of an OOM that takes down serving opaquely
        val rows = batch.toDF()
          .select(col(queryIdCol).cast("long"), col(termsCol))
          .limit(if (maxBatchQueries == Int.MaxValue) Int.MaxValue
                 else maxBatchQueries + 1) // saturating: MaxValue disables the cap
          .collect()
        require(rows.length <= maxBatchQueries,
          s"serveBm25FromPath: micro-batch exceeds maxBatchQueries=" +
            s"$maxBatchQueries query rows — split the client batch or " +
            "raise the limit")
        val qs = rows.iterator.collect {
          case r if !r.isNullAt(0) && !r.isNullAt(1) =>
            (r.getLong(0), r.getSeq[String](1))
        }.toSeq
        // servable = at least one term the scorer's normalization keeps
        if (qs.exists(q => TextAnalysis.queryTokens(q._2).nonEmpty))
          sink(TextAnalysis.bm25QueryIndexBatch(batch.sparkSession,
            indexPath, qs, k, k1, b), epochId)
      }
      .start()
  }
}
