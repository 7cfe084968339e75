package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.VectorFunctions
import graft.operators.{Quantization, Similarity}

/**
 * Streaming ANN serving from a persisted IVF-PQ index
 * ([[Similarity.saveIvfPq]] / [[Similarity.loadIvfPq]]): the index artifact
 * is the STATIC side of a stream-static composition (same shape as
 * [[StreamJoins.enrichStatic]]), the query vectors are the stream.
 *
 * Two tiers:
 *  - [[scoreCandidates]] — the fully STATELESS part as a pure append
 *    stream: probe the query's `nprobe` nearest coarse centroids (codegen'd
 *    literal-table expression, no state), stream-static equi-join on
 *    `list_id` against the encoded code table (partition-pruned on the
 *    stored `list_id` partitions), ADC-score inside codegen. No
 *    state store, no watermark, no shuffle of the static side beyond the
 *    pruned scan — the per-event cost is the same `corpus·nprobe/nlist`
 *    code rows as the batch path.
 *  - [[serveIvfPqFromRoot]] — the full answer (exact re-rank + per-query
 *    top-k) per micro-batch via `foreachBatch`, reusing the EXACT batch
 *    [[Similarity.ivfPqQuery]] — so streaming answers are row-identical to
 *    batch answers for the same query set by construction (gated in
 *    StreamingAnnSpec, not assumed). Per-query top-k needs a rank over the
 *    candidate set, which append-mode streaming cannot express without
 *    state; answering each micro-batch with the batch operator is the
 *    standard serving shape and keeps ONE implementation of the ranking
 *    semantics instead of a drifting streaming twin.
 */
object StreamingAnnServing {

  /**
   * Stateless stream-static candidate generation + ADC scoring over a query
   *-vector stream: (qid, list_id, cid, cos_adc) per candidate. Works
   * identically on a batch `queries` frame (same plan shape — useful for
   * backfills and for the row-identity gate).
   *
   * ID-SPACE convention: stream query ids are usually CLIENT-chosen, so the
   * default here is `excludeSelf = false` — a corpus row whose id happens to
   * collide with a query id is still served. Pass true only when the query
   * stream replays corpus rows under their own ids (backfills, gates) and
   * self-matches must be suppressed. Non-finite query vectors produce no
   * candidate rows (same rule as [[Similarity.ivfPqQuery]]).
   */
  def scoreCandidates(queries: DataFrame, index: Similarity.IvfPqIndex,
                      nprobe: Int = 4,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      excludeSelf: Boolean = false): DataFrame = {
    val centsLit = Similarity.centroidsLiteral(index.centroids)
    val bl = Quantization.pqBooksLiteral(index.books)
    val q = queries.filter(VectorFunctions.isFiniteVec(col(vecCol)))
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("list_id",
        explode(VectorFunctions.topCentroids(col("qv"), centsLit, nprobe)))
    q.join(index.encoded, Seq("list_id"))
      .filter(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .select(col("qid"), col("list_id"), col("cid"),
        round(VectorFunctions.pqCosine(col("qv"), col("pq_codes"), bl), 6).as("cos_adc"))
  }

  /**
   * Serve exact top-k answers for a stream of query vectors from the
   * IVF-PQ index at `indexRoot`, which may grow while the stream runs.
   * Every micro-batch resolves the index's newest
   * [[graft.operators.SegmentStore]] manifest once (one `_manifest`
   * listing, no listing or schema-inference job at any list count), reads
   * the code rows of exactly that commit, re-reads the float corpus at
   * `corpusPath`, and hands the batch [[Similarity.ivfPqQuery]] answer
   * (probe → ADC shortlist → exact re-rank) to `sink`. So codes committed by
   * [[Similarity.appendIvfPq]] plus a matching corpus append are served
   * from the next epoch, and so is a re-cluster
   * ([[Similarity.maintainIvfPq]]) or any other save, with no stream
   * restart — the streamed twin of [[graft.serving.RetrievalServer]]. The
   * corpus re-read matters as much as the code re-read: the exact
   * re-rank inside [[Similarity.ivfPqQuery]] inner-joins the ADC
   * shortlist against the corpus, so a snapshotted corpus would silently
   * DROP every appended vector from the answers. The corpus is an input
   * table whose schema is read once, at construction.
   *
   * The quantizers are collected once per base commit
   * ([[Similarity.quantizerMemo]]): an append does not reload them, a
   * save does, and an epoch takes codes and quantizers from ONE manifest,
   * so it never reads one save's codes with another's centroids.
   * Construction fails FAST on a missing or corrupt index or a missing
   * corpus.
   */
  def serveIvfPqFromRoot(queryStream: DataFrame, indexRoot: String,
                         corpusPath: String, k: Int, nprobe: Int = 4, shortlist: Int = 20,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         excludeSelf: Boolean = false)
                        (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark0 = queryStream.sparkSession
    val memo = Similarity.quantizerMemo(spark0, indexRoot)
    val corpusSchema = spark0.read.parquet(corpusPath).schema
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        val (rows, (centroids, books)) = memo.current()
        sink(Similarity.ivfPqQuery(Quantization.rowsOf(rows, "codes"), centroids, books,
          batch.sparkSession.read.schema(corpusSchema).parquet(corpusPath), batch.toDF(), k,
          nprobe, shortlist, idCol, vecCol, excludeSelf), epochId)
      }
      .start()
  }
}
