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
 *  - [[serveIvfPq]] — the full answer (exact re-rank + per-query top-k)
 *    per micro-batch via `foreachBatch`, reusing the EXACT batch
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
   * Serve exact top-k answers for a stream of query vectors from the loaded
   * index: every micro-batch runs the batch [[Similarity.ivfPqQuery]]
   * (probe → ADC shortlist → exact re-rank against the float `corpus`) and
   * hands the answer frame to `sink`.
   *
   * The captured `index.encoded`/`corpus` DataFrames keep the files they
   * were created over (the index's commit at load time), so rows appended
   * to the artifact after this call are NOT visible here — use
   * [[serveIvfPqFromRoot]] for a growing index.
   * The centroids and codebooks are driver-held literals baked into the
   * plan either way; a RETRAINED quantizer always requires a reload +
   * restart.
   */
  def serveIvfPq(queryStream: DataFrame, index: Similarity.IvfPqIndex,
                 corpus: DataFrame, k: Int, nprobe: Int = 4, shortlist: Int = 20,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 excludeSelf: Boolean = false)
                (sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        sink(Similarity.ivfPqQuery(index.encoded, index.centroids, index.books,
          corpus, batch.toDF(), k, nprobe, shortlist, idCol, vecCol, excludeSelf), epochId)
      }
      .start()

  /**
   * [[serveIvfPq]] for a GROWING index, at a [[graft.operators.Generations]]
   * ROOT or a raw index path (a pointer-less root serves as-is). Every
   * micro-batch re-resolves the serving generation, re-reads the code
   * table through its newest [[graft.operators.SegmentStore]] manifest
   * (one `_manifest` listing, no listing or schema-inference job at any
   * list count) and re-reads the float corpus. So codes committed by
   * [[Similarity.appendIvfPq]] plus a matching corpus append are served
   * from the next epoch, and an out-of-band maintenance flip
   * ([[Similarity.maintainIvfPq]] recluster → `Generations.advance`) is
   * served from the next epoch, with no stream restart — the streamed
   * twin of [[graft.serving.RetrievalServer]]'s per-request resolution.
   * The corpus re-read matters as much as the code re-read: the exact
   * re-rank inside [[Similarity.ivfPqQuery]] inner-joins the ADC
   * shortlist against the corpus, so a snapshotted corpus would silently
   * DROP every appended vector from the answers. The corpus is an input
   * table whose schema is read once, at construction.
   *
   * The quantizers are memoized PER RESOLVED GENERATION (model-sized
   * driver state, one collect of the quantizer rows when the pointer
   * moves; a reclustered generation carries retrained ones), and an epoch
   * takes path and quantizers from ONE resolution, so it never reads
   * gen-A's codes with gen-B's centroids. Within a generation an epoch
   * never re-reads a quantizer row. Construction fails FAST on an
   * unpublished root, a missing or corrupt initial generation, or a
   * missing corpus.
   */
  def serveIvfPqFromRoot(queryStream: DataFrame, indexRoot: String,
                         corpusPath: String, k: Int, nprobe: Int = 4, shortlist: Int = 20,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         excludeSelf: Boolean = false)
                        (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark0 = queryStream.sparkSession
    val memo = graft.operators.Generations.artifactMemo(spark0, indexRoot)(
      path => Similarity.loadIvfPq(spark0, path))
    val corpusSchema = spark0.read.parquet(corpusPath).schema
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], epochId: Long) =>
        val (p, index) = memo.current()
        val spark = batch.sparkSession
        sink(Similarity.ivfPqQuery(Similarity.ivfPqCodes(spark, p), index.centroids, index.books,
          spark.read.schema(corpusSchema).parquet(corpusPath), batch.toDF(), k, nprobe, shortlist,
          idCol, vecCol, excludeSelf), epochId)
      }
      .start()
  }
}
