package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, SegmentStore}
import graft.operators.Multimodal.MediaRecord

/**
 * Streaming perceptual-hash near-duplicate flagging — the streaming ×
 * multimodal dedup cell: incoming image records are decoded and dHashed
 * in-flight ([[Multimodal.imagePerceptualHashes]] — stateless narrow
 * ops), banded, and joined stream-static against a STORED banded hash
 * index of the existing corpus. The online-ingest admission check: "is
 * this upload a near-copy of something we already have?"
 *
 * Statelessness is load-bearing and non-trivial here: a pair within
 * `maxHamming < bands` collides on ≥1 band (pigeonhole) but possibly on
 * SEVERAL, and the batch operator dedups that multiplicity with a
 * `.distinct()` — illegal state on an append stream. Instead each pair is
 * emitted only from its LOWEST matching band, decided by a pure
 * expression over the two signatures (`∀ b' < band: chunk_b'(ha) ≠
 * chunk_b'(hb)`) — exactly-once pair emission with zero state-store rows,
 * the same trick distributed LSH engines use to skip candidate dedup.
 *
 * Scale shape: the static side is a banded 8-byte-per-image hash index
 * (build once per corpus epoch, `maxBucketSize` drops degenerate buckets
 * with the documented [[Dedup.hamming64Pairs]] coverage trade); each
 * micro-batch pays decode + hash (narrow) and one equi-join against it.
 */
object StreamingPhashDedup {

  /**
   * Build the banded static-side index from stored perceptual hashes
   * (`indexHashes`: a static (idCol, hashCol) frame, e.g. persisted
   * [[Multimodal.imagePerceptualHashes]] output), with the documented
   * bucket cap applied. The result is `localCheckpoint`ed — in a
   * stream-static join the static SUBPLAN re-executes on every
   * micro-batch, so without severing it here each batch would re-pay the
   * whole corpus-side band-explode + bucket-count aggregation. Build once
   * per corpus epoch and pass to [[flagStream]]; blocks are reclaimed by
   * Spark's ContextCleaner once the frame is unreachable.
   */
  def bandedIndex(indexHashes: DataFrame, bands: Int = 4,
                  maxBucketSize: Int = 100000,
                  idCol: String = "media_id", hashCol: String = "phash"): DataFrame = {
    val idx0 = Dedup.banded64(indexHashes, idCol, hashCol, bands)
    val okBuckets = idx0.groupBy(col("band"), col("chunk"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .select(col("band"), col("chunk"))
    idx0.join(okBuckets, Seq("band", "chunk"))
      .select(col("band"), col("chunk"), col("id").as("dup_of"), col("sh").as("hb"))
      .localCheckpoint()
  }

  /**
   * Flag a stream of media records against stored perceptual hashes.
   * Returns (media_id, dup_of, hamming) — one row per (incoming, stored)
   * pair within `maxHamming`; an incoming image absent from the output
   * batch is novel. The static index is built (and materialized) via
   * [[bandedIndex]] at plan-construction time, so each micro-batch pays
   * only decode + hash on its own rows and one equi-join.
   */
  def flagStream(stream: Dataset[MediaRecord], indexHashes: DataFrame,
                 bands: Int = 4, maxHamming: Int = 3,
                 maxBucketSize: Int = 100000,
                 idCol: String = "media_id", hashCol: String = "phash"): DataFrame =
    flagAgainstIndex(stream,
      bandedIndex(indexHashes, bands, maxBucketSize, idCol, hashCol),
      bands, maxHamming)

  /**
   * [[flagStream]] against a PREBUILT [[bandedIndex]] frame — the serving
   * deployment shape: the index is held per corpus epoch (e.g. the
   * per-JVM artifact cache) and many streams flag against it without
   * rebuilding. `bands` must match the value the index was built with.
   */
  def flagAgainstIndex(stream: Dataset[MediaRecord], idx: DataFrame,
                       bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bands,
      s"flagAgainstIndex: need maxHamming < bands for the pigeonhole recall " +
        s"guarantee (and the lowest-band dedup), got maxHamming=$maxHamming bands=$bands")
    val bits = 64 / bands
    // stream side: decode → dHash → band explode, all stateless
    val incoming = Dedup.banded64(
        Multimodal.imagePerceptualHashes(stream), "media_id", "phash", bands)
      .select(col("band"), col("chunk"), col("id").as("media_id"), col("sh").as("ha"))
    def chunkOf(c: org.apache.spark.sql.Column, b: Int) =
      c.bitwiseAND(lit(((1L << bits) - 1) << (b * bits)))
    val lowestMatchingBand = (0 until bands).map { b =>
      when(lit(b) < col("band"), chunkOf(col("ha"), b) =!= chunkOf(col("hb"), b))
        .otherwise(lit(true))
    }.reduce(_ && _)
    incoming.join(idx, Seq("band", "chunk"))
      .filter(lowestMatchingBand)
      .select(col("media_id"), col("dup_of"),
        TextFunctions.hamming64(col("ha"), col("hb")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Save stored perceptual hashes (a static (idCol, hashCol) frame, e.g.
    * [[Multimodal.imagePerceptualHashes]] output) as the corpus epoch's
    * hash store at `path`: one [[SegmentStore]] commit replacing every
    * live file, the artifact [[flagStreamFromRoot]] serves. */
  def saveHashes(hashes: DataFrame, path: String): Unit =
    SegmentStore.write(hashes, path, replace = true)

  /**
   * Streamed flagging — [[flagAgainstIndex]] served from the hash store
   * at `root` ([[saveHashes]]). The [[bandedIndex]] (band explode plus
   * bucket-count aggregation, corpus-epoch work) is built once per base
   * commit ([[SegmentStore.BaseMemo]]), so a save of a re-hashed corpus
   * is served from the next epoch with no stream restart. Between saves
   * the index is a snapshot by design (the `localCheckpoint` severs it).
   * Construction fails fast on a missing store.
   */
  def flagStreamFromRoot(stream: Dataset[MediaRecord], root: String,
                         bands: Int = 4, maxHamming: Int = 3,
                         maxBucketSize: Int = 100000,
                         idCol: String = "media_id", hashCol: String = "phash")
                        (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val memo = new SegmentStore.BaseMemo(stream.sparkSession, root, "hash store",
      bandedIndex(_, bands, maxBucketSize, idCol, hashCol))
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[MediaRecord], epochId: Long) =>
        sink(flagAgainstIndex(batch, memo.current()._2, bands, maxHamming),
          epochId)
      }
      .start()
  }
}
