package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/**
 * Streaming decontamination flagging — benchmark-overlap admission
 * control at ingest, the streaming serving path of the persisted
 * benchmark index ([[graft.operators.TextAnalysis.saveBenchmarkIndex]]).
 * The batch `decontaminate` pass cleans a corpus that already leaked;
 * this cell keeps contamination from ENTERING: every incoming document
 * is shingled in-flight and probed against the stored eval-suite gram
 * set before it lands in training storage.
 *
 * Exact, not probabilistic (unlike `decontaminateBloom`): the probe is a
 * stream-static EQUI-join against the loaded index, so there are no
 * false positives to audit and no false-negative risk to a benchmark
 * score. Stateless by construction — no state store, no watermark: each
 * (doc, gram) hit is emitted exactly once by arithmetic (grams are
 * `array_distinct`'d in-row and a doc arrives in exactly one
 * micro-batch), the [[StreamingWinnow]] discipline. Per-doc verdicts
 * (`n_shared >= minShared`) are one bounded aggregate over the emitted
 * evidence log, which is itself the audit artifact a curation team
 * wants: WHICH grams collided, not just that something did.
 *
 * Scale shape: per micro-batch O(batch shingles) narrow work + one
 * equi-join whose static side is the benchmark gram set — eval suites
 * are MBs against a 100 TB corpus, broadcast-eligible, rebuilt only when
 * a new suite ships. Pass the static side through
 * [[graft.operators.TextAnalysis.contaminationFromIndex]]'s loader
 * discipline (width-checked) and `localCheckpoint` it: a stream-static
 * join re-executes the static subplan every micro-batch otherwise.
 */
object StreamingDecon {

  /**
   * Emit the contamination evidence log for a document stream: one
   * `(id, g)` row per (incoming doc, shared benchmark gram). `grams` is
   * the loaded index's distinct-gram frame (column `g`), `shingleN` the
   * index's width — both from
   * [[graft.operators.TextAnalysis.loadBenchmarkIndex]].
   */
  def flagHits(docs: DataFrame, grams: DataFrame, shingleN: Int,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.shingles(col(textCol), shingleN)))
          .as("sh"))
      .join(grams.select(col("g")), col("sh") === col("g"))
      .select(col("id"), col("g"))

  /**
   * Streamed admission control — the per-doc contamination verdicts
   * served from the benchmark index at `root`: each micro-batch probes
   * through [[graft.operators.TextAnalysis.contaminationFromIndex]], which
   * resolves the index's newest commit inside the call, so a new eval
   * suite is live on the next epoch whether it arrives as an
   * [[graft.operators.TextAnalysis.appendBenchmarkIndex]], a save or a
   * compaction. No driver-side memo is needed, unlike the ANN/winnow
   * roots: eval-suite gram sets are MBs against a 100 TB corpus, so the
   * per-epoch re-load is a bounded width-check collect + one
   * broadcast-eligible scan, not corpus work. `sink` receives the per-doc
   * `(train_id, n_shared)` aggregate per epoch.
   */
  def flagStreamFromRoot(stream: DataFrame, root: String,
                         idCol: String = "doc_id", textCol: String = "text")
                        (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // fail fast at construction: a missing or unreadable index or a
    // width mix aborts deployment here, not in epoch 0's foreachBatch
    graft.operators.TextAnalysis.loadBenchmarkIndexOpt(stream.sparkSession, root)
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epochId: Long) =>
        sink(graft.operators.TextAnalysis.contaminationFromIndex(
          batch.toDF(), root, idCol, textCol), epochId)
      }
      .start()
  }
}
