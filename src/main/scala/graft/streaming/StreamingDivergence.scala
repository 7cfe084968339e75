package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions

/**
 * Streaming per-document distribution-drift scoring — the governance ×
 * streaming cell: each incoming document's token distribution is scored
 * χ²(p_doc ‖ q) against a STORED corpus vocabulary model
 * ([[graft.operators.TextAnalysis.divergenceModel]]), entirely statelessly
 * — the [[StreamingQuality]] admission-control shape applied to a
 * distribution instead of a classifier. High χ² = the document looks
 * nothing like the corpus (new domain, wrong language, garbage) — route
 * or flag it at ingest.
 *
 * Statelessness: the (vocabSize+1)-row model is inlined as literals (the
 * quality-weights / IVF-centroid convention — model-sized state rides the
 * plan, never a state store), per-term counts are higher-order `filter`
 * scans over the tokenized array, and the χ² sum folds the term values
 * through an exact DECIMAL(30,12) `aggregate` — matching the batch
 * oracle's decimal summation, so streamed scores replay bit-for-bit.
 * O(vocab × tokens) per row and friendly to codegen; for vocabularies far
 * past the default 50 a map-based kernel would win, hence the hard cap.
 */
object StreamingDivergence {

  /** Score a stream of (idCol, textCol) rows against a batch-derived
    * (term, q6) model: (idCol, chi2) per input row with ≥1 token; χ²
    * rounded to 6 decimals. Rows with no tokens are dropped (no
    * distribution to compare — mirrors the batch derivation, where such
    * docs never enter the grid). */
  def scoreStream(stream: DataFrame, model: Seq[(String, Double)],
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(model.nonEmpty, "scoreStream: empty divergence model")
    require(model.size <= 1024,
      s"scoreStream: model inlines one filter scan per term — ${model.size} terms " +
        "exceeds the 1024 cap; aggregate with the batch operator instead")
    require(model.forall(_._2 > 0.0),
      "scoreStream: model must carry only positive q6 rows")
    val toks = filter(TextFunctions.tokens(col(textCol)), t => t =!= lit(""))
    val n = size(toks).cast("double")
    val vocabTerms = model.filter(_._1.nonEmpty)
    val vocabCnt: Seq[Column] = vocabTerms.map { case (v, _) =>
      size(filter(toks, t => t === lit(v))).cast("long")
    }
    def termExpr(cnt: Column, q6: Double): Column = {
      val p6 = round(cnt.cast("double") / n, 6)
      round(round((p6 - lit(q6)) * (p6 - lit(q6)), 12) / lit(q6), 12)
    }
    val inVocabTotal = vocabCnt.reduceOption(_ + _).getOrElse(lit(0L))
    val termCols: Seq[Column] =
      vocabTerms.zip(vocabCnt).map { case ((_, q6), cnt) => termExpr(cnt, q6) } ++
        model.find(_._1.isEmpty).map { case (_, q6) =>
          termExpr(size(toks).cast("long") - inVocabTotal, q6)
        }
    // exact decimal fold (the oracle's SUM(CAST(t AS DECIMAL)) replayed as
    // a chained decimal add — same values, same grid, order-free)
    val chi2 = round(
      aggregate(
        array(termCols.map(_.cast(DecimalType(30, 12))): _*),
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(30, 12)),
        (acc, x) => (acc + x).cast(DecimalType(30, 12))
      ).cast("double"), 6)
    stream.filter(size(toks) > 0)
      .select(col(idCol), chi2.as("chi2"))
  }
}
