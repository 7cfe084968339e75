package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.{BpeEncode, BpeKernels}

/** One learned merge: `left + right` becomes a symbol at this rank; `freq`
  * is the weighted pair count that won the rank (an audit value — the
  * `bpe_first_merge` oracle replays rank 0's from the corpus). */
final case class BpeMerge(left: String, right: String, freq: Long)

/** An ordered merge table — the whole BPE tokenizer state. */
final case class BpeModel(merges: Seq[BpeMerge]) {
  def pairs: Seq[(String, String)] = merges.map(m => (m.left, m.right))
}

/**
 * Byte-pair-encoding tokenizer: the real subword story for a training-data
 * pipeline (the `subwordCount` regex is a size heuristic; this learns an
 * actual merge table and segments the corpus with it).
 *
 * Shape (the standard one, and the scalable one): TRAINING runs on the
 * word-frequency dictionary, not the corpus — one `tokens→explode→groupBy`
 * shuffle produces (word, freq), the top `maxWords` rows (deterministic
 * freq-desc / codepoint-asc order) are collected, and the merge loop is
 * driver-side arithmetic over that bounded dictionary, exactly like the
 * Lloyd codebook training ([[Quantization]]): corpus scans never repeat
 * per merge. ENCODING is one narrow codegen'd scan per corpus pass
 * ([[graft.plans.BpeEncode]] — the merge table rides the codegen reference
 * array, no UDF, no shuffle).
 *
 * Determinism: merge selection orders by (freq DESC, left ASC, right ASC)
 * in CODE POINT order ([[BpeKernels.cpCompare]] — the same binary UTF-8
 * collation DuckDB uses, so the `bpe_first_merge` oracle can replay the
 * argmax); the word-dictionary cap uses (freq DESC, word ASC) through
 * Spark's binary UTF8String ordering, the same order. Two trainings of the
 * same corpus yield the same model, bit for bit.
 */
object Bpe {

  /**
   * Learn `numMerges` merges from the corpus. `maxWords` bounds the
   * collected dictionary (training-only truncation — encoding still
   * handles any word character-wise); at gate scale the cap never binds,
   * so the oracle replays the unbounded dictionary.
   */
  def trainBpe(docs: DataFrame, numMerges: Int, maxWords: Int = 50000,
               textCol: String = "text"): BpeModel = {
    require(numMerges >= 0, s"trainBpe: numMerges must be >= 0, got $numMerges")
    require(maxWords > 0, s"trainBpe: maxWords must be positive, got $maxWords")
    val dict = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))

    var words: Array[(Array[String], Long)] = dict.flatMap { case (w, f) =>
      Option(BpeKernels.initialSymbols(w)).map(s => (s, f))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // argmax by (freq DESC, left ASC, right ASC), strings in code-point
        // order — the engine-replayable collation (see object doc)
        var best: ((String, String), Long) = null
        counts.foreach { e =>
          if (best == null) best = e
          else {
            val c = java.lang.Long.compare(e._2, best._2)
            val better =
              if (c != 0) c > 0
              else {
                val cl = BpeKernels.cpCompare(e._1._1, best._1._1)
                if (cl != 0) cl < 0 else BpeKernels.cpCompare(e._1._2, best._1._2) < 0
              }
            if (better) best = e
          }
        }
        val ((l, r), f) = best
        out += BpeMerge(l, r, f)
        words = words.map { case (syms, fr) => (BpeKernels.applyMerge(syms, l, r), fr) }
        k += 1
      }
    }
    BpeModel(out.toSeq)
  }

  /** BPE token stream of `text` (array<string>; end-of-word marker U+E000
    * closes each word's last token) — one codegen'd pass, tokenization
    * shared with every other text operator via [[TextFunctions.tokens]]. */
  def encode(text: Column, model: BpeModel): Column = {
    import org.apache.spark.sql.graftshim.GraftPlanBridge.{column => toCol, expr => toExpr}
    toCol(BpeEncode(toExpr(TextFunctions.tokens(text)), model.pairs))
  }

  /** Inverse of [[encode]] up to tokenization: tokens → single-space-joined
    * normalized words. Exact because the marker is word-final by
    * construction and marker code points are stripped from input words. */
  def decode(tokens: Column): Column =
    trim(replace(array_join(tokens, ""), lit(BpeKernels.Marker), lit(" ")))

  /** The reconstruction [[decode]]∘[[encode]] must reproduce: lowercased
    * words (marker code points removed, empties dropped) joined by single
    * spaces — the tokenizer's normalization contract as a column. */
  def normalizedText(text: Column): Column =
    array_join(
      filter(
        transform(TextFunctions.tokens(text),
          w => replace(w, lit(BpeKernels.Marker), lit(""))),
        w => w =!= ""),
      " ")

  /** Persist a model as an ordered (rank, left, right, freq) table: one
    * [[SegmentStore]] save. */
  def saveBpeModel(spark: SparkSession, model: BpeModel, path: String): Unit = {
    import spark.implicits._
    SegmentStore.write(model.merges.zipWithIndex
      .map { case (m, i) => (i, m.left, m.right, m.freq) }
      .toDF("rank", "left", "right", "freq")
      .coalesce(1), path, replace = true)
  }

  /** Load a [[saveBpeModel]] artifact (rank order restored). */
  def loadBpeModel(spark: SparkSession, path: String): BpeModel =
    BpeModel(SegmentStore.load(spark, path, "BPE model")
      .orderBy(col("rank"))
      .collect()
      .map(r => BpeMerge(r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("freq")))
      .toSeq)

  /** Corpus tokenization product: (id, tokens, n_tokens) per document. */
  def tokenize(docs: DataFrame, model: BpeModel,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = encode(col(textCol), model)
    docs.select(col(idCol), toks.as("tokens"))
      .withColumn("n_tokens", size(col("tokens")))
  }
}
