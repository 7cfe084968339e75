package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions

/**
 * Learned quality filtering: a linear document-quality classifier trained
 * distributed by full-batch gradient descent — the Spark-native analogue of
 * the fastText/logistic quality classifiers in CCNet-style curation
 * pipelines (score every document, keep the high-scoring tail). The model
 * here is honest but tiny (a handful of engine-computable features); the
 * point is the TRAINING SHAPE: corpus-sized work stays distributed, the
 * model (d+1 weights) passes through the driver between iterations — the
 * same model-sized-state discipline as [[Graph.pageRank]] and the Lloyd
 * codebook loops.
 *
 * Numeric discipline (what makes a float training loop hash-comparable
 * across engines AND partitionings, cf. [[Graph]]): every per-row gradient
 * contribution is rounded to 12 decimals and summed as DECIMAL(30,12)
 * (exact, order-free); the weight update `w - lr * (g / n)` is re-rounded
 * to 12; the prediction is the fixed left-associated chain
 * `((w0 + w1*x1) + w2*x2) + w3*x3`, the exact IEEE shape an ANSI SQL
 * expression parses to — so a DuckDB oracle replays every iteration
 * bit-for-bit. The calibrated score uses the RATIONAL sigmoid
 * `0.5 + 0.5 * z / (1 + |z|)` instead of the logistic `1/(1+e^-z)`:
 * +, *, /, abs are correctly-rounded IEEE operations on every engine,
 * `exp` is not — the monotone rational link gives the same ranking with
 * cross-engine bit parity.
 *
 * Scale shape: one narrow feature-projection scan is computed ONCE and
 * cached; each GD iteration is one pass over it feeding d+1 decimal
 * aggregates (partial/final — map-side combine reduces the shuffle to
 * #partitions × (d+1) rows). At 100 TB with K iterations that is K cached
 * scans and a constant-width shuffle; the weights never leave the driver.
 */
object Learn {

  /** Fixed GD hyperparameters shared with the DuckDB replay. */
  val LearningRate = 0.5

  /**
   * Engine-computable quality features per document, every expression
   * cross-engine parity-proven by the `text_metrics` gate family:
   * token count (scaled), punctuation ratio, stopword ratio — plus the
   * supervision label `y` = 1.0 for English documents (the "target
   * language" signal a curation classifier is typically trained on).
   * Returns (id, y, x1, x2, x3).
   */
  def qualityFeatures(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", langCol: String = "lang",
                      keep: Seq[String] = Nil): DataFrame =
    docs.select(Seq(
      col(idCol).as("id"),
      when(col(langCol) === "en", 1.0).otherwise(0.0).as("y"),
      // round6 pins x1 to the 6-decimal grid (tokens/100 is a 2-decimal
      // rational, so this is exact in both engines) — with ALL features on
      // the grid, the per-row gradient products below round tie-free
      round(TextFunctions.tokenCount(col(textCol)).cast("double") / 100.0, 6).as("x1"),
      TextFunctions.punctRatio(col(textCol)).as("x2"),
      TextFunctions.stopwordRatio(col(textCol), TextAnalysis.Stopwords).as("x3"))
      ++ keep.map(col): _*)

  /** The fixed-association linear predictor `((w0 + w1*x1) + w2*x2) + ...`
    * over the given feature columns — the shape an ANSI SQL left-to-right
    * parse produces, so oracles can write it as plain infix arithmetic. */
  def predictor(weights: Array[Double], featCols: Seq[String]): Column =
    featCols.zipWithIndex.foldLeft(lit(weights(0)): Column) {
      case (acc, (c, j)) => acc + lit(weights(j + 1)) * col(c)
    }

  /**
   * Full-batch gradient-descent training of a linear model on squared loss:
   * `iters` iterations of `w_j ← round12(w_j - lr * (g_j / n))` with
   * `g_j = Σ round12(round6(pred - y) * x_j)` summed as DECIMAL(30,12)
   * (bias: `g_0 = Σ round12(round6(pred - y))`) — the residual is
   * 6-grid-quantized before the products so the per-row round12 is
   * tie-free cross-engine. Returns the d+1 weights
   * (bias first). Deterministic under any partitioning; replayable
   * bit-for-bit by unrolled SQL CTEs.
   */
  def trainLinear(features: DataFrame, featCols: Seq[String], labelCol: String,
                  iters: Int, lr: Double = LearningRate): Array[Double] = {
    require(iters >= 0, s"trainLinear: iters must be >= 0, got $iters")
    require(lr > 0.0, s"trainLinear: lr must be > 0, got $lr")
    val f = features.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = f.count()
      require(n > 0, "trainLinear: empty training set")
      val w = Array.fill(featCols.size + 1)(0.0)
      var k = 0
      while (k < iters) {
        // round6 quantizes the residual BEFORE the per-row products (the
        // [[Pca.moments]] operand discipline): err and x_j both on the
        // 6-decimal grid make every round12(err*x_j) land tie-free, so the
        // bit-for-bit oracle replay is deterministic, not probabilistic —
        // round12 of a RAW double product disagrees between BigDecimal
        // HALF_UP and DuckDB's scaled rounding with probability
        // ~|x|·1e12·2^-53 per call, which grows with corpus × iterations
        val err = round(predictor(w, featCols) - col(labelCol), 6)
        def dsum(c: Column): Column =
          sum(round(c, 12).cast(DecimalType(30, 12))).cast("double")
        val aggs = dsum(err).as("g0") +:
          featCols.zipWithIndex.map { case (c, j) => dsum(err * col(c)).as(s"g${j + 1}") }
        val g = f.agg(aggs.head, aggs.tail: _*).head()
        var j = 0
        while (j < w.length) {
          val gj = g.getDouble(j)
          val next = w(j) - lr * (gj / n)
          // full-batch GD diverges when lr·λmax(XᵀX/n) > 2 — e.g. a corpus
          // whose RMS x1 (= tokens/100) is large. Fail loudly with the
          // actual remedy instead of letting the weights run away.
          require(!next.isNaN && !next.isInfinite && math.abs(next) < 1e6,
            s"trainLinear: weight w$j reached $next at iteration ${k + 1} — " +
              "gradient descent diverged; lower lr or rescale the features")
          w(j) = java.math.BigDecimal.valueOf(next)
            .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
          j += 1
        }
        k += 1
      }
      w
    } finally f.unpersist()
  }

  /** Rational sigmoid calibration `round6(0.5 + 0.5 * (z / (1 + |z|)))` —
    * monotone in z, range (0,1), every op correctly-rounded IEEE. */
  def rationalSigmoid(z: Column): Column =
    round(lit(0.5) + lit(0.5) * (z / (lit(1.0) + abs(z))), 6)

  /**
   * Score documents with GIVEN weights: (doc_id, label, score, pred_label)
   * — one narrow scan (features + inlined-literal predictor + rational
   * sigmoid), no shuffle, no state. Applies unchanged to a STREAMING
   * DataFrame ([[graft.streaming.StreamingQuality]]).
   */
  def scoreWith(docs: DataFrame, weights: Array[Double]): DataFrame = {
    require(weights.length == 4, s"scoreWith: expected 4 weights, got ${weights.length}")
    val feats = qualityFeatures(docs)
    val score = rationalSigmoid(predictor(weights, Seq("x1", "x2", "x3")))
    feats.select(col("id").as("doc_id"), col("y").as("label"), score.as("score"))
      .withColumn("pred_label", when(col("score") >= 0.5, 1).otherwise(0))
  }

  /** Persist trained weights as a tiny (j, feature, weight) table — the
    * deployable model of the serving layer: one [[SegmentStore]] save. */
  def saveModel(spark: org.apache.spark.sql.SparkSession, weights: Array[Double],
                path: String): Unit = {
    import spark.implicits._
    require(weights.length == 4, s"saveModel: expected 4 weights, got ${weights.length}")
    val names = Seq("bias", "x1_tokens", "x2_punct", "x3_stop")
    SegmentStore.write(weights.toSeq.zipWithIndex.map { case (w, j) => (j, names(j), w) }
      .toDF("j", "feature", "weight")
      .coalesce(1), path, replace = true)
  }

  /** Load a [[saveModel]] artifact back into the d+1 weight array. */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): Array[Double] = {
    val rows = SegmentStore.load(spark, path, "quality model")
      .select(col("j"), col("weight")).collect()
    require(rows.length == 4 && rows.map(_.getInt(0)).sorted.sameElements(0 until 4),
      s"loadModel: expected weight rows j=0..3, got ${rows.map(_.getInt(0)).mkString(",")}")
    val w = Array.ofDim[Double](4)
    rows.foreach(r => w(r.getInt(0)) = r.getDouble(1))
    w
  }

  /**
   * Train on the corpus' own features (`iters` GD steps) and score every
   * document: (id, label, score, pred_label) ordered by id. One narrow
   * scoring scan with the trained weights inlined as literals.
   */
  def scoreDocuments(docs: DataFrame, iters: Int): DataFrame = {
    val w = trainLinear(qualityFeatures(docs), Seq("x1", "x2", "x3"), "y", iters)
    scoreWith(docs, w).orderBy(col("doc_id"))
  }

  /**
   * Reliability (calibration) table of the learned scorer: scores binned
   * into `bins` equal-width buckets (score 1.0 clamps into the top
   * bucket), per bucket the count, positive count, exact-decimal mean
   * score and observed positive rate — "when the model says 0.8, is it
   * right 80% of the time", the go/no-go audit before a score becomes a
   * curation keep-threshold.
   *
   * Determinism: scores are round-6 values, so the `floor(score·bins)`
   * bucket index is the same IEEE product + floor on both engines; the
   * mean sums those 6-decimal scores as DECIMAL(18,6) (exact, order-free)
   * and rounds the one division — the whole table replays in DuckDB.
   * Scale shape: train + one narrow scoring scan + one map-side-combined
   * groupBy to ≤ `bins` rows.
   */
  def calibrationTable(docs: DataFrame, iters: Int, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"calibrationTable: bins must be >= 2, got $bins")
    val w = trainLinear(qualityFeatures(docs), Seq("x1", "x2", "x3"), "y", iters)
    scoreWith(docs, w)
      .select(col("label"), col("score"),
        least(floor(col("score") * bins).cast("int"), lit(bins - 1)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("label")).cast("long").as("positives"),
        round(sum(col("score").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)), 6).as("mean_score"),
        round(sum(col("label")).cast("double") / count(lit(1)), 6).as("pos_rate"))
      .orderBy(col("bin"))
  }

  /**
   * Keep-threshold PICK from the calibration table — the go/no-go number
   * the curation funnel actually consumes: candidate thresholds are the
   * occupied bins' lower edges `t_b = b/bins` (scores land in bin
   * `floor(score·bins)`, so "keep score ≥ t_b" is EXACTLY "bin ≥ b" — an
   * unoccupied edge selects the same kept set as the next occupied one
   * and adds nothing). Per candidate, suffix sums over the ≤ bins-row
   * table give kept / kept-positive counts, then
   * `precision = round6(kept_pos/kept)`, `recall = round6(kept_pos/
   * total_pos)`, `f1 = round6(2·p·r/(p+r))` — F1 computed from the
   * ALREADY-round-6 operands (the quantize-before-multiply cross-engine
   * discipline), and the pick is argmax F1 with ties to the LOWEST
   * threshold (keep more data at equal F1). Returns ONE row: (bin,
   * threshold, "precision", recall, f1, kept, kept_pos).
   *
   * Scale shape: everything corpus-sized is inside [[calibrationTable]]
   * (train + one scoring scan + one map-side-combined groupBy); the
   * suffix-sum window and the argmax run on the ≤ bins-row table —
   * bounded by construction, the k-row-frame discipline of
   * [[graft.operators.Skew.keySkewProfile]].
   */
  def calibrationThreshold(docs: DataFrame, iters: Int, bins: Int = 10): DataFrame = {
    // materialize the <=bins-row table ONCE: totals and the suffix-sum
    // window both read it, and without severing the lineage each branch
    // would re-run the corpus-sized train+score scan behind it
    val cal = calibrationTable(docs, iters, bins).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val totals = cal.agg(sum(col("positives")).cast("long").as("total_pos"))
    cal
      .withColumn("kept", sum(col("n")).over(w).cast("long"))
      .withColumn("kept_pos", sum(col("positives")).over(w).cast("long"))
      .crossJoin(broadcast(totals))
      .select(col("bin"),
        round(col("bin").cast("double") / bins, 6).as("threshold"),
        col("kept"), col("kept_pos"),
        round(col("kept_pos").cast("double") / col("kept"), 6).as("precision"),
        round(when(col("total_pos") > 0,
          col("kept_pos").cast("double") / col("total_pos"))
          .otherwise(0.0), 6).as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          round(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall")), 6))
          .otherwise(0.0))
      .orderBy(col("f1").desc, col("bin").asc).limit(1)
      .select(col("bin"), col("threshold"), col("precision"), col("recall"),
        col("f1"), col("kept"), col("kept_pos"))
  }
}
