package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions

/**
 * Text-analysis pipelines over a documents table (doc_id, text, lang, source,
 * n_chars — TESTDATA.md): language ID, quality scoring, token counting,
 * fingerprinting. All narrow per-row transforms (whole-stage-codegen'd /
 * higher-order expressions) followed by at most one aggregate — the shape
 * that streams over 100 TB without a second thought.
 */
object TextAnalysis {

  /** Stopword list used by the quality score (English function words). */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "with", "for", "on", "as", "at", "by", "this", "be")

  /** Per-document metrics: token counts, lengths, ratios, quality score. */
  def docMetrics(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      length(col(textCol)).as("n_chars_m"),
      TextFunctions.tokenCount(col(textCol)).as("n_tokens"),
      TextFunctions.subwordCount(col(textCol)).as("n_subwords"),
      TextFunctions.meanTokenLen(col(textCol)).as("mean_token_len"),
      TextFunctions.punctRatio(col(textCol)).as("punct_ratio"),
      TextFunctions.stopwordRatio(col(textCol), Stopwords).as("stopword_ratio"),
      TextFunctions.qualityScore(col(textCol), Stopwords).as("quality"))

  /** Predicted language + per-document marker scores. */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scored = TextFunctions.langScores(col(textCol)).foldLeft(
      docs.select(col(idCol), col(textCol))) {
      case (df, (lang, c)) => df.withColumn(s"score_$lang", c)
    }
    scored
      .withColumn("lang_pred", TextFunctions.langId(col(textCol)))
      .drop(textCol)
  }

  /** Corpus-level language-ID confusion vs a labeled `lang` column. */
  def langConfusion(docs: DataFrame): DataFrame =
    docs.select(col("lang"), TextFunctions.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))

  /** Document fingerprints: stable MD5 of normalized text + min rolling
    * 64-bit shingle fingerprint (winnowing-style representative). */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   shingleN: Int = 3): DataFrame =
    docs.select(
      col(idCol),
      TextFunctions.fingerprint(col(textCol)).as("fp_md5"),
      array_min(TextFunctions.rollingFingerprints(col(textCol), shingleN)).as("fp_min_shingle"))

  /** Token-frequency table (corpus vocabulary with counts) — explode +
    * aggregate; the shuffle is keyed on token (high cardinality → scales). */
  def vocabulary(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))

  /**
   * Per-source token-distribution divergence against the corpus — the
   * mixture-drift diagnostic a training pipeline runs per ingest batch:
   * χ²(p_s ‖ q) = Σ_v (p_v − q_v)² / q_v over a fixed vocabulary (the
   * deterministic top-`vocabSize` corpus tokens by (freq DESC, token ASC))
   * plus an OOV bucket, so each side is a proper distribution. χ² instead
   * of KL because it is RATIONAL arithmetic end to end — `ln` is not
   * correctly-rounded across engines, division is — so with the
   * quantize-operand discipline (p, q rounded to 6 decimals; the squared
   * difference of 6-grid values is exact on the 12-grid; the quotient
   * re-rounded to 12; DECIMAL sum) every value replays bit-for-bit in
   * DuckDB. Vocabulary terms whose q rounds to 0 are dropped on both
   * sides (0/0 guards), as is OOV when nothing falls outside the vocab.
   *
   * Scale shape: ONE corpus tokenize pass aggregated to (source, token)
   * counts — the only corpus-sized shuffle; everything downstream lives
   * on (sources × (vocabSize+1)) rows: the vocab is a broadcast `limit`
   * result, the q table a broadcast (vocabSize+1)-row aggregate, the
   * p-grid a broadcast cross of the source totals with q. Returns
   * (source, chi2), chi2 rounded to 6 decimals.
   */
  def sourceDivergence(docs: DataFrame, vocabSize: Int = 50,
                       textCol: String = "text",
                       srcCol: String = "source"): DataFrame = {
    require(vocabSize >= 1, s"sourceDivergence: vocabSize must be >= 1, got $vocabSize")
    val st = docs.select(col(srcCol).as("source"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val vocab = st.groupBy(col("token")).agg(sum(col("c")).as("freq"))
        .orderBy(col("freq").desc, col("token").asc).limit(vocabSize)
        .select(col("token").as("vtok"))
      // collapse out-of-vocab tokens into one bucket. Marker = the empty
      // string: real tokens are non-empty by the filter above, so it can
      // never collide; the oracle uses the same literal. (source, vterm)
      // counts are then (sources × (vocabSize+1))-bounded
      val stv = st.join(broadcast(vocab), col("token") === col("vtok"), "left")
        .select(col("source"),
          coalesce(col("vtok"), lit("")).as("vterm"), col("c"))
        .groupBy(col("source"), col("vterm")).agg(sum(col("c")).as("c"))
        .localCheckpoint() // reused by ns, the q table and the p-grid join
      val ns = stv.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val cv = stv.groupBy(col("vterm")).agg(sum(col("c")).as("cv"))
      // SUM over an empty aggregate is null — fail with the clear message
      // divergenceModel raises, not an NPE on getLong
      val ntotRow = cv.agg(sum(col("cv"))).head()
      require(!ntotRow.isNullAt(0) && ntotRow.getLong(0) > 0,
        "sourceDivergence: empty corpus")
      val ntot = ntotRow.getLong(0)
      val q = cv
        .select(col("vterm"),
          round(col("cv").cast("double") / lit(ntot.toDouble), 6).as("q6"))
        .filter(col("q6") > 0.0)
      val grid = ns.crossJoin(broadcast(q))
      val pj = grid.join(stv, Seq("source", "vterm"), "left")
        .select(col("source"), col("q6"),
          round(coalesce(col("c"), lit(0L)).cast("double") / col("n"), 6).as("p6"))
      pj.select(col("source"),
          round(round((col("p6") - col("q6")) * (col("p6") - col("q6")), 12)
            / col("q6"), 12).as("t"))
        .groupBy(col("source"))
        .agg(round(sum(col("t").cast(
            org.apache.spark.sql.types.DecimalType(30, 12))).cast("double"), 6)
          .as("chi2"))
    } finally st.unpersist()
  }

  /**
   * The model-sized artifact behind [[sourceDivergence]]-style scoring:
   * (term, q6) rows for the deterministic top-`vocabSize` corpus tokens
   * plus the empty-string OOV bucket (present only when something falls
   * outside the vocab), q6 = round6(count/total), zero-q rows dropped,
   * sorted by term. Push this to an ingest stream for stateless per-doc
   * drift scoring ([[graft.streaming.StreamingDivergence]]) — the
   * quality-classifier weights pattern applied to a distribution.
   */
  def divergenceModel(docs: DataFrame, vocabSize: Int = 50,
                      textCol: String = "text"): Seq[(String, Double)] = {
    require(vocabSize >= 1, s"divergenceModel: vocabSize must be >= 1, got $vocabSize")
    val tc = docs.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val vocab = tc.orderBy(col("c").desc, col("token").asc).limit(vocabSize)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val ntotRow = tc.agg(sum(col("c"))).head()
      require(!ntotRow.isNullAt(0) && ntotRow.getLong(0) > 0,
        "divergenceModel: empty corpus")
      val ntot = ntotRow.getLong(0)
      val oov = ntot - vocab.map(_._2).sum
      def q6(c: Long): Double =
        java.math.BigDecimal.valueOf(c.toDouble / ntot.toDouble)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      (vocab.toSeq ++ (if (oov > 0) Seq(("", oov)) else Nil))
        .map { case (t, c) => (t, q6(c)) }
        .filter(_._2 > 0.0)
        .sortBy(_._1)
    } finally tc.unpersist()
  }

  /**
   * Per-DOCUMENT divergence against the corpus — [[sourceDivergence]]
   * re-keyed on `idCol`, for outlier triage (rank documents by how little
   * they look like the corpus). Same rational-arithmetic contract: 6-grid
   * p/q operands, exact 12-grid squared difference, re-rounded quotient,
   * DECIMAL(30,12) sum, so every score replays bit-for-bit in DuckDB.
   *
   * Scale shape — the key keyed-on-doc difference from the source variant:
   * a docs × (vocab+1) GRID would be 51·N rows of which most are absent
   * terms contributing a CONSTANT per q-row, so the grid is never built.
   * Instead each absent term's contribution k_v = round(round(q6²,12)/q6,12)
   * is folded in algebraically: χ²(doc) = Σ_present t + (K_all − Σ_present k)
   * with K_all = Σ_allq k_v a model-sized scalar — exact on the 12-grid in
   * DECIMAL, so the identity holds bit-for-bit against the oracle's full
   * grid sum. Per-doc work is therefore ∝ the doc's DISTINCT in-vocab
   * terms, not the vocabulary size. One corpus tokenize pass is shared
   * (persisted (doc, token) counts feed the vocab, the q table and the
   * per-doc side); the collapsed (doc, vterm) frame — ≤(vocab+1) tiny rows
   * per doc — is localCheckpointed because three consumers fork from it.
   * q rides a broadcast; the only corpus shuffles are keyed on
   * (doc, token) → (doc, vterm) → doc.
   */
  def docDivergence(docs: DataFrame, vocabSize: Int = 50,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(vocabSize >= 1, s"docDivergence: vocabSize must be >= 1, got $vocabSize")
    import org.apache.spark.sql.types.DecimalType
    val st = docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val vocab = st.groupBy(col("token")).agg(sum(col("c")).as("freq"))
        .orderBy(col("freq").desc, col("token").asc).limit(vocabSize)
        .select(col("token").as("vtok"))
      // collapse OOV into the ''-bucket (same marker convention as
      // sourceDivergence: real tokens are non-empty, so no collision)
      val ds = st.join(broadcast(vocab), col("token") === col("vtok"), "left")
        .select(col("doc_id"),
          coalesce(col("vtok"), lit("")).as("vterm"), col("c"))
        .groupBy(col("doc_id"), col("vterm")).agg(sum(col("c")).as("c"))
        .localCheckpoint() // forked by dn, the q table and the present join
      val dn = ds.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
      val cv = ds.groupBy(col("vterm")).agg(sum(col("c")).as("cv"))
      // SUM over an empty aggregate is null — fail with the clear message
      // divergenceModel raises, not an NPE on getLong
      val ntotRow = cv.agg(sum(col("cv"))).head()
      require(!ntotRow.isNullAt(0) && ntotRow.getLong(0) > 0,
        "docDivergence: empty corpus")
      val ntot = ntotRow.getLong(0)
      // model-sized q table with each row's absent-term constant k_v
      val q = cv
        .select(col("vterm"),
          round(col("cv").cast("double") / lit(ntot.toDouble), 6).as("q6"))
        .filter(col("q6") > 0.0)
        .withColumn("kv",
          round(round(col("q6") * col("q6"), 12) / col("q6"), 12))
      val kAll = q.agg(sum(col("kv").cast(DecimalType(30, 12)))).head()
        .getDecimal(0)
      val zero = lit(java.math.BigDecimal.ZERO).cast(DecimalType(30, 12))
      // present terms only: t for the observed p6, k to back the constant out
      val agg = ds.join(broadcast(q), Seq("vterm"))
        .join(dn, Seq("doc_id"))
        .select(col("doc_id"), col("kv"),
          round(col("c").cast("double") / col("n"), 6).as("p6"), col("q6"))
        .select(col("doc_id"), col("kv"),
          round(round((col("p6") - col("q6")) * (col("p6") - col("q6")), 12)
            / col("q6"), 12).as("t"))
        .groupBy(col("doc_id"))
        .agg(sum(col("t").cast(DecimalType(30, 12))).as("tsum"),
          sum(col("kv").cast(DecimalType(30, 12))).as("ksum"))
      // left join keeps docs whose every vterm was q-dropped: χ² = K_all
      dn.join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          round((coalesce(col("tsum"), zero) + lit(kAll)
            - coalesce(col("ksum"), zero)).cast("double"), 6).as("chi2"))
    } finally st.unpersist()
  }

  /**
   * BM25 lexical top-k retrieval (Okapi BM25 with the Lucene `+1` idf
   * smoothing) — the keyword-search complement to the embedding ANN paths:
   * curation pipelines use it for decontamination lookups, targeted quality
   * sampling and retrieval-based dedup triage.
   *
   * Shape at 100 TB: ONE corpus-wide narrow tokenize + count pass produces
   * per-doc lengths (shuffle keyed on doc_id); corpus scalars (N, avgdl) ride
   * a broadcast 1-row aggregate; the postings side is filtered to the query's
   * terms BEFORE any aggregation, so the scoring shuffle is proportional to
   * matching postings, not the corpus; per-term document frequencies are a
   * ≤|query|-row broadcast. Final top-k is a TakeOrdered, never a full sort.
   *
   * Scores are rounded to 6 decimals so ordering (and the DuckDB oracle
   * replay) is robust to double-summation order; ties break on `idCol`.
   * Query terms are normalized by [[queryTokens]], as the index scorer's.
   */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, "bm25TopK: k must be positive")
    val terms = queryTokens(queryTerms)
    val toks = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val perDoc = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    // Exact scalar stats: integer sum then one division, so Spark and the
    // DuckDB oracle agree bit-for-bit regardless of partitioning.
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("token").isin(terms: _*))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("dfq"))
    val num = col("tf") * lit(k1 + 1.0)
    val den = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
    val idf = log((col("n_docs") - col("dfq") + lit(0.5)) / (col("dfq") + lit(0.5)) + lit(1.0))
    tf.join(broadcast(dfreq), "token")
      .join(perDoc, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol), (idf * num / den).as("s"))
      .groupBy(col(idCol))
      .agg(round(sum(col("s")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Unigram LM perplexity proxy (the CCNet-style fluency filter): per-doc
   * mean negative log-likelihood under an add-one-smoothed corpus unigram
   * model restricted to the top-`vocabSize` tokens — low nll ≈ fluent /
   * in-distribution text, high nll ≈ boilerplate, OOV-heavy or junk. Real
   * pipelines threshold on a trained KenLM; the unigram model keeps the
   * distributed shape (count → broadcast model → narrow score pass)
   * identical while staying engine-replayable.
   *
   * P(t) = (freq_V(t) + 1) / (T + V + 1), OOV → freq 0; all model inputs
   * are exact integers (corpus token count T, top-V counts), so the model
   * is bit-reproducible across partitionings. Shape at 100 TB: one
   * token-keyed count shuffle, a V-row TakeOrdered broadcast, a 1-row total
   * broadcast, then one narrow scan scoring every doc; the nll rounds to 6
   * decimals to absorb double-summation order.
   */
  def unigramNll(docs: DataFrame, vocabSize: Int = 1000,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, "unigramNll: vocabSize must be positive")
    val toks = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val stats = counts.agg(sum(col("freq")).as("t_total"))
    val vocab = counts.orderBy(col("freq").desc, col("token").asc).limit(vocabSize)
    val lnp = log(
      (coalesce(col("freq"), lit(0L)) + lit(1L)).cast("double") /
        (col("t_total") + lit(vocabSize.toLong) + lit(1L)))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(stats))
      .select(col(idCol), lnp.as("lnp"))
      .groupBy(col(idCol))
      .agg(round(-(sum(col("lnp")) / count(lit(1))), 6).as("nll"))
  }

  /**
   * DSIR-style importance weights for data selection (Xie et al. 2023,
   * "Data Selection for Language Models via Importance Resampling"): score
   * every document by how much more likely its tokens are under a TARGET
   * domain's unigram distribution than under the whole corpus —
   * iw(doc) = mean_t [ ln p_tgt(t) − ln p_all(t) ] — then keep the
   * top-weighted documents to tilt a pretraining mixture toward the
   * target domain. DSIR buckets by hashed n-grams; here the feature space
   * is the deterministic shared top-`vocabSize` corpus vocabulary + OOV
   * (the [[unigramNll]] model discipline), which keeps every model input
   * an exact integer and the whole derivation DuckDB-replayable — a
   * declared divergence, same estimator shape.
   *
   * Both models are add-one smoothed over the SAME buckets
   * (p = (freq_V + 1) / (T + V + 1)), so OOV and zero-count-in-target
   * tokens are well-defined. `targetPred` is any Boolean Column over the
   * document row (e.g. `col("lang") === "en"`, a source slice, a quality
   * threshold); an empty target slice degenerates to the uniform model
   * (all-negative weights) rather than failing.
   *
   * Shape at 100 TB: ONE token-keyed count shuffle computes both models
   * (conditional aggregation — the target slice is never re-scanned), a
   * V-row TakeOrdered broadcast + 1-row totals broadcast, then one narrow
   * scan scores every document; round(…,6) absorbs double-summation
   * order. Docs with no tokens have no distribution and are absent.
   */
  def dsirWeights(docs: DataFrame, targetPred: Column, vocabSize: Int = 1000,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(vocabSize > 0, "dsirWeights: vocabSize must be positive")
    val toks = docs
      .select(col(idCol), targetPred.as("is_tgt"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val counts = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("freq"),
        sum(when(col("is_tgt"), lit(1L)).otherwise(lit(0L))).as("freq_t"))
    val stats = counts.agg(sum(col("freq")).as("t_all"),
      sum(col("freq_t")).as("t_tgt"))
    val vocab = counts.orderBy(col("freq").desc, col("token").asc).limit(vocabSize)
    val lnr =
      log((coalesce(col("freq_t"), lit(0L)) + lit(1L)).cast("double") /
        (col("t_tgt") + lit(vocabSize.toLong) + lit(1L))) -
        log((coalesce(col("freq"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_all") + lit(vocabSize.toLong) + lit(1L)))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(stats))
      .select(col(idCol), lnr.as("lnr"))
      .groupBy(col(idCol))
      .agg(round(sum(col("lnr")) / count(lit(1)), 6).as("iw"))
  }

  /**
   * The model-sized artifact behind [[dsirWeights]]: (term, lnr6) rows for
   * the deterministic top-`vocabSize` corpus tokens plus the empty-string
   * OOV bucket (ALWAYS present — add-one smoothing defines every bucket),
   * lnr6 = round6(ln p_tgt(term) − ln p_all(term)), sorted by term.
   * Quantizing each bucket's log-ratio to the 6-grid makes the stored
   * artifact engine-portable (the [[divergenceModel]] convention: ln is
   * not correctly-rounded across engines, a quantized stored model is).
   * Push to an ingest stream for stateless per-doc domain-affinity
   * scoring ([[graft.streaming.StreamingDsir]]).
   */
  def dsirModel(docs: DataFrame, targetPred: Column, vocabSize: Int = 1000,
                textCol: String = "text"): Seq[(String, Double)] = {
    require(vocabSize > 0, "dsirModel: vocabSize must be positive")
    val counts = docs.select(targetPred.as("is_tgt"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"),
        sum(when(col("is_tgt"), lit(1L)).otherwise(lit(0L))).as("freq_t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val vocab = counts.orderBy(col("freq").desc, col("token").asc)
        .limit(vocabSize)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val totals = counts.agg(sum(col("freq")), sum(col("freq_t"))).head()
      require(!totals.isNullAt(0) && totals.getLong(0) > 0,
        "dsirModel: empty corpus")
      val (tAll, tTgt) = (totals.getLong(0), totals.getLong(1))
      def lnr6(fa: Long, ft: Long): Double = {
        val v = math.log((ft + 1).toDouble / (tTgt + vocabSize + 1)) -
          math.log((fa + 1).toDouble / (tAll + vocabSize + 1))
        java.math.BigDecimal.valueOf(v)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      }
      (vocab.toSeq.map { case (t, fa, ft) => (t, lnr6(fa, ft)) } :+
        (("", lnr6(0L, 0L)))).sortBy(_._1)
    } finally counts.unpersist()
  }

  /**
   * Conditional bigram-LM perplexity proxy — the second fluency signal next
   * to [[unigramNll]] (a bigram model penalizes scrambled-but-common-token
   * text that a unigram model scores as fluent): per-doc mean negative
   * log-likelihood of each bigram under an add-one-smoothed conditional
   * model restricted to the top-`unigramVocab` conditioning tokens and
   * top-`bigramVocab` bigrams (OOV on either side backs off to count 0).
   *
   * P(w2 | w1) = (c2(w1 w2) + 1) / (c1(w1) + V1 + 1), every model input an
   * exact integer (corpus unigram/bigram counts), so the model is
   * bit-reproducible and the whole derivation DuckDB-replayable. Docs with
   * fewer than two tokens have no bigrams and are absent from the output.
   *
   * Shape at 100 TB: two token/bigram-keyed count shuffles, two bounded
   * TakeOrdered broadcasts (V1-, V2-row model tables), one narrow scoring
   * pass per corpus bigram; nll rounds to 6 decimals to absorb
   * double-summation order.
   */
  def bigramNll(docs: DataFrame, unigramVocab: Int = 1000, bigramVocab: Int = 5000,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(unigramVocab > 0, "bigramNll: unigramVocab must be positive")
    require(bigramVocab > 0, "bigramNll: bigramVocab must be positive")
    val bi = docs
      .select(col(idCol), explode(TextFunctions.shingles(col(textCol), 2)).as("bigram"))
    // unigram counts from the SAME shingle tokenizer as the bigrams
    // (shingles n=1) — a split("\\s+") here would disagree with the
    // WordShingles separator set (bytes <= 0x20) on control characters,
    // making the conditional model's numerator and denominator count
    // different token streams on such text
    val toks = docs
      .select(explode(TextFunctions.shingles(col(textCol), 1)).as("token"))
      .filter(col("token") =!= "")
    val v1 = toks.groupBy(col("token")).agg(count(lit(1)).as("freq1"))
      .orderBy(col("freq1").desc, col("token").asc).limit(unigramVocab)
      .withColumnRenamed("token", "w1")
    val v2 = bi.groupBy(col("bigram")).agg(count(lit(1)).as("freq2"))
      .orderBy(col("freq2").desc, col("bigram").asc).limit(bigramVocab)
    val lnp = log(
      (coalesce(col("freq2"), lit(0L)) + lit(1L)).cast("double") /
        (coalesce(col("freq1"), lit(0L)) + lit(unigramVocab.toLong) + lit(1L)))
    bi.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(broadcast(v2), Seq("bigram"), "left")
      .join(broadcast(v1), Seq("w1"), "left")
      .select(col(idCol), lnp.as("lnp"))
      .groupBy(col(idCol))
      .agg(round(-(sum(col("lnp")) / count(lit(1))), 6).as("nll"))
  }

  /**
   * Persist a BM25 serving index: the lexical analogue of the IVF-PQ
   * artifact — tokenize the corpus ONCE at build time, serve every query
   * after from a partition-pruned postings scan that never touches the
   * corpus text again.
   *
   * The index at `path` is a [[SegmentStore]] partitioned by
   * (`component`, `bucket`). Every save, append and compaction writes ONE
   * segment — the three logical tables as disjoint row groups of one
   * parquet write, one job (the [[JoinPlanner]] unified-slice discipline:
   * the write latency of a KB-per-bucket artifact is job scheduling, so
   * jobs × latency is the whole cost). Columns not owned by a row's
   * component are null. The components:
   *  - `component=post` — (token, doc_id, tf, dl), bucket =
   *    `pmod(xxhash64(token), nBuckets)`. `dl` is a per-doc property, so
   *    appended docs never invalidate existing rows. Per-term document
   *    frequency `dfq` deliberately does NOT live here (it changes with
   *    every append) — it rides the `term` component.
   *  - `component=term` — (token, dfq) DELTA rows, same bucketing; each
   *    save/append writes the batch's per-term doc counts, and serving
   *    sums deltas per term (a ≤ |query|·segments-row aggregate after
   *    pruning — broadcast-sized).
   *  - `component=stat` (bucket 0) — (n_docs, sum_dl, n_postings,
   *    n_terms, n_buckets) DELTA rows, one per segment; serving sums
   *    them. `sum_dl` is an exact integer so avgdl = Σsum_dl / Σn_docs
   *    reproduces [[bm25TopK]] bit-for-bit no matter how the corpus was
   *    split across appends. `n_postings`/`n_terms` are the row counts
   *    the segment wrote, which [[validateLexicalIndex]] audits.
   *
   * Crash story: a segment's files become visible only when the manifest
   * naming them is published (one rename), so a reader sees every
   * component of a segment or none, and a crash before the rename leaves
   * files no manifest names, which the next writer's sweep deletes.
   * Readers resolve the newest manifest once per call and read stats, dfq
   * and postings from it: no directory listing, no listing job at any
   * bucket count. A save replaces the whole index in one commit; readers
   * resolved before it keep reading the old files, which the store keeps
   * for its grace. Indexes written in the earlier directory layouts (no
   * `_manifest`) are not readable: rebuild them.
   *
   * At 100 TB the build is two token-keyed shuffles (tf, dfq) plus one
   * doc-keyed one (dl) — each a plain partial/final hash aggregate; serving
   * reads |queryTerms| buckets out of nBuckets.
   */
  def saveLexicalIndex(docs: DataFrame, path: String, nBuckets: Int = 64,
                       idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(nBuckets > 0, "saveLexicalIndex: nBuckets must be positive")
    writeLexicalSegment(docs, path, replace = true, nBuckets, idCol, textCol)
  }

  /**
   * Append a batch of NEW documents to a [[saveLexicalIndex]] artifact
   * without rewriting existing segments: one commit that adds the batch's
   * segment (same bucketing — nBuckets is read back from the stats, not
   * trusted from the caller). Contract: the batch's `idCol` values must
   * not already be indexed (the standard segment-append contract — a
   * re-indexed doc would double-count; use a fresh [[saveLexicalIndex]] to
   * rebuild). Serve paths are segment-agnostic: append + serve ≡ full
   * rebuild + serve, row for row (gate-pinned).
   */
  def appendLexicalIndex(docs: DataFrame, path: String,
                         idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val nBuckets = lexTable(spark, path, lexManifest(spark, path).live, "stat")
      .select(col("n_buckets")).head(1).headOption.getOrElse(throw noIndex(path)).getInt(0)
    writeLexicalSegment(docs, path, replace = false, nBuckets, idCol, textCol)
  }

  /** The index's data columns: those of all three components. */
  private[graft] val LexSchema = StructType(Seq(
    StructField("token", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("dfq", LongType), StructField("n_docs", LongType),
    StructField("sum_dl", LongType), StructField("n_postings", LongType),
    StructField("n_terms", LongType), StructField("n_buckets", IntegerType)))

  /** The partition columns: one `component=C/bucket=B` dir per bucket. */
  private[graft] val LexPartitions = StructType(Seq(
    StructField("component", StringType), StructField("bucket", IntegerType)))
  private val LexPartitionCols = LexPartitions.fieldNames.toSeq

  /** Project `df` onto [[LexSchema]] under `component = tag`: owned
    * columns cast to the index type, the rest typed nulls; `bucketCol`
    * becomes the bucket partition value. */
  private def lexComponent(tag: String, bucketCol: Column,
                           df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    df.select(LexSchema.map { f =>
      (if (present(f.name)) col(f.name).cast(f.dataType) else lit(null).cast(f.dataType))
        .as(f.name)
    } ++ Seq(lit(tag).as("component"), bucketCol.cast("int").as("bucket")): _*)
  }

  /** Columns owned by each component of the index. */
  private def lexOwned(comp: String): Seq[String] = comp match {
    case "post" => Seq("token", "doc_id", "tf", "dl", "bucket")
    case "term" => Seq("token", "dfq", "bucket")
    case "stat" => Seq("n_docs", "sum_dl", "n_postings", "n_terms", "n_buckets")
  }

  private def noIndex(path: String) =
    new IllegalStateException(s"no lexical index at $path — saveLexicalIndex first")

  /** The newest published state of the index at `path`: one listing of
    * its `_manifest` dir and one manifest read. */
  private def lexManifest(spark: SparkSession, path: String): SegmentStore.Manifest =
    SegmentStore.latest(SeqFiles.fs(spark, path), path).getOrElse(throw noIndex(path))

  /** Every file of `entries` as one frame, `component`/`bucket` included. */
  private def lexIndex(spark: SparkSession, path: String,
                       entries: Seq[SegmentStore.Entry]): DataFrame =
    SegmentStore.frame(spark, path, entries, LexSchema, LexPartitions)

  /** Component `comp` of `entries` with its owned columns; the component
    * predicate prunes the other components' files at planning. */
  private def lexTable(spark: SparkSession, path: String,
                       entries: Seq[SegmentStore.Entry], comp: String): DataFrame =
    ofComponent(lexIndex(spark, path, entries), comp)

  private def ofComponent(index: DataFrame, comp: String): DataFrame =
    index.filter(col("component") === comp).select(lexOwned(comp).map(col): _*)

  /** Lay [[lexComponent]] rows out as one segment. Repartition on the
    * partition columns first (else every task writes a file per bucket:
    * tasks × nBuckets small files at scale), then sort
    * partition-col-then-token within tasks so the writer needs no extra
    * sort and files stay token-sorted for tight parquet row-group min/max
    * stats. */
  private def lexLayout(rows: DataFrame): DataFrame =
    rows.repartition(col("component"), col("bucket"))
      .sortWithinPartitions(col("component"), col("bucket"), col("token"))

  /** One index segment, the shared write of save and append, committed
    * as a save (`replace`) or an append: the three components union into
    * ONE write — one job, where a per-table layout paid a write per table
    * (guide §1.2/§2.4).
    *
    * `tf`/`dl` are persisted across the three component derivations —
    * without the cache each subtree re-ran the tokenize→aggregate
    * pipeline, tripling the build's shuffle cost (same discipline as
    * Dedup's `sigd`). */
  private def writeLexicalSegment(docs: DataFrame, path: String, replace: Boolean,
                                  nBuckets: Int, idCol: String, textCol: String): Unit = {
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dl = tf.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("dl"), count(lit(1)).as("n_post"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val bucket = pmod(xxhash64(col("token")), lit(nBuckets.toLong)).cast("int")
        val dfq = tf.groupBy(col("token")).agg(count(lit(1)).as("dfq"))
        // materialize BOTH caches in one sequential pass (computing dl
        // scans tf) so the unified write's concurrent AQE stages are pure
        // cache readers — racing first-stages would tokenize twice
        dl.count()
        SegmentStore.write(lexLayout(lexComponent("post",
            bucket,
            tf.join(dl.select(col("doc_id"), col("dl")), "doc_id"))
          .unionByName(lexComponent("term", bucket, dfq))
          .unionByName(lexComponent("stat", lit(0),
            dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"),
                sum(col("n_post")).as("n_postings"))
              .crossJoin(broadcast(dfq.agg(count(lit(1)).as("n_terms"))))
              .withColumn("n_buckets", lit(nBuckets))))), path, replace, LexPartitionCols)
      } finally dl.unpersist()
    } finally tf.unpersist()
  }

  /**
   * Audit a lexical index: every segment's stat row carries the
   * postings/termstats row counts that segment wrote, so table counts
   * disagreeing with the committed sums in EITHER direction mean the
   * published files are not whole segments — data rows whose stats delta
   * (and therefore dfq/avgdl contribution) is missing, or vice versa, as
   * when a file is lost or a manifest names a segment's data without its
   * stat file. One row: expected vs actual counts plus the consistency
   * booleans. Cost is one column-pruned scan of the newest manifest's
   * files — a deployment check (stream construction, compaction), not a
   * per-query path.
   */
  def validateLexicalIndex(spark: SparkSession, path: String): DataFrame =
    lexAudit(lexIndex(spark, path, lexManifest(spark, path).live))

  private def lexAudit(index: DataFrame): DataFrame = {
    val isC = (c: String) => col("component") === c
    // coalesce(…, 0): an index with data rows and no stat row must AUDIT
    // as inconsistent, not NPE on a null sum
    def rows(c: String) = coalesce(sum(when(isC(c), lit(1L)).otherwise(lit(0L))), lit(0L))
    def committed(c: String) = coalesce(sum(when(isC("stat"), col(c))), lit(0L))
    index
      .agg(rows("stat").as("n_segments"),
        committed("n_postings").as("n_postings_expected"), rows("post").as("n_postings_actual"),
        committed("n_terms").as("n_terms_expected"), rows("term").as("n_terms_actual"))
      .withColumn("postings_consistent", col("n_postings_expected") === col("n_postings_actual"))
      .withColumn("terms_consistent", col("n_terms_expected") === col("n_terms_actual"))
  }

  /** Fail, naming `caller`, unless `audit` ([[validateLexicalIndex]]'s
    * row for the lexical index at `path`) finds it whole. */
  private[graft] def requireWholeLexicalIndex(audit: DataFrame, path: String,
                                              caller: String): Unit = {
    val row = audit.collect()(0)
    require(row.getAs[Boolean]("postings_consistent") && row.getAs[Boolean]("terms_consistent"),
      s"$caller: lexical index at $path is torn (postings " +
        s"${row.getAs[Long]("n_postings_actual")} vs committed " +
        s"${row.getAs[Long]("n_postings_expected")}, termstats " +
        s"${row.getAs[Long]("n_terms_actual")} vs committed " +
        s"${row.getAs[Long]("n_terms_expected")}) — rebuild it from the corpus")
  }

  /**
   * Compact a lexical index in place into a single segment, one commit
   * of its store ([[SegmentStore.compact]]): termstats delta rows are
   * summed per term, stats delta rows into one row, and postings
   * rewritten with the standard clustering (they carry no deltas —
   * compaction just coalesces the small files appends accumulate).
   * Serving after it is row-identical to serving before by construction
   * (the serve paths only ever consume the SUMS — gate-pinned, and
   * checksummed before the publish on [[lexServed]]). A segment appended
   * while the fold runs fails the compaction and stays live; readers
   * loaded before keep the segments' files for the store's grace.
   */
  def compactLexicalIndex(spark: SparkSession, path: String): Unit =
    SegmentStore.compact(spark, path, "lexical index", LexPartitionCols, lexServed) { pile =>
      // the source must pass its audit first: the compacted stat row is
      // derived from the rewritten tables, so compacting a TORN index would
      // otherwise launder data rows without their stat row into a
      // green-auditing artifact whose idf/avgdl stay silently skewed
      requireWholeLexicalIndex(lexAudit(pile), path, "compactLexicalIndex")
      // the whole fold is ONE segment. Its stat row's audit counts are
      // computed IN-PLAN from the same expressions that produce the
      // written rows (postings preserved verbatim — their count is the
      // pile's; termstats merge per term — their count is the merged
      // group count), so the record matches what lands by construction
      val posts = ofComponent(pile, "post")
      val terms = mergedTerms(pile)
      val stat = summedStat(pile)
        .crossJoin(broadcast(posts.agg(count(lit(1)).as("n_postings"))))
        .crossJoin(broadcast(terms.agg(count(lit(1)).as("n_terms"))))
      lexLayout(lexComponent("post", col("bucket"), posts)
        .unionByName(lexComponent("term", col("bucket"), terms))
        .unionByName(lexComponent("stat", lit(0), stat)))
    }

  /** The index as serving reads it — postings verbatim, dfq summed per
    * term, the corpus scalars summed — which a compaction must keep. */
  private def lexServed(index: DataFrame): DataFrame =
    lexComponent("post", col("bucket"), ofComponent(index, "post"))
      .unionByName(lexComponent("term", col("bucket"), mergedTerms(index)))
      .unionByName(lexComponent("stat", lit(0), summedStat(index)))

  /** The termstats deltas of `index` summed per (bucket, token). */
  private def mergedTerms(index: DataFrame): DataFrame =
    ofComponent(index, "term").groupBy(col("bucket"), col("token")).agg(sum(col("dfq")).as("dfq"))

  /** The stat deltas of `index` summed into its corpus scalars. */
  private def summedStat(index: DataFrame): DataFrame =
    ofComponent(index, "stat").agg(sum(col("n_docs")).as("n_docs"),
      sum(col("sum_dl")).as("sum_dl"), max(col("n_buckets")).as("n_buckets"))

  /** Per-JVM memo of collected index scalars, keyed by index path and
    * invalidated by the manifest [[version]] — see [[lexicalStats]].
    * Bounded (keys are deployment paths, but a long-lived serving JVM
    * cycling through many ephemeral index paths must not grow it without
    * limit): at [[StatsMemoCap]] entries the map is cleared — the entries
    * are cheap to recompute and a serving loop touches O(1) live paths,
    * so wholesale reset beats LRU bookkeeping here. */
  private val statsMemo =
    scala.collection.mutable.Map[String, ((Long, Long), (Long, Double, Int))]()
  private final val StatsMemoCap = 256

  /** What the memos key on: the manifest's sequence number names the
    * commit, and every save, append and compaction publishes a new one;
    * the manifest file's mtime tells apart two indexes that reused one
    * path (deleted and rebuilt). Read from the listing the resolve makes
    * anyway — no extra filesystem call. */
  private def version(m: SegmentStore.Manifest): (Long, Long) = (m.seq, m.mtime)

  /** Collected corpus scalars of a lexical index: (nDocs, avgdl, nBuckets),
    * summed across segments — exact integer sums, one double division, so
    * any segmentation of the same corpus yields the same scalars.
    *
    * Memoized per (path, manifest version): a streaming serving loop calls
    * this every micro-batch, and without the memo each call is a full
    * Spark action (plan + scan + collect) for a value that only changes
    * when a segment lands. An [[appendLexicalIndex]] or a rebuild
    * publishes a new manifest, so it invalidates on the very next call —
    * the growing-index contract is preserved (spec-pinned), only the
    * redundant recomputation goes. */
  private def lexicalStats(spark: SparkSession, path: String,
                           m: SegmentStore.Manifest): (Long, Double, Int) =
    statsMemo.synchronized { statsMemo.get(path) } match {
      case Some((v, scalars)) if v == version(m) => scalars
      case _ =>
        val st = lexTable(spark, path, m.live, "stat")
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"),
            max(col("n_buckets")).as("n_buckets"))
          .collect()(0)
        val nDocs = st.getAs[Long]("n_docs")
        val sumDl = st.getAs[Long]("sum_dl")
        val avgdl = if (nDocs == 0L) 1.0 else sumDl.toDouble / nDocs
        val scalars = (nDocs, avgdl, st.getAs[Int]("n_buckets"))
        statsMemo.synchronized {
          if (statsMemo.size >= StatsMemoCap) statsMemo.clear()
          statsMemo(path) = (version(m), scalars)
        }
        scalars
    }

  /** Pruned (token, dfq) for `terms`: termstats delta rows restricted to the
    * terms' buckets, summed per term — broadcast-sized by construction. */
  private def prunedDfq(spark: SparkSession, path: String, m: SegmentStore.Manifest,
                        terms: Seq[String], bucketIds: Seq[Int]): DataFrame =
    lexTable(spark, path, m.live, "term")
      .where(col("bucket").isin(bucketIds: _*) && col("token").isin(terms: _*))
      .groupBy(col("token")).agg(sum(col("dfq")).as("dfq"))

  /** Per-JVM memo of the COLLECTED pruned-dfq slice, keyed by (path, term
    * set) and invalidated by the same manifest [[version]] as
    * [[lexicalStats]] — a serving loop re-asking the same terms (REST
    * asks, per-epoch query batches) pays the termstats scan ONCE per
    * index commit instead of once per ask, while an append between asks
    * still changes the answer on the very next call (the growing-index
    * freshness contract, spec-pinned). Entries are query-term-sized; the
    * map is cleared wholesale at [[StatsMemoCap]] like [[statsMemo]]. */
  private val dfqMemo = scala.collection.mutable.Map[
    (String, Seq[String]), ((Long, Long), Map[String, Long])]()

  /** The pruned dfq of `terms`, memoized: token → dfq, equal to
    * [[prunedDfq]] by construction (same aggregation, collected once per
    * version). A term with no posting has no entry. */
  private def memoDfq(spark: SparkSession, path: String, m: SegmentStore.Manifest,
                      terms: Seq[String], bucketIds: Seq[Int]): Map[String, Long] = {
    val key = (path, terms.sorted)
    dfqMemo.synchronized { dfqMemo.get(key) }
      .collect { case (v, dfq) if v == version(m) => dfq }
      .getOrElse {
        val got = prunedDfq(spark, path, m, terms, bucketIds)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        dfqMemo.synchronized {
          if (dfqMemo.size >= StatsMemoCap) dfqMemo.clear()
          dfqMemo(key) = (version(m), got)
        }
        got
      }
  }

  /** Bucket ids for `terms`, computed DRIVER-SIDE: `pmod(xxhash64(term),
    * nBuckets)` of a literal string needs no Spark job — the same
    * `XxHash64Function` (seed 42) the SQL `xxhash64` runs per row, applied
    * to the term's UTF-8 bytes directly (parity spec-pinned against the SQL
    * expression). These land on the partition column as static literals, so
    * the postings/termstats scans prune at plan time. A streaming serving
    * loop calls this every micro-batch; as a Spark job it was one more
    * plan+collect per epoch for pure literal arithmetic. */
  private[graft] def termBuckets(terms: Seq[String], nBuckets: Int): Seq[Int] =
    terms.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
      val m = (h % nBuckets).toInt
      if (m < 0) m + nBuckets else m
    }.distinct

  /**
   * Answer a BM25 top-k query from a [[saveLexicalIndex]] artifact (plus any
   * [[appendLexicalIndex]] segments): a batch of one through
   * [[bm25QueryIndexBatch]], projected to (doc_id, score) in rank order.
   * Row-identical to [[bm25TopK]] over the indexed corpus (spec-pinned).
   */
  def bm25QueryIndex(spark: SparkSession, path: String, queryTerms: Seq[String],
                     k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25QueryIndexBatch(spark, path, Seq((0L, queryTerms)), k, k1, b)
      .select(col("doc_id"), col("score"))

  /**
   * BM25 serving from a [[saveLexicalIndex]] artifact (plus any
   * [[appendLexicalIndex]] segments) — the one scorer over a lexical
   * index: a batch of (query_id, terms) answered with ONE pruned postings
   * scan over the union of their terms. Terms are normalized by
   * [[queryTokens]]; a query with no servable term contributes no rows.
   * The score is the same literal arithmetic as [[bm25TopK]] (spec-pinned
   * row-identical), and the per-query top-k runs on the heap-based
   * [[graft.plans.TopK.perKey]] physical operator, not a full sort.
   * Output: (query_id, doc_id, score, rnk), rnk 1..k per query, ordered by
   * (query_id, rnk).
   *
   * The batch is driver-resident (serving batches are small by contract):
   * the term → query ids and term → dfq maps are plan literals, so the
   * postings scan joins nothing, and the union term list becomes static
   * partition-pruning literals. With [[lexicalStats]] and the dfq memoized
   * and [[termBuckets]] driver-side, a call on an index commit already seen
   * runs ONE Spark job, the scoring scan. The one shuffle that scales is
   * the (query_id, doc_id) score aggregation, proportional to matching
   * postings × queries sharing the term, not to the corpus; the result
   * (≤ queries × k rows) is ordered in one task.
   *
   * The index is resolved by path inside the call, so an append, save or
   * compaction is served by the next call.
   */
  def bm25QueryIndexBatch(spark: SparkSession, path: String,
                          queries: Seq[(Long, Seq[String])], k: Int,
                          k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "bm25QueryIndexBatch: k must be positive")
    val m = lexManifest(spark, path)
    val queriesOf = queries
      .flatMap { case (qid, terms) => queryTokens(terms).map(_ -> qid) }
      .distinct.groupMap(_._1)(_._2)
    val terms = queriesOf.keys.toSeq
    val (nDocs, avgdl, nBuckets) = lexicalStats(spark, path, m)
    val bucketIds = termBuckets(terms, nBuckets)
    val dfqOf = memoDfq(spark, path, m, terms, bucketIds)
    val postings = lexTable(spark, path, m.live, "post")
      .where(col("bucket").isin(bucketIds: _*) && col("token").isin(dfqOf.keys.toSeq: _*))
    val dfq = element_at(typedLit(dfqOf), col("token"))
    val num = col("tf") * lit(k1 + 1.0)
    val den = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))
    val idf = log((lit(nDocs) - dfq + lit(0.5)) / (dfq + lit(0.5)) + lit(1.0))
    val scored = postings
      // fan each posting out to its queries
      .select(explode(element_at(typedLit(queriesOf), col("token"))).as("query_id"),
        col("doc_id"), (idf * num / den).as("s"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("s")), 6).as("score"))
    graft.plans.TopK.perKey(scored, k, Seq(col("query_id")),
        Seq(col("score").desc, col("doc_id").asc))
      .coalesce(1).sortWithinPartitions(col("query_id"), col("rnk"))
  }

  /** Java `\s` runs at a term's ends, which the tokenizer's `\s+` split
    * drops ([[TextFunctions.tokens]]). */
  private val EdgeSpace = java.util.regex.Pattern.compile("^\\s+|\\s+$")

  /** The index tokens a query's terms can match — the one query-term
    * normalization of every BM25 path: each term lowercased by Spark's
    * `lower` (the expression the tokenizer applies, so no JVM default
    * locale enters), its edge whitespace stripped, null and empty terms
    * dropped, duplicates collapsed. */
  private[graft] def queryTokens(terms: Seq[String]): Seq[String] =
    Option(terms).getOrElse(Nil).filter(_ != null).map { t =>
      val lowered = org.apache.spark.sql.catalyst.expressions.Lower(
        org.apache.spark.sql.catalyst.expressions.Literal(t)).eval().toString
      EdgeSpace.matcher(lowered).replaceAll("")
    }.filter(_.nonEmpty).distinct

  /**
   * Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken,
   * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
   * 2003 — the MOSS fingerprinter). Over the whitespace-normalized
   * lowercased text (the [[TextFunctions.fingerprint]] normalization),
   * every character `k`-gram is hashed with an exact Karp-Rabin rolling
   * polynomial; each
   * sliding window of `w` consecutive gram hashes selects its MINIMUM,
   * ties broken by the RIGHTMOST position (robust winnowing — re-selecting
   * the same occurrence across overlapping windows minimizes fingerprint
   * density), and repeated selections collapse. The paper's guarantee:
   * any verbatim match of length >= w + k - 1 normalized characters
   * between two documents shares at least one selected fingerprint — the
   * LOCALIZED-match detector that whole-document or line hashes miss.
   * Documents with at least one gram but fewer than `w` get one window
   * over all their grams, so every doc of >= k normalized chars is
   * fingerprinted; shorter docs yield no rows.
   *
   * Gram hashes are an exact Karp-Rabin rolling polynomial mod a 41-bit
   * prime ([[graft.plans.TextKernels.WinnowBase]] /
   * [[graft.plans.TextKernels.WinnowMod]]) — the winnowing paper's own
   * hash family: O(1) integer work per position (the md5-per-gram
   * formulation this replaces paid a full digest per position — the two
   * costliest queries in the round-12 bench), and every value replays in
   * any SQL engine as plain integer `*`/`+`/`%` with no intermediate
   * exceeding int64 (no wraparound in Spark, no overflow error in DuckDB).
   *
   * Returns exploded (idCol, pos, fp) rows — pos is the 1-based gram
   * position in the normalized text; expected density is 2/(w+1) grams.
   *
   * Scale: ONE narrow per-row scan (hashing, window minima via a monotone
   * deque and selection dedup all inside one compiled codegen'd kernel,
   * [[graft.plans.WinnowSelect]]), zero shuffles — streams over 100 TB.
   * Match detection downstream joins on `fp` ([[winnowMatches]]).
   */
  def winnowFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(k >= 1, s"gram size k must be >= 1, got $k")
    require(w >= 1, s"window size w must be >= 1, got $w")
    import org.apache.spark.sql.graftshim.GraftPlanBridge.{column => toCol, expr => toExpr}
    val norm = regexp_replace(trim(lower(col(textCol))), "\\s+", " ")
    docs
      .select(col(idCol), norm.as("_nm"))
      // explode_OUTER, deliberately: plain explode lets Catalyst's
      // InferFiltersFromGenerate push a `size(...) > 0` guard below the
      // generate, evaluating the whole selection kernel a second time per
      // row (the round-12 md5-storm lesson). The outer variant infers
      // nothing; docs too short for a single gram yield an empty array →
      // one null row, dropped by the post-explode isNotNull filter, which
      // cannot be pushed below the generate (it references its output).
      .select(col(idCol),
        explode_outer(toCol(graft.plans.WinnowSelect(toExpr(col("_nm")), k, w)))
          .as("_s"))
      .filter(col("_s").isNotNull)
      .select(col(idCol), col("_s.pos").as("pos"), col("_s.fp").as("fp"))
  }

  /**
   * Winnowing-based local-match detection: document pairs sharing at least
   * `minShared` DISTINCT winnowed fingerprints, with the shared count —
   * the plagiarism / cross-split-leak report MOSS produces, over
   * [[winnowFingerprints]] selections. By the winnowing guarantee a
   * verbatim shared passage of >= w + k - 1 normalized chars surfaces the
   * pair even when whole-document hashes differ.
   *
   * Shape: inverted-index equi-join on the fingerprint value with a
   * document-frequency cut (`maxDf`, the [[Dedup.containmentPairs]]
   * discipline) — boilerplate fingerprints shared by everything would
   * otherwise pair the corpus quadratically; the cut bounds per-key
   * fan-out at maxDf² and only lowers shared counts on boilerplate.
   * Shuffles are keyed on fp (high-cardinality, uniform); nothing is
   * collected.
   */
  def winnowMatches(docs: DataFrame, k: Int = 8, w: Int = 4,
                    minShared: Long = 2, maxDf: Int = 20,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    winnowMatchesFromFingerprints(
      winnowFingerprints(docs, k, w, idCol, textCol)
        .select(col(idCol).as("id"), col("fp")),
      minShared, maxDf)

  /** [[winnowMatches]] over PRECOMPUTED fingerprints — a `(id, fp)` frame
    * (duplicates tolerated; de-duplicated here). Callers that fingerprint
    * the same base corpus for several reports amortize the corpus scan
    * across them (the [[graft.DedupArtifacts]] discipline) by caching the
    * base `(id, fp)` frame and unioning per-report extras. */
  def winnowMatchesFromFingerprints(fingerprints: DataFrame,
                                    minShared: Long = 2,
                                    maxDf: Int = 20): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2 (a pair needs df 2), got $maxDf")
    // fps feeds the df cut and BOTH sides of the pair join — persist so
    // the (possibly expensive) fingerprint derivation runs once, not 3×;
    // the pair output is report-sized → eager localCheckpoint + unpersist
    // (the containmentPairs fork-severing discipline)
    val fps = fingerprints.select(col("id"), col("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      winnowSharedCountPairs(winnowKeptFpIndex(fps, maxDf), minShared)
        .localCheckpoint()
    } finally fps.unpersist()
  }

  /** The df ∈ [2, maxDf]-cut inverted index over a DISTINCT (id, fp)
    * frame — the pair-qualification substrate shared by [[winnowMatches]]
    * and [[winnowSpans]] (one definition, so the spans ⊇ matches
    * invariant can't silently diverge). */
  private def winnowKeptFpIndex(fps: DataFrame, maxDf: Int): DataFrame = {
    val kept = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("fp"))
    fps.join(kept, Seq("fp"))
  }

  /** (id_a, id_b, n_shared) pairs over a [[winnowKeptFpIndex]] with the
    * >= minShared floor — distinct (id, fp) input ⇒ count = |∩|. */
  private def winnowSharedCountPairs(idx: DataFrame, minShared: Long): DataFrame =
    idx.as("a").join(idx.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /**
   * Winnow match SPANS — what MOSS actually reports: not just that a pair
   * shares fingerprints, but WHERE. For each [[winnowMatches]]-qualifying
   * pair, the lower-id side's shared selections are grouped into maximal
   * runs of CONSECUTIVE selections (consecutive in that document's
   * position-ordered selection list) whose fingerprint is also selected by
   * the other side — the gaps-and-islands formulation ([[Dedup]]'s
   * span-collapse idiom): island = selection_index − rank_among_shared,
   * both plain window functions. One span row per island:
   * (id_a, id_b, span_start, span_end, n_fps) with gram positions in
   * doc id_a; the matched character range is
   * [span_start, span_end + k − 1]. The b-side's regions follow by
   * symmetry (swap the id inequality).
   *
   * Pair qualification matches [[winnowMatches]] exactly (df ∈ [2, maxDf]
   * cut, >= minShared distinct shared fingerprints), so every reported
   * pair carries >= 1 span and every matches row has spans here.
   *
   * Scale shape: the selection-index window is per-doc (bounded rows per
   * partition key), the shared-row join is the same df-cut inverted-index
   * equi-join as the pair report, and the island window partitions by
   * pair — no step exceeds the matches report's own cost envelope.
   */
  def winnowSpans(docs: DataFrame, k: Int = 8, w: Int = 4,
                  minShared: Long = 2, maxDf: Int = 20,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2 (a pair needs df 2), got $maxDf")
    import org.apache.spark.sql.expressions.Window
    // sel feeds the per-doc index window, the df cut and both join sides —
    // persist so the whole fingerprint scan runs once, not ~4×; the span
    // output is report-sized → eager localCheckpoint + unpersist (the
    // containmentPairs fork-severing discipline)
    val sel = winnowFingerprints(docs, k, w, idCol, textCol)
      .select(col(idCol).as("id"), col("pos"), col("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // fill the cache in one sequential pass: the index window, the df cut
      // and the join scan sel in concurrent stages, each of which would
      // otherwise compute and store the same blocks
      sel.count()
      val withIdx = sel.withColumn("sidx",
        row_number().over(Window.partitionBy(col("id")).orderBy(col("pos"))))
      val distinctFps = sel.select(col("id"), col("fp")).distinct()
      val idx = winnowKeptFpIndex(distinctFps, maxDf)
      // qualifying pairs, with the matches report's exact semantics (the
      // SAME shared helpers — the invariant is structural, not by-copy)
      val pairs = winnowSharedCountPairs(idx, minShared)
        .select(col("id_a"), col("id_b"))
      // a-side selections whose fp the b side also selected (kept fps only);
      // distinct: the same a-selection can match several b positions
      val shared = withIdx.as("a").join(idx.as("b"),
          col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.pos").as("pos"), col("a.sidx").as("sidx"))
        .distinct()
        .join(pairs, Seq("id_a", "id_b"))
      shared
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("id_a"), col("id_b")).orderBy(col("sidx"))))
        .withColumn("island", col("sidx") - col("rn"))
        .groupBy(col("id_a"), col("id_b"), col("island"))
        .agg(min(col("pos")).as("span_start"), max(col("pos")).as("span_end"),
          count(lit(1)).as("n_fps"))
        .drop("island")
        .localCheckpoint()
    } finally sel.unpersist()
  }

  /**
   * Benchmark-contamination check: for each training document, the number of
   * DISTINCT word `n`-grams it shares with ANY benchmark document. The
   * standard eval-leakage scan (n=13 in the literature; lower n for short
   * docs), shaped as a distributed inverted-index join:
   * explode both sides to (shingle, doc) pairs, equi-join on the shingle
   * hash, count distinct shingles per training doc. Shuffle is keyed on the
   * shingle — high cardinality, uniform, no driver state; the benchmark side
   * is typically small enough that Spark broadcasts it.
   */
  def contamination(train: DataFrame, benchmark: DataFrame, shingleN: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def shingled(df: DataFrame, as: String) = df
      .select(col(idCol).as(as),
        explode(array_distinct(TextFunctions.shingles(col(textCol), shingleN)))
          .as(s"${as}_sh"))
    val b = shingled(benchmark, "bench_id")
      .select(col("bench_id_sh").as("sh")).distinct()
    shingled(train, "train_id")
      .join(b, col("train_id_sh") === col("sh"))
      .groupBy(col("train_id"))
      .agg(countDistinct(col("sh")).as("n_shared"))
  }

  /** Drop every training document sharing at least `minShared` distinct
    * word `n`-grams with the benchmark set — [[contamination]] turned into
    * the filter a pre-training pipeline actually applies (anti-join on the
    * flagged ids; the expensive part is the shingle join, unchanged). */
  def decontaminate(train: DataFrame, benchmark: DataFrame, shingleN: Int,
                    minShared: Long = 1,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val flagged = contamination(train, benchmark, shingleN, idCol, textCol)
      .filter(col("n_shared") >= minShared)
      .select(col("train_id"))
    train.join(flagged, train(idCol) === col("train_id"), "left_anti")
  }

  /**
   * Corpus-novelty scoring — the cross-document counterpart of
   * [[repetitionMetrics]] (which measures repetition WITHIN a doc): for
   * each document, how much of its content is unique to it vs shared
   * boilerplate. The deduplication literature's motivating signal (Lee et
   * al. 2021, "Deduplicating Training Data Makes Language Models
   * Better"): heavily-shared content contributes near-duplicate gradient
   * updates, unique content is what a curation pass wants to keep.
   *
   * Per document over its DISTINCT word `n`-shingles: `n_shingles`,
   * `n_unique` (corpus document frequency exactly 1 — no other doc has
   * the shingle), `novelty` = n_unique / n_shingles and `mean_df` = the
   * mean corpus df of its shingles. All model inputs are exact integers
   * and each output is ONE IEEE division rounded to 6 decimals — no
   * transcendentals, so any SQL engine replays the values bit-for-bit.
   * Docs with fewer than `n` tokens have no shingles and are absent.
   *
   * Scale shape: one shingle-keyed count shuffle (the [[contamination]]
   * discipline — high-cardinality uniform key, map-side combine) joined
   * back to the exploded (id, shingle) rows, then a per-doc aggregate.
   * At 100 TB nothing is collected and no side is assumed small.
   */
  def noveltyScores(docs: DataFrame, shingleN: Int = 3,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(shingleN >= 1, s"noveltyScores: shingleN must be >= 1, got $shingleN")
    val ex = docs.select(col(idCol),
      explode(array_distinct(TextFunctions.shingles(col(textCol), shingleN)))
        .as("sh"))
    val df_ = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    ex.join(df_, Seq("sh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"),
        sum(col("df")).as("_sdf"))
      .select(col(idCol), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles"), 6)
          .as("novelty"),
        round(col("_sdf").cast("double") / col("n_shingles"), 6)
          .as("mean_df"))
  }

  /**
   * Per-document distinctive phrases: tf-idf over word `gramN`-gram terms,
   * top-`k` per document by (score DESC, term ASC). The sparse-feature
   * counterpart of the embedding paths — keyword/phrase extraction for
   * curation triage and topical routing.
   *
   * idf uses the smooth sklearn form ln((N+1)/(df+1)) + 1, quantized to 6
   * decimals BEFORE the tf product (ln is not correctly-rounded across
   * engines; round6 of it is, everywhere off the measure-zero boundary),
   * so score = round(tf · idf6, 6) replays bit-for-bit in DuckDB.
   *
   * Scale shape: one tokenize pass → (doc, term) counts (shuffle keyed on
   * doc+term), a term-keyed df aggregate (second, smaller shuffle), a
   * term-keyed join back, and a per-doc heap top-k — every stage keyed,
   * nothing corpus-sized on the driver (N is a metadata-cheap count).
   */
  def tfIdfTopTerms(docs: DataFrame, gramN: Int = 2, k: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(gramN >= 1, s"tfIdfTopTerms: gramN must be >= 1, got $gramN")
    require(k > 0, s"tfIdfTopTerms: k must be positive, got $k")
    val nDocs = docs.count()
    require(nDocs > 0, "tfIdfTopTerms: empty corpus")
    val tf = docs.select(col(idCol),
        explode(TextFunctions.shingles(col(textCol), gramN)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      // feeds the df aggregate AND the join-back — sever the fork so the
      // tokenize pass + (doc,term) shuffle run once (the oracle marks the
      // same CTE AS MATERIALIZED for the same reason)
      .localCheckpoint()
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf6 = round(
      log(lit(nDocs + 1.0) / (col("df") + lit(1)).cast("double")) + lit(1.0), 6)
    graft.plans.TopK.perKey(tf.join(dfq, "term")
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("tf") * idf6, 6).as("score")),
      k, Seq(col(idCol)), Seq(col("score").desc, col("term").asc))
      .select(col(idCol), col("rnk"), col("term"), col("tf"), col("df"), col("score"))
  }

  /**
   * Sparse "more-like-this": top-`k` nearest documents per document by
   * cosine over L2-normalized word-`gramN`-gram tf-idf vectors, generated
   * by an inverted-index equi-join on the term — the lexical counterpart
   * of the dense ANN paths, and the standard retrieval-based dedup triage.
   *
   * Candidate control (the 100 TB discipline shared with ngramJaccardPairs):
   * terms outside df ∈ [minDf, N·maxDfNum/maxDfDen] are cut BEFORE the
   * self-join — integer-arithmetic bound (df·maxDfDen ≤ N·maxDfNum), so
   * both engines apply the identical rule. On a real (large-vocab) corpus
   * shared mid-df n-grams are rare, keeping candidate pairs near-linear;
   * the join never goes all-pairs.
   *
   * Cross-engine parity (the round-12 tie discipline): scores quantized to
   * the 6-grid; norms from an exact DECIMAL(18,6)² sum (order-independent)
   * then one IEEE sqrt; normalized weights carried as INTEGER micro-units
   * (round(w·1e6) — ≤1e6 each, so int64 dot products never overflow); the
   * dot sum is exact int64; cosine = round(dot/1e12, 6). No
   * summation-order-sensitive float aggregate anywhere.
   *
   * Returns (idCol, rnk, nbr_id, n_shared, cos); docs with no in-band
   * terms have no rows. Shared frames are localCheckpoint'd — the
   * fork-severing discipline — so the corpus tokenize runs once, not
   * three times (norms + both self-join sides).
   */
  def sparseSimilarDocs(docs: DataFrame, gramN: Int = 3, k: Int = 5,
                        minDf: Int = 2, maxDfNum: Int = 1, maxDfDen: Int = 5,
                        maxDfAbs: Option[Int] = None,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(gramN >= 1, s"sparseSimilarDocs: gramN must be >= 1, got $gramN")
    require(k > 0, s"sparseSimilarDocs: k must be positive, got $k")
    require(minDf >= 1, s"sparseSimilarDocs: minDf must be >= 1, got $minDf")
    require(maxDfNum >= 1 && maxDfDen >= 1, "sparseSimilarDocs: df-cut fraction must be positive")
    maxDfAbs.foreach(c => require(c >= minDf,
      s"sparseSimilarDocs: maxDfAbs ($c) must be >= minDf ($minDf)"))
    val nDocs = docs.count()
    require(nDocs > 0, "sparseSimilarDocs: empty corpus")
    val tf = docs.select(col(idCol),
        explode(TextFunctions.shingles(col(textCol), gramN)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      // feeds the df cut AND the weight join — sever the fork so the
      // tokenize pass + (doc,term) shuffle run once
      .localCheckpoint()
    // the RELATIVE cut (df ≤ N·maxDfNum/maxDfDen) tracks corpus growth; the
    // optional ABSOLUTE cap bounds per-term join fan-out (≤ maxDfAbs² pairs
    // per term) no matter how duplicate-heavy the corpus — the guard for
    // adversarial duplication, where duplication inflates df and N together
    // and a relative cut shifts nothing out of band (probe record: the 5×
    // exact-replica corpus grows intermediate pairs ~25× under the relative
    // cut alone)
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf &&
        col("df") * lit(maxDfDen.toLong) <= lit(nDocs * maxDfNum) &&
        maxDfAbs.map(c => col("df") <= c).getOrElse(lit(true)))
    val idf6 = round(
      log(lit(nDocs + 1.0) / (col("df") + lit(1)).cast("double")) + lit(1.0), 6)
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val sc = tf.join(dfq, "term")
      .select(col(idCol).as("d"), col("term"),
        round(col("tf") * idf6, 6).as("score"))
      .localCheckpoint() // feeds norms AND the weight join — sever the fork
    val nr = sc.groupBy(col("d"))
      .agg(sqrt(sum(col("score").cast(dec) * col("score").cast(dec))
        .cast("double")).as("nrm"))
    val wts = sc.join(nr, "d")
      .select(col("d"), col("term"),
        round(col("score") / col("nrm") * lit(1e6), 0).cast("long").as("u"))
      .localCheckpoint() // both self-join sides read the materialized frame
    val pairs = wts.select(col("d").as("da"), col("term"), col("u").as("ua"))
      .join(wts.select(col("d").as("db"), col("term"), col("u").as("ub")), "term")
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(sum(col("ua") * col("ub")).as("dot"), count(lit(1)).as("n_shared"))
    val both = pairs.select(col("da").as(idCol), col("db").as("nbr_id"),
        col("dot"), col("n_shared"))
      .unionAll(pairs.select(col("db").as(idCol), col("da").as("nbr_id"),
        col("dot"), col("n_shared")))
    graft.plans.TopK.perKey(both, k, Seq(col(idCol)),
        Seq(col("dot").desc, col("nbr_id").asc))
      .select(col(idCol), col("rnk"), col("nbr_id"), col("n_shared"),
        round(col("dot").cast("double") / lit(1e12), 6).as("cos"))
  }

  /**
   * Shuffle-FREE decontamination via a broadcast Bloom filter: build one
   * Bloom filter over the benchmark's distinct `n`-grams (driver-side —
   * real benchmark suites are KB–MB of n-grams, bounded by construction),
   * broadcast it, and drop any training document whose shingles hit it.
   *
   * vs [[decontaminate]]'s exact inverted-index join: the training corpus
   * never shuffles at all — the membership test runs inside the scan, so
   * 100 TB decontaminates at full scan speed. Bloom semantics are exactly
   * the safe direction for this job: NO false negatives (every truly
   * contaminated doc IS dropped — gated), false positives over-drop clean
   * docs at ≤ `fpp` (the cheap error: lose a sliver of clean data, never
   * keep leaked eval data).
   *
   * The membership probe is a UDF by necessity — no built-in expression
   * tests a `util.sketch.BloomFilter` — with early-exit on first hit.
   */
  def decontaminateBloom(train: DataFrame, benchmark: DataFrame, shingleN: Int,
                         fpp: Double = 0.01,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = benchmark
      .select(explode(array_distinct(TextFunctions.shingles(col(textCol), shingleN))).as("g"))
      .distinct()
    val n = grams.count()
    val bf = grams.stat.bloomFilter("g", math.max(n, 1L), fpp)
    val bfB = train.sparkSession.sparkContext.broadcast(bf)
    val anyHit = udf { shs: Seq[String] =>
      shs != null && shs.exists(s => bfB.value.mightContainString(s))
    }
    train.filter(!anyHit(array_distinct(TextFunctions.shingles(col(textCol), shingleN))))
  }

  /**
   * Persisted benchmark-contamination index — the deployment shape of
   * [[decontaminate]]: a benchmark suite is fixed and versioned (it
   * changes when a new eval ships, not per corpus batch), so its
   * distinct shingle set is built ONCE, persisted, appended to as
   * suites are added, and every training-corpus scan joins against the
   * artifact instead of re-shingling the benchmark texts — the
   * BM25/winnow/bloom index-lifecycle discipline applied to
   * decontamination. At 100 TB the train side is the scan; the index is
   * the small, slowly-growing side the join wants pre-built.
   *
   * The artifact is self-describing: every row carries the shingle width
   * `n`, and the loader fails loudly on a width mix — a silently
   * mismatched width would make every membership test vacuously false
   * (no 5-gram ever equals a 4-gram), i.e. "no contamination found"
   * for the worst possible reason.
   *
   * Layout: distinct `(g, n)` rows range-partitioned and sorted by `g`
   * (sorted runs encode compactly; parquet min/max footers make targeted
   * gram probes sliver reads — the trigram-index discipline).
   * The index is a [[SegmentStore]]: a save is one commit that replaces
   * every live file, and [[appendBenchmarkIndex]] adds an append commit
   * WITHOUT rewriting the base; the loader's distinct() folds base/append
   * overlap, so save → append → load equals the one-shot build over the
   * union (the merge law at the storage boundary, replayed by the
   * lifecycle gate).
   */
  def saveBenchmarkIndex(benchmark: DataFrame, shingleN: Int, dir: String,
                         numPartitions: Int = 4,
                         textCol: String = "text"): Unit =
    SegmentStore.write(benchmarkShingles(benchmark, shingleN, numPartitions, textCol),
      dir, replace = true)

  /** Add a new benchmark suite's shingles as an append commit (no base
    * rewrite) — see [[saveBenchmarkIndex]]. The artifact is a distinct
    * GRAM set with no per-doc keying (contamination only asks "is this
    * gram benchmarked", never "by which doc"), which is also why no id
    * column appears in these signatures. */
  def appendBenchmarkIndex(benchmark: DataFrame, shingleN: Int, dir: String,
                           numPartitions: Int = 4,
                           textCol: String = "text"): Unit =
    SegmentStore.write(benchmarkShingles(benchmark, shingleN, numPartitions, textCol),
      dir, replace = false)

  private def benchmarkShingles(benchmark: DataFrame, shingleN: Int,
                                numPartitions: Int, textCol: String): DataFrame = {
    require(shingleN >= 1, s"benchmark index: shingleN must be >= 1, got $shingleN")
    gramLayout(benchmark
      .select(explode(array_distinct(TextFunctions.shingles(col(textCol), shingleN))).as("g"))
      .distinct()
      .withColumn("n", lit(shingleN)), numPartitions)
  }

  private def gramLayout(grams: DataFrame, numPartitions: Int): DataFrame =
    grams.repartitionByRange(numPartitions, col("g")).sortWithinPartitions(col("g"))

  /** The distinct shingle widths of a benchmark index's rows (a bounded
    * collect: one row per width). */
  private def widthsOf(idx: DataFrame): Array[Int] =
    idx.select(col("n")).distinct().collect().map(_.getInt(0))

  /**
   * Compact a benchmark index in place: fold the base
   * [[saveBenchmarkIndex]] plus its [[appendBenchmarkIndex]] commits into
   * one DISTINCT gram-range-partitioned commit. Unlike the verbatim-row
   * compactors (trigram/winnow/band — their slices are disjoint by
   * construction), benchmark suites OVERLAP in grams (two suites share
   * boilerplate), and the loader's `distinct()` pays for that overlap on
   * every probe — the fold dedups once at rewrite time, so the compacted
   * artifact is smaller than the pile AND the load-time distinct becomes
   * a no-op pass over already-unique rows. Audited on the distinct
   * (g, n) rows by [[SegmentStore.compact]]; the width mix check
   * aborts exactly as the loader would.
   */
  def compactBenchmarkIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                            numPartitions: Int = 4): Unit =
    SegmentStore.compact(spark, dir, "benchmark index", Nil,
      _.select(col("g"), col("n")).distinct()) { idx =>
      val widths = widthsOf(idx)
      require(widths.length == 1,
        s"compactBenchmarkIndex: index at $dir holds " +
          (if (widths.isEmpty) "no grams" else s"mixed widths ${widths.sorted.mkString(",")}") +
          " — nothing well-formed to fold")
      gramLayout(idx.select(col("g"), col("n")).distinct(), numPartitions)
    }

  /** Load a persisted benchmark index back into its probe shape: the
    * distinct-gram frame (column `g`) plus the artifact's shingle width
    * (1-row bounded collect); a width mix across base+appends aborts
    * loudly. The gram frame is NOT checkpointed here — batch callers use
    * it once; a streaming caller ([[graft.streaming.StreamingDecon]])
    * should `localCheckpoint` it so the static subplan isn't re-read
    * every micro-batch. */
  def loadBenchmarkIndex(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String): (DataFrame, Int) =
    // a legitimately empty index (every benchmark text shorter than the
    // shingle width) carries no width row: return the empty gram set with
    // a placeholder width — zero grams share nothing at ANY width, so
    // contamination is empty and decontaminate keeps everything
    loadBenchmarkIndexOpt(spark, indexDir).getOrElse(
      (SegmentStore.load(spark, indexDir, "benchmark index").select(col("g")).limit(0), 1))

  /** [[loadBenchmarkIndex]] with emptiness made explicit (None = the
    * artifact holds no grams) so probe paths can skip corpus work for a
    * guaranteed-empty result instead of shingling against nothing. */
  private[graft] def loadBenchmarkIndexOpt(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[(DataFrame, Int)] = {
    val idx = SegmentStore.load(spark, indexDir, "benchmark index")
    val widths = widthsOf(idx)
    require(widths.length <= 1,
      s"benchmark index at $indexDir mixes shingle widths ${widths.sorted.mkString(",")} — " +
        "rebuild the index; a width mix makes contamination tests vacuously false")
    widths.headOption.map(n => (idx.select(col("g")).distinct(), n))
  }

  /** [[contamination]] against a persisted index: per training doc, the
    * count of distinct shingles shared with the indexed benchmark set.
    * The shingle width comes from the artifact itself. An EMPTY index
    * short-circuits to the empty report — no shingle explosion of the
    * training corpus for a join against zero grams. */
  def contaminationFromIndex(train: DataFrame, indexDir: String,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame =
    loadBenchmarkIndexOpt(train.sparkSession, indexDir) match {
      case None =>
        train.select(col(idCol).as("train_id")).limit(0)
          .withColumn("n_shared", lit(0L))
      case Some((b, n)) =>
        train
          .select(col(idCol).as("train_id"),
            explode(array_distinct(TextFunctions.shingles(col(textCol), n))).as("sh"))
          .join(b, col("sh") === col("g"))
          .groupBy(col("train_id"))
          .agg(countDistinct(col("g")).as("n_shared"))
    }

  /** [[decontaminate]] against a persisted index: drop every training doc
    * sharing at least `minShared` distinct shingles with the indexed
    * benchmark set. */
  def decontaminateFromIndex(train: DataFrame, indexDir: String,
                             minShared: Long = 1,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    val flagged = contaminationFromIndex(train, indexDir, idCol, textCol)
      .filter(col("n_shared") >= minShared)
      .select(col("train_id"))
    train.join(flagged, train(idCol) === col("train_id"), "left_anti")
  }

  /**
   * Corpus-level line deduplication (the C4 / RefinedWeb boilerplate rule):
   * drop every line whose space-trimmed form appears in at least `minDocs`
   * DISTINCT documents, then reassemble each document's surviving lines in
   * original order. Headers, footers, nav text and cookie banners dominate
   * web corpora and are invisible to whole-document dedup — this is the
   * standard complement.
   *
   * Output: (idCol, textCol = rebuilt text, n_lines_kept, n_lines_dropped)
   * — one row per input document (a document whose every line is boilerplate
   * survives with empty text, so row counts reconcile downstream).
   *
   * Scale shape: one explode (narrow), one distinct-count aggregate keyed on
   * the line (high-cardinality, uniform — the only corpus-sized shuffle),
   * an equi-join against the repeated-line set (small by construction —
   * only lines occurring ≥ minDocs survive the HAVING; AQE broadcasts it
   * when it fits), and one groupBy(id) to reassemble. No driver state, no
   * window over the whole corpus.
   */
  def dedupLines(docs: DataFrame, minDocs: Int = 2,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("_id"), split(col(textCol), "\n").as("_ls"))
    val lines = base.select(col("_id"), posexplode(col("_ls")).as(Seq("_pos", "_line")))
    val repeated = lines
      .groupBy(trim(col("_line")).as("_k"))
      .agg(countDistinct(col("_id")).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("_k"))
    val kept = lines.join(repeated, trim(col("_line")) === col("_k"), "left_anti")
    val rebuilt = kept.groupBy(col("_id"))
      .agg(
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
            s => s.getField("_line"))).as("_text2"),
        count(lit(1)).as("_n_kept"))
    base.select(col("_id"), size(col("_ls")).cast("long").as("_n_lines"))
      .join(rebuilt, Seq("_id"), "left")
      .select(
        col("_id").as(idCol),
        coalesce(col("_text2"), lit("")).as(textCol),
        coalesce(col("_n_kept"), lit(0L)).as("n_lines_kept"),
        (col("_n_lines") - coalesce(col("_n_kept"), lit(0L))).as("n_lines_dropped"))
  }

  /**
   * Cross-document repeated-span removal — the span-level member of the
   * dedup family (doc-level: [[graft.operators.Dedup]], line-level:
   * [[dedupLines]]). The exact-substring rule of Lee et al. 2022
   * ("Deduplicating Training Data Makes Language Models Better"): any run of
   * `windowTokens` consecutive tokens that appears verbatim in at least
   * `minDocs` DISTINCT documents is boilerplate (licenses, templated
   * paragraphs, quoted chains) and is cut from EVERY document containing it.
   * Token positions covered by at least one repeated window are dropped; the
   * survivors are reassembled in order, one row out per input document.
   *
   * Matching is whitespace-token-based and case-INSENSITIVE (the same
   * normalization as the MinHash/SimHash shingle paths — window keys come
   * from the native one-pass [[TextFunctions.shingles]] kernel); the rebuilt
   * text preserves the original token case, single-space joined. Window keys
   * are 128-bit (`unhex(md5)`) so hash collisions cannot merge distinct
   * spans even at 100 TB window cardinality (a 64-bit key would see birthday
   * collisions past ~4B windows and silently over-delete).
   *
   * Output: (idCol, textCol = rebuilt text, n_tokens_kept, n_tokens_dropped).
   *
   * Scale shape: window explode is narrow (one slim (id, pos, 16-byte key)
   * row per token); the repeated-window set is found by ONE aggregate keyed
   * on the window hash (high-cardinality, uniform — the corpus-sized
   * shuffle); the covered-position set explodes ONLY matched windows (small
   * for realistic dup rates; AQE broadcasts it when it fits), and one
   * groupBy(id) reassembles. No corpus-wide window function, no driver
   * state. The suffix-array machinery of the paper is replaced by the
   * fixed-width rolling window — the standard distributed approximation
   * (windows stepped by 1 ⇒ any shared run of ≥ `windowTokens` tokens is
   * caught; shorter shared runs are deliberately below the noise floor).
   *
   * Deliberate recompute-over-materialize: the window projection is built
   * twice (once under the repeated-set aggregate, once for the candidate
   * join) and the token positions once more — three pruned `(id, text)`
   * scans total. At corpus scale, re-reading compressed columnar text beats
   * both caching it uncompressed (MEMORY_AND_DISK spill ≥ corpus size) and
   * shuffling the per-token window rows to a sort-based single pass; the
   * same trade [[dedupLines]] makes.
   */
  def removeRepeatedSpans(docs: DataFrame, windowTokens: Int = 50, minDocs: Int = 2,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be >= 2")
    require(minDocs >= 2, "minDocs must be >= 2")
    val w = windowTokens
    // case-preserving token positions, normalized EXACTLY like the shingle
    // kernel: Java-trim first (strip ALL chars <= U+0020 at the string edges
    // — including non-\s controls like \u0001 that split("\\s+") would keep
    // as a spurious leading token, shifting every position), then split on
    // \s+. Without the edge strip, a doc starting with a control char gets
    // one extra token and every marked position cuts the wrong token.
    val javaTrimmed = regexp_replace(coalesce(col(textCol), lit("")),
      "^[\\x00-\\x20]+|[\\x00-\\x20]+$", "")
    val tsExpr = filter(split(javaTrimmed, "\\s+"), t => t =!= "")
    val wins = docs.select(col(idCol).as("_id"),
        posexplode(TextFunctions.shingles(col(textCol), w)).as(Seq("_w0", "_wstr")))
      .select(col("_id"), col("_w0"), unhex(md5(col("_wstr"))).as("_wh"))
    val repeated = wins.groupBy(col("_wh"))
      .agg(countDistinct(col("_id")).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("_wh"))
    val marked = wins.join(repeated, Seq("_wh"))
      .select(col("_id"),
        explode(sequence(col("_w0"), col("_w0") + lit(w - 1))).as("_pos"))
      .distinct()
    val toksPos = docs.select(col(idCol).as("_id"),
      posexplode(tsExpr).as(Seq("_pos", "_tok")))
    val rebuilt = toksPos.join(marked, Seq("_id", "_pos"), "left_anti")
      .groupBy(col("_id")).agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("_pos"), col("_tok")))),
            s => s.getField("_tok"))).as("_t2"),
        count(lit(1)).as("_kept"))
    docs.select(col(idCol).as("_id"), size(tsExpr).cast("long").as("_n"))
      .join(rebuilt, Seq("_id"), "left")
      .select(
        col("_id").as(idCol),
        coalesce(col("_t2"), lit("")).as(textCol),
        coalesce(col("_kept"), lit(0L)).as("n_tokens_kept"),
        (col("_n") - coalesce(col("_kept"), lit(0L))).as("n_tokens_dropped"))
  }

  /**
   * Intra-document repetition metrics (Gopher-style quality signals,
   * Rae et al. 2021 §A1.1): token count, distinct-token ratio, and the mass
   * fraction of the most frequent word / bigram. High top-fraction or low
   * distinct ratio flags boilerplate and degenerate repetition.
   * One explode + two-level aggregate per n-gram order; both shuffles are
   * keyed by (doc, gram) then doc — no skew beyond document length.
   */
  /** The Gopher "required words" rule list (Rae et al. 2021 §A1.1): a
    * document must contain at least `minStopwordHits` distinct words from
    * this set to count as English prose. */
  val RequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Explicit Gopher-style rule filter (Rae et al. 2021 §A1.1) — the
   * rule-per-column complement of the composite [[TextFunctions.qualityScore]]:
   * every signal is reported alongside its boolean verdict so a pipeline can
   * audit WHY a document was dropped, re-threshold without recomputing, and
   * aggregate per-rule drop rates. All signals are single-pass expressions
   * over the row (split / HOF / regexp — whole-stage codegen, no shuffle,
   * no UDF): the scan shape that holds at 100 TB.
   *
   * Rules (keep = AND of all):
   *  - `minWords <= n_words <= maxWords`
   *  - `minMeanWordLen <= mean_word_len <= maxMeanWordLen`
   *  - `symbol_word_ratio <= maxSymbolWordRatio` ('#' chars + '...' runs
   *    per word)
   *  - `bullet_line_frac <= maxBulletLineFrac` (lines starting `-`/`*`/`•`)
   *  - `ellipsis_line_frac <= maxEllipsisLineFrac` (lines ending `...`/`…`)
   *  - `alpha_word_frac >= minAlphaWordFrac` (words containing a letter)
   *  - `stopword_hits >= minStopwordHits` distinct [[RequiredWords]]
   */
  def gopherRules(docs: DataFrame,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolWordRatio: Double = 0.1,
                  maxBulletLineFrac: Double = 0.9,
                  maxEllipsisLineFrac: Double = 0.3,
                  minAlphaWordFrac: Double = 0.8,
                  minStopwordHits: Int = 2,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val ws = filter(split(text, "\\s+"), t => t =!= "")
    val nWords = size(ws).cast("long")
    val nWordsSafe = greatest(nWords, lit(1L)).cast("double")
    val meanWordLen = round(
      aggregate(ws, lit(0L), (acc, x) => acc + length(x)).cast("double") / nWordsSafe, 6)
    val hashCount = length(text) - length(regexp_replace(text, "#", ""))
    val ellipsisCount = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val symbolRatio = round((hashCount + ellipsisCount).cast("double") / nWordsSafe, 6)
    val lines = split(text, "\n")
    val nLinesSafe = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = round(
      size(filter(lines, l => ltrim(l).rlike("^[-*•]"))).cast("double") / nLinesSafe, 6)
    val ellipsisFrac = round(
      size(filter(lines, l => rtrim(l).rlike("(\\.\\.\\.|…)$"))).cast("double") / nLinesSafe, 6)
    val alphaFrac = round(
      size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") / nWordsSafe, 6)
    val stopHits = size(array_intersect(
      array_distinct(transform(ws, w => lower(w))),
      array(RequiredWords.map(lit): _*))).cast("long")
    docs.select(
        col(idCol),
        nWords.as("n_words"),
        meanWordLen.as("mean_word_len"),
        symbolRatio.as("symbol_word_ratio"),
        bulletFrac.as("bullet_line_frac"),
        ellipsisFrac.as("ellipsis_line_frac"),
        alphaFrac.as("alpha_word_frac"),
        stopHits.as("stopword_hits"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
        col("symbol_word_ratio") <= maxSymbolWordRatio &&
        col("bullet_line_frac") <= maxBulletLineFrac &&
        col("ellipsis_line_frac") <= maxEllipsisLineFrac &&
        col("alpha_word_frac") >= minAlphaWordFrac &&
        col("stopword_hits") >= minStopwordHits)
  }

  def repetitionMetrics(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    def topFrac(grams: DataFrame, as: String): DataFrame = grams
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum(col("c")).as(s"_n_$as"),
        max(col("c")).as(s"_top_$as"),
        count(lit(1)).as(s"_distinct_$as"))
    val words = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("g"))
      .filter(col("g") =!= "")
    val bigrams = docs.select(col(idCol),
      explode(TextFunctions.shingles(col(textCol), 2)).as("g"))
    topFrac(words, "w")
      .join(topFrac(bigrams, "b"), Seq(idCol), "left")
      .select(col(idCol),
        col("_n_w").as("n_words"),
        round(col("_distinct_w").cast("double") / col("_n_w"), 6)
          .as("distinct_word_ratio"),
        round(col("_top_w").cast("double") / col("_n_w"), 6)
          .as("top_word_frac"),
        round(coalesce(col("_top_b"), lit(0L)).cast("double") /
          greatest(coalesce(col("_n_b"), lit(0L)), lit(1L)), 6)
          .as("top_bigram_frac"))
  }
}
