package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/**
 * Similarity search over an embedding column (driver brief / SURVEY.md §7.2
 * M6): brute-force cosine top-k as the exact baseline, and an LSH-bucketed
 * approximate variant as the 100 TB scale path.
 *
 * Scale notes:
 *  - Brute force is a broadcast (queries are few) × scan (corpus is huge)
 *    nested-loop — embarrassingly parallel, no shuffle until the final
 *    per-query top-k (tiny). Correct but O(|Q|·|C|).
 *  - The SRP-LSH variant turns candidate generation into an equi-join on
 *    bucket keys — per-query cost ∝ bucket size, not corpus size. Recall is
 *    tunable via `nBits`/`probes` (fewer bits → bigger buckets → higher
 *    recall, more compute).
 */
object Similarity {

  /**
   * Exact cosine top-k: for each query vector (id ∈ `queryFilter` rows of the
   * same table, or a separate small DataFrame) return the `k` most similar
   * corpus vectors (excluding self-matches). The query side is broadcast.
   *
   * Ranking is on cosine rounded to 6 decimals with id tie-break, so the
   * result set is fully deterministic (fp-noise-proof) across engines/plans.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
    val q = queries.filter(VectorFunctions.isFiniteVec(col(vecCol))) // non-finite query -> no rows
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos", round(VectorFunctions.cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
  }

  /**
   * Exact-shape top-k over an SQ8-QUANTIZED corpus ([[Quantization]]): the
   * scan carries int8 codes (4× fewer bytes than float32 — at 100 TB of
   * embeddings this is what keeps the corpus executor-resident), scoring
   * cosine over the per-vector affine reconstruction through the same
   * codegen'd vector expressions as the float path. Ranking error is
   * bounded by the reconstruction error (≤ half a quantization step per
   * dimension); gate `ann_sq8_recall` holds recall@5 vs the float baseline.
   */
  def quantizedTopK(corpusQ: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpusQ.select(col(idCol).as("cid"),
      Quantization.dequantizeF(col("codes"), col("q_min"), col("q_scale")).as("cv"))
    val q = queries.filter(VectorFunctions.isFiniteVec(col(vecCol))) // non-finite query -> no rows
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos", round(VectorFunctions.cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
  }

  /**
   * Approximate top-k over a PQ-ENCODED corpus ([[Quantization.encodePq]]):
   * the scan reads `m` small-int codes per vector (with m=8 that is 32×
   * fewer bytes than 64-dim float32 — at 100 TB the difference between a
   * memory-resident code table and an IO-bound float scan), scored by the
   * codegen'd asymmetric cosine (`vec_pq_cosine`: full-precision query ×
   * reconstructed corpus, no UDF, no reconstruction materialized).
   *
   * `shortlist > 0` adds the standard second stage: keep the top
   * `shortlist` ADC candidates per query, join ONLY those back to the float
   * corpus (shortlist·|Q| rows — tiny vs the corpus), and re-rank exactly.
   * ADC error then only costs recall when a true top-k neighbor falls
   * outside the shortlist entirely; `ann_pq_recall` gates both stages.
   *
   * Ranking rounds to 6 decimals with id tie-break on both stages —
   * deterministic across engines/plans, like every other ANN path here.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 32, shortlist: Int = 0,
             idCol: String = "vec_id", vecCol: String = "embedding",
             kmeansIters: Int = 0): DataFrame = {
    val books = Quantization.buildPqCodebooks(corpus, m, ksub, idCol, vecCol, kmeansIters)
    pqQuery(Quantization.encodePq(corpus, books, idCol, vecCol), books,
      corpus, queries, k, shortlist, idCol, vecCol)
  }

  /**
   * Query a PRE-ENCODED (possibly [[Quantization.loadPq]]-restored) PQ
   * index: the serving-time path — encode once, persist, answer every later
   * query batch from the code table. `corpus` (float vectors) is only read
   * by the re-rank join and may be the cold-storage table; pass
   * `shortlist = 0` to skip re-rank entirely (no float access at all).
   */
  def pqQuery(encoded: DataFrame, books: Quantization.PqCodebooks,
              corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int = 0,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bl = Quantization.pqBooksLiteral(books)
    val enc = encoded.select(col(idCol).as("cid"), col("pq_codes"))
    val q = queries.filter(VectorFunctions.isFiniteVec(col(vecCol))) // non-finite query -> no rows
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid").asc)
    val adc = enc.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos", round(VectorFunctions.pqCosine(col("qv"), col("pq_codes"), bl), 6))
      .withColumn("rnk", row_number().over(w))
    if (shortlist <= 0)
      adc.filter(col("rnk") <= k).select(col("qid"), col("rnk"), col("cid"), col("cos"))
    else {
      val cand = adc.filter(col("rnk") <= math.max(shortlist, k))
        .select(col("qid"), col("qv"), col("cid"))
      cand.join(corpus.select(col(idCol).as("cid"), col(vecCol).as("cv")), Seq("cid"))
        .withColumn("cos", round(VectorFunctions.cosine(col("qv"), col("cv")), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("rnk"), col("cid"), col("cos"))
    }
  }

  /**
   * IVF-PQ: the production 100 TB ANN shape — IVF's coarse quantizer prunes
   * the scan to `nprobe/nlist` of the corpus (partition pruning on the
   * stored `list_id` layout), PQ codes shrink what that scan reads by ~32×,
   * ADC scores it inside codegen, and the float corpus is touched only by
   * the final shortlist re-rank join. Both quantizers are deterministic
   * hash-order samples, so the whole index is bit-reproducible from the
   * corpus alone.
   *
   * Cost per query batch: |corpus|·nprobe/nlist code rows scanned +
   * shortlist·|Q| float rows joined. Recall loses (a) neighbors outside the
   * probed lists (IVF term, gated by `ann_ivf_recall`'s probe-sweep) and
   * (b) neighbors ADC ranks below the shortlist (PQ term, gated by
   * `ann_pq_recall`); `ann_ivfpq_recall` gates the composition.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ksub: Int = 32, shortlist: Int = 20,
                idCol: String = "vec_id", vecCol: String = "embedding",
                kmeansIters: Int = 0): DataFrame = {
    val index = buildIvfIndex(corpus, nlist, idCol, vecCol, kmeansIters)
    val books = Quantization.buildPqCodebooks(corpus, m, ksub, idCol, vecCol, kmeansIters)
    val enc = index.assigned.select(col("cid"), col("list_id"),
      VectorFunctions.pqEncode(col("cv"), Quantization.pqBooksLiteral(books)).as("pq_codes"))
    ivfPqQuery(enc, index.centroids, books, corpus, queries, k, nprobe, shortlist,
      idCol, vecCol)
  }

  /**
   * Encode a corpus against EXISTING quantizers — the incremental-indexing
   * path: coarse assignment through the codegen'd centroid kernel plus PQ
   * codes, one narrow pass, NO quantizer rebuild. This is how new vectors
   * join a stored IVF-PQ artifact as the corpus grows ([[appendIvfPq]]),
   * and how a gate can honestly reuse one trained index across its query
   * paths instead of re-training identical quantizers per path.
   */
  def ivfPqEncode(corpus: DataFrame, centroids: Array[(Int, Array[Float])],
                  books: Quantization.PqCodebooks,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centsLit = centroidsLiteral(centroids)
    corpus.filter(VectorFunctions.isFiniteVec(col(vecCol)))
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
      .select(col("cid"),
        element_at(VectorFunctions.topCentroids(col("cv"), centsLit, 1), 1).as("list_id"),
        VectorFunctions.pqEncode(col("cv"), Quantization.pqBooksLiteral(books)).as("pq_codes"))
  }

  /** A persisted IVF-PQ index: PQ codes partitioned by IVF list (probe joins
    * prune partitions), both quantizers alongside. */
  final case class IvfPqIndex(centroids: Array[(Int, Array[Float])],
                              books: Quantization.PqCodebooks,
                              encoded: DataFrame)

  /** Build and persist the full IVF-PQ serving artifact in one corpus pass:
    * `(cid, list_id, pq_codes)` partitioned by `list_id` so a probe reads
    * nprobe/nlist of the files, plus the coarse centroids and PQ codebooks.
    * Both quantizers are deterministic hash-order samples — the artifact is
    * bit-reproducible from the corpus alone. */
  def saveIvfPq(corpus: DataFrame, path: String,
                nlist: Int = 16, m: Int = 8, ksub: Int = 32,
                idCol: String = "vec_id", vecCol: String = "embedding",
                kmeansIters: Int = 0): Unit = {
    val index = buildIvfIndex(corpus, nlist, idCol, vecCol, kmeansIters)
    val books = Quantization.buildPqCodebooks(corpus, m, ksub, idCol, vecCol, kmeansIters)
    saveIvfPqWith(index, books, path)
  }

  /** [[saveIvfPq]] from ALREADY-TRAINED quantizers — the persist half without
    * the training half, so a caller that holds a trained index/codebook pair
    * (a serve bench, a re-layout, a copy to a second cluster) can write the
    * artifact without re-running the Lloyd passes. One store commit: the
    * codes and both quantizers ([[Quantization.indexTable]]). */
  def saveIvfPqWith(index: IvfIndex, books: Quantization.PqCodebooks,
                    path: String): Unit =
    Quantization.saveIndex(Quantization.indexTable("codes",
      index.assigned.select(col("cid"), col("list_id"),
        VectorFunctions.pqEncode(col("cv"), Quantization.pqBooksLiteral(books)).as("pq_codes")),
      index.centroids, Some(books)), path, replace = true)

  /** Read a stored IVF-PQ index back: its quantizers in one bounded
    * collect, and its code table pinned to the newest commit. */
  def loadIvfPq(spark: org.apache.spark.sql.SparkSession, path: String): IvfPqIndex = {
    val index = SegmentStore.load(spark, path, "IVF-PQ index")
    val (cents, books) = ivfPqQuantizers(index, path)
    IvfPqIndex(cents, books, Quantization.rowsOf(index, "codes"))
  }

  private def ivfPqQuantizers(index: DataFrame, path: String)
      : (Array[(Int, Array[Float])], Quantization.PqCodebooks) = {
    val (cents, books) = Quantization.quantizers(index, path)
    require(cents.nonEmpty && books.nonEmpty,
      s"no IVF centroids or PQ codebooks at $path — empty or corrupt index artifact")
    (cents, books.get)
  }

  /** The quantizers of the IVF-PQ index at `path`, collected once per
    * base commit ([[SegmentStore.BaseMemo]]): an [[appendIvfPq]] keeps
    * them, a save or a re-cluster reloads them. Each `current()` returns
    * them with a frame over the same commit, whose code rows
    * ([[Quantization.rowsOf]]) a request or an epoch then reads, so codes
    * and centroids always come from one save. */
  private[graft] def quantizerMemo(spark: org.apache.spark.sql.SparkSession, path: String)
      : SegmentStore.BaseMemo[(Array[(Int, Array[Float])], Quantization.PqCodebooks)] =
    new SegmentStore.BaseMemo(spark, path, "IVF-PQ index", ivfPqQuantizers(_, path))

  /** Grow a stored IVF-PQ index: encode `vectors` against the index's own
    * quantizers ([[ivfPqEncode]] — no retraining, one narrow pass) and
    * commit the codes as one store append, one file per list. Readers see
    * the new codes from their next load ([[loadIvfPq]], the streamed
    * server's next epoch). */
  def appendIvfPq(vectors: DataFrame, path: String,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val index = loadIvfPq(vectors.sparkSession, path)
    Quantization.saveIndex(Quantization.indexTable("codes",
      ivfPqEncode(vectors, index.centroids, index.books, idCol, vecCol).repartition(col("list_id")),
      Nil, None), path, replace = false)
  }

  /**
   * LIST-BALANCE drift stats of a persisted IVF-PQ artifact — the
   * maintenance trigger for an index grown by [[appendIvfPq]]:
   * appended vectors are assigned by quantizers trained on an OLDER
   * corpus snapshot, so a drifted ingest distribution piles into a few
   * lists, and an oversized list is a probe-cost blowup (every query
   * probing it ADC-scores the whole pile) AND a recall risk (its
   * centroid no longer represents its members). One row:
   * `(n_lists, n_codes, max_list_rows, balanced_target, n_oversized)`
   * where `balanced_target = ceil(n_codes / n_lists)` and a list is
   * oversized when its row count exceeds `oversizeFactor ×` that target.
   * Reads ONLY the artifact (per-list counts — one KB-bounded
   * aggregate), never the corpus.
   */
  def ivfPqListStats(spark: org.apache.spark.sql.SparkSession, path: String,
                     oversizeFactor: Double = 2.0): DataFrame = {
    require(oversizeFactor > 1.0,
      s"ivfPqListStats: oversizeFactor must be > 1, got $oversizeFactor")
    val index = loadIvfPq(spark, path)
    val nLists = index.centroids.length
    // per-list counts are bounded by nlist rows — the codebook-collect
    // discipline: model-sized state driver-side, corpus never touched
    val counts = index.encoded
      .groupBy(col("list_id")).agg(count(lit(1)).as("cnt"))
      .collect().map(_.getLong(1))
    val nCodes = counts.sum
    val target = if (nCodes == 0L) 0L else (nCodes + nLists - 1) / nLists
    import spark.implicits._
    Seq((nLists.toLong, nCodes,
        if (counts.isEmpty) 0L else counts.max, target,
        counts.count(_ > oversizeFactor * target).toLong))
      .toDF("n_lists", "n_codes", "max_list_rows", "balanced_target",
        "n_oversized")
  }

  /**
   * Index MAINTENANCE under append drift: when [[ivfPqListStats]] finds
   * any oversized list, retrain both quantizers from the CURRENT corpus
   * and save the re-clustered index into the same store (re-clustering
   * re-balances every list at once — re-splitting single lists would
   * leave the PQ codebooks trained on the stale distribution too);
   * otherwise do nothing. Returns whether the save ran. The new index's
   * GEOMETRY (nlist, m, ksub) is READ FROM the stored index itself —
   * centroid count and stored codebook shape — never trusted from caller
   * defaults, so a parameter-omitting call cannot change the geometry
   * serving sees. The production cadence: ingest appends via
   * [[appendIvfPq]] (cheap, no retraining) and this runs out-of-band; the
   * save is one commit, readers loaded before keep the old index for the
   * store's grace, and the servers reload the quantizers once
   * ([[quantizerMemo]]).
   */
  def maintainIvfPq(spark: org.apache.spark.sql.SparkSession,
                    path: String, corpus: DataFrame,
                    oversizeFactor: Double = 2.0,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    kmeansIters: Int = 0): Boolean = {
    val oversized = ivfPqListStats(spark, path, oversizeFactor)
      .collect()(0).getAs[Long]("n_oversized")
    if (oversized == 0L) false
    else {
      val index = loadIvfPq(spark, path)
      saveIvfPq(corpus, path, index.centroids.length, index.books.m,
        index.books.books.head.length, idCol, vecCol, kmeansIters)
      true
    }
  }

  /** Query a PRE-ENCODED (possibly [[loadIvfPq]]-restored) IVF-PQ index —
    * the serving path: probe `nprobe` lists (partition-pruned on the stored
    * layout), ADC-score their codes, exact-re-rank the shortlist against
    * the float corpus (cold storage; only shortlist·|Q| rows read).
    *
    * `excludeSelf` (default true) drops the corpus row whose id equals the
    * query id — correct when queries are drawn FROM the corpus (every gate
    * here). Pass false when query ids live in a separate id space (external
    * clients): with the default, a client query whose id happens to collide
    * with a corpus id would silently never be answered with that row.
    *
    * Non-finite query vectors (null/NaN/Inf) produce NO answer rows rather
    * than garbage: a NaN query scores NaN against every candidate, and NaN
    * sorts above all values, so k arbitrary rows would otherwise come back
    * looking legitimate. Callers detect the drop by the absent qid. */
  def ivfPqQuery(encoded: DataFrame, centroids: Array[(Int, Array[Float])],
                 books: Quantization.PqCodebooks,
                 corpus: DataFrame, queries: DataFrame, k: Int,
                 nprobe: Int = 4, shortlist: Int = 20,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 excludeSelf: Boolean = true): DataFrame = {
    val centsLit = centroidsLiteral(centroids)
    val bl = Quantization.pqBooksLiteral(books)
    val q = queries.filter(VectorFunctions.isFiniteVec(col(vecCol)))
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("list_id",
        explode(VectorFunctions.topCentroids(col("qv"), centsLit, nprobe)))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid").asc)
    val cand = encoded.join(q, Seq("list_id"))
      .filter(if (excludeSelf) col("cid") =!= col("qid") else lit(true))
      .withColumn("cos", round(VectorFunctions.pqCosine(col("qv"), col("pq_codes"), bl), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= math.max(shortlist, k))
      .select(col("qid"), col("qv"), col("cid"))
    cand.join(corpus.select(col(idCol).as("cid"), col(vecCol).as("cv")), Seq("cid"))
      .withColumn("cos", round(VectorFunctions.cosine(col("qv"), col("cv")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
  }

  /**
   * Approximate top-k via signed-random-projection buckets: candidates =
   * corpus vectors sharing the query's SRP bucket under any of `probes`
   * independent hash tables; exact cosine re-rank within candidates.
   * Misses are possible (approximate); at 100 TB the bucket join replaces the
   * full scan.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nBits: Int = 8, probes: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def withBuckets(df: DataFrame, id: String, v: String): DataFrame =
      df.filter(VectorFunctions.isFiniteVec(col(vecCol))) // NaN cos would rank first
        .select(col(idCol).as(id), col(vecCol).as(v))
        .withColumn("tb", explode(array((0 until probes).map { t =>
          struct(lit(t).as("table"),
            // per-table independent hyperplane family, selected by seed
            VectorFunctions.srpBucket(col(v), nBits, dim, seed = t).as("bucket"))
        }: _*)))
        .select(col(id), col(v), col("tb.table"), col("tb.bucket"))

    val c = withBuckets(corpus, "cid", "cv")
    val q = withBuckets(queries, "qid", "qv")
    val cand = c.join(q, Seq("table", "bucket"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("qv"), col("cid"), col("cv")).distinct()
    cand
      .withColumn("cos", round(VectorFunctions.cosine(col("qv"), col("cv")), 6))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid").asc)))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
  }

  /** Per-vector L2 norm table (useful for normalize-once-then-dot at scale). */
  def norms(embs: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embs.select(col(idCol), round(VectorFunctions.norm2(col(vecCol)), 6).as("norm"))

  /**
   * IVF-style approximate top-k: an inverted-file index with `nlist` coarse
   * centroids. Centroids are a deterministic sample of the corpus (the
   * `nlist` vectors with smallest md5(id) — stable across runs); each
   * corpus vector is assigned to its nearest centroid (cosine); a query
   * probes its `nprobe` nearest centroids and re-ranks those lists exactly.
   *
   * Only the nlist×dim centroid table touches the driver (tiny, the
   * IVF coarse quantizer is driver/broadcast state by construction);
   * assignment and search are narrow maps + an equi-join on `list_id` —
   * per-query cost ∝ corpus/nlist·nprobe, not corpus.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              kmeansIters: Int = 0): DataFrame =
    ivfQuery(buildIvfIndex(corpus, nlist, idCol, vecCol, kmeansIters), queries, k, nprobe,
      idCol, vecCol)

  /**
   * A built IVF index: the tiny coarse quantizer (`centroids`, broadcast
   * state by construction) plus the assignment table `assigned(cid, cv,
   * list_id)`. The assignment pass — one scan of the corpus — is the
   * expensive part at 100 TB; building it ONCE and persisting via
   * [[saveIvfIndex]] (partitioned by `list_id`, so probes prune to
   * nprobe/nlist of the files) amortizes it across every later query batch.
   */
  final case class IvfIndex(centroids: Array[(Int, Array[Float])], assigned: DataFrame)

  /** Deterministic centroid pick (smallest `md5(cast(id as string))` —
    * stable across runs/layouts, and REPLAYABLE in any engine with md5:
    * the ann_ivf_topk DuckDB oracle recomputes the same pick, assignment
    * and probe from the parquet table alone), optionally refined by
    * `kmeansIters` bounded Lloyd iterations, + nearest-centroid assignment
    * of every corpus vector.
    * Assignment is the CORPUS-WIDE scan (the expensive pass at 100 TB), so
    * it runs through the codegen'd [[graft.plans.VecTopCentroids]]
    * expression over a literal centroid table — no UDF conversion per row.
    *
    * `kmeansIters = 0` (default) keeps the raw hash-order sample —
    * bit-identical to the historical behavior. Refinement trains on a
    * BOUNDED deterministic sample — the first `nlist × trainPerCentroid`
    * vectors of the same md5 order the seed uses (the seed is its prefix) —
    * collected ONCE; the iterations run entirely driver-side over it
    * (assignment replicates the `vec_top_centroids` kernel: cosine argmax,
    * ties → lower index). At 100 TB this turns `iters` corpus scans into
    * ONE top-k pass — the full corpus scan is spent on ASSIGNMENT only.
    * Centroid updates are exact-decimal means (order-free BigDecimal sums
    * of `Decimal(18,12)`-quantized values — partition-independent and
    * bit-identical to the historical cluster-side aggregate on the same
    * training multiset); empty lists keep their previous centroid. */
  def buildIvfIndex(corpus: DataFrame, nlist: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    kmeansIters: Int = 0, trainPerCentroid: Int = 100): IvfIndex = {
    // null/NaN/Inf vectors cannot be indexed: excluded from the seed pick
    // (a null in the first nlist hash-order rows would otherwise NPE the
    // collect; NaN cosine sorts above every value and would hijack
    // assignment), the Lloyd training sample and the assignment table
    val clean = corpus.filter(VectorFunctions.isFiniteVec(col(vecCol)))
    val cap = if (kmeansIters > 0) math.max(nlist, nlist * trainPerCentroid) else nlist
    val train: Array[Array[Float]] = clean
      .select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(cap)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    val seed: Array[(Int, Array[Float])] =
      train.take(nlist).zipWithIndex.map { case (v, i) => (i, v) }
    val cents = (0 until kmeansIters)
      .foldLeft(seed)((c, _) => lloydStepIvfLocal(train, c))
    IvfIndex(cents, assignIvf(corpus, cents, idCol, vecCol))
  }

  /** Nearest-centroid assignment table `(cid, cv, list_id)` for EXISTING
    * centroids — the narrow corpus pass of [[buildIvfIndex]] without the
    * training half (one codegen'd kernel scan, no driver state beyond the
    * centroid literal). This is how a cached/loaded coarse quantizer gets a
    * fresh assignment frame in a new session. */
  def assignIvf(corpus: DataFrame, centroids: Array[(Int, Array[Float])],
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centsLit = centroidsLiteral(centroids)
    corpus.filter(VectorFunctions.isFiniteVec(col(vecCol)))
      .select(col(idCol).as("cid"), col(vecCol).as("cv"))
      .withColumn("list_id",
        element_at(VectorFunctions.topCentroids(col("cv"), centsLit, 1), 1))
  }

  /**
   * Spherical k-means clustering as a FIRST-CLASS operator (the IVF coarse
   * quantizer reframed as the analysis product, not an index internal):
   * every finite vector with its cluster id and its cosine to the cluster
   * centroid — the per-corpus taxonomy/diagnostics table a curation
   * pipeline buckets, balances and drills into. Centroid pick is the
   * deterministic md5-order seed (engine-replayable — the DuckDB oracle
   * re-derives centroids, assignment AND the rounded cosine from the
   * parquet table alone at `kmeansIters = 0`), optionally Lloyd-refined
   * through the same bounded-sample machinery as [[buildIvfIndex]]
   * (refinement pinned separately by VectorExprSpec's non-inferiority law).
   *
   * Scale shape: training is one bounded md5-ordered collect + driver
   * Lloyd; assignment is one narrow codegen'd corpus scan against the
   * centroid literal + a broadcast join to a `nlist`-row centroid table —
   * no corpus shuffle anywhere.
   */
  def clusterAssignments(corpus: DataFrame, nlist: Int, kmeansIters: Int = 0,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val idx = buildIvfIndex(corpus, nlist, idCol, vecCol, kmeansIters)
    withCentroidCosine(idx.assigned, idx.centroids, idCol)
  }

  /** Attach each assigned row's rounded cosine to its centroid (broadcast
    * join to the nlist-row centroid table) — shared by the batch
    * [[clusterAssignments]] and the stateless streaming assignment path
    * ([[graft.streaming.StreamingClusterAssign]]); works unchanged on a
    * streaming `assigned` frame because every op is narrow. */
  private[graft] def withCentroidCosine(assigned: DataFrame,
                                        centroids: Array[(Int, Array[Float])],
                                        idCol: String): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cents = centroids.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("list_id", "ce")
    assigned.join(broadcast(cents), "list_id")
      .select(col("cid").as(idCol), col("list_id"),
        round(VectorFunctions.cosine(col("cv"), col("ce")), 6).as("cos_centroid"))
  }

  /** Per-cluster roll-up of [[clusterAssignments]] output: member count and
    * mean member-to-centroid cosine (the cluster-tightness signal that
    * flags junk clusters for re-curation). The mean is decimal-exact over
    * the rounded-6 cosines — sum as DECIMAL, one double division — so it is
    * partition-order-free and engine-replayable (the dsum convention). */
  def clusterSummary(assignments: DataFrame): DataFrame =
    assignments.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"),
        (sum(col("cos_centroid").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1))).as("mean_cos"))

  /** One driver-side Lloyd iteration over the coarse quantizer for the
    * bounded training sample: assign each sample vector to its nearest
    * centroid (cosine — the same metric, sequential-ascending double
    * accumulation and lower-index tie-break as the `vec_top_centroids`
    * kernel that later assigns the corpus), then move every centroid to the
    * exact-decimal mean of its list ([[LloydMath.toDecimal12]] — order-free,
    * bit-identical to the historical cluster-side aggregate). Rescaling a
    * centroid never changes cosine ranking, so the un-normalized mean is the
    * correct spherical-k-means update here. O(|train| · nlist · dim) driver
    * work — bounded by the sample cap, never by the corpus. */
  private def lloydStepIvfLocal(train: Array[Array[Float]],
                                cents: Array[(Int, Array[Float])]): Array[(Int, Array[Float])] = {
    val ordered = cents.sortBy(_._1).map(_._2)
    val n = ordered.length
    val dim = (train.iterator.map(_.length) ++ ordered.iterator.map(_.length))
      .foldLeft(0)(math.max)
    val sums = Array.fill(n, dim)(java.math.BigDecimal.ZERO)
    // counts are PER (list, dim): a vector shorter than the centroid span
    // contributes nothing to its missing dims — matching the historical
    // posexplode aggregate, where such dims simply produced no row
    val counts = Array.fill(n, dim)(0L)
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val m = math.min(a.length, b.length)
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) { d += a(i).toDouble * b(i).toDouble; i += 1 }
      i = 0; while (i < a.length) { val x = a(i).toDouble; na += x * x; i += 1 }
      i = 0; while (i < b.length) { val x = b(i).toDouble; nb += x * x; i += 1 }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else d / denom
    }
    train.foreach { v =>
      // first-max-wins (ties → lower index), matching VecKernels.topCentroids
      var best = -1
      var bs = Double.NegativeInfinity
      var c = 0
      while (c < n) {
        val s = cosine(v, ordered(c))
        if (best < 0 || s > bs) { best = c; bs = s }
        c += 1
      }
      var d = 0
      val lim = math.min(v.length, dim)
      while (d < lim) {
        sums(best)(d) = sums(best)(d).add(LloydMath.toDecimal12(v(d).toDouble, "IVF"))
        counts(best)(d) += 1L
        d += 1
      }
    }
    cents.map { case (li, prev) =>
      (li, prev.zipWithIndex.map { case (old, d) =>
        if (d >= dim || counts(li)(d) == 0L) old
        else (sums(li)(d).doubleValue() / counts(li)(d)).toFloat
      })
    }
  }

  /** The coarse quantizer as a literal array<array<float>> column (indices
    * implicit by position — `cents` is already 0..nlist-1 ordered).
    * `private[graft]` so the streaming serving path shares the exact same
    * literal construction. */
  private[graft] def centroidsLiteral(cents: Array[(Int, Array[Float])]): org.apache.spark.sql.Column =
    typedLit(cents.sortBy(_._1).map(_._2.toSeq).toSeq)

  /** Persist the index as one store commit ([[Quantization.indexTable]]):
    * the assignment rows partitioned by `list_id` (probe joins prune
    * partitions) and the centroids. */
  def saveIvfIndex(index: IvfIndex, path: String): Unit =
    Quantization.saveIndex(Quantization.indexTable("assigned", index.assigned,
      index.centroids, None), path, replace = true)

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val index = SegmentStore.load(spark, path, "IVF index")
    val cents = Quantization.quantizers(index, path)._1
    require(cents.nonEmpty, s"no IVF centroids at $path — empty or corrupt index artifact")
    IvfIndex(cents, Quantization.rowsOf(index, "assigned"))
  }

  /** Probe the query's `nprobe` nearest centroids and exactly re-rank those
    * inverted lists. Per-query cost ∝ corpus × nprobe / nlist. */
  /**
   * Maximal-marginal-relevance selection: greedily pick `k` pool items
   * maximizing `λ·rel − (1−λ)·max_{s∈selected} cos6(d, s)` — the diverse-
   * exemplar shape of curation (few-shot example picking, eval-set
   * selection, dedup-aware sampling): relevance alone returns k near-
   * copies of the best match; the marginal term forces coverage.
   *
   * Scale shape: the selected set is MODEL-sized driver state (≤ k vectors
   * — the Lloyd-codebook discipline). Each of the k steps is ONE narrow
   * scan of the (cached) candidate pool — the relevance column plus
   * `greatest()` over the ≤ k inlined selected vectors, all through the
   * codegen'd [[VectorFunctions.cosine]] kernel — and a driver-side argmax
   * (`orderBy.limit(1)`, one row). No shuffle, no pairwise pool join. At
   * 100 TB the pool is a pre-filtered top-N candidate set (e.g. an ANN
   * result), never the raw corpus.
   *
   * Determinism: cosines rounded to 6 like every ANN path, ties → lower
   * id; the score `round6(λ·rel − (1−λ)·maxSim)` is plain IEEE arithmetic
   * on round-6 values, so a DuckDB oracle replays every selection step.
   * Returns (rnk, id, score) in selection order — rank 1's score is the
   * raw relevance (nothing selected yet).
   */
  def mmrSelect(pool: DataFrame, queryVec: Array[Float], k: Int,
                lambda: Double = 0.5,
                idCol: String = "vec_id", vecCol: String = "embedding",
                maxK: Int = 128): DataFrame = {
    require(k >= 1, s"mmrSelect: k must be >= 1, got $k")
    // Bounded-k contract, enforced (round-10 verdict #4): step j inlines
    // the j selected vectors as typedLits inside a greatest(...) chain, so
    // the plan grows O(k·dim) literals — fine for the documented use (pool
    // = ANN top-N shortlist, k in the tens), a codegen/analysis blow-up at
    // k in the hundreds. Misuse fails loudly instead of grinding; raise
    // maxK deliberately if a caller really wants a wider reranked slate.
    require(k <= maxK,
      s"mmrSelect: k=$k exceeds maxK=$maxK — the greedy plan inlines k " +
        "selected vectors per step (O(k*dim) literals); MMR is a rerank " +
        "over an ANN shortlist, not a corpus selector. Raise maxK explicitly " +
        "if a wider slate is intended")
    require(lambda > 0.0 && lambda <= 1.0,
      s"mmrSelect: lambda must be in (0, 1], got $lambda")
    require(queryVec.nonEmpty && queryVec.forall(x => !x.isNaN && !x.isInfinite),
      "mmrSelect: query vector must be non-empty and finite")
    val spark = pool.sparkSession
    import spark.implicits._
    val base = pool
      .filter(VectorFunctions.isFiniteVec(col(vecCol)) && size(col(vecCol)) === queryVec.length)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("e"),
        round(VectorFunctions.cosine(col(vecCol), typedLit(queryVec.toSeq)), 6).as("rel"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val selIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val selVecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
      var step = 1
      var exhausted = false
      while (step <= k && !exhausted) {
        val score =
          if (selVecs.isEmpty) col("rel")
          else {
            val sims = selVecs.toSeq.map(v =>
              round(VectorFunctions.cosine(col("e"), typedLit(v)), 6))
            val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
            round(lit(lambda) * col("rel") - lit(1.0 - lambda) * maxSim, 6)
          }
        val cand = (if (selIds.isEmpty) base else base.filter(!col("id").isin(selIds.toSeq: _*)))
          .select(col("id"), col("e"), score.as("s"))
          .orderBy(col("s").desc, col("id"))
          .limit(1).collect()
        if (cand.isEmpty) exhausted = true
        else {
          val r = cand(0)
          selIds += r.getLong(0)
          selVecs += r.getSeq[Float](1)
          out += ((step, r.getLong(0), r.getDouble(2)))
          step += 1
        }
      }
      out.toSeq.toDF("rnk", "id", "score").orderBy(col("rnk"))
    } finally base.unpersist()
  }

  def ivfQuery(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centsLit = centroidsLiteral(index.centroids)
    val q = queries.filter(VectorFunctions.isFiniteVec(col(vecCol))) // non-finite query -> no rows
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("list_id",
        explode(VectorFunctions.topCentroids(col("qv"), centsLit, nprobe)))
    index.assigned.join(q, Seq("list_id"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos", round(VectorFunctions.cosine(col("qv"), col("cv")), 6))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("cid").asc)))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
  }

  /**
   * Per-label embedding outliers: the `topK` vectors FARTHEST (squared
   * Euclidean) from their label's centroid — the mislabeled-example /
   * contamination triage every labeled embedding corpus runs before
   * training. Output: (label, rnk, vec_id, sq_dist_units, sq_dist),
   * rnk 1 = farthest.
   *
   * Exactness (the [[Pca]] long-units discipline end to end): values are
   * 6-decimal-quantized and carried as EXACT 1e-6-unit int64s; the
   * centroid is the half-up-rounded unit mean via the pure-floor formula
   * `⌊(2Σq + n) / 2n⌋` (floor of an IEEE-identical double division — no
   * engine-specific tie behavior); distances are plain long
   * `Σ (q−m)²` (≤ d·(2·10⁷)² ≈ 2.6·10¹⁶ ≪ 2⁶³ for unit-scale
   * embeddings), so every ranking comparison is integer-exact and the
   * whole result replays in DuckDB.
   *
   * Scale shape: ONE corpus-×-d shuffle builds the (label, i) centroid
   * grid (map-side partials); centroids collapse to |labels| ARRAY rows
   * broadcast back; the distance is an in-row zip_with/aggregate fold
   * over one narrow scan (no second wide shuffle); the final top-k runs
   * on the custom heap-based [[graft.plans.TopK]] operator (no
   * per-partition sort). The quantized corpus frame is persisted across
   * its two necessary passes (centroid + distance — fork severing).
   */
  def labelOutliers(embs: DataFrame, dim: Int = 64, topK: Int = 5,
                    vecCol: String = "embedding",
                    labelCol: String = "label",
                    idCol: String = "vec_id"): DataFrame = {
    require(dim > 0, s"labelOutliers: dim must be > 0, got $dim")
    require(topK >= 1, s"labelOutliers: topK must be >= 1, got $topK")
    val clean = embs
      .filter(VectorFunctions.isFiniteVec(col(vecCol)) &&
        size(col(vecCol)) === dim)
      .select(col(idCol), col(labelCol).as("label"),
        transform(col(vecCol),
          x => round(round(x.cast("double"), 6) * lit(1e6), 0).cast("long"))
          .as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPer = clean.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val cents = clean
      .select(col("label"), posexplode(col("e")).as(Seq("i", "q")))
      .groupBy(col("label"), col("i")).agg(sum(col("q")).as("s"))
      .join(nPer, Seq("label"))
      .select(col("label"), col("i"),
        floor((lit(2.0) * col("s") + col("n")) / (lit(2.0) * col("n")))
          .cast("long").as("m"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("cent"))
    val scored = clean.join(broadcast(cents), Seq("label"))
      .withColumn("sq_dist_units",
        aggregate(zip_with(col("e"), col("cent"),
          (q, m) => (q - m) * (q - m)), lit(0L), (acc, x) => acc + x))
      .select(col("label"), col(idCol), col("sq_dist_units"),
        (col("sq_dist_units").cast("double") / lit(1e12)).as("sq_dist"))
    graft.plans.TopK.perKey(scored, topK, Seq(col("label")),
      Seq(col("sq_dist_units").desc, col(idCol).asc))
      .select(col("label"), col("rnk"), col(idCol),
        col("sq_dist_units"), col("sq_dist"))
  }
}
