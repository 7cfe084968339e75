package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/**
 * Scalar (SQ8) embedding quantization: per-vector min/max affine map to
 * 8-bit codes. At 100 TB of embeddings this is the difference between an
 * ANN corpus that fits executor memory and one that doesn't — 4× smaller
 * than float32 with a per-dimension reconstruction error bounded by half a
 * quantization step (`(max−min)/2·255`), which preserves cosine top-k
 * ordering for all but adversarially-close neighbors (re-rank survivors
 * against the float column when exactness matters).
 *
 * All column math uses built-in higher-order functions (codegen'd, no UDF);
 * this is a one-shot transformation pass, not a hot inner loop. Codes are
 * stored as `array<smallint>` (parquet has no unsigned byte; 0..255 fits).
 *
 * The gate (`quantize_embeddings`) emits the exactly-SQL-checkable per-vector
 * min/max plus a `recon_ok` boolean asserting every dimension reconstructs
 * within half a step — a broken scale or rounding flips the hash.
 */
object Quantization {

  /** (vec_id, codes: array<smallint>, q_min: double, q_scale: double). */
  def quantizeSQ8(embs: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val mn = array_min(v).cast("double")
    val mx = array_max(v).cast("double")
    // degenerate constant vector → scale 0; codes all 0, dequant returns mn
    val scale = when(mx > mn, (mx - mn) / lit(255.0)).otherwise(lit(0.0))
    embs.select(
      col(idCol),
      col(vecCol),
      mn.as("q_min"),
      scale.as("q_scale"))
      .withColumn("codes", transform(col(vecCol), x =>
        when(col("q_scale") === 0.0, lit(0))
          .otherwise(round((x.cast("double") - col("q_min")) / col("q_scale")))
          .cast("smallint")))
      .select(col(idCol), col("codes"), col("q_min"), col("q_scale"))
  }

  /** Reconstruct doubles from codes: `q_min + code × q_scale`. */
  def dequantize(codes: Column, qMin: Column, qScale: Column): Column =
    transform(codes, c => qMin + c.cast("double") * qScale)

  /** Reconstruct as `array<float>` — the element type the native
    * `vec_dot`/`vec_cosine` Catalyst expressions read in place, so a
    * quantized corpus scores through the same codegen'd path as floats. */
  def dequantizeF(codes: Column, qMin: Column, qScale: Column): Column =
    transform(codes, c => (qMin + c.cast("double") * qScale).cast("float"))

  /**
   * Persist the quantized corpus as the servable ANN artifact (codes +
   * per-vector affine params) sorted by id within files — at 100 TB this
   * table IS the search corpus; the float column stays in cold storage for
   * re-rank joins only. One [[SegmentStore]] save.
   */
  def saveQuantized(quantized: DataFrame, path: String,
                    idCol: String = "vec_id"): Unit =
    SegmentStore.write(quantized.sortWithinPartitions(col(idCol)), path, replace = true)

  /** Read a stored quantized corpus back; schema (id, codes, q_min, q_scale). */
  def loadQuantized(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    SegmentStore.load(spark, path, "quantized corpus")

  /** Max per-dimension |original − reconstructed| for a quantized row joined
    * back to its float vector — the audit column the gate bounds. */
  def reconstructionError(vec: Column, codes: Column, qMin: Column, qScale: Column): Column =
    aggregate(
      zip_with(vec, dequantize(codes, qMin, qScale),
        (x, d) => abs(x.cast("double") - d)),
      lit(0.0), (acc, e) => greatest(acc, e))

  // ------------------------------------------------------------ product (PQ)

  /** PQ codebook tensor: `m` subspaces × `ksub` centroids × `subDim` floats
    * — driver/broadcast-small by construction (m·ksub·subDim = one codebook
    * per corpus, KBs). */
  final case class PqCodebooks(m: Int, subDim: Int, books: Seq[Seq[Seq[Float]]])

  /**
   * Deterministic PQ codebooks: the `ksub` hash-order-sampled corpus vectors
   * (same stable pick as the IVF coarse quantizer — smallest
   * `md5(cast(id as string))`, reproducible across runs/layouts and
   * replayable in any engine with md5) sliced into `m` contiguous
   * subspaces, optionally refined by `kmeansIters` bounded Lloyd iterations.
   *
   * `kmeansIters = 0` (default) returns the raw sample — bit-identical to
   * the historical behavior, zero extra corpus passes. Refinement trains on
   * a BOUNDED deterministic sample — the first `ksub × trainPerCentroid`
   * vectors of the same md5 order the seed uses (the seed is its prefix) —
   * collected ONCE; the iterations then run entirely driver-side over that
   * sample (assignment replicates the `vec_pq_encode` kernel: per-subspace
   * L2 argmin, ties → lower code). At 100 TB this is the difference between
   * `iters` full corpus scans and ONE top-k pass: full scans are spent on
   * ENCODING only, never on codebook training. Centroid updates are the
   * exact-decimal mean (each value quantized to `Decimal(18,12)` exactly as
   * the historical Spark aggregate did, summed as BigDecimal — order-free,
   * so the result is independent of corpus partitioning and bit-identical
   * to the former cluster-side aggregate on the same training multiset);
   * empty cells keep their previous centroid, the standard Lloyd convention.
   */
  def buildPqCodebooks(corpus: DataFrame, m: Int, ksub: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       kmeansIters: Int = 0, trainPerCentroid: Int = 100): PqCodebooks = {
    // null/NaN/Inf vectors cannot seed or train a codebook (a null in the
    // sample would NPE the collect; a NaN would poison every centroid mean)
    val clean = corpus.filter(VectorFunctions.isFiniteVec(col(vecCol)))
    val cap = if (kmeansIters > 0) math.max(ksub, ksub * trainPerCentroid) else ksub
    val train = clean.select(col(idCol), col(vecCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(cap)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    val sample = train.take(ksub)
    require(sample.nonEmpty, "PQ codebook sample is empty")
    val dim = sample(0).length
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val seed = PqCodebooks(m, sub,
      (0 until m).map(mi => sample.toSeq.map(v => v.slice(mi * sub, (mi + 1) * sub).toSeq)))
    (0 until kmeansIters).foldLeft(seed)((b, _) => lloydStepPqLocal(train, b))
  }

  /** One driver-side Lloyd iteration over PQ codebooks for the bounded
    * training sample: per-subspace L2 argmin assignment (same metric, same
    * lower-code tie-break and same zero-padding as the codegen'd
    * `vec_pq_encode` kernel that later encodes the corpus) → exact-decimal
    * per-(subspace, code, dim) mean. O(|train| · ksub · dim) driver work —
    * bounded by the sample cap, never by the corpus. */
  private def lloydStepPqLocal(train: Array[Array[Float]], books: PqCodebooks): PqCodebooks = {
    val sub = books.subDim
    val m = books.m
    val bookArr = books.books.map(_.map(_.toArray).toArray).toArray
    val sums = Array.fill(m, bookArr(0).length, sub)(java.math.BigDecimal.ZERO)
    // counts are PER (subspace, code, dim): a vector shorter than the span
    // contributes nothing to its missing dims — matching the historical
    // slice+posexplode aggregate, where such dims produced no row (the
    // zero-padding below applies to ASSIGNMENT only, like vec_pq_encode)
    val counts = Array.fill(m, bookArr(0).length, sub)(0L)
    train.foreach { v =>
      var off = 0
      var mi = 0
      while (mi < m) {
        val book = bookArr(mi)
        // assignment replicates VecKernels.pqEncode: L2 over the mi-th
        // contiguous subvector, zero-padded past the vector's end,
        // first-minimum-wins (ties → lower code)
        var best = 0
        var bd = Double.MaxValue
        var k = 0
        while (k < book.length) {
          val c = book(k)
          var d = 0.0
          var i = 0
          while (i < sub) {
            val qv = if (off + i < v.length) v(off + i).toDouble else 0.0
            val diff = qv - c(i).toDouble
            d += diff * diff
            i += 1
          }
          if (d < bd) { bd = d; best = k }
          k += 1
        }
        var i = 0
        while (i < sub && off + i < v.length) {
          sums(mi)(best)(i) =
            sums(mi)(best)(i).add(LloydMath.toDecimal12(v(off + i).toDouble, "PQ"))
          counts(mi)(best)(i) += 1L
          i += 1
        }
        off += sub
        mi += 1
      }
    }
    PqCodebooks(m, sub,
      books.books.zipWithIndex.map { case (book, mi) =>
        book.zipWithIndex.map { case (cent, ki) =>
          cent.zipWithIndex.map { case (prev, d) =>
            val n = counts(mi)(ki)(d)
            if (n == 0L) prev
            else (sums(mi)(ki)(d).doubleValue() / n).toFloat
          }
        }
      })
  }

  /** The codebook tensor as a literal column for the codegen'd
    * `vec_pq_encode` / `vec_pq_cosine` kernels. */
  def pqBooksLiteral(b: PqCodebooks): Column = typedLit(b.books)

  /**
   * PQ-encode a corpus: (idCol, pq_codes array<int>). With m=8, ksub≤256
   * this is 8 bytes per vector — 32× smaller than a 64-dim float32 row; at
   * 100 TB of embeddings the codes table is what a scan actually reads.
   * One codegen'd expression per row, no UDF boundary.
   */
  def encodePq(embs: DataFrame, books: PqCodebooks,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embs.filter(VectorFunctions.isFiniteVec(col(vecCol))) // null/NaN/Inf vectors have no codes
      .select(col(idCol),
        VectorFunctions.pqEncode(col(vecCol), pqBooksLiteral(books))
          .as("pq_codes"))

  /** Persist a PQ index: the code table (id-sorted within files) plus the
    * codebook tensor, as one [[SegmentStore]] save ([[indexTable]]). At
    * serving time the code table IS the ANN scan; the codebooks reload into
    * a literal. */
  def savePq(encoded: DataFrame, books: PqCodebooks, path: String,
             idCol: String = "vec_id"): Unit =
    saveIndex(indexTable("codes", encoded, Nil, Some(books))
      .sortWithinPartitions(col("component"), col("list_id"), col(idCol)), path, replace = true)

  /** Read a stored PQ index back: (code table, codebooks). */
  def loadPq(spark: org.apache.spark.sql.SparkSession,
             path: String): (DataFrame, PqCodebooks) = {
    val index = SegmentStore.load(spark, path, "PQ index")
    val books = quantizers(index, path)._2
    require(books.nonEmpty, s"no PQ codebooks at $path — empty or corrupt index artifact")
    (rowsOf(index, "codes").drop("list_id"), books.get)
  }

  // ------------------------------------------------------ stored ANN indexes

  /** The `list_id` of the rows that belong to no IVF list: a partition
    * value is never null, because the loader casts directory names to int
    * and the null directory name does not cast. */
  private val NoList = -1

  /** Columns owned by the quantizer rows of a stored index. */
  private val QuantizerColumns = Seq("m_idx", "k_idx", "centroid")

  /**
   * A PQ, IVF or IVF-PQ index as ONE table, the rows of each component
   * discriminated by the `component` partition column and partitioned by
   * `list_id`: the indexed rows (`codes` or `assigned`) with their own
   * columns and their IVF list (PQ codes, which have none, and the
   * quantizers sit under [[NoList]]), the coarse quantizer as `centroids`
   * rows (k_idx = list id, centroid) and the PQ codebooks as `books` rows
   * (m_idx, k_idx, centroid). A row's columns outside its component are
   * null. One table is one store commit: the codes and the quantizers they
   * were encoded with are published together or not at all, and a probe
   * still prunes the code files to its lists.
   */
  private[graft] def indexTable(name: String, rows: DataFrame, centroids: Seq[(Int, Array[Float])],
                                books: Option[PqCodebooks]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val quantizer =
      (centroids.map { case (li, c) => ("centroids", Option.empty[Int], li, c.toSeq) } ++
        books.toSeq.flatMap(_.books.zipWithIndex.flatMap { case (book, mi) =>
          book.zipWithIndex.map { case (c, ki) => ("books", Option(mi), ki, c) }
        })).toDF("component" +: QuantizerColumns: _*).withColumn("list_id", lit(NoList))
    val listed = if (rows.columns.contains("list_id")) rows else rows.withColumn("list_id", lit(NoList))
    listed.withColumn("component", lit(name))
      .unionByName(quantizer.coalesce(1), allowMissingColumns = true)
  }

  /** Commit an [[indexTable]] as a save (`replace`) or an append of `path`. */
  private[graft] def saveIndex(table: DataFrame, path: String, replace: Boolean): Unit =
    SegmentStore.write(table, path, replace, partitionBy = Seq("component", "list_id"))

  /** The `name` rows of a loaded index, with their own columns and
    * `list_id`; the component predicate prunes the other files at planning. */
  private[graft] def rowsOf(index: DataFrame, name: String): DataFrame =
    index.filter(col("component") === name).drop("component" +: QuantizerColumns: _*)

  /** Both quantizers of a loaded index in one bounded collect: the coarse
    * centroids by list id (empty when it has none) and the PQ codebooks
    * (None when it has none), validated. */
  private[graft] def quantizers(index: DataFrame, path: String)
      : (Array[(Int, Array[Float])], Option[PqCodebooks]) = {
    val rows = index.filter(col("component").isin("centroids", "books"))
      .select(col("component"), col("m_idx"), col("k_idx"), col("centroid")).collect()
    val cents = rows.filter(_.getString(0) == "centroids")
      .map(r => (r.getInt(2), r.getSeq[Float](3).toArray)).sortBy(_._1)
    val cells = rows.filter(_.getString(0) == "books")
      .map(r => (r.getInt(1), r.getInt(2), r.getSeq[Float](3))).sortBy(r => (r._1, r._2))
    val books = if (cells.isEmpty) None else {
      val bs = cells.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._3).toSeq)
      val subDims = bs.flatMap(_.map(_.length)).distinct
      require(subDims.size == 1,
        s"PQ codebooks at $path are ragged: centroid dims ${subDims.mkString(",")}")
      Some(PqCodebooks(bs.length, subDims.head, bs))
    }
    (cents, books)
  }
}

/**
 * Exact-decimal arithmetic shared by the driver-side Lloyd refinements
 * ([[Quantization.buildPqCodebooks]], [[Similarity.buildIvfIndex]]): each
 * training value is quantized to `Decimal(18,12)` with HALF_UP rounding —
 * the same conversion Spark's `cast(x as decimal(18,12))` applied when the
 * refinement ran as a cluster-side aggregate — so centroid means are
 * order-free, partition-independent, and bit-identical to the historical
 * aggregate on the same training multiset.
 */
private[operators] object LloydMath {
  /** `Decimal(18,12)` quantization of a training value; values with
    * |x| ≥ 1e6 exceed the compact-decimal range and are rejected loudly
    * (the cluster-side cast produced NULL there, which was counted and
    * rejected the same way). `valueOf` (= `Double.toString`, the shortest
    * decimal representation) mirrors Spark's `Decimal.set(double)` exactly —
    * the exact-binary-expansion constructor could round differently at the
    * 12th decimal place. */
  def toDecimal12(x: Double, family: String): java.math.BigDecimal = {
    require(math.abs(x) < 1e6,
      s"$family Lloyd refinement: embedding value $x exceeds the " +
        "compact-decimal range (|x| < 1e6) — normalize embeddings before " +
        "k-means refinement")
    java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP)
  }
}
