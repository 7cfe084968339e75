package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Dense-vector column math over `array<float>` embedding columns
 * (TESTDATA.md `embeddings.parquet`) — evaluated per-row on executors, no
 * driver involvement.
 *
 * Implementation: native codegen'd Catalyst expressions (`graft.plans`)
 * running a primitive loop over the float arrays. The equivalent
 * `zip_with`/`aggregate` higher-order expressions measured ~50× slower (per-
 * element expression interpretation + array allocation per row) than even
 * a Scala UDF doing that loop. Arithmetic is promoted to
 * DOUBLE (float32 inputs are exact in float64) and accumulated left-to-right
 * in ascending index order, so results are bit-reproducible across engines —
 * required for DuckDB-oracle parity and stable top-k ranking.
 */
object VectorFunctions {

  import org.apache.spark.sql.graftshim.GraftPlanBridge.{column => toCol, expr => toExpr}

  /** Σ aᵢ·bᵢ, accumulated sequentially (ascending i) in double.
    * Native codegen'd Catalyst expression ([[graft.plans.VecDot]]) reading
    * ArrayData in place — no UDF conversion/allocation per row. */
  def dot(a: Column, b: Column): Column =
    toCol(graft.plans.VecDot(toExpr(a), toExpr(b)))

  /** Σ aᵢ² (sequential), native expression. */
  def norm2Sq(a: Column): Column = toCol(graft.plans.VecNorm2Sq(toExpr(a)))

  /** True iff the vector is non-null with every element finite. Spark
    * orders NaN ABOVE every value, so one NaN/Inf vector in a corpus would
    * rank top-1 for every ANN query (its cosine is NaN) and satisfy every
    * `cos >= threshold` dedup predicate — index builders and dedup
    * candidate paths filter on this (a codegen'd HOF inside the scan they
    * already make; negligible vs the hash/encode work). */
  def isFiniteVec(v: Column): Column =
    v.isNotNull && !exists(v, x =>
      isnan(x) || x === Float.PositiveInfinity || x === Float.NegativeInfinity)

  /** ‖a‖₂. */
  def norm2(a: Column): Column = sqrt(norm2Sq(a))

  /** Cosine similarity = dot/(‖a‖·‖b‖); 0 when either vector is all-zero.
    * Same expression shape as the DuckDB oracle
    * (`list_sum(products)/ (sqrt(list_sum(a²))·sqrt(list_sum(b²)))`).
    * Native codegen'd expression ([[graft.plans.VecCosine]]). */
  def cosine(a: Column, b: Column): Column =
    toCol(graft.plans.VecCosine(toExpr(a), toExpr(b)))

  /** Indices of the `k` centroids nearest to `v` by cosine (desc, ties →
    * lower index). `cents` must be a literal array<array<float>> column
    * (e.g. `typedLit(centroids: Seq[Seq[Float]])`) — the IVF coarse
    * quantizer. Native codegen'd expression
    * ([[graft.plans.VecTopCentroids]]); no UDF boundary in the corpus scan. */
  def topCentroids(v: Column, cents: Column, k: Int): Column =
    toCol(graft.plans.VecTopCentroids(toExpr(v), toExpr(cents), toExpr(lit(k))))

  /** Per-subspace PQ codes of `v` against a literal M × ksub × subDim
    * codebook tensor (`typedLit(books: Seq[Seq[Seq[Float]]])`). Native
    * codegen'd expression ([[graft.plans.VecPqEncode]]). */
  def pqEncode(v: Column, books: Column): Column =
    toCol(graft.plans.VecPqEncode(toExpr(v), toExpr(books)))

  /** Asymmetric (full-precision query × PQ-reconstructed corpus) cosine —
    * ADC scoring. Native codegen'd expression
    * ([[graft.plans.VecPqCosine]]). */
  def pqCosine(q: Column, codes: Column, books: Column): Column =
    toCol(graft.plans.VecPqCosine(toExpr(q), toExpr(codes), toExpr(books)))

  /** splitmix64 — deterministic sign-table source for [[srpBucket]]. */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The splitmix64-derived ±1 hyperplane table of [[srpBucket]] — built
    * once at plan time, shipped as a literal.
    * `private[graft]` so the ann_lsh_topk oracle builder can inline the
    * exact same table into its DuckDB replay. */
  private[graft] def srpSigns(nBits: Int, dim: Int, seed: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (b, i) =>
      if ((splitmix64(seed.toLong * 1000003L + b.toLong * 10007L + i) & 1L) == 0L) 1.0 else -1.0
    }

  /**
   * Sign bits of `nBits` pseudo-random ±1 hyperplane projections → one LONG
   * bucket key (signed random projection LSH for cosine). The ±1 sign table
   * is derived from splitmix64(seed, bit, dim-index) at plan build time —
   * no stored model, identical across runs. Near-parallel vectors collide
   * with high probability; `seed` selects an independent hash table.
   *
   * Native codegen'd expression ([[graft.plans.VecSrpBucket]]) with the sign
   * table as a literal — the bucket assigner runs once per corpus vector, so
   * no UDF conversion boundary in the scan. VectorExprSpec pins bit-equality
   * with a Scala-UDF baseline.
   */
  def srpBucket(v: Column, nBits: Int, dim: Int, seed: Int = 0): Column = {
    val signs = srpSigns(nBits, dim, seed)
    toCol(graft.plans.VecSrpBucket(
      toExpr(v), toExpr(typedLit(signs.map(_.toSeq).toSeq))))
  }
}
