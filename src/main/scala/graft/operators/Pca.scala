package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VectorFunctions

/**
 * Principal-component analysis over an embedding column — the
 * dimensionality-reduction / drift-diagnosis step of an embedding-heavy
 * curation pipeline (project 64-dim vectors onto their dominant axis to
 * histogram, stratify, or spot batch effects). Two distributed passes plus
 * driver-side power iteration:
 *
 *  1. MOMENTS: one cached clean scan feeds the per-dimension mean (d
 *     decimal aggregates) and the raw second-moment matrix (d² groups —
 *     posexplode² stays inside the codegen pipeline; the groupBy's partial
 *     aggregation map-side-combines, so the shuffle is #partitions × d²
 *     rows, NEVER corpus-sized). The covariance `round12(s_ij/n - μ_i μ_j)`
 *     is model-sized (d² doubles) and assembled on the driver.
 *  2. POWER ITERATION: `iters` rounds of `v ← round12(Cv / ‖Cv‖)` on the
 *     driver — d² flops per round on a bounded matrix (the Lloyd-codebook
 *     shape: corpus-sized work distributed, model-sized state local).
 *  3. PROJECT: one narrow scan; per-vector dot product against the
 *     component via exact fixed-point arithmetic (round12 terms summed as
 *     integer micro-units in a HOF fold — no shuffle, no UDF).
 *
 * Numeric discipline (cf. [[Graph]], [[Learn]]): contributions rounded to
 * 12 decimals, summed exactly (DECIMAL(30,12) in cluster aggregates,
 * BigDecimal on the driver, integer 1e-12 units in the projection fold),
 * updates re-rounded to 12. `sqrt` IS correctly-rounded under IEEE 754
 * (unlike exp/log), so the normalization replays bit-for-bit — a DuckDB
 * oracle re-derives the mean, the covariance, every power iterate and
 * every projection hash-exactly. The start vector `round12(1/√d)` is
 * deterministic, so even the component's SIGN is pinned — no sign
 * convention needed.
 */
object Pca {

  /** Clean = finite, expected arity (the [[Similarity]] convention). */
  private def cleanVectors(embeds: DataFrame, dim: Int, vecCol: String): DataFrame =
    embeds.filter(VectorFunctions.isFiniteVec(col(vecCol)) && size(col(vecCol)) === dim)

  private def round12(x: Double): Double =
    LloydMath.toDecimal12(x, "Pca").doubleValue

  /**
   * Covariance of the clean vectors over 6-decimal-QUANTIZED inputs
   * `q_i = round6(x_i)`: returns (n, mean, cov) with
   * `mean_i = round12(Σ q_i / n)` and
   * `cov_ij = round12(Σ round12(q_i q_j) / n - mean_i mean_j)`
   * (decimal-exact sums; x cast float→double before any arithmetic).
   *
   * WHY the input quantization (the [[LloydMath]] discipline): a product of
   * two 6-decimal values is an EXACT 12-decimal value, and float×float is
   * exact in double (24+24 ≤ 53 mantissa bits) — so every one of the N·d²
   * per-row `round12` calls lands ON the decimal grid, where every engine's
   * rounding agrees. Rounding raw float products instead puts ~N·d²
   * arbitrary doubles through round12, where exact-decimal HALF_UP (Spark,
   * this driver) and scaled `std::round` (DuckDB) disagree with probability
   * ∝ |x|·10¹²·2⁻⁵³ per call — measured as ~10⁻⁹-level drift at corpus
   * scale. After quantization the only arbitrary-value roundings left are
   * the ~d² small-magnitude one-shots below (expected cross-engine flips
   * ≪ 1). 1e-6 resolution is a deliberate, SQ8-style quantization — far
   * below any diagnostic signal in unit-scale embeddings.
   */
  def moments(embeds: DataFrame, dim: Int,
              vecCol: String = "embedding"): (Long, Array[Double], Array[Array[Double]]) = {
    require(dim > 0, s"Pca.moments: dim must be > 0, got $dim")
    // 6-quantized values carried as EXACT 1e-6-unit integers: the per-row
    // product and the group sums become plain long arithmetic (the decimal
    // hash-aggregate over N·d² rows is ~20× slower — Decimal allocation per
    // row — for identical exact results)
    val clean = cleanVectors(embeds, dim, vecCol)
      .select(transform(col(vecCol),
        x => round(round(x.cast("double"), 6) * lit(1e6), 0).cast("long")).as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = clean.count()
      require(n > 0, "Pca.moments: no clean vectors")
      // overflow guards for the long fast paths, decided BEFORE either
      // aggregate from one narrow max-|q| pre-pass: the mean sums n terms
      // of |t| ≤ maxAbs (1e-6 units), each (i,j) pair group sums n terms
      // of |t| ≤ maxAbs² (1e-12 units). Unit-scale embeddings pass by
      // orders of magnitude; past a bound, the SAME exact unit terms sum
      // as decimals — identical values, corpus-scale-safe. Compared in
      // doubles (maxAbs² itself overflows long for |q| ≳ 3e3); the
      // per-row product is cast to decimal BEFORE multiplying on the
      // fallback path, or it would overflow exactly where the fallback
      // is needed.
      val maxAbs = clean.select(max(aggregate(col("e"), lit(0L),
        (a, x) => greatest(a, abs(x))))).head().getLong(0)
      val meanSafe = maxAbs == 0L ||
        n.toDouble * maxAbs.toDouble < Long.MaxValue.toDouble / 2
      val pairSafe = maxAbs == 0L ||
        n.toDouble * maxAbs.toDouble * maxAbs.toDouble < Long.MaxValue.toDouble / 2
      def unitsToDouble(v: Any, scale: Int): Double = (v match {
        case l: java.lang.Long => new java.math.BigDecimal(java.math.BigInteger.valueOf(l), scale)
        case d: java.math.BigDecimal => new java.math.BigDecimal(d.unscaledValue(), scale)
        // non-ANSI Spark returns null when a DECIMAL sum overflows the
        // 38-digit ceiling — fail with a diagnostic, not a MatchError: the
        // long-overflow guards bound per-TERM magnitude but a pathological
        // corpus (N·|x|² ≥ 10³⁸ in 1e-6 units) can still blow the SUM
        case null => throw new IllegalStateException(
          "Pca.moments: DECIMAL(30,0) fallback sum overflowed Spark's 38-digit " +
            "decimal ceiling (sum returned null) — the corpus magnitude/count " +
            "exceeds the exact-moments range; pre-scale the embeddings")
      }).doubleValue
      if (meanSafe && pairSafe) {
        // long fast path as ONE aggregation: the moment_grid
        // TypedImperativeAggregate carries [n, Σq_i, Σq_i·q_j (triangle)]
        // as its buffer — same exact int64 sums as the posexplode²
        // formulation (addition commutes), with none of the N·d² exploded
        // rows (~5× the moment pass at d=64)
        graft.plans.GraftFunctions.register(embeds.sparkSession)
        val grid = clean.agg(call_function("moment_grid", col("e"), lit(dim))
          .as("g")).head().getSeq[Long](0)
        assert(grid(0) == n, s"moment_grid count ${grid(0)} != clean count $n")
        val mean = Array.tabulate(dim)(i =>
          round12(unitsToDouble(java.lang.Long.valueOf(grid(1 + i)), 6) / n))
        val cov = Array.tabulate(dim, dim)((i, j) =>
          round12(unitsToDouble(java.lang.Long.valueOf(grid(1 + dim + i * dim + j)), 12) / n -
            mean(i) * mean(j)))
        (n, mean, cov)
      } else {
        val meanSum: Column =
          if (meanSafe) sum(col("xi")) else sum(col("xi").cast(DecimalType(30, 0)))
        val meanRows = clean
          .select(posexplode(col("e")).as(Seq("i", "xi")))
          .groupBy(col("i")).agg(meanSum.as("s"))
          .collect()
        val mean = Array.ofDim[Double](dim)
        meanRows.foreach(r => mean(r.getInt(0)) = round12(unitsToDouble(r.get(1), 6) / n))
        val pairSum: Column =
          if (pairSafe) sum(col("xi") * col("xj"))
          else sum(col("xi").cast(DecimalType(30, 0)) * col("xj"))
        val pairRows = clean
          .select(col("e"), posexplode(col("e")).as(Seq("i", "xi")))
          .select(col("i"), col("xi"), posexplode(col("e")).as(Seq("j", "xj")))
          .groupBy(col("i"), col("j"))
          .agg(pairSum.as("s"))
          .collect()
        val cov = Array.ofDim[Double](dim, dim)
        pairRows.foreach { r =>
          val s = unitsToDouble(r.get(2), 12) // exact Σ q_i q_j in 1e-12 units
          cov(r.getInt(0))(r.getInt(1)) = round12(s / n - mean(r.getInt(0)) * mean(r.getInt(1)))
        }
        (n, mean, cov)
      }
    } finally clean.unpersist()
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** `iters` power iterations on a (driver-resident, model-sized) matrix
    * from the deterministic start `v_i = round12(1/√d)`:
    * `y = Σ_j round12(c6_ij v6_j)` over the 6-QUANTIZED operands
    * `c6 = round6(c)`, `v6 = round6(v)` (exact decimal sums),
    * `‖y‖ = round12(√Σ round12(y_i²))`, `v' = round12(y_i/‖y‖)`. The
    * iterate after `iters` rounds is the pinned, replayable result
    * (convergence is not part of the contract).
    *
    * WHY the per-round operand quantization: a 12-decimal matrix entry
    * times a short vector entry can land EXACTLY on a 12th-decimal
    * rounding tie (with `v0 = 0.125`, ⅛ of all first-round products do),
    * and at an exact tie the engines' rounding paths disagree ~half the
    * time. 6-decimal operands make every product an exact 12-grid value —
    * no tie, no hazard — the same discipline as [[moments]]' input
    * quantization. */
  def powerIteration(cov: Array[Array[Double]], iters: Int): Array[Double] = {
    require(iters >= 0, s"Pca.powerIteration: iters must be >= 0, got $iters")
    val d = cov.length
    val cov6 = cov.map(_.map(round6))
    var v = Array.fill(d)(round12(1.0 / math.sqrt(d.toDouble)))
    var k = 0
    while (k < iters) {
      val v6 = v.map(round6)
      val y = Array.tabulate(d) { i =>
        var acc = java.math.BigDecimal.ZERO
        var j = 0
        while (j < d) {
          acc = acc.add(LloydMath.toDecimal12(cov6(i)(j) * v6(j), "Pca"))
          j += 1
        }
        acc.doubleValue
      }
      var ss = java.math.BigDecimal.ZERO
      var i = 0
      while (i < d) { ss = ss.add(LloydMath.toDecimal12(y(i) * y(i), "Pca")); i += 1 }
      val nrm = round12(math.sqrt(ss.doubleValue))
      require(nrm != 0.0, "Pca.powerIteration: zero-norm iterate (degenerate covariance)")
      v = y.map(yi => round12(yi / nrm))
      k += 1
    }
    v
  }

  /** Top principal axis as a DataFrame (i, loading), `iters` power rounds. */
  def topComponent(embeds: DataFrame, dim: Int, iters: Int,
                   vecCol: String = "embedding"): DataFrame = {
    val (_, _, cov) = moments(embeds, dim, vecCol)
    val v = powerIteration(cov, iters)
    componentDf(embeds, v)
  }

  /**
   * The EXACT raw moments of [[moments]] as a mergeable TABLE — the
   * persistable unit of an incremental-PCA lifecycle. Rows (i, j, s),
   * all sums DECIMAL(38,0) exact integers:
   *
   *  - (-1, -1): the clean-vector count n
   *  - (i, -1):  Σ q_i in 1e-6 units (the mean numerator)
   *  - (i, j):   Σ q_i·q_j in 1e-12 units (the second-moment numerator)
   *
   * Integer sums are ADDITIVE across corpus slices, so moment tables
   * built per batch/day/source merge by `groupBy(i, j).sum(s)`
   * ([[loadMoments]]) and the merged table derives byte-identical
   * moments to a from-scratch [[moments]] over the union — PCA over a
   * growing 100 TB corpus updates by scanning only the NEW slice
   * (d²+d+1 rows per artifact, KB-sized, the HLL/CMS re-aggregation
   * story applied to covariance). Per-term products are exact in int64
   * for unit-scale embeddings (|q|² ≤ 4·10¹⁴ ≪ 2⁶³); past [[moments]]'
   * maxAbs bound the same exact unit terms multiply as decimals instead
   * of wrapping, so the byte-identical-to-[[moments]] contract holds at
   * any magnitude. The DECIMAL(38,0) cast happens before the SUM, so
   * slice sums never overflow long either.
   */
  def rawMomentTable(embeds: DataFrame, dim: Int,
                     vecCol: String = "embedding"): DataFrame = {
    require(dim > 0, s"Pca.rawMomentTable: dim must be > 0, got $dim")
    val dec = DecimalType(38, 0)
    val clean = cleanVectors(embeds, dim, vecCol)
      .select(transform(col(vecCol),
        x => round(round(x.cast("double"), 6) * lit(1e6), 0).cast("long")).as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // [[moments]]' maxAbs guard applied to the per-TERM product: xi*xj is
    // long arithmetic, exact only while maxAbs² stays clear of
    // Long.MaxValue (silent wrap for |q| ≳ 3e9, i.e. |x| ≳ 3e3); past the
    // bound, cast one operand to decimal BEFORE multiplying — identical
    // exact values, any magnitude. Compared in doubles because maxAbs²
    // itself overflows long exactly where the fallback is needed.
    val maxAbsRow = clean.select(max(aggregate(col("e"), lit(0L),
      (a, x) => greatest(a, abs(x))))).head()
    val maxAbs = if (maxAbsRow.isNullAt(0)) 0L else maxAbsRow.getLong(0)
    val n = clean.count()
    val meanSafe = maxAbs == 0L ||
      n.toDouble * maxAbs.toDouble < Long.MaxValue.toDouble / 2
    val pairSafe = maxAbs == 0L ||
      n.toDouble * maxAbs.toDouble * maxAbs.toDouble < Long.MaxValue.toDouble / 2
    val out = if (n > 0 && meanSafe && pairSafe) {
      // long fast path: ONE moment_grid aggregation (the [[moments]]
      // kernel), table rows materialized driver-side from the
      // (d²+d+1)-cell result — same exact integer sums, none of the
      // N·d² exploded rows
      graft.plans.GraftFunctions.register(embeds.sparkSession)
      val grid = clean.agg(call_function("moment_grid", col("e"), lit(dim))
        .as("g")).head().getSeq[Long](0)
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      def d38(v: Long) = new java.math.BigDecimal(v)
      rows.add(org.apache.spark.sql.Row(-1, -1, d38(n)))
      var i = 0
      while (i < dim) {
        rows.add(org.apache.spark.sql.Row(i, -1, d38(grid(1 + i)))); i += 1
      }
      i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) {
          rows.add(org.apache.spark.sql.Row(i, j, d38(grid(1 + dim + i * dim + j))))
          j += 1
        }
        i += 1
      }
      embeds.sparkSession.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("i",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("j",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("s", dec, nullable = true))))
    } else {
      val termSafe = maxAbs == 0L ||
        maxAbs.toDouble * maxAbs.toDouble < Long.MaxValue.toDouble / 2
      val pairTerm: Column =
        if (termSafe) (col("xi") * col("xj")).cast(dec)
        else (col("xi").cast(DecimalType(30, 0)) * col("xj")).cast(dec)
      val cnt = clean.select(lit(-1).as("i"), lit(-1).as("j"),
        count(lit(1)).cast(dec).as("s"))
      val means = clean.select(posexplode(col("e")).as(Seq("i", "xi")))
        .groupBy(col("i")).agg(sum(col("xi").cast(dec)).as("s"))
        .select(col("i"), lit(-1).as("j"), col("s"))
      val pairs = clean
        .select(col("e"), posexplode(col("e")).as(Seq("i", "xi")))
        .select(col("i"), col("xi"), posexplode(col("e")).as(Seq("j", "xj")))
        .groupBy(col("i"), col("j"))
        .agg(sum(pairTerm).as("s"))
      // (d²+d+1)-row result — localCheckpoint severs it from the persisted
      // scan so the cache can be released before the caller acts
      cnt.unionByName(means).unionByName(pairs).localCheckpoint()
    }
    clean.unpersist()
    out
  }

  /** Persist a raw moment table ((d²+d+1) rows — KB-sized at any corpus
    * scale), sorted by (i, j) for deterministic files. */
  def saveMoments(table: DataFrame, path: String): Unit =
    SegmentStore.write(momentsLayout(table), path, replace = true)

  /** Append a new slice's moment table as a [[SegmentStore]] append
    * commit (no rewrite); [[loadMoments]] merges duplicates by exact
    * integer sum. */
  def appendMoments(table: DataFrame, path: String): Unit =
    SegmentStore.write(momentsLayout(table), path, replace = false)

  private def momentsLayout(table: DataFrame): DataFrame =
    table.select(col("i"), col("j"), col("s"))
      .coalesce(1).sortWithinPartitions(col("i"), col("j"))

  /** Load base + appends back into ONE merged moment table: the cell-wise
    * integer sum — [[moments]] over the union, exactly. */
  def loadMoments(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    sumCells(SegmentStore.load(spark, path, "moment table"))

  private def sumCells(table: DataFrame): DataFrame =
    table.groupBy(col("i"), col("j")).agg(sum(col("s")).as("s"))

  /**
   * Compact a moments artifact in place: fold the base [[saveMoments]]
   * plus its [[appendMoments]] commits into ONE merged commit — the fold
   * IS the merge semantics (cell-wise exact integer sum, [[loadMoments]]'s
   * law), so the compacted artifact holds (d²+d+1) rows forever after no
   * matter how many slices were appended (under per-trigger
   * incremental-PCA maintenance the pile otherwise grows one file set per
   * batch). [[momentsFromTable]] over the compacted table is
   * byte-identical to the pile's by construction. Audited on the merged
   * cell set by [[SegmentStore.compact]].
   */
  def compactMoments(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    SegmentStore.compact(spark, path, "moment table", Nil, sumCells)(
      pile => momentsLayout(sumCells(pile)))

  /**
   * Derive (n, mean, cov) from a (merged) moment table — the same
   * round12 divisions [[moments]] performs on its collected sums, so the
   * derived covariance (and every downstream power iterate) is
   * byte-identical to a from-scratch build over the same rows.
   */
  def momentsFromTable(table: DataFrame, dim: Int): (Long, Array[Double], Array[Array[Double]]) = {
    require(dim > 0, s"Pca.momentsFromTable: dim must be > 0, got $dim")
    val rows = table.collect() // (d²+d+1) rows, bounded by construction
    def units(v: Any, scale: Int): Double = (v match {
      case d: java.math.BigDecimal => new java.math.BigDecimal(d.unscaledValue(), scale)
      case d: BigDecimal => new java.math.BigDecimal(d.underlying.unscaledValue(), scale)
      case null => throw new IllegalStateException(
        "Pca.momentsFromTable: merged DECIMAL(38,0) sum overflowed — the " +
          "corpus magnitude/count exceeds the exact-moments range")
    }).doubleValue
    // diagnose dim mismatches (artifact built at a larger dim, or
    // mixed-dim deltas appended to one path) instead of throwing a bare
    // ArrayIndexOutOfBoundsException below
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      require(i < dim && j < dim,
        s"Pca.momentsFromTable: moment row ($i, $j) out of range for dim=$dim" +
          " — the artifact was built at a larger dimension, or mixed-dim" +
          " deltas were appended to one path")
    }
    var n = -1L
    rows.foreach { r =>
      if (r.getInt(0) == -1 && r.getInt(1) == -1)
        n = units(r.get(2), 0).toLong
    }
    require(n > 0, "Pca.momentsFromTable: missing or zero count row")
    val mean = Array.ofDim[Double](dim)
    val meanSeen = Array.ofDim[Boolean](dim)
    rows.foreach { r =>
      if (r.getInt(0) >= 0 && r.getInt(1) == -1) {
        mean(r.getInt(0)) = round12(units(r.get(2), 6) / n)
        meanSeen(r.getInt(0)) = true
      }
    }
    require(meanSeen.forall(identity),
      s"Pca.momentsFromTable: mean rows missing for dims " +
        s"${meanSeen.zipWithIndex.collect { case (false, i) => i }.mkString(",")}" +
        s" — the artifact was built at a smaller dimension than dim=$dim")
    val cov = Array.ofDim[Double](dim, dim)
    rows.foreach { r =>
      if (r.getInt(0) >= 0 && r.getInt(1) >= 0)
        cov(r.getInt(0))(r.getInt(1)) =
          round12(units(r.get(2), 12) / n - mean(r.getInt(0)) * mean(r.getInt(1)))
    }
    (n, mean, cov)
  }

  private def componentDf(embeds: DataFrame, v: Array[Double]): DataFrame = {
    val spark = embeds.sparkSession
    import spark.implicits._
    v.zipWithIndex.map { case (x, i) => (i, x) }.toSeq.toDF("i", "loading")
      .orderBy(col("i"))
  }

  /**
   * Hotelling deflation under the quantized-operand discipline: returns
   * `(λ, C')` with the Rayleigh quotient `λ = Σ_i round12(v6_i y_i)`,
   * `y_i = Σ_j round12(c6_ij v6_j)` (exact decimal sums), and
   * `C'_ij = round12(c6_ij − round12(λ6 · round12(v6_i v6_j)))` — every
   * product of 6-quantized operands an exact 12-grid value, every
   * subtraction of near-grid doubles recovered exactly by round12. Power-
   * iterating C' yields the SECOND principal axis, replayable like the
   * first.
   */
  def deflate(cov: Array[Array[Double]], v: Array[Double]): (Double, Array[Array[Double]]) = {
    require(cov.length == v.length, "Pca.deflate: dimension mismatch")
    val d = cov.length
    val c6 = cov.map(_.map(round6))
    val v6 = v.map(round6)
    val y = Array.tabulate(d) { i =>
      var acc = java.math.BigDecimal.ZERO
      var j = 0
      while (j < d) { acc = acc.add(LloydMath.toDecimal12(c6(i)(j) * v6(j), "Pca")); j += 1 }
      acc.doubleValue
    }
    var lacc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < d) { lacc = lacc.add(LloydMath.toDecimal12(v6(i) * y(i), "Pca")); i += 1 }
    val lam = lacc.doubleValue
    val l6 = round6(lam)
    val cov2 = Array.tabulate(d, d) { (a, b) =>
      round12(c6(a)(b) - round12(l6 * round12(v6(a) * v6(b))))
    }
    (lam, cov2)
  }

  /** Variance share of the top axis: the Rayleigh quotient λ over the
    * covariance trace (exact decimal sum of the round12 diagonal) —
    * (lambda, trace, round6(λ/trace)), the one-row "is one direction
    * dominating my embeddings" drift diagnostic. */
  def varianceShare(embeds: DataFrame, dim: Int, iters: Int,
                    vecCol: String = "embedding"): DataFrame = {
    val (_, _, cov) = moments(embeds, dim, vecCol)
    val v1 = powerIteration(cov, iters)
    val (lam, _) = deflate(cov, v1)
    var tacc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < dim) { tacc = tacc.add(LloydMath.toDecimal12(cov(i)(i), "Pca")); i += 1 }
    val trace = tacc.doubleValue
    val spark = embeds.sparkSession
    import spark.implicits._
    Seq((lam, trace, round6(lam / trace))).toDF("lambda", "trace", "share")
  }

  /** Second principal axis (i, loading): power-iterate, deflate, power-
    * iterate again — all driver-resident model-sized arithmetic on the
    * one distributed moment pass. */
  def secondComponent(embeds: DataFrame, dim: Int, iters: Int,
                      vecCol: String = "embedding"): DataFrame = {
    val (_, _, cov) = moments(embeds, dim, vecCol)
    val v1 = powerIteration(cov, iters)
    val (_, cov2) = deflate(cov, v1)
    componentDf(embeds, powerIteration(cov2, iters))
  }

  /**
   * Project every clean vector onto `component`:
   * `proj = round12(Σ_i round12(q_i v6_i))` over the 6-quantized inputs
   * and the 6-quantized component (`v6 = round6(v)`) — every term an exact
   * 12-decimal grid value (see [[moments]]), summed EXACTLY as
   * DECIMAL(30,12) inside a HOF fold (decimal addition is exact and
   * order-free, so the narrow fold matches any oracle summation order).
   * One codegen scan, no shuffle — the 100 TB shape.
   */
  def project(embeds: DataFrame, component: Array[Double],
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    cleanVectors(embeds, component.length, vecCol)
      .select(col(idCol), projectionCol(component, vecCol).as("proj"))
      .orderBy(col(idCol))

  /** The [[project]] dot product as a bare COLUMN — stateless, so it
    * drops straight into a streaming select ([[graft.streaming]] scoring
    * twins): exact-decimal fold of round12(q_i·v6_i) terms, one codegen
    * expression, no shuffle, no state. */
  def projectionCol(component: Array[Double], vecCol: String = "embedding"): Column = {
    require(component.nonEmpty, "Pca.projectionCol: empty component")
    val dec = DecimalType(30, 12)
    val v6 = component.map(round6)
    val compLit = array(v6.map(lit): _*)
    val terms = zip_with(col(vecCol), compLit,
      (x, w) => round(round(x.cast("double"), 6) * w, 12).cast(dec))
    round(
      aggregate(terms, lit(java.math.BigDecimal.ZERO).cast(dec),
        (acc, t) => (acc + t).cast(dec)).cast("double"), 12)
  }

  /** End-to-end: moments → power iteration → projection of the same corpus
    * (id, proj), the drift-histogram input. */
  def projectTop(embeds: DataFrame, dim: Int, iters: Int,
                 vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val (_, _, cov) = moments(embeds, dim, vecCol)
    project(embeds, powerIteration(cov, iters), vecCol, idCol)
  }
}
