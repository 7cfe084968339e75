package graft

import org.apache.spark.sql.functions._

import graft.operators.Pca

/** PCA: moment laws on hand-checkable input, a bit-exact naive driver
  * replay of the distributed moments, power-iteration behavior on a known
  * matrix, and clean-vector filtering in the projection. */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private def r12(x: Double): Double =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def toyVecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.25f)),
    (2L, Array(0.5f, 0.5f, -0.25f)),
    (3L, Array(0.0f, 1.0f, 0.5f)),
    (4L, Array(-0.5f, 0.25f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("moments: mean and covariance match a naive driver replay bit-for-bit") {
    val (n, mean, cov) = Pca.moments(toyVecs, dim = 3)
    assert(n == 4)
    val q = toyVecs.collect().map(_.getSeq[Float](1).toArray.map(x => r6(x.toDouble)))
    def dsum(vals: Iterable[Double]): Double = {
      var acc = java.math.BigDecimal.ZERO
      vals.foreach(v => acc = acc.add(java.math.BigDecimal.valueOf(r12(v))))
      acc.doubleValue
    }
    val m = Array.tabulate(3)(i => r12(dsum(q.map(_(i))) / 4))
    assert(mean.toSeq == m.toSeq)
    for (i <- 0 until 3; j <- 0 until 3) {
      val s = dsum(q.map(v => v(i) * v(j)))
      assert(cov(i)(j) == r12(s / 4 - m(i) * m(j)), s"cov($i)($j)")
    }
    // symmetry comes free from the exact arithmetic
    for (i <- 0 until 3; j <- 0 until 3) assert(cov(i)(j) == cov(j)(i))
  }

  test("moments decimal fallback: large-magnitude vectors take the guarded path " +
    "and still match the naive replay bit-for-bit") {
    // |q| = 9e8 units -> n*maxAbs^2 = 6*8.1e17 > Long.MaxValue/2: the pair
    // sums MUST route through the decimal fallback (the long product would
    // overflow); results stay identical to the exact driver replay
    val vecs = Seq(
      (1L, Array(900.0f, -900.0f)), (2L, Array(-900.0f, 900.0f)),
      (3L, Array(900.0f, 900.0f)), (4L, Array(-900.0f, -900.0f)),
      (5L, Array(450.0f, -450.0f)), (6L, Array(-450.0f, 450.0f))
    ).toDF("vec_id", "embedding")
    val (n, mean, cov) = Pca.moments(vecs, dim = 2)
    assert(n == 6)
    val q = vecs.collect().map(_.getSeq[Float](1).toArray.map(x => r6(x.toDouble)))
    def dsum(vals: Iterable[Double]): Double = {
      var acc = java.math.BigDecimal.ZERO
      vals.foreach(v => acc = acc.add(java.math.BigDecimal.valueOf(r12(v))))
      acc.doubleValue
    }
    val m = Array.tabulate(2)(i => r12(dsum(q.map(_(i))) / 6))
    assert(mean.toSeq == m.toSeq)
    for (i <- 0 until 2; j <- 0 until 2)
      assert(cov(i)(j) == r12(dsum(q.map(v => v(i) * v(j))) / 6 - m(i) * m(j)), s"cov($i)($j)")
  }

  test("moments are invariant under repartitioning (order-free decimal sums)") {
    val (_, m1, c1) = Pca.moments(toyVecs.repartition(5), dim = 3)
    val (_, m2, c2) = Pca.moments(toyVecs.repartition(1), dim = 3)
    assert(m1.toSeq == m2.toSeq)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
  }

  test("power iteration converges to the dominant axis of a known matrix") {
    // diag(0.09, 0.01, 0.0025): dominant eigenvector is e0 (up to sign;
    // the all-positive deterministic start keeps the positive orientation)
    val m = Array(
      Array(0.09, 0.0, 0.0), Array(0.0, 0.01, 0.0), Array(0.0, 0.0, 0.0025))
    val v = Pca.powerIteration(m, iters = 8)
    assert(math.abs(v(0) - 1.0) < 1e-6)
    assert(math.abs(v(1)) < 1e-6 && math.abs(v(2)) < 1e-6)
    // unit norm up to the rounding discipline
    val nrm = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-6)
  }

  test("zero iterations returns the deterministic start; negative rejected") {
    val m = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val v0 = Pca.powerIteration(m, iters = 0)
    assert(v0.toSeq == Seq.fill(2)(r12(1.0 / math.sqrt(2.0))))
    intercept[IllegalArgumentException] { Pca.powerIteration(m, iters = -1) }
  }

  test("project: exact quantized dot products; non-finite and wrong-arity rows dropped") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f)),
      (2L, Array(Float.NaN, 0.0f, 0.0f)),   // dropped: non-finite
      (3L, Array(1.0f, 1.0f)),              // dropped: wrong arity
      (4L, Array(-1.0f, 0.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    val comp = Array(0.5, 0.25, 0.1234567) // quantized to 0.123457 inside
    val out = Pca.project(vecs, comp).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    def dot(x: Array[Double]) =
      r12((0 until 3).map(i => java.math.BigDecimal.valueOf(r12(r6(x(i)) * r6(comp(i)))))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue)
    assert(out(0).getDouble(1) == dot(Array(1.0, 2.0, 3.0)))
    assert(out(1).getDouble(1) == dot(Array(-1.0, 0.5, 0.0)))
  }

  test("deflation: second axis of a diagonal matrix is the second eigenvector, " +
    "orthogonal to the first") {
    val m = Array(
      Array(0.09, 0.0, 0.0), Array(0.0, 0.04, 0.0), Array(0.0, 0.0, 0.0025))
    val v1 = Pca.powerIteration(m, iters = 12)
    val (lam, m2) = Pca.deflate(m, v1)
    assert(math.abs(lam - 0.09) < 1e-4) // Rayleigh quotient ≈ top eigenvalue
    val v2 = Pca.powerIteration(m2, iters = 12)
    assert(math.abs(math.abs(v2(1)) - 1.0) < 1e-4, s"v2=${v2.toSeq}")
    val dot = v1.zip(v2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 1e-3, s"not orthogonal: $dot")
    intercept[IllegalArgumentException] { Pca.deflate(m, Array(1.0, 0.0)) }
  }

  test("projectTop end-to-end orders the toy corpus along its dominant spread") {
    val out = Pca.projectTop(toyVecs, dim = 3, iters = 6).collect()
    assert(out.length == 4)
    // the projection must not be constant (there IS spread to find)
    assert(out.map(_.getDouble(1)).distinct.length > 1)
  }

  test("moment tables: save + delta-append + merged load == from-scratch union") {
    val extra = Seq(
      (5L, Array(0.75f, -0.25f, 0.125f)),
      (6L, Array(-1.0f, 0.5f, 0.25f))).toDF("vec_id", "embedding")
    val union = toyVecs.unionByName(extra)
    val tmp = java.nio.file.Files.createTempDirectory("pca_mom_spec").toString
    try {
      Pca.saveMoments(Pca.rawMomentTable(toyVecs, 3), tmp)
      Pca.appendMoments(Pca.rawMomentTable(extra, 3), tmp)
      val (nM, meanM, covM) = Pca.momentsFromTable(Pca.loadMoments(spark, tmp), 3)
      val (nD, meanD, covD) = Pca.moments(union, 3)
      // integer moment sums are additive → merged derivation is
      // byte-identical to the from-scratch build over the union
      assert(nM === nD)
      assert(meanM.toSeq === meanD.toSeq)
      assert(covM.map(_.toSeq).toSeq === covD.map(_.toSeq).toSeq)
      // and so is every downstream power iterate
      assert(Pca.powerIteration(covM, 3).toSeq ===
        Pca.powerIteration(covD, 3).toSeq)
    } finally Gates.deleteTree(tmp)
  }

  test("compactMoments: the fold IS the cell-wise sum — one generation, " +
    "derivation byte-identical to the pile, fewer files; guards fire") {
    val extra = Seq(
      (5L, Array(0.75f, -0.25f, 0.125f)),
      (6L, Array(-1.0f, 0.5f, 0.25f))).toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("pca_cmp_spec").toString
    try {
      Pca.saveMoments(Pca.rawMomentTable(toyVecs, 3), s"$tmp/pile")
      Pca.appendMoments(Pca.rawMomentTable(extra, 3), s"$tmp/pile")
      // the live files of the store's newest manifest
      def parquets(p: String) =
        graft.operators.SegmentStore.latest(graft.operators.SeqFiles.fs(spark, p), p)
          .get.live.length
      val (nP, meanP, covP) = Pca.momentsFromTable(Pca.loadMoments(spark, s"$tmp/pile"), 3)
      val pileFiles = parquets(s"$tmp/pile")
      Pca.compactMoments(spark, s"$tmp/pile")
      val (nC, meanC, covC) = Pca.momentsFromTable(Pca.loadMoments(spark, s"$tmp/pile"), 3)
      assert(nC === nP)
      assert(meanC.toSeq === meanP.toSeq)
      assert(covC.map(_.toSeq).toSeq === covP.map(_.toSeq).toSeq)
      // the compacted store is already one cell set — (d²+d+1) rows
      assert(graft.operators.SegmentStore.load(spark, s"$tmp/pile", "moment table")
        .count() === (9 + 3 + 1).toLong)
      assert(parquets(s"$tmp/pile") < pileFiles, "the fold must shrink the file pile")
      intercept[IllegalStateException] {
        Pca.compactMoments(spark, s"$tmp/none")
      }
    } finally Gates.deleteTree(tmp)
  }

  test("rawMomentTable: past the long-product bound the terms multiply as " +
    "decimals — byte-identical to moments, no silent wrap") {
    // |q| up to 3.5e9 units → q² ≈ 1.2e19 > Long.MaxValue/2: the LongType
    // product is unsafe, so both moments and rawMomentTable must take the
    // decimal path and still agree exactly (spread kept ≤ ~1e3 so the
    // derived covariance stays inside round12's compact-decimal range)
    val big = Seq(
      (1L, Array(2500.0f, 3400.0f)),
      (2L, Array(3500.0f, 2600.0f)),
      (3L, Array(3000.0f, 3050.0f))).toDF("vec_id", "embedding")
    val (nT, meanT, covT) = Pca.momentsFromTable(Pca.rawMomentTable(big, 2), 2)
    val (nD, meanD, covD) = Pca.moments(big, 2)
    assert(nT === nD)
    assert(meanT.toSeq === meanD.toSeq)
    assert(covT.map(_.toSeq).toSeq === covD.map(_.toSeq).toSeq)
    // sanity: the diagonal second moments are positive (a wrapped product
    // would have gone hugely negative)
    assert(covT(0)(0) > 0.0 && covT(1)(1) > 0.0)
  }

  test("momentsFromTable: dim mismatches fail with a diagnostic, not an " +
    "ArrayIndexOutOfBoundsException") {
    val table = Pca.rawMomentTable(toyVecs, 3).cache()
    val tooSmall = intercept[IllegalArgumentException] {
      Pca.momentsFromTable(table, 2)
    }
    assert(tooSmall.getMessage.contains("out of range for dim=2"))
    val tooBig = intercept[IllegalArgumentException] {
      Pca.momentsFromTable(table, 4)
    }
    assert(tooBig.getMessage.contains("mean rows missing"))
    table.unpersist()
  }
}
