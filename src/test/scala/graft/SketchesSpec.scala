package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches
import graft.sources.Tables

/**
 * Sketch aggregates: HLL distinct (built-in DataSketches) and the custom
 * SpaceSaving TypedImperativeAggregate — bounds, retention guarantee, and
 * mergeability across repartitionings (merge-order independence of the
 * guarantees, not of the raw internal state).
 */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  // skewed key stream: 30% of rows over 7 hot keys, 70% over ~2000 cold keys
  private def skewed = Tables.events(spark, Sf).select(
    when(col("event_id") % 10 < 3, concat(lit("hot_"), col("event_id") % 7))
      .otherwise(concat(lit("cold_"), col("event_id") % 2000)).as("k"))

  test("space_saving_topk: bounds hold and hot keys are always retained") {
    val exact = skewed.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum

    for (parts <- Seq(1, 7, 32)) {
      val cands = Sketches.heavyHitterCandidates(
        skewed.repartition(parts), col("k"), capacity = 64)
        .collect()
      val byItem = cands.map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // every retained item's true count sits inside [count_min, count_max]
      byItem.foreach { case (item, (mn, mx)) =>
        val t = exact.getOrElse(item, 0L)
        assert(mn <= t && t <= mx, s"$item: [$mn,$mx] vs true $t (parts=$parts)")
      }
      // retention guarantee: true count > N/capacity => in the sketch
      exact.filter(_._2 > n / 64).keys.foreach { hot =>
        assert(byItem.contains(hot), s"$hot missing (parts=$parts)")
      }
      assert(cands.length <= 64)
    }
  }

  test("verifiedHeavyHitters returns exactly the over-threshold keys with exact counts") {
    val out = Sketches.verifiedHeavyHitters(skewed, col("k"), capacity = 64,
      threshold = 0.03).orderBy(col("item")).collect()
    val exact = skewed.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
    val n = exact.agg(sum(col("cnt"))).head().getLong(0)
    val expected = exact.filter(col("cnt") > (n * 0.03).toLong)
      .orderBy(col("k")).collect()
    assert(out.length == expected.length && out.length == 7) // the 7 hot keys
    out.zip(expected).foreach { case (o, e) =>
      assert(o.getString(0) == e.getString(0) && o.getLong(1) == e.getLong(1))
      assert(o.getBoolean(2)) // bounds_ok
    }
  }

  test("space_saving_topk composes: per-group aggregation keeps per-group hitters") {
    graft.plans.GraftFunctions.register(spark)
    // group = event_type; per-group key stream = user bucket with skew
    val keyed = Tables.events(spark, Sf).select(col("event_type"),
      when(col("user_id") % 10 < 5, concat(lit("h"), col("user_id") % 3))
        .otherwise(concat(lit("c"), col("user_id") % 997)).as("k"))
    val out = keyed.groupBy(col("event_type"))
      .agg(call_function("space_saving_topk", col("k"), lit(16)).as("sk"))
      .select(col("event_type"), explode(col("sk")).as("e"))
      .select(col("event_type"), col("e.item"), col("e.count_min"), col("e.count_max"))
    val groups = out.select("event_type").distinct().count()
    assert(groups == 5) // one sketch per event type
    // per-group exact top key must be among that group's candidates
    val exactTop = keyed.groupBy(col("event_type"), col("k")).count()
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
          .orderBy(col("count").desc, col("k"))))
      .filter(col("rn") === 1).select(col("event_type"), col("k"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val cands = out.collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    exactTop.foreach { case (g, topK) =>
      assert(cands(g).contains(topK), s"$g top key $topK missing")
    }
  }

  test("space_saving_topk runs in a streaming aggregation (complete mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    graft.plans.GraftFunctions.register(spark)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(Seq.fill(50)("hot") ++ (1 to 30).map(i => s"cold_$i"): _*)
    val q = mem.toDF().toDF("k")
      .agg(call_function("space_saving_topk", col("k"), lit(8)).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.count_max"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ss_stream").start()
    mem.addData(Seq.fill(20)("hot"): _*)
    q.processAllAvailable()
    val rows = spark.table("ss_stream").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    assert(rows.contains("hot") && rows("hot") >= 70L) // both batches merged
    assert(rows.size <= 8)
  }

  test("HLL sketch table: per-day estimates within 5% and union re-aggregates") {
    val e = Tables.events(spark, Sf)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
    val table = Sketches.distinctSketchTable(e, Seq(col("day")),
      col("user_id").cast("string"))
    val exactDaily = e.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("exact"))
    val joined = table.join(exactDaily, "day").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val est = r.getAs[Long]("estimate").toDouble
      val ex = r.getAs[Long]("exact").toDouble
      assert(math.abs(est - ex) / ex <= 0.05, s"day ${r.get(0)}: $est vs $ex")
    }
    // merge the per-day sketches: estimate of total distinct users
    val merged = table.agg(Sketches.hllMergedEstimate(col("sketch"))).head().getLong(0).toDouble
    val exactTotal = e.agg(countDistinct(col("user_id"))).head().getLong(0).toDouble
    assert(math.abs(merged - exactTotal) / exactTotal <= 0.05)
  }

  test("HLL sketch-table lifecycle: save + overlapping-day append + compact " +
    "serves register-union-identical estimates; guards fire") {
    val ev = Tables.events(spark, Sf).select(
      date_trunc("day", col("ts")).as("day"), col("user_id"), col("event_id"))
    def sk(d: org.apache.spark.sql.DataFrame) =
      Sketches.distinctSketchTable(d, Seq(col("day")),
        col("user_id").cast("string"))
    val tmp = java.nio.file.Files.createTempDirectory("hll_idx_spec").toString
    try {
      Sketches.saveSketchTable(sk(ev.filter(col("event_id") % 2 === 0)),
        s"$tmp/pile", Seq("day"))
      Sketches.appendSketchTable(sk(ev.filter(col("event_id") % 2 === 1)),
        s"$tmp/pile", Seq("day"))
      // the loaded pile's per-day estimates == a one-shot build's (register
      // union over overlapping-day slices IS the union sketch)
      def ests(df: org.apache.spark.sql.DataFrame) = df
        .select(col("day").cast("string"), col("estimate"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      val direct = ests(sk(ev))
      assert(ests(Sketches.loadSketchTable(spark, s"$tmp/pile", Seq("day")))
        === direct)
      Sketches.compactSketchTable(spark, s"$tmp/pile", Seq("day"))
      assert(ests(Sketches.loadSketchTable(spark, s"$tmp/pile", Seq("day")))
        === direct, "compacted registers diverged from the pile")
      // the fold holds one row per day on disk
      assert(graft.operators.SegmentStore.load(spark, s"$tmp/pile", "sketch table").count() ===
        ev.select(col("day")).distinct().count())
      intercept[IllegalStateException] {
        Sketches.compactSketchTable(spark, s"$tmp/none", Seq("day"))
      }
    } finally Gates.deleteTree(tmp)
  }

  test("sketch-table append rejects a wrong-lgConfigK slice at the boundary " +
    "(preamble byte 3 pins the k); the artifact stays loadable") {
    import spark.implicits._
    val rows = (1 to 300).map(i => (i % 3, i.toLong)).toDF("g", "v")
    // the byte-3 pin the boundary check relies on: a sketch built at k
    // carries k at serialized offset 3, across list/set/hll modes
    for (k <- Seq(10, 12); n <- Seq(5, 300)) {
      val skb = rows.limit(n).agg(Sketches.hllSketch(col("v").cast("string"), k))
        .head().getAs[Array[Byte]](0)
      assert(skb(3) === k.toByte, s"lgConfigK byte at k=$k, n=$n")
    }
    def sk(k: Int) = Sketches.distinctSketchTable(
      rows, Seq(col("g")), col("v").cast("string"), lgConfigK = k)
    val tmp = java.nio.file.Files.createTempDirectory("hll_kchk_spec").toString
    try {
      Sketches.saveSketchTable(sk(12), s"$tmp/pile", Seq("g"))
      // same-k append commits; the pile still loads and estimates exactly
      Sketches.appendSketchTable(sk(12), s"$tmp/pile", Seq("g"))
      // a wrong-k slice is rejected BY THE APPEND, not by some later load
      val e = intercept[Exception] {
        Sketches.appendSketchTable(sk(10), s"$tmp/pile", Seq("g"))
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
      assert(msgs.contains("lgConfigK"), s"unexpected failure: $msgs")
      // the failed write never committed: the artifact still loads and its
      // per-group estimates are exact on this small domain
      val est = Sketches.loadSketchTable(spark, s"$tmp/pile", Seq("g"))
        .select(col("g"), col("estimate")).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(est === Map(0 -> 100L, 1 -> 100L, 2 -> 100L))
    } finally Gates.deleteTree(tmp)
  }

  test("items past writeUTF's 64 KiB limit survive partial serialization") {
    graft.plans.GraftFunctions.register(spark)
    // 70k chars > 65535 UTF-8 bytes: DataOutputStream.writeUTF would throw
    // UTFDataFormatException when the partial sketch ships to the exchange
    val big = "x" * 70000
    val df = (Seq.fill(5)(big) ++ Seq.tabulate(9)(i => s"small_$i"))
      .toDF("k").repartition(4) // several partials → serialize + merge + final
    val rows = df
      .agg(call_function("space_saving_topk", col("k"), lit(4)).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.count_min"), col("e.count_max"))
      .collect()
    val bigRow = rows.find(_.getString(0) == big)
    assert(bigRow.isDefined, "oversized item lost from the sketch")
    assert(bigRow.get.getLong(1) <= 5 && 5 <= bigRow.get.getLong(2))
  }

  test("kmv: exact path below k, estimator within 3/sqrt(k) above it") {
    // 100 distinct < k=256 → the sketch holds every hash, estimate exact
    val small = (1L to 100L).toDF("id")
    val exact = Sketches.kmvEstimate(
      Sketches.kmvSketch(small, col("id"), 256), 256).head()
    assert(exact.getLong(1) === 100L && exact.getDouble(3) === 100.0)
    // 20,000 distinct → relative error within 3/sqrt(256) = 18.75%
    val bigD = (1L to 20000L).toDF("id")
    val est = Sketches.kmvEstimate(
      Sketches.kmvSketch(bigD, col("id"), 256), 256).head().getDouble(3)
    assert(math.abs(est - 20000.0) / 20000.0 < 0.1875,
      s"kmv estimate $est too far from 20000")
  }

  test("kmv merge law: sliced-and-merged == direct, overlap dedups") {
    val ids = (1L to 5000L).toDF("id")
    val slices = (0 until 4).map(i =>
      Sketches.kmvSketch(ids.filter(col("id") % 4 === i), col("id"), 256))
    val merged = Sketches.kmvMerge(slices, 256).collect().map(_.getLong(0)).sorted
    val direct = Sketches.kmvSketch(ids, col("id"), 256)
      .collect().map(_.getLong(0)).sorted
    assert(merged.sameElements(direct))
    // overlapping slices (same data twice) collapse to the same sketch
    val dup = Sketches.kmvMerge(Seq(direct.toSeq.toDF("h"), direct.toSeq.toDF("h")), 256)
      .collect().map(_.getLong(0)).sorted
    assert(dup.sameElements(direct))
  }

  test("kmv_kmin aggregate: map-side partials merge to the exact k-min set") {
    graft.plans.GraftFunctions.register(spark)
    val ids = (1L to 5000L).toDF("id").repartition(7) // force partial merges
    val viaAgg = ids
      .select(graft.operators.Sketches.kmvHash(col("id")).as("h"))
      .agg(call_function("kmv_kmin", col("h"), lit(256)).as("mins"))
      .head().getSeq[Long](0)
    val direct = graft.operators.Sketches.kmvSketch(ids, col("id"), 256)
      .collect().map(_.getLong(0)).toSeq
    assert(viaAgg === direct) // both ascending, distinct, same minima
  }

  test("kmv_kmin: k < 1 is an analysis-time error, not a runtime crash") {
    graft.plans.GraftFunctions.register(spark)
    val ids = (1L to 10L).toDF("id")
      .select(graft.operators.Sketches.kmvHash(col("id")).as("h"))
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      ids.agg(call_function("kmv_kmin", col("h"), lit(0)).as("m")).collect()
    }
    assert(ex.getMessage.contains("kmv_kmin k must be >= 1"))
  }

  test("streaming kmv: two micro-batches == one batch over the union") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    val rows = (1L to 600L).map(i =>
      (Timestamp.valueOf(f"2024-01-${i % 3 + 1}%02d 10:00:00"), i % 97))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long)]
    val out = graft.streaming.StreamingKmv.windowedDistinct(
      mem.toDF().toDF("ts", "user_id"), col("user_id"), "1 day", k = 32)
    val q = out.writeStream.outputMode("complete").format("memory")
      .queryName("skmv_out").start()
    val (b1, b2) = rows.splitAt(300)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    // stateful by design: one k-long buffer per window, not per key
    assert(q.recentProgress.flatMap(_.stateOperators).forall(_.numRowsTotal <= 3))
    q.stop()
    val got = spark.table("skmv_out")
      .select("window_start", "n", "hk", "estimate").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1.getTime)
    spark.catalog.dropTempView("skmv_out")
    // batch equivalence per day
    val batch = rows.toDF("ts", "user_id")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(call_function("kmv_kmin",
        graft.operators.Sketches.kmvHash(col("user_id")), lit(32)).as("m"))
      .select(col("w.start"), size(col("m")).cast("long"),
        element_at(col("m"), -1))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1.getTime)
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === batch.toSeq)
    // 97 distinct keys per day > k=32: the sketch is full and estimates
    got.foreach { t => assert(t._2 === 32L && t._4 > 0.0) }
  }

  test("streaming cms: two micro-batches == one batch, never undercounts") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    val rows = (1L to 600L).map(i =>
      (Timestamp.valueOf(f"2024-01-${i % 3 + 1}%02d 10:00:00"), i % 37))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long)]
    val out = graft.streaming.StreamingCms.windowedGrid(
      mem.toDF().toDF("ts", "user_id"), col("user_id"), "1 day",
      depth = 3, width = 16)
    val q = out.writeStream.outputMode("complete").format("memory")
      .queryName("scms_out").start()
    val (b1, b2) = rows.splitAt(300)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    // stateful by design: one grid per window, not per key
    assert(q.recentProgress.flatMap(_.stateOperators).forall(_.numRowsTotal <= 3))
    q.stop()
    val got = spark.table("scms_out").collect()
      .map(r => (r.getTimestamp(0), r.getSeq[Long](1)))
      .sortBy(_._1.getTime)
    spark.catalog.dropTempView("scms_out")
    // batch equivalence per day (cell-wise additive merge law)
    val batch = rows.toDF("ts", "user_id")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(call_function("cms_grid", col("user_id"), lit(3), lit(16)).as("g"))
      .select(col("w.start"), col("g"))
      .collect().map(r => (r.getTimestamp(0), r.getSeq[Long](1)))
      .sortBy(_._1.getTime)
    assert(got.map(_._2) === batch.map(_._2))
    assert(got.forall(_._2.length === 48))
    // mass conservation per hash row, and never-undercount for every key
    val perDay = rows
      .groupBy(t => Timestamp.valueOf(t._1.toString.take(10) + " 00:00:00"))
      .view.mapValues(_.map(_._2))
    got.foreach { case (ts, grid) =>
      val keys = perDay(ts)
      (0 until 3).foreach { r =>
        assert(grid.slice(r * 16, (r + 1) * 16).sum === keys.length.toLong)
      }
      keys.groupBy(identity).foreach { case (k, ks) =>
        val est = (0 until 3).map(r =>
          grid(r * 16 + graft.plans.CmsGrid.cell(k, r, 16))).min
        assert(est >= ks.length.toLong)
      }
    }
  }

  test("kmv set algebra: below k everything is exact; estimates track truth " +
    "when full") {
    import graft.operators.Sketches
    // |A| = 60, |B| = 50, |A ∩ B| = 30 — both sketches under k=256, so
    // union/intersection/jaccard come out EXACT (below-threshold
    // membership is certain)
    val a = Sketches.kmvSketch((1L to 60L).toDF("id"), col("id"), 256)
    val b = Sketches.kmvSketch((31L to 80L).toDF("id"), col("id"), 256)
    val r = Sketches.kmvSetEstimate(a, b, 256).collect().head
    assert(r.getAs[Long]("n_union") === 80L)
    assert(r.getAs[Long]("shared") === 30L)
    assert(r.getAs[Double]("union_est") === 80.0)
    assert(r.getAs[Double]("jaccard") === 0.375)
    assert(r.getAs[Double]("inter_est") === 30.0)
    // full sketches (k=64 over 500/500 with 250 shared): estimates land
    // within the ~3/sqrt(k) relative band
    val a2 = Sketches.kmvSketch((1L to 500L).toDF("id"), col("id"), 64)
    val b2 = Sketches.kmvSketch((251L to 750L).toDF("id"), col("id"), 64)
    val r2 = Sketches.kmvSetEstimate(a2, b2, 64).collect().head
    assert(math.abs(r2.getAs[Double]("union_est") - 750.0) / 750.0 < 0.4)
    assert(math.abs(r2.getAs[Double]("jaccard") - 1.0 / 3) < 0.2)
  }

  test("cms join-size estimate: never undercounts at any width, exact " +
    "when a hash row is collision-free") {
    import graft.operators.Sketches
    // A = 1..200 each once, B = 151..250 → true join size 50
    val a = (1L to 200L).toDF("id")
    val b = (151L to 250L).toDF("id")
    def est(width: Int): Long = Sketches.cmsJoinSize(
      Sketches.countMinCells(a, col("id"), 4, width),
      Sketches.countMinCells(b, col("id"), 4, width), 4)
      .collect().head.getLong(0)
    // tight grid: collisions inflate, never deflate
    assert(est(8) >= 50L)
    // wide grid: some row is injective on 250 keys → exact
    assert(est(65536) === 50L)
    // disjoint sides → certified-empty estimate 0
    val c = (1000L to 1100L).toDF("id")
    val z = Sketches.cmsJoinSize(
      Sketches.countMinCells(a, col("id"), 4, 65536),
      Sketches.countMinCells(c, col("id"), 4, 65536), 4)
      .collect().head.getLong(0)
    assert(z === 0L)
  }

  test("gridEstimate: in-expression min agrees with the sparse-cell " +
    "estimator and costs no wide exchange") {
    graft.plans.GraftFunctions.register(spark)
    val keys = (1L to 500L).map(_ % 37).toDF("id")
    val probes = (0L until 37L).toDF("id")
    val est = graft.operators.Sketches.gridEstimate(
      keys.agg(call_function("cms_grid", col("id"), lit(3), lit(16)).as("grid")),
      probes, "id", depth = 3, width = 16)
    // the dense-grid probe must equal the sparse cell-table estimator
    val sparse = graft.operators.Sketches.countMinEstimate(
      graft.operators.Sketches.countMinCells(keys, col("id"), 3, 16),
      probes, "id", depth = 3, width = 16)
    val got = est.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val want = sparse.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    // the doc's claim, pinned: the min runs as array_min(transform(...)) in
    // place — no per-key groupBy, so no hash-partitioning exchange at all
    val s = est.queryExecution.executedPlan.toString
    assert(!s.contains("Exchange hashpartitioning"),
      s"gridEstimate plan grew a wide exchange:\n$s")
  }

  test("cms_grid: bad depth/width are analysis-time errors") {
    graft.plans.GraftFunctions.register(spark)
    val ids = (1L to 10L).toDF("id")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      ids.agg(call_function("cms_grid", col("id"), lit(0), lit(16))).collect()
    }
    assert(e1.getMessage.contains("depth must be in"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      ids.agg(call_function("cms_grid", col("id"), lit(2), lit(1))).collect()
    }
    assert(e2.getMessage.contains("width must be >= 2"))
  }
}
