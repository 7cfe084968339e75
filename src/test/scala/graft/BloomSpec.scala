package graft

import org.apache.spark.sql.functions._

import graft.operators.Bloom

class BloomSpec extends SparkSpec {
  import spark.implicits._

  private val M = 62 * 8 // 496 bits — small enough to force collisions
  private val K = 3

  test("no false negatives: every inserted key probes true, both probe paths") {
    val keys = (1L to 300L).toDF("id")
    val filter = Bloom.bloomWords(keys, col("id"), M, K).cache()
    val words = Bloom.denseWords(filter, M)
    // dense-literal expression path
    val exprMiss = keys.filter(!Bloom.containsExpr(words, col("id"), M, K)).count()
    assert(exprMiss === 0L)
    // words-table path
    val tblMiss = Bloom.bloomContains(filter, keys, "id", M, K)
      .filter(!col("bloom_hit")).count()
    assert(tblMiss === 0L)
    filter.unpersist()
  }

  test("both probe paths agree on non-members, and a small filter DOES " +
    "false-positive (it is a bloom filter, not a hash set)") {
    val inserted = (1L to 300L).toDF("id")
    val filter = Bloom.bloomWords(inserted, col("id"), M, K).cache()
    val words = Bloom.denseWords(filter, M)
    val outside = (1000L to 1999L).toDF("id")
    val viaExpr = outside.withColumn("hit", Bloom.containsExpr(words, col("id"), M, K))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    val viaTable = Bloom.bloomContains(filter, outside, "id", M, K)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(viaExpr === viaTable)
    // 300 keys × 3 hashes into 496 bits → fill ≈ 84%, fpp ≈ 0.6: the
    // outside range must show false positives (collision behavior is the
    // point of the structure) but not be all-true unless fill is total
    val fp = viaExpr.values.count(identity)
    assert(fp > 0, "expected false positives at 84% fill")
  }

  test("merge law: word-wise OR of slice filters == the union filter") {
    val all = (1L to 400L).toDF("id")
    val slices = (0 until 3).map(i =>
      Bloom.bloomWords(all.filter(col("id") % 3 === i), col("id"), M, K))
    val merged = Bloom.bloomMerge(slices)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val direct = Bloom.bloomWords(all, col("id"), M, K)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(merged.toSeq === direct.toSeq)
  }

  test("pruned join: result rows equal the plain join exactly, duplicates kept") {
    // fact with duplicate rows AND duplicate keys; dim selective
    val fact = Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"), (7L, "x"),
      (9L, "y")).toDF("fk", "payload")
    val dim = Seq((1L, "one"), (3L, "three")).toDF("dk", "name")
    val got = Bloom.prunedJoin(fact, dim, "fk", "dk", M, K)
      .select(col("fk"), col("payload"), col("name"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(t => (t._1, t._2))
    val want = fact.join(dim, col("fk") === col("dk"))
      .select(col("fk"), col("payload"), col("name"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq === want.toSeq)
    assert(got.count(_._1 == 1L) === 2, "duplicate fact rows must survive the prune")
  }

  test("the dense-literal probe is a pure scan predicate: no exchange " +
    "before the filter, and it removes non-members pre-join") {
    val inserted = (1L to 50L).toDF("id")
    val bigM = 62 * 1024 // low fill → near-zero fpp for the prune assert
    val words = Bloom.denseWords(
      Bloom.bloomWords(inserted, col("id"), bigM, 4), bigM)
    val fact = (1L to 5000L).toDF("fk")
    val prunedCount = fact
      .filter(Bloom.containsExpr(words, col("fk"), bigM, 4)).count()
    // all 50 members survive; fpp at fill ~0.3% keeps stragglers rare
    assert(prunedCount >= 50L && prunedCount < 100L,
      s"expected ~50 survivors, got $prunedCount")
    val plan = fact.filter(Bloom.containsExpr(words, col("fk"), bigM, 4))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bloom probe must be exchange-free:\n$plan")
  }

  test("lifecycle: save + delta-append + merged load == direct build over " +
    "the union") {
    val all = (1L to 400L).toDF("id")
    val tmp = java.nio.file.Files.createTempDirectory("bloom_idx_spec").toString
    try {
      Bloom.saveWords(Bloom.bloomWords(
        all.filter(col("id") <= 250), col("id"), M, K), tmp)
      Bloom.appendWords(Bloom.bloomWords(
        all.filter(col("id") > 250), col("id"), M, K), tmp)
      val merged = Bloom.loadWords(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val direct = Bloom.bloomWords(all, col("id"), M, K)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(merged.toSeq === direct.toSeq)
    } finally Gates.deleteTree(tmp)
  }

  test("compactWords: the fold IS the bit-OR merge — one generation, " +
    "load-identical to the pile, fewer files; guards fire") {
    val all = (1L to 400L).toDF("id")
    val tmp = java.nio.file.Files.createTempDirectory("bloom_cmp_spec").toString
    try {
      Bloom.saveWords(Bloom.bloomWords(
        all.filter(col("id") <= 150), col("id"), M, K), s"$tmp/pile")
      Bloom.appendWords(Bloom.bloomWords(
        all.filter(col("id") > 150 && col("id") <= 300), col("id"), M, K), s"$tmp/pile")
      Bloom.appendWords(Bloom.bloomWords(
        all.filter(col("id") > 300), col("id"), M, K), s"$tmp/pile")
      def rows(p: String) = Bloom.loadWords(spark, p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      // the live files of the store's newest manifest
      def parquets(p: String) =
        graft.operators.SegmentStore.latest(graft.operators.SeqFiles.fs(spark, p), p)
          .get.live.length
      val (pile, pileFiles) = (rows(s"$tmp/pile"), parquets(s"$tmp/pile"))
      Bloom.compactWords(spark, s"$tmp/pile")
      assert(rows(s"$tmp/pile") === pile)
      assert(parquets(s"$tmp/pile") < pileFiles, "the fold must shrink the file pile")
      intercept[IllegalStateException] {
        Bloom.compactWords(spark, s"$tmp/none")
      }
    } finally Gates.deleteTree(tmp)
  }

  test("bloom_agg: dense buffer == the column-expression build, under any " +
    "partitioning; streaming two micro-batches == one batch") {
    graft.plans.GraftFunctions.register(spark)
    val keys = (1L to 300L).toDF("id")
    def dense(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(call_function("bloom_agg", col("id"), lit(M), lit(K)).as("w"))
        .collect().head.getSeq[Long](0)
    // the JVM md5 twin must build exactly the words the SQL path builds
    val words = Bloom.denseWords(Bloom.bloomWords(keys, col("id"), M, K), M)
    assert(dense(keys).toSeq === words.toSeq)
    assert(dense(keys.repartition(7)).toSeq === words.toSeq)
    // streaming: per-day filters across two micro-batches == batch build
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    val rows = (1L to 300L).map(i =>
      (Timestamp.valueOf(f"2024-01-${i % 2 + 1}%02d 10:00:00"), i))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long)]
    val q = graft.streaming.StreamingBloom.windowedWords(
        mem.toDF().toDF("ts", "id"), col("id"), "1 day", M, K)
      .writeStream.outputMode("complete").format("memory")
      .queryName("sbw_out").start()
    val (b1, b2) = rows.splitAt(150)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    assert(q.recentProgress.flatMap(_.stateOperators).forall(_.numRowsTotal <= 2))
    q.stop()
    val got = spark.table("sbw_out").collect()
      .map(r => (r.getTimestamp(0), r.getSeq[Long](1))).sortBy(_._1.getTime)
    spark.catalog.dropTempView("sbw_out")
    val perDay = rows.groupBy(_._1).toSeq.sortBy(_._1.getTime)
    assert(got.length === 2)
    got.zip(perDay).foreach { case ((_, w), (_, dayRows)) =>
      val want = Bloom.denseWords(Bloom.bloomWords(
        dayRows.map(_._2).toDF("id"), col("id"), M, K), M)
      assert(w.toSeq === want.toSeq)
    }
  }

  test("append mode: each window finalizes exactly once after the watermark " +
    "passes its end, words equal the batch build, and emitted state drains") {
    graft.plans.GraftFunctions.register(spark)
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    val rows = (1L to 300L).map(i =>
      (Timestamp.valueOf(f"2024-01-${i % 2 + 1}%02d 10:00:00"), i))
      .sortBy(_._1.getTime) // event-time order across batches: append mode
                            // DROPS rows behind the watermark by design
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long)]
    val q = graft.streaming.StreamingBloom.windowedWords(
        mem.toDF().toDF("ts", "id"), col("id"), "1 day", M, K)
      .writeStream.outputMode("append").format("memory")
      .queryName("sba_out").start()
    val (b1, b2) = rows.splitAt(150)
    mem.addData(b1); q.processAllAvailable()
    // watermark (day-1 10:00 - 10min) trails every window end: nothing final
    assert(spark.table("sba_out").count() == 0)
    // b2's day-2 rows advance the watermark past day 1's end; the engine's
    // watermark-advance follow-up batch flushes day 1 — finalized, once
    mem.addData(b2); q.processAllAvailable()
    assert(spark.table("sba_out").count() == 1)
    // a far-future sentinel (its own window never emits) flushes day 2
    mem.addData((Timestamp.valueOf("2024-01-05 00:00:00"), 999L))
    q.processAllAvailable()
    // bounded state: both real windows emitted AND evicted — only the
    // open sentinel window remains in the store
    val lastState = q.recentProgress.flatMap(_.stateOperators).last
    assert(lastState.numRowsTotal <= 1,
      s"state not drained: ${lastState.numRowsTotal} rows")
    q.stop()
    val got = spark.table("sba_out").collect()
      .map(r => (r.getTimestamp(0), r.getSeq[Long](1))).sortBy(_._1.getTime)
    spark.catalog.dropTempView("sba_out")
    val perDay = rows.groupBy(_._1).toSeq.sortBy(_._1.getTime)
    assert(got.length === 2, s"each real window must emit exactly once, got ${got.length}")
    got.zip(perDay).foreach { case ((_, w), (_, dayRows)) =>
      val want = Bloom.denseWords(Bloom.bloomWords(
        dayRows.map(_._2).toDF("id"), col("id"), M, K), M)
      assert(w.toSeq === want.toSeq)
    }
  }

  test("string-key bloom_agg: the JVM md5 twin == the SQL column build, " +
    "and probes see no false negatives") {
    graft.plans.GraftFunctions.register(spark)
    val keys = (1L to 200L).map(i => s"https://host-${i % 7}/doc/$i").toDF("url")
    val words = Bloom.denseWords(Bloom.bloomWords(keys, col("url"), M, K), M)
    val agg = keys.agg(call_function("bloom_agg", col("url"), lit(M), lit(K)))
      .collect().head.getSeq[Long](0)
    assert(agg.toSeq === words.toSeq)
    val miss = keys.filter(!Bloom.containsExpr(words, col("url"), M, K)).count()
    assert(miss === 0L)
  }

  test("null keys are skipped identically by bloomWords and bloom_agg") {
    graft.plans.GraftFunctions.register(spark)
    val withNulls = Seq(Some(1L), None, Some(2L), None, Some(3L))
      .toDF("id")
    val viaSql = Bloom.denseWords(Bloom.bloomWords(withNulls, col("id"), M, K), M)
    val viaAgg = withNulls
      .agg(call_function("bloom_agg", col("id"), lit(M), lit(K)))
      .collect().head.getSeq[Long](0)
    val clean = Bloom.denseWords(Bloom.bloomWords(
      Seq(1L, 2L, 3L).toDF("id"), col("id"), M, K), M)
    assert(viaSql.toSeq === clean.toSeq)
    assert(viaAgg.toSeq === clean.toSeq)
  }

  test("parameter validation fails loudly") {
    val df = (1L to 10L).toDF("id")
    intercept[IllegalArgumentException] { Bloom.bloomWords(df, col("id"), 100, 3) }
    intercept[IllegalArgumentException] { Bloom.bloomWords(df, col("id"), 62, 0) }
    intercept[IllegalArgumentException] {
      Bloom.containsExpr(Array.ofDim[Long](3), col("id"), 62 * 4, 3)
    }
  }
}
