package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis
import graft.streaming.StreamingWinnow

/** Streaming winnow-fingerprint flagging: two-micro-batch batch
  * equivalence against the driver-computed shared-kept-fingerprint
  * relation, exactly-once pair emission with ZERO state-store rows, the
  * df cut, and parameter validation. */
class StreamingWinnowSpec extends SparkSpec {
  import spark.implicits._

  test("two epochs: exactly-once pairs, zero state, batch equivalence") {
    implicit val sqlCtx = spark.sqlContext
    val stored = graft.sources.Tables.documents(spark, Sf)
      .filter(col("doc_id") < 60)
    val fps = TextAnalysis.winnowFingerprints(stored)
      .select(col("doc_id").as("id"), col("fp"))
    val index = StreamingWinnow.fingerprintIndex(fps, maxDf = 20)
    val streamed = Fixtures.nearDupCopies(
        graft.sources.Tables.documents(spark, Sf).filter(col("doc_id") < 30))
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = StreamingWinnow.flagAgainstIndex(
      mem.toDF().toDF("doc_id", "text"), index, minShared = 2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("winnow_flag_out").start()
    val (b1, b2) = streamed.splitAt(streamed.length / 2)
    mem.addData(b1.toIndexedSeq); q.processAllAvailable()
    mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    // stateless: the min-shared-fp emission replaces groupBy-count state
    assert(q.recentProgress.flatMap(_.stateOperators).forall(_.numRowsTotal == 0))
    q.stop()
    val got = spark.table("winnow_flag_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // expected: distinct shared KEPT fps per (incoming, stored) pair — an
    // n-fold fp collision emitted n times would fail the length equality
    val keptByDoc = fps.distinct().groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= 20).select(col("fp"))
      .join(fps.distinct(), Seq("fp"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
    val incByDoc = TextAnalysis.winnowFingerprints(
        Fixtures.nearDupCopies(
          graft.sources.Tables.documents(spark, Sf).filter(col("doc_id") < 30)))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
    val expect = for {
      (iid, ifps) <- incByDoc.toSeq
      (sid, sfps) <- keptByDoc.toSeq
      n = (ifps & sfps).size
      if n >= 2
    } yield (iid, sid, n.toLong)
    assert(got.length == expect.length, s"${got.length} vs ${expect.length}")
    assert(got.toSet == expect.toSet)
    // every streamed 75%-prefix copy pairs with its original (the
    // winnowing guarantee carried through the stored index)
    val origs = got.collect { case (i, s, _) if i - 100000L == s => i }.toSet
    assert(origs.size >= 25, s"only ${origs.size} copies matched their original")
  }

  test("a Generations flip between micro-batches rebinds the index: epoch 0 " +
    "flags against gen-1, epoch 1 against gen-2, no restart; raw path serves") {
    // the name predates in-place saves: the fingerprints are one store
    // root, a save into it is the flip, and the index is rebuilt at each
    // new base commit (a save or a compaction), not at an append
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, Sf)
    def fps(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.winnowFingerprints(d).select(col("doc_id").as("id"), col("fp"))
    val dir = java.nio.file.Files.createTempDirectory("winflip_spec").toString
    try {
      val root = s"$dir/wingen"
      StreamingWinnow.saveFingerprints(fps(docs.filter(col("doc_id") < 30)), root)
      val probes = Fixtures.nearDupCopies(docs.filter(col("doc_id") < 60))
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      // batch-path expectations per stored set
      def expect(stored: org.apache.spark.sql.DataFrame) =
        StreamingWinnow.flagAgainstIndex(
            Fixtures.nearDupCopies(docs.filter(col("doc_id") < 60)),
            StreamingWinnow.fingerprintIndex(fps(stored)))
          .collect().map(_.toSeq).toSet
      val e0 = expect(docs.filter(col("doc_id") < 30))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val epochs = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
      val q = StreamingWinnow.flagStreamFromRoot(
        mem.toDF().toDF("doc_id", "text"), root) { (ans, _) =>
        epochs += ans.collect().map(_.toSeq).toSet
      }
      try {
        mem.addData(probes.toIndexedSeq: _*); q.processAllAvailable()
        StreamingWinnow.saveFingerprints(fps(docs.filter(col("doc_id") < 60)), root)
        val e1 = expect(docs.filter(col("doc_id") < 60))
        mem.addData(probes.toIndexedSeq: _*); q.processAllAvailable()
        assert(epochs.length == 2)
        assert(epochs(0) == e0 && e0.nonEmpty,
          "epoch 0 must flag against the fingerprints saved at construction")
        assert(epochs(1) == e1,
          "the epoch after the save must flag against the new fingerprints")
        assert(e1 != e0, "the second save stores more docs; flags must differ")
        // an append keeps the base commit: the next epoch still flags
        // against the saved set; the compaction that folds it moves the
        // base, and the epoch after it flags against the union
        StreamingWinnow.appendFingerprints(
          fps(docs.filter(col("doc_id") >= 60 && col("doc_id") < 90)), root)
        mem.addData(probes.toIndexedSeq: _*); q.processAllAvailable()
        StreamingWinnow.compactFingerprints(spark, root)
        mem.addData(probes.toIndexedSeq: _*); q.processAllAvailable()
        assert(epochs.length == 4)
        assert(epochs(2) == e1, "an append must not rebuild the index")
        assert(epochs(3) == expect(docs.filter(col("doc_id") < 90)))
      } finally q.stop()
    } finally Gates.deleteTree(dir)
  }

  test("df cut: a fingerprint shared by more than maxDf stored docs is dropped") {
    val docs = (1L to 5L).map(i => (i, "the common boilerplate sentence here"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs)
      .select(col("doc_id").as("id"), col("fp"))
    // every fp has df = 5 > maxDf = 4 → empty index
    val idx = StreamingWinnow.fingerprintIndex(fps, maxDf = 4)
    assert(idx.inverted.count() == 0)
    assert(idx.docSets.count() == 0)
    val idx2 = StreamingWinnow.fingerprintIndex(fps, maxDf = 5)
    assert(idx2.inverted.count() > 0)
  }

  test("plan: the flag path evaluates the selection kernel exactly once") {
    val fps = Seq((1L, 10L), (2L, 10L)).toDF("id", "fp")
    val idx = StreamingWinnow.fingerprintIndex(fps, maxDf = 20)
    // a table scan, not a literal local relation — Catalyst constant-folds
    // the kernel away entirely on a LocalRelation, leaving nothing to pin
    val plan = StreamingWinnow.flagAgainstIndex(
        graft.sources.Tables.documents(spark, Sf), idx)
      .queryExecution.optimizedPlan.toString
    // a second winnow_select would mean a pushed size() guard or an
    // InferFiltersFromGenerate copy re-runs the kernel per row (the
    // round-12 md5-storm failure mode, pinned for winnowFingerprints too)
    assert("winnow_select".r.findAllIn(plan).length == 1, plan.take(2000))
  }

  test("save → append → load roundtrips the merged fingerprint set") {
    val docs = graft.sources.Tables.documents(spark, Sf).filter(col("doc_id") < 40)
    val base = TextAnalysis.winnowFingerprints(docs)
      .select(col("doc_id").as("id"), col("fp"))
    val batch = TextAnalysis.winnowFingerprints(
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      .select(col("doc_id").as("id"), col("fp"))
    val tmp = java.nio.file.Files.createTempDirectory("winnow_idx_spec").toString
    StreamingWinnow.saveFingerprints(base, tmp)
    StreamingWinnow.appendFingerprints(batch, tmp)
    val loaded = StreamingWinnow.loadFingerprints(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = base.union(batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loaded == direct)
    // and the index built from the loaded set applies the df cut over the
    // MERGED corpus: an appended exact copy doubles its fps' df
    val idx = StreamingWinnow.fingerprintIndex(
      StreamingWinnow.loadFingerprints(spark, tmp), maxDf = 20)
    val idxDirect = StreamingWinnow.fingerprintIndex(base.union(batch), maxDf = 20)
    assert(idx.inverted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      idxDirect.inverted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

    // compaction: an in-place one-commit fold preserves rows VERBATIM
    // (multiplicity included — the df cut happens at index build, not here)
    def bag(p: String) = StreamingWinnow.loadFingerprints(spark, p)
      .groupBy(col("id"), col("fp")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def parquets(p: String) =
      graft.operators.SegmentStore.latest(graft.operators.SeqFiles.fs(spark, p), p)
        .get.live.length
    val (pile, pileFiles) = (bag(tmp), parquets(tmp))
    StreamingWinnow.compactFingerprints(spark, tmp)
    assert(bag(tmp) == pile)
    // and one commit = exactly one fp-sorted file set, no more files
    assert(parquets(tmp) <= pileFiles)
    intercept[IllegalStateException] {
      StreamingWinnow.compactFingerprints(spark, s"$tmp-none")
    }
  }

  test("validation") {
    val fps = Seq((1L, 10L)).toDF("id", "fp")
    intercept[IllegalArgumentException] {
      StreamingWinnow.fingerprintIndex(fps, maxDf = 0)
    }
    intercept[IllegalArgumentException] {
      StreamingWinnow.flagAgainstIndex(
        Seq((1L, "x")).toDF("doc_id", "text"),
        StreamingWinnow.fingerprintIndex(fps), minShared = 0)
    }
  }
}
