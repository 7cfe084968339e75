package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{StreamingDedup, StreamJoins}

case class DocEvent(ts: Timestamp, doc_id: Long, text: String)

/** Streaming dedup semantics + bounded-state evidence (stateOperators
  * metrics) for the dedup store and the stream-stream join store. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1704067200000L
  private def d(offMin: Long, id: Long, text: String) =
    DocEvent(new Timestamp(T0 + offMin * 60000), id, text)

  test("cross-batch duplicate content is dropped; first occurrence wins") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val out = StreamingDedup.byContent(mem.toDF(), watermarkDelay = "30 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()

    mem.addData(
      d(0, 1, "the quick brown fox"),
      d(1, 2, "THE  quick   Brown fox"), // same fingerprint after normalize
      d(2, 3, "something else entirely"))
    q.processAllAvailable()
    mem.addData(d(5, 4, "the quick brown fox")) // dup, later batch
    q.processAllAvailable()
    mem.addData(d(10, 5, "fresh content here"))
    q.processAllAvailable()

    val ids = spark.table("dedup_out").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L))

    // the dedup store holds state and reports watermark-driven eviction
    val states = q.recentProgress.flatMap(_.stateOperators)
    assert(states.nonEmpty && states.exists(_.numRowsTotal > 0))
    q.stop()
  }

  test("stateless text-quality ops compose into a stream unchanged") {
    // gopherRules / docMetrics are pure per-row expressions — the SAME code
    // drops into a streaming scan with zero state, the kappa-architecture
    // property the curation pipeline relies on at ingest time
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val mem = MemoryStream[DocEvent]
    val filtered = graft.operators.TextAnalysis
      .gopherRules(mem.toDF(), minWords = 4, minStopwordHits = 1)
      .filter(col("keep"))
    assert(filtered.isStreaming)
    val q = filtered.writeStream.outputMode("append")
      .format("memory").queryName("gopher_stream").start()
    mem.addData(
      d(0, 1, "the quick brown fox jumps over the lazy dog and that other dog"),
      d(1, 2, "x y"),                      // too short -> dropped
      d(2, 3, "#### #### #### #### ####")) // symbols  -> dropped
    q.processAllAvailable()
    val kept = spark.table("gopher_stream").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
    // stateless: no state store operators at all
    assert(q.recentProgress.flatMap(_.stateOperators).forall(_.numRowsTotal == 0))
    q.stop()
  }

  test("dedup state is evicted once the watermark passes (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocEvent]
    val out = StreamingDedup.byContent(mem.toDF(), watermarkDelay = "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_evict").start()

    mem.addData(d(0, 1, "aaa"), d(0, 2, "bbb"), d(0, 3, "ccc"))
    q.processAllAvailable()
    // advance event time far past watermark+delay → old fingerprints evict
    mem.addData(d(120, 4, "ddd"))
    q.processAllAvailable()
    mem.addData(d(240, 5, "eee"))
    q.processAllAvailable()

    val removed = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsRemoved).sum
    assert(removed > 0, "expected watermark-driven state eviction")
    q.stop()
  }

  test("stream-stream join state evicts via the derived watermark (ADVICE fix)") {
    implicit val sqlCtx = spark.sqlContext
    val temp = MemoryStream[JoinReading]
    val humid = MemoryStream[JoinReading]
    def r(offMin: Long, key: String, v: Double) =
      JoinReading(new Timestamp(T0 + offMin * 60000), key, v)
    val joined = StreamJoins.enrichWithin(temp.toDF(), humid.toDF(),
      toleranceMinutes = 10, watermark = "10 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("join_evict").start()

    temp.addData(r(0, "a", 1.0)); humid.addData(r(1, "a", 2.0))
    q.processAllAvailable()
    // push both watermarks far forward; earlier rows leave the join store
    temp.addData(r(300, "a", 3.0)); humid.addData(r(300, "a", 4.0))
    q.processAllAvailable()
    temp.addData(r(600, "a", 5.0)); humid.addData(r(600, "a", 6.0))
    q.processAllAvailable()

    val removed = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsRemoved).sum
    assert(removed > 0,
      "join state never evicted — interval-arithmetic watermark derivation broke")
    q.stop()
  }

  test("streaming phash flagging: exactly-once pairs vs exhaustive, zero state") {
    import graft.operators.{Dedup, Multimodal}
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val media = Multimodal.syntheticMedia(
      Tables.documents(spark, Sf).filter(col("doc_id") < 120))
    val index = Multimodal.imagePerceptualHashes(media)
      .filter(col("container") === "png")
      .select(col("media_id"), col("phash"))
    val planted = Multimodal.plantImageNearDups(media).collect()
    assert(planted.nonEmpty)
    val mem = MemoryStream[Multimodal.MediaRecord]
    val out = graft.streaming.StreamingPhashDedup.flagStream(mem.toDS(), index)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("phash_flag_out").start()
    val (b1, b2) = planted.splitAt(planted.length / 2)
    mem.addData(b1.toIndexedSeq); q.processAllAvailable()
    mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    // stateless: the lowest-matching-band emission replaces .distinct()
    assert(q.recentProgress.flatMap(_.stateOperators).forall(_.numRowsTotal == 0))
    q.stop()
    val got = spark.table("phash_flag_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // EXACTLY the exhaustive streamed×stored Hamming≤3 relation — each
    // pair once (a multi-band collision emitted twice would fail the
    // size equality)
    val idxHs = index.collect().map(r => (r.getLong(0), r.getLong(1)))
    val plantedHs = Multimodal.imagePerceptualHashes(planted.toIndexedSeq.toDS())
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val expect = for {
      (pid, ph) <- plantedHs; (oid, oh) <- idxHs
      if java.lang.Long.bitCount(ph ^ oh) <= 3
    } yield (pid, oid, java.lang.Long.bitCount(ph ^ oh))
    assert(got.length == expect.length, s"${got.length} vs ${expect.length}")
    assert(got.toSet == expect.toSet)
    // every planted copy within 3 bits of its original is flagged
    assert(expect.exists { case (p, o, _) => p - 600000L == o })
  }

  test("phash Generations flip between micro-batches rebinds the banded " +
    "index: epoch 0 flags against gen-1, epoch 1 against gen-2, no restart") {
    // the name predates in-place saves: the hashes are one store root, and
    // a save into it between micro-batches is the flip
    import graft.operators.Multimodal
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val media = Multimodal.syntheticMedia(
      Tables.documents(spark, Sf).filter(col("doc_id") < 120))
    def hashes(d: org.apache.spark.sql.Dataset[Multimodal.MediaRecord]) =
      Multimodal.imagePerceptualHashes(d)
        .filter(col("container") === "png")
        .select(col("media_id"), col("phash"))
    val planted = Multimodal.plantImageNearDups(media).collect()
    assert(planted.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("phash_genflip").toString
    try {
      val root = s"$dir/phgen"
      // the first save: hashes of half the PLANTED ORIGINALS (copies are
      // planted every 6th id, so an even/odd split would be a no-op —
      // the %12 split leaves the %12==6 originals knowable only to the
      // second save)
      graft.streaming.StreamingPhashDedup.saveHashes(
        hashes(media.filter(col("media_id") % 12 === 0)), root)
      def expect(stored: org.apache.spark.sql.DataFrame) =
        graft.streaming.StreamingPhashDedup.flagAgainstIndex(
            planted.toIndexedSeq.toDS(),
            graft.streaming.StreamingPhashDedup.bandedIndex(stored))
          .collect().map(_.toSeq).toSet
      val e0 = expect(hashes(media.filter(col("media_id") % 12 === 0)))
      val mem = MemoryStream[Multimodal.MediaRecord]
      val epochs = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
      val q = graft.streaming.StreamingPhashDedup.flagStreamFromRoot(
        mem.toDS(), root) { (ans, _) =>
        epochs += ans.collect().map(_.toSeq).toSet
      }
      try {
        mem.addData(planted.toIndexedSeq: _*); q.processAllAvailable()
        // maintenance re-hashes the FULL corpus and saves it into the root
        graft.streaming.StreamingPhashDedup.saveHashes(hashes(media), root)
        val e1 = expect(hashes(media))
        mem.addData(planted.toIndexedSeq: _*); q.processAllAvailable()
        assert(epochs.length == 2)
        assert(epochs(0) == e0 && e0.nonEmpty,
          "epoch 0 must flag against the hashes saved at construction")
        assert(epochs(1) == e1,
          "the epoch after the save must flag against the new hashes")
        assert(e1 != e0,
          "the second save stores all the hashes; the flag sets must differ")
        // the %12==6 originals are only knowable to the second save
        assert(epochs(1).exists(r => r(1).asInstanceOf[Long] % 12 == 6))
        assert(epochs(0).forall(r => r(1).asInstanceOf[Long] % 12 == 0))
      } finally q.stop()
    } finally Gates.deleteTree(dir)
  }
}
