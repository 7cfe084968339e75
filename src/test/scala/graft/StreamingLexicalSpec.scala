package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.{SegmentStore, SeqFiles, TextAnalysis}
import graft.streaming.StreamingLexicalServing

case class LexQuery(query_id: Long, terms: Seq[String])

/** Streaming BM25 serving from the persisted lexical index: per-epoch
  * answers must be ROW-IDENTICAL to the batch operator at the same index
  * state, and appended segments must become searchable on the next epoch
  * without a stream restart (growing-index semantics). */
class StreamingLexicalSpec extends SparkSpec {
  import spark.implicits._

  test("streamed BM25 ≡ batch per epoch; appended segment searchable next epoch") {
    val docs = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan"), (4L, "filter value row"),
      (5L, "spark")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_stream").toString
    try {
      TextAnalysis.saveLexicalIndex(docs, dir, nBuckets = 8)
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[LexQuery]
      val epochs = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
      val q = StreamingLexicalServing.serveBm25FromPath(stream.toDF(), dir, k = 3) {
        (ans, _) => epochs += ans.collect().map(_.toSeq).toSet
      }
      try {
        // epoch 0: answers must equal the batch operator on the same index
        val q0 = Seq(LexQuery(1L, Seq("spark", "merge")), LexQuery(2L, Seq("filter")))
        val expected0 = TextAnalysis.bm25QueryIndexBatch(spark, dir,
          q0.map(q => (q.query_id, q.terms)), k = 3).collect().map(_.toSeq).toSet
        stream.addData(q0: _*)
        q.processAllAvailable()
        assert(epochs.size == 1 && epochs(0) == expected0 && expected0.nonEmpty)

        // append a segment carrying a term unseen so far; the NEXT epoch
        // must see it (per-batch path re-read, no restart) and the answer
        // must equal the batch operator on the grown index
        TextAnalysis.appendLexicalIndex(
          Seq((6L, "zebra zebra spark"), (7L, "zebra row")).toDF("doc_id", "text"), dir)
        val q1 = Seq(LexQuery(3L, Seq("zebra")))
        val expected1 = TextAnalysis.bm25QueryIndexBatch(spark, dir,
          q1.map(q => (q.query_id, q.terms)), k = 3).collect().map(_.toSeq).toSet
        stream.addData(q1: _*)
        q.processAllAvailable()
        assert(epochs.size == 2 && epochs(1) == expected1)
        // the appended docs are the hits, repeated-zebra doc first
        val hits = epochs(1).toSeq.sortBy(_(3).asInstanceOf[Int])
        assert(hits.map(_(1)) == Seq(6L, 7L))

        // malformed queries are data: a batch of only blank-terms queries is
        // skipped (no sink call, stream alive), and a mixed batch drops the
        // unservable query instead of killing serving for everyone
        stream.addData(LexQuery(90L, Seq("", "  ")))
        q.processAllAvailable()
        assert(epochs.size == 2)
        stream.addData(LexQuery(91L, Seq(" ", "")), LexQuery(92L, Seq("spark")))
        q.processAllAvailable()
        assert(epochs.size == 3 && epochs(2).nonEmpty)
        assert(epochs(2).forall(_(0) == 92L))
      } finally q.stop()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("a Generations flip between micro-batches is served next epoch: " +
    "epoch 0 from gen-1, epoch 1 from gen-2, no restart; raw paths still work") {
    // the name predates in-place saves: the index is one store root; a
    // save into it is the flip, and an append plus a compaction follow
    val docsA = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan")).toDF("doc_id", "text")
    val docsAll = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan"), (4L, "spark spark spark"),
      (5L, "zebra spark row")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_genflip").toString
    try {
      val root = s"$dir/lexgen"
      TextAnalysis.saveLexicalIndex(docsA, root, nBuckets = 8)
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[LexQuery]
      val epochs = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
      val q = StreamingLexicalServing.serveBm25FromPath(stream.toDF(), root, k = 3) {
        (ans, _) => epochs += ans.collect().map(_.toSeq).toSet
      }
      try {
        val qs = Seq(LexQuery(1L, Seq("spark")))
        def batch() = TextAnalysis.bm25QueryIndexBatch(spark,
          root, qs.map(q => (q.query_id, q.terms)), k = 3).collect().map(_.toSeq).toSet
        val expected0 = batch()
        stream.addData(qs: _*)
        q.processAllAvailable()
        assert(epochs.size == 1 && epochs(0) == expected0 && expected0.nonEmpty)
        // out-of-band maintenance saves a new index into the root (more
        // docs, different idf/avgdl — every score moves); the running
        // stream must serve it on the NEXT epoch
        TextAnalysis.saveLexicalIndex(docsAll, root, nBuckets = 8)
        val expected1 = batch()
        stream.addData(qs: _*)
        q.processAllAvailable()
        assert(epochs.size == 2 && epochs(1) == expected1)
        assert(epochs(1) != expected0,
          "the second save indexes two more spark docs — identical answers " +
            "mean the save was not served")
        // doc 4 (second save only) must now be a hit
        assert(epochs(1).exists(_(1) == 4L))
        // an append, then an in-place compaction between epochs: the
        // compacted index serves what the two segments served
        TextAnalysis.appendLexicalIndex(Seq((6L, "spark spark row")).toDF("doc_id", "text"), root)
        val expected2 = batch()
        TextAnalysis.compactLexicalIndex(spark, root)
        stream.addData(qs: _*)
        q.processAllAvailable()
        assert(epochs.size == 3 && epochs(2) == expected2 && epochs(2) != expected1)
      } finally q.stop()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("torn segment (data landed, commit record missing) is flagged and refuses to serve") {
    val docs = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan"), (4L, "filter value row")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_torn").toString
    try {
      TextAnalysis.saveLexicalIndex(docs.filter($"doc_id" <= 2), dir, nBuckets = 8)
      TextAnalysis.appendLexicalIndex(docs.filter($"doc_id" > 2), dir)
      // healthy two-segment artifact: audit green
      val ok = TextAnalysis.validateLexicalIndex(spark, dir).collect()(0)
      assert(ok.getAs[Long]("n_segments") == 2L)
      assert(ok.getAs[Boolean]("postings_consistent") && ok.getAs[Boolean]("terms_consistent"))

      // the tear: a published manifest naming a segment's postings and
      // termstats but not its stat file
      val hfs = SeqFiles.fs(spark, dir)
      val manifests = new Path(dir, "_manifest")
      val m = SegmentStore.latest(hfs, dir).get
      val stat = m.live.filter(_.values.head == "stat").last
      SeqFiles.publish(hfs, manifests, "m", m.seq + 1,
        SeqFiles.read(hfs, new Path(manifests, SeqFiles.name("m", m.seq)))
          .filterNot(_.endsWith(stat.path)))
      val torn = TextAnalysis.validateLexicalIndex(spark, dir).collect()(0)
      assert(!(torn.getAs[Boolean]("postings_consistent") &&
        torn.getAs[Boolean]("terms_consistent")))

      // stream construction must refuse the torn artifact loudly
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[LexQuery]
      val e = intercept[IllegalArgumentException] {
        StreamingLexicalServing.serveBm25FromPath(stream.toDF(), dir, k = 3)((_, _) => ())
      }
      assert(e.getMessage.contains("torn"))

      // and compaction must refuse too — deriving the compacted commit
      // record from the rewritten tables would otherwise launder the tear
      // into a green-auditing artifact with silently skewed idf/avgdl
      val ec = intercept[IllegalArgumentException] {
        TextAnalysis.compactLexicalIndex(spark, dir)
      }
      assert(ec.getMessage.contains("torn"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("micro-batch over maxBatchQueries fails with the knob's name, not an OOM") {
    val docs = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_cap").toString
    try {
      TextAnalysis.saveLexicalIndex(docs, dir, nBuckets = 8)
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[LexQuery]
      val q = StreamingLexicalServing.serveBm25FromPath(stream.toDF(), dir, k = 3,
        maxBatchQueries = 1)((_, _) => ())
      try {
        stream.addData(LexQuery(1L, Seq("spark")), LexQuery(2L, Seq("scan")))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(e.getMessage.contains("maxBatchQueries") ||
          Option(e.getCause).exists(_.getMessage.contains("maxBatchQueries")))
      } finally q.stop()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("compacted index serves row-identical results to the segmented original") {
    val docs = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan"), (4L, "filter value row")).toDF("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("graft_lex_src").toString
    try {
      TextAnalysis.saveLexicalIndex(docs.filter($"doc_id" <= 2), src, nBuckets = 8)
      TextAnalysis.appendLexicalIndex(docs.filter($"doc_id" > 2), src)
      val terms = Seq("spark", "merge", "filter")
      val before = TextAnalysis.bm25QueryIndex(spark, src, terms, k = 10).collect().toSeq
      TextAnalysis.compactLexicalIndex(spark, src)
      val after = TextAnalysis.bm25QueryIndex(spark, src, terms, k = 10).collect().toSeq
      assert(after == before && before.nonEmpty)
      // compaction really merged the termstats deltas: one row per term
      val m = SegmentStore.latest(SeqFiles.fs(spark, src), src).get
      assert(m.seq == 3L && m.live.forall(_.path.startsWith("c-00000003/")))
      val all = SegmentStore.frame(spark, src, m.live,
        TextAnalysis.LexSchema, TextAnalysis.LexPartitions)
      val ts = all.filter($"component" === "term")
      assert(ts.count() == ts.select("token").distinct().count())
      // and the commit record is a single stat row
      assert(all.filter($"component" === "stat").count() == 1)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(src)).deleteRecursively()
    }
  }

  test("pruned-dfq memo stays fresh: the same ask re-served after an append " +
      "reflects the appended segment (fingerprint invalidation)") {
    val docs = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_memo").toString
    try {
      TextAnalysis.saveLexicalIndex(docs, dir, nBuckets = 8)
      val terms = Seq("spark", "merge")
      val a0 = TextAnalysis.bm25QueryIndex(spark, dir, terms, k = 10).collect().toSeq
      // repeat ask: memo hit must serve the identical answer
      assert(TextAnalysis.bm25QueryIndex(spark, dir, terms, k = 10)
        .collect().toSeq == a0)
      // append docs that move idf/dfq for the SAME terms; the very next
      // ask must reflect them — a stale memo would keep serving a0
      TextAnalysis.appendLexicalIndex(
        Seq((7L, "spark spark"), (8L, "merge row")).toDF("doc_id", "text"), dir)
      val a1 = TextAnalysis.bm25QueryIndex(spark, dir, terms, k = 10).collect().toSeq
      assert(a1 != a0, "append did not invalidate the pruned-dfq memo")
      assert(a1.exists(_.getLong(0) == 7L))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("crash-atomic appendLexicalIndex and saveLexicalIndex over an index: " +
      "every crash point serves the old or the new answer, audits " +
      "consistent, and recover plus a rerun converges") {
    val docs = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan")).toDF("doc_id", "text")
    val template = Files.createTempDirectory("graft_lex_sweep").toString
    try {
      TextAnalysis.saveLexicalIndex(docs.filter($"doc_id" <= 2), template, nBuckets = 2)
      val terms = Seq("spark", "merge", "scan")
      // the audit runs on every reader the sweep resolves: before the
      // verb, after each crash, and after recover plus the rerun
      def open(dir: String): () => Seq[String] = {
        val audit = TextAnalysis.validateLexicalIndex(spark, dir).collect()(0)
        assert(audit.getAs[Boolean]("postings_consistent") &&
          audit.getAs[Boolean]("terms_consistent"), s"$dir audits torn: $audit")
        val answer = TextAnalysis.bm25QueryIndex(spark, dir, terms, k = 10)
        () => answer.collect().map(_.toString).toSeq
      }
      val recover = (dir: String) => SegmentStore.recover(spark, dir)
      val t0 = System.nanoTime()
      val appendSteps = FaultFs.crashSweep(spark, template, open, recover) { dir =>
        TextAnalysis.appendLexicalIndex(docs.filter($"doc_id" === 3L), dir)
      }
      val t1 = System.nanoTime()
      val saveSteps = FaultFs.crashSweep(spark, template, open, recover) { dir =>
        TextAnalysis.saveLexicalIndex(docs, dir, nBuckets = 2)
      }
      info(f"append: $appendSteps steps in ${(t1 - t0) / 1e9}%.1f s; " +
        f"save: $saveSteps steps in ${(System.nanoTime() - t1) / 1e9}%.1f s")
      assert(appendSteps >= 6 && saveSteps >= 6, s"$appendSteps, $saveSteps")
    } finally Gates.deleteTree(template)
  }

  test("crash-atomic compactLexicalIndex in place: every crash point serves " +
      "the same answer from the two segments or the one folded segment, audits " +
      "consistent, and recover plus a rerun converges") {
    val docs = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan")).toDF("doc_id", "text")
    val template = Files.createTempDirectory("graft_lex_compact_sweep").toString
    try {
      TextAnalysis.saveLexicalIndex(docs.filter($"doc_id" <= 2), template, nBuckets = 2)
      TextAnalysis.appendLexicalIndex(docs.filter($"doc_id" === 3L), template)
      val terms = Seq("spark", "merge", "scan")
      def open(dir: String): () => Seq[String] = {
        val audit = TextAnalysis.validateLexicalIndex(spark, dir).collect()(0)
        assert(audit.getAs[Boolean]("postings_consistent") &&
          audit.getAs[Boolean]("terms_consistent"), s"$dir audits torn: $audit")
        val answer = TextAnalysis.bm25QueryIndex(spark, dir, terms, k = 10)
        () => s"segments ${audit.getAs[Long]("n_segments")}" +:
          answer.collect().map(_.toString).toSeq
      }
      val t0 = System.nanoTime()
      val steps = FaultFs.crashSweep(spark, template, open,
        dir => SegmentStore.recover(spark, dir))(TextAnalysis.compactLexicalIndex(spark, _))
      info(f"compactLexicalIndex: $steps steps in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      assert(steps >= 6, s"$steps")
    } finally Gates.deleteTree(template)
  }

  test("a BM25 read at 64 buckets lists only _manifest and starts no " +
      "file-listing job: the memo collects and the scoring scan are its jobs") {
    val docs = (1 to 300).map(i => (i.toLong, s"spark w${i % 97} v${i % 13}"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_lex_zero").toString
    try {
      FaultFs.install(spark)
      // one query, and a batch of three: each reads its own index, so its
      // first read finds both memos cold
      val reads: Seq[String => Seq[org.apache.spark.sql.Row]] = Seq(
        TextAnalysis.bm25QueryIndex(spark, _, Seq("spark", "w7", "v3"), k = 5)
          .collect().toSeq,
        TextAnalysis.bm25QueryIndexBatch(spark, _, Seq((1L, Seq("spark", "w7")),
          (2L, Seq("v3")), (3L, Seq("w11", "v5", "spark"))), k = 5).collect().toSeq)
      reads.zipWithIndex.foreach { case (serve, i) =>
        val index = s"$dir/$i"
        // 64 buckets × 2 components + 1 stat dir: over the 32-path threshold
        // above which a listing index would launch a listing job
        TextAnalysis.saveLexicalIndex(docs, index, nBuckets = 64)
        def read() = FaultFs.readsAndJobs(spark)(serve(FaultFs.uri(index)))
        val (cold, coldReads, coldJobs) = read()
        val (warm, warmReads, warmJobs) = read()
        assert(cold.nonEmpty && warm == cold)
        Seq(coldReads, warmReads).foreach { reads =>
          assert(reads.filter(_.startsWith("listStatus")) == Seq("listStatus _manifest"), reads)
        }
        Seq(coldJobs, warmJobs).foreach { js =>
          assert(js.nonEmpty && js.forall(j => j._1 != "null" && !j._2.contains("Listing")), js)
        }
        // cold: the stats memo collect, the dfq memo collect and the scoring
        // scan; warm (both memos hit on the same manifest): the scan alone
        assert(coldJobs.map(_._1).distinct.length == 3, coldJobs)
        assert(warmJobs.map(_._1).distinct.length == 1, warmJobs)
      }
    } finally Gates.deleteTree(dir)
  }
}
