package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Quantization, SegmentStore, SeqFiles, Similarity}
import graft.sources.Tables
import graft.streaming.StreamingAnnServing

case class QueryVec(vec_id: Long, embedding: Seq[Float])

/** Streaming ANN serving from the persisted IVF-PQ artifact: the serving
  * answers must be ROW-IDENTICAL to the batch ivfPqQuery on the same
  * queries, and the stateless candidate tier must run as a pure append
  * stream with zero state-store rows. */
class StreamingAnnSpec extends SparkSpec {
  import spark.implicits._

  private def withIndex(f: (Similarity.IvfPqIndex, DataFrame) => Unit): Unit = {
    val e = Tables.embeddings(spark, Sf)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_serve").toString
    try {
      Similarity.saveIvfPq(e, dir, nlist = 8, m = 8, ksub = 16, kmeansIters = 1)
      f(Similarity.loadIvfPq(spark, dir), e)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  private def queryVecs(e: DataFrame, n: Int): Seq[QueryVec] =
    e.filter(col("vec_id") < n).collect()
      .map(r => QueryVec(r.getLong(0), r.getSeq[Float](1)))

  test("streamed IVF-PQ answers are row-identical to the batch query") {
    withIndex { (idx, e) =>
      implicit val sqlCtx = spark.sqlContext
      val qs = queryVecs(e, 8)
      val expected = Similarity
        .ivfPqQuery(idx.encoded, idx.centroids, idx.books, e,
          e.filter(col("vec_id") < 8), k = 3, nprobe = 4, shortlist = 10)
        .collect().map(_.toSeq).toSet

      val stream = MemoryStream[QueryVec]
      val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      // queries here ARE corpus rows under their own ids, so self-matches
      // must be suppressed to mirror the batch gate (excludeSelf = true;
      // the streaming default is false for client-chosen id spaces)
      val q = StreamingAnnServing.serveIvfPq(stream.toDF(), idx, e,
        k = 3, nprobe = 4, shortlist = 10, excludeSelf = true) { (answers, _) =>
        got ++= answers.collect().map(_.toSeq)
      }
      // two micro-batches: per-query answers must compose to the batch set
      stream.addData(qs.take(4): _*)
      q.processAllAvailable()
      stream.addData(qs.drop(4): _*)
      q.processAllAvailable()
      q.stop()

      assert(got.nonEmpty && got.toSet == expected)
    }
  }

  test("stateless candidate tier: pure append stream, no state store, batch-identical") {
    withIndex { (idx, e) =>
      implicit val sqlCtx = spark.sqlContext
      val qs = queryVecs(e, 4)
      val expected = StreamingAnnServing
        .scoreCandidates(e.filter(col("vec_id") < 4), idx, nprobe = 4)
        .collect().map(_.toSeq).toSet

      val stream = MemoryStream[QueryVec]
      val scored = StreamingAnnServing.scoreCandidates(stream.toDF(), idx, nprobe = 4)
      assert(scored.isStreaming)
      val q = scored.writeStream.outputMode("append")
        .format("memory").queryName("ann_cand_out").start()
      stream.addData(qs: _*)
      q.processAllAvailable()
      val got = spark.table("ann_cand_out").collect().map(_.toSeq).toSet
      // stateless: the static index side is joined without any state store
      assert(q.recentProgress.flatMap(_.stateOperators).forall(_.numRowsTotal == 0))
      q.stop()
      assert(got.nonEmpty && got == expected)
    }
  }

  test("serving epochs never re-read the quantizers (loaded once at construction)") {
    // The bench's per-epoch latency claims to exclude quantizer/index
    // loading. Pin the mechanism: centroids + codebooks are memoized per
    // resolved generation at stream CONSTRUCTION; within that generation
    // an epoch lists `_manifest`, reads code files and the float corpus,
    // and never opens a file holding quantizer rows.
    val e = Tables.embeddings(spark, Sf)
    val dir = java.nio.file.Files.createTempDirectory("ann_loadonce").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      Similarity.saveIvfPq(e, s"$dir/idx", nlist = 8, m = 8, ksub = 16)
      val corpusPath = s"$dir/corpus"
      e.write.mode("overwrite").parquet(corpusPath)
      val live = SegmentStore.latest(SeqFiles.fs(spark, s"$dir/idx"), s"$dir/idx").get.live
      val quantizerFiles = live.filter(_.values.head != "codes").map(_.path.split('/').last).toSet
      val codeFiles = live.filter(_.values.head == "codes").map(_.path.split('/').last).toSet
      // (the reads log file names; the quantizer rows are written by their
      // own task, so their names differ from every code file's)
      assert(quantizerFiles.nonEmpty && codeFiles.nonEmpty && !codeFiles.exists(quantizerFiles), live)
      val qs = e.filter(col("vec_id") < 4)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .collect().map(r => QueryVec(r.getLong(0), r.getSeq[Float](1)))
      FaultFs.install(spark)
      val stream = MemoryStream[QueryVec]
      var served = 0L
      val q = StreamingAnnServing.serveIvfPqFromRoot(stream.toDF(), FaultFs.uri(s"$dir/idx"),
        FaultFs.uri(corpusPath), k = 1, nprobe = 4, shortlist = 10) { (ans, _) =>
        served += ans.count()
      }
      try {
        (1 to 2).foreach { epoch =>
          val (_, reads) = FaultFs.reads {
            stream.addData(qs.toIndexedSeq: _*)
            q.processAllAvailable()
          }
          // a parquet reader stats each file it opens
          val opened = reads.map(_.split(' ')).collect {
            case Array("open" | "getFileStatus", name) => name
          }.toSet
          assert(reads.contains("listStatus _manifest"), s"epoch $epoch: $reads")
          assert(opened.exists(codeFiles), s"epoch $epoch read no code file: $reads")
          assert(!opened.exists(quantizerFiles), s"epoch $epoch re-read a quantizer file: $reads")
        }
      } finally q.stop()
      // 2 epochs × 4 planted-duplicate queries × k=1
      assert(served == 8L)
    } finally Gates.deleteTree(dir)
  }

  test("code+corpus rows appended to the stored index are served without a restart") {
    // serveIvfPqFromRoot re-reads BOTH the code table (its newest manifest)
    // and the float corpus per micro-batch, so codes committed by
    // appendIvfPq plus a matching corpus append become searchable
    // mid-stream. The corpus grows too — an appended vector whose codes are
    // shortlisted but whose float row is missing would be silently dropped
    // by the exact re-rank join (the round-6 advisory bug). The probe is a
    // planted duplicate of vector 300: before the append its codes AND
    // floats are absent (answer != 300); after, it MUST come back rank-1 at
    // cos 1.0 — deterministic, not rank luck.
    val e = Tables.embeddings(spark, Sf)
    val dir = java.nio.file.Files.createTempDirectory("ann_grow").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      // quantizers trained on the full corpus; the code table AND the
      // served corpus both start at the first half
      val cents = Similarity.buildIvfIndex(e, nlist = 8).centroids
      Similarity.saveIvfPqWith(
        Similarity.IvfIndex(cents, Similarity.assignIvf(e.filter(col("vec_id") < 250), cents)),
        Quantization.buildPqCodebooks(e, m = 8, ksub = 16), dir)
      val corpusPath = s"$dir/corpus"
      e.filter(col("vec_id") < 250).write.mode("overwrite").parquet(corpusPath)

      val dupOf300 = e.filter(col("vec_id") === 300)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .collect().map(r => QueryVec(r.getLong(0), r.getSeq[Float](1)))
      val answers = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      val stream = MemoryStream[QueryVec]
      val q = StreamingAnnServing.serveIvfPqFromRoot(stream.toDF(), dir, corpusPath,
        k = 1, nprobe = 8, shortlist = 10) { (ans, epoch) =>
        answers ++= ans.collect().map(r =>
          (epoch, r.getLong(0), r.getLong(2), r.getDouble(3)))
      }
      stream.addData(dupOf300: _*)
      q.processAllAvailable()
      val before = answers.toList
      // append the second half mid-stream — codes and corpus, no restart
      Similarity.appendIvfPq(e.filter(col("vec_id") >= 250), dir)
      e.filter(col("vec_id") >= 250).write.mode("append").parquet(corpusPath)
      stream.addData(dupOf300: _*)
      q.processAllAvailable()
      q.stop()
      val after = answers.toList.drop(before.length)

      assert(before.nonEmpty && before.forall { case (_, _, cid, _) => cid != 300L })
      assert(after.exists { case (_, _, cid, cos) => cid == 300L && cos == 1.0 },
        s"appended vector not served: $after")
    } finally Gates.deleteTree(dir)
  }

  test("a streamed epoch over an appended index of more than 32 lists lists only " +
      "_manifest under the index and starts no listing or schema-inference job") {
    // nlist 40 puts the code rows in more list dirs than Spark's 32-path
    // parallel-listing threshold; a reader that listed the code tree would
    // list every one of them each epoch, as a Spark job
    val e = Tables.embeddings(spark, Sf)
    val dir = java.nio.file.Files.createTempDirectory("ann_epoch_listing").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      Similarity.saveIvfPq(e.filter(col("vec_id") < 400), s"$dir/idx", nlist = 40, m = 8, ksub = 16)
      Similarity.appendIvfPq(e.filter(col("vec_id") >= 400), s"$dir/idx")
      val m = SegmentStore.latest(SeqFiles.fs(spark, s"$dir/idx"), s"$dir/idx").get
      assert(m.seq == 2L && m.live.filter(_.values.head == "codes").map(_.values(1)).distinct.size > 32,
        "the index must hold codes in more than 32 lists")
      val corpusPath = s"$dir/corpus"
      e.write.mode("overwrite").parquet(corpusPath)
      val qs = e.filter(col("vec_id") < 4)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .collect().map(r => QueryVec(r.getLong(0), r.getSeq[Float](1)))
      FaultFs.install(spark)
      val stream = MemoryStream[QueryVec]
      var served = 0L
      val q = StreamingAnnServing.serveIvfPqFromRoot(stream.toDF(), FaultFs.uri(s"$dir/idx"),
        corpusPath, k = 1, nprobe = 4, shortlist = 10) { (ans, _) => served += ans.count() }
      try {
        (1 to 2).foreach { epoch =>
          val (_, reads, jobs) = FaultFs.readsAndJobs(spark) {
            stream.addData(qs.toIndexedSeq: _*)
            q.processAllAvailable()
          }
          assert(reads.filter(_.startsWith("listStatus")) == Seq("listStatus _manifest"),
            s"epoch $epoch: $reads")
          assert(jobs.nonEmpty && jobs.forall(j => j._1 != "null" && !j._2.contains("Listing")),
            s"epoch $epoch: $jobs")
        }
      } finally q.stop()
      assert(served == 8L)
    } finally Gates.deleteTree(dir)
  }

  test("a Generations flip between micro-batches rebinds codes AND quantizers: " +
    "epoch 0 answers from gen-1, epoch 1 from the reclustered gen-2, no restart") {
    // the name predates in-place saves: the index is one store root, and
    // a save into it between micro-batches is the flip
    val e = Tables.embeddings(spark, Sf)
    val dir = java.nio.file.Files.createTempDirectory("ann_genflip").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      val root = s"$dir/anngen"
      val corpusPath = s"$dir/corpus"
      e.write.mode("overwrite").parquet(corpusPath)
      // the first save: trained + encoded over the first half only
      Similarity.saveIvfPq(e.filter(col("vec_id") < 250), root,
        nlist = 8, m = 8, ksub = 16)
      // probe: a planted duplicate of vector 300 — absent from the first
      // index's code table, exact-match in the second's
      val dup300 = e.filter(col("vec_id") === 300)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        .collect().map(r => QueryVec(r.getLong(0), r.getSeq[Float](1)))
      val qdf = () => e.filter(col("vec_id") === 300)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      def batchOn() = {
        val idx = Similarity.loadIvfPq(spark, root)
        Similarity.ivfPqQuery(idx.encoded, idx.centroids, idx.books,
            spark.read.parquet(corpusPath), qdf(), k = 1, nprobe = 8,
            shortlist = 10, excludeSelf = false)
          .collect().map(_.toSeq).toSet
      }
      val expected0 = batchOn()
      val answers = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
      val stream = MemoryStream[QueryVec]
      val q = StreamingAnnServing.serveIvfPqFromRoot(stream.toDF(), root,
        corpusPath, k = 1, nprobe = 8, shortlist = 10) { (ans, _) =>
        answers += ans.collect().map(_.toSeq).toSet
      }
      try {
        stream.addData(dup300.toIndexedSeq: _*)
        q.processAllAvailable()
        // out-of-band maintenance: retrain over the FULL corpus at a
        // DIFFERENT geometry (nlist 4) and save into the same root — a
        // stream that kept the first quantizers would probe the new 4-list
        // codes with 8 stale centroids and could not reproduce the new
        // batch answers
        Similarity.saveIvfPq(e, root, nlist = 4, m = 8, ksub = 16, kmeansIters = 1)
        val expected1 = batchOn()
        stream.addData(dup300.toIndexedSeq: _*)
        q.processAllAvailable()
        assert(answers.length == 2)
        assert(answers(0) == expected0,
          "epoch 0 must serve the index saved at construction")
        // the first index cannot know vector 300; the second must answer
        // it at cos 1.0
        assert(answers(0).forall(r => r(2).asInstanceOf[Long] != 300L))
        assert(answers(1) == expected1,
          "the epoch after the save must serve the new index")
        assert(answers(1).exists(r => r(2).asInstanceOf[Long] == 300L &&
          r(3).asInstanceOf[Double] == 1.0))
      } finally q.stop()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("streamed cluster assignment is row-identical to the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val embs = graft.sources.Tables.embeddings(spark, Sf)
    val cents = graft.operators.Similarity.buildIvfIndex(embs, nlist = 8).centroids
    val probe = embs.filter($"vec_id" < 40)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()

    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val out = graft.streaming.StreamingClusterAssign.assignStream(
      mem.toDF().toDF("vec_id", "embedding"), cents)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sca_spec").start()
    try {
      val (b1, b2) = probe.splitAt(probe.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      // statelessness: append mode with zero state rows
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()

    val streamed = spark.table("sca_spec")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq.sorted
    val batch = graft.operators.Similarity.withCentroidCosine(
      graft.operators.Similarity.assignIvf(embs.filter($"vec_id" < 40), cents),
      cents, "vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq.sorted
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streamed quality scores are row-identical to the batch scorer at the same weights") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, Sf)
    val w = graft.operators.Learn.trainLinear(
      graft.operators.Learn.qualityFeatures(docs), Seq("x1", "x2", "x3"), "y", iters = 2)
    val probe = docs.filter($"doc_id" < 60)
      .select($"doc_id", $"text", $"lang").as[(Long, String, String)].collect()

    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val out = graft.streaming.StreamingQuality.scoreStream(
      mem.toDF().toDF("doc_id", "text", "lang"), w)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sqs_spec").start()
    try {
      val (b1, b2) = probe.splitAt(probe.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      // statelessness: append mode with zero state rows
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()

    val streamed = spark.table("sqs_spec")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted
    val batch = graft.operators.Learn.scoreWith(docs.filter($"doc_id" < 60), w)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted
    assert(streamed == batch && batch.nonEmpty)
  }
}
