package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Bloom, Bpe, Dedup, EntityResolution, JoinPlanner, Learn, Pca, Quantization,
  Retrieval, SegmentStore, SeqFiles, Similarity, Sketches, TextAnalysis}
import graft.sources.Tables
import graft.streaming.{StreamingEntity, StreamingWinnow}

/** The delta-append artifact families on [[SegmentStore]]: one commit
  * path, loads pinned to one manifest, tagged appends that a replay
  * cannot repeat, and a compaction that fails exactly when its source
  * changed while it ran. */
class SegmentStoreSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "completely different content about spark shuffles and joins"),
    (3L, "yet another unrelated document describing window functions"),
    (4L, "the quick brown fox jumps over the lazy dog today"),
    (5L, "a short note on parquet files and their footers"))
    .toDF("doc_id", "text")

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def manifest(dir: String) = SegmentStore.latest(SeqFiles.fs(spark, dir), dir)

  private def bands(d: DataFrame) = Dedup.buildBandIndex(d, bands = 2, rowsPerBand = 2)

  private def words(d: DataFrame) = Bloom.bloomWords(d, col("doc_id"), 62 * 8, 3)

  private def orWords(pile: DataFrame) =
    pile.groupBy(col("w")).agg(call_function("bit_or", col("bits")).as("bits"))

  private val facts = (1 to 60).map(i => (1L + i % 7, i.toLong)).toDF("fk", "payload")

  private val shape = JoinPlanner.ProfileParams(depth = 2, width = 64, topK = 16, kmvK = 8)

  private def saveProfile(d: DataFrame, dir: String) =
    JoinPlanner.saveTableProfile(d, "fk", dir, shape)

  private def appendProfile(d: DataFrame, dir: String, sliceId: String = "") =
    JoinPlanner.appendTableProfile(d, "fk", dir, shape, sliceId)

  /** A profile reader resolved now: every component it folds, when called. */
  private def profile(dir: String): () => Seq[String] = {
    val p = JoinPlanner.loadTableProfile(spark, dir)
    () => Seq(p.stats, p.cells, p.topk, p.kmv).flatMap(sorted)
  }

  private lazy val vecs = Tables.embeddings(spark, Sf).filter($"vec_id" < 64)
    .select($"vec_id", $"embedding").coalesce(1)

  /** An IVF-PQ reader resolved now: its code rows, its quantizers and its
    * answers to four queries, when called. */
  private def ann(path: String): () => Seq[String] = {
    val idx = Similarity.loadIvfPq(spark, path)
    () => sorted(idx.encoded) ++ idx.centroids.map { case (i, c) => s"$i: ${c.mkString(",")}" } ++
      Seq(idx.books.toString) ++ sorted(Similarity.ivfPqQuery(idx.encoded, idx.centroids, idx.books,
        vecs, vecs.filter($"vec_id" < 4), k = 3, nprobe = 2, shortlist = 10))
  }

  test("an append committed while a fold runs fails the compaction: dst " +
      "publishes nothing and src keeps base + append (band index, bloom words)") {
    val tmp = Files.createTempDirectory("graft_store_midcompact").toString
    try {
      val (src, dst) = (s"$tmp/band", s"$tmp/band_gen2")
      Dedup.saveBandIndex(bands(docs.filter($"doc_id" <= 3)), src)
      val e1 = intercept[IllegalArgumentException] {
        SegmentStore.foldCompact(spark, src, dst, "band index", Seq("band"), identity) { pile =>
          Dedup.appendBandIndex(bands(docs.filter($"doc_id" > 3)), src)
          pile.repartition(col("band")).sortWithinPartitions(col("bh"))
        }
      }
      assert(e1.getMessage.contains("the source changed mid-compaction; re-run"), e1.getMessage)
      assert(manifest(dst).isEmpty)
      assert(sorted(Dedup.loadBandIndex(spark, src)) ==
        sorted(bands(docs).select("id", "bh", "band")))

      val (wsrc, wdst) = (s"$tmp/words", s"$tmp/words_gen2")
      Bloom.saveWords(words(docs.filter($"doc_id" <= 3)), wsrc)
      val e2 = intercept[IllegalArgumentException] {
        SegmentStore.foldCompact(spark, wsrc, wdst, "bloom words", Nil, orWords) { pile =>
          Bloom.appendWords(words(docs.filter($"doc_id" > 3)), wsrc)
          orWords(pile).coalesce(1)
        }
      }
      assert(e2.getMessage.contains("the source changed mid-compaction; re-run"), e2.getMessage)
      assert(manifest(wdst).isEmpty)
      assert(manifest(wsrc).get.seq == 2L)
      assert(sorted(Bloom.loadWords(spark, wsrc)) == sorted(orWords(words(docs))))
      // and with the source left alone the same fold publishes commit 1
      Bloom.compactWords(spark, wsrc, wdst)
      assert(manifest(wdst).get.seq == 1L)
      assert(sorted(Bloom.loadWords(spark, wdst)) == sorted(Bloom.loadWords(spark, wsrc)))

      // the profile's own verb: the append lands at the fold's first write
      // step, after the source was pinned and before the publish
      val (psrc, pdst) = (s"$tmp/profile", s"$tmp/profile_gen2")
      saveProfile(facts.filter($"payload" <= 30), psrc)
      FaultFs.install(spark)
      val e3 = intercept[IllegalArgumentException] {
        FaultFs.interjecting(appendProfile(facts.filter($"payload" > 30), psrc)) {
          JoinPlanner.compactTableProfile(spark, psrc, FaultFs.uri(pdst))
        }
      }
      assert(e3.getMessage.contains("the source changed mid-compaction; re-run"), e3.getMessage)
      assert(manifest(pdst).isEmpty)
      assert(manifest(psrc).get.seq == 2L)
      assert(JoinPlanner.loadTableProfile(spark, psrc).stats.head().getLong(0) == 60L)
    } finally Gates.deleteTree(tmp)
  }

  test("crash-atomic appendBandIndex, saveBandIndex over an index and " +
      "compactWords into a fresh dst: every crash point reads the old or " +
      "the new rows, and recover plus a rerun converges") {
    val template = Files.createTempDirectory("graft_store_sweep").toString
    try {
      Dedup.saveBandIndex(bands(docs.filter($"doc_id" <= 2)), s"$template/band")
      Bloom.saveWords(words(docs.filter($"doc_id" <= 2)), s"$template/pile")
      Bloom.appendWords(words(docs.filter($"doc_id" > 2)), s"$template/pile")
      def band(dir: String): () => Seq[String] = {
        val f = Dedup.loadBandIndex(spark, s"$dir/band")
        () => sorted(f)
      }
      def gen2(dir: String): () => Seq[String] =
        SegmentStore.read(spark, s"$dir/gen2").fold(() => Seq("no gen2")) { _ =>
          val f = Bloom.loadWords(spark, s"$dir/gen2")
          () => sorted(f)
        }
      val t0 = System.nanoTime()
      val appendSteps = FaultFs.crashSweep(spark, template, band,
        dir => SegmentStore.recover(spark, s"$dir/band")) { dir =>
        Dedup.appendBandIndex(bands(docs.filter($"doc_id" === 3L)), s"$dir/band")
      }
      val t1 = System.nanoTime()
      val saveSteps = FaultFs.crashSweep(spark, template, band,
        dir => SegmentStore.recover(spark, s"$dir/band")) { dir =>
        Dedup.saveBandIndex(bands(docs), s"$dir/band")
      }
      val t2 = System.nanoTime()
      val compactSteps = FaultFs.crashSweep(spark, template, gen2,
        dir => SegmentStore.recover(spark, s"$dir/gen2")) { dir =>
        Bloom.compactWords(spark, s"$dir/pile", s"$dir/gen2")
      }
      val t3 = System.nanoTime()
      info(f"appendBandIndex: $appendSteps steps in ${(t1 - t0) / 1e9}%.1f s; " +
        f"saveBandIndex: $saveSteps steps in ${(t2 - t1) / 1e9}%.1f s; " +
        f"compactWords: $compactSteps steps in ${(t3 - t2) / 1e9}%.1f s")
      assert(appendSteps >= 4 && saveSteps >= 4 && compactSteps >= 4,
        s"$appendSteps, $saveSteps, $compactSteps")
    } finally Gates.deleteTree(template)
  }

  test("crash-atomic tagged appendTableProfile, saveTableProfile over a bundle " +
      "and compactTableProfile into a fresh dst: every crash point reads the old " +
      "or the new profile, recover plus a rerun converges, and a replayed tag " +
      "publishes nothing") {
    val template = Files.createTempDirectory("graft_profile_sweep").toString
    try {
      saveProfile(facts.filter($"payload" <= 20), s"$template/profile")
      appendProfile(facts.filter($"payload" > 20 && $"payload" <= 40), s"$template/profile",
        sliceId = "batch-1")
      val more = facts.filter($"payload" > 40)
      def pile(dir: String) = profile(s"$dir/profile")
      def gen2(dir: String): () => Seq[String] =
        SegmentStore.read(spark, s"$dir/gen2").fold(() => Seq("no gen2"))(_ =>
          profile(s"$dir/gen2"))
      def recoverAt(sub: String)(dir: String) = SegmentStore.recover(spark, s"$dir/$sub")
      // the append and its replay, as a stream re-running a batch whose
      // output committed: every rerun after a crash replays it once more
      def appendTwice(dir: String): Unit = {
        appendProfile(more, s"$dir/profile", sliceId = "batch-2")
        appendProfile(more, s"$dir/profile", sliceId = "batch-2")
      }
      val t0 = System.nanoTime()
      val appendSteps = FaultFs.crashSweep(spark, template, pile, recoverAt("profile"))(appendTwice)
      val t1 = System.nanoTime()
      val saveSteps = FaultFs.crashSweep(spark, template, pile, recoverAt("profile")) { dir =>
        saveProfile(facts, s"$dir/profile")
      }
      val t2 = System.nanoTime()
      val compactSteps = FaultFs.crashSweep(spark, template, gen2, recoverAt("gen2")) { dir =>
        JoinPlanner.compactTableProfile(spark, s"$dir/profile", s"$dir/gen2")
      }
      val t3 = System.nanoTime()
      info(f"appendTableProfile: $appendSteps steps in ${(t1 - t0) / 1e9}%.1f s; " +
        f"saveTableProfile: $saveSteps steps in ${(t2 - t1) / 1e9}%.1f s; " +
        f"compactTableProfile: $compactSteps steps in ${(t3 - t2) / 1e9}%.1f s")
      assert(appendSteps >= 4 && saveSteps >= 4 && compactSteps >= 4,
        s"$appendSteps, $saveSteps, $compactSteps")

      // what the append sweep converged to holds the slice once: the same
      // profile as one untagged append, one commit, and the replayed tag
      // of batch-1 is a no-op too
      val (twice, once) = (FaultFs.copyOf(template), FaultFs.copyOf(template))
      try {
        appendTwice(twice)
        appendProfile(facts.filter($"payload" > 20 && $"payload" <= 40), s"$twice/profile",
          sliceId = "batch-1")
        appendProfile(more, s"$once/profile")
        assert(profile(s"$twice/profile")() == profile(s"$once/profile")())
        assert(manifest(s"$twice/profile").get.seq == 3L)
        assert(manifest(s"$twice/profile").get.tags.values.toSeq.sorted == Seq("batch-1", "batch-2"))
        // a save drops the tags with the slices they named
        saveProfile(facts, s"$twice/profile")
        assert(manifest(s"$twice/profile").get.tags.isEmpty)
      } finally { Gates.deleteTree(twice); Gates.deleteTree(once) }
    } finally Gates.deleteTree(template)
  }

  test("crash-atomic saveIvfPq over an index, appendIvfPq and maintainIvfPq into a " +
      "fresh dst: every crash point answers from the old or the new index, and recover " +
      "plus a rerun converges") {
    val template = Files.createTempDirectory("graft_ann_sweep").toString
    try {
      Seq("ann", "drift").foreach(sub =>
        Similarity.saveIvfPq(vecs.filter($"vec_id" < 48), s"$template/$sub", nlist = 4, m = 8, ksub = 8))
      // the drifted clump piles into one list of `drift`: maintenance fires
      val clump = Fixtures.annDriftClump(vecs).coalesce(1)
      Similarity.appendIvfPq(clump, s"$template/drift")
      def recoverAt(sub: String)(dir: String) = SegmentStore.recover(spark, s"$dir/$sub")
      def gen2(dir: String): () => Seq[String] =
        SegmentStore.read(spark, s"$dir/gen2").fold(() => Seq("no gen2"))(_ => ann(s"$dir/gen2"))
      val t0 = System.nanoTime()
      val saveSteps = FaultFs.crashSweep(spark, template, dir => ann(s"$dir/ann"),
        recoverAt("ann")) { dir =>
        Similarity.saveIvfPq(vecs, s"$dir/ann", nlist = 4, m = 8, ksub = 8)
      }
      val t1 = System.nanoTime()
      val appendSteps = FaultFs.crashSweep(spark, template, dir => ann(s"$dir/ann"),
        recoverAt("ann")) { dir =>
        Similarity.appendIvfPq(vecs.filter($"vec_id" >= 48), s"$dir/ann")
      }
      val t2 = System.nanoTime()
      val maintainSteps = FaultFs.crashSweep(spark, template, gen2, recoverAt("gen2")) { dir =>
        assert(Similarity.maintainIvfPq(spark, s"$dir/drift", s"$dir/gen2",
          vecs.filter($"vec_id" < 48).union(clump)))
      }
      val t3 = System.nanoTime()
      info(f"saveIvfPq: $saveSteps steps in ${(t1 - t0) / 1e9}%.1f s; " +
        f"appendIvfPq: $appendSteps steps in ${(t2 - t1) / 1e9}%.1f s; " +
        f"maintainIvfPq: $maintainSteps steps in ${(t3 - t2) / 1e9}%.1f s")
      assert(saveSteps >= 4 && appendSteps >= 4 && maintainSteps >= 4,
        s"$saveSteps, $appendSteps, $maintainSteps")
    } finally Gates.deleteTree(template)
  }

  test("every family loader lists only _manifest and starts no file-listing " +
      "or schema-inference job, at more live files than the parallel-listing " +
      "threshold; an empty save loads empty") {
    val tmp = Files.createTempDirectory("graft_store_zero").toString
    try {
      val p = (name: String) => s"$tmp/$name"
      Dedup.saveBandIndex(Dedup.buildBandIndex(docs), p("band"))
      Retrieval.saveTrigramIndex(Retrieval.trigramPostings(docs.filter($"doc_id" <= 3)),
        p("trigram"), partitions = 40)
      Retrieval.appendTrigramIndex(Retrieval.trigramPostings(docs.filter($"doc_id" > 3)),
        p("trigram"))
      StreamingWinnow.saveFingerprints(TextAnalysis.winnowFingerprints(docs)
        .select(col("doc_id").as("id"), col("fp")), p("winnow"))
      StreamingEntity.saveDictionary(EntityResolution.spaceBlocked(
        Seq((1L, "cold anvil"), (2L, "old anvil")).toDF("id", "name"), "id", "name"),
        p("dict"))
      Bloom.saveWords(words(docs), p("words"))
      Pca.saveMoments(Pca.rawMomentTable(Seq((1L, Array(0.5f, -1.0f)), (2L, Array(2.0f, 0.25f)))
        .toDF("vec_id", "embedding"), 2), p("moments"))
      Sketches.saveSketchTable(Sketches.distinctSketchTable(
        docs.select(($"doc_id" % 2).as("g"), $"doc_id"), Seq(col("g")),
        col("doc_id").cast("string")), p("hll"), Seq("g"))
      TextAnalysis.saveBenchmarkIndex(docs.filter($"doc_id" <= 3), 5, p("bench"))
      saveProfile(facts.limit(0), p("profile"))
      facts.collect().take(33).foreach { r =>
        appendProfile(facts.filter($"payload" === r.getLong(1)), p("profile"))
      }
      // 40 lists put the IVF-PQ codes in more list dirs than the listing
      // threshold; an append adds a second segment
      val all = Tables.embeddings(spark, Sf).select($"vec_id", $"embedding")
      Similarity.saveIvfPq(all.filter($"vec_id" < 400), p("ivfpq"), nlist = 40, m = 8, ksub = 16)
      Similarity.appendIvfPq(all.filter($"vec_id" >= 400), p("ivfpq"))
      Similarity.saveIvfIndex(Similarity.buildIvfIndex(vecs, nlist = 4), p("ivf"))
      val books = Quantization.buildPqCodebooks(vecs, m = 8, ksub = 8)
      Quantization.savePq(Quantization.encodePq(vecs, books), books, p("pq"))
      Quantization.saveQuantized(Quantization.quantizeSQ8(vecs), p("sq8"))
      Bpe.saveBpeModel(spark, Bpe.trainBpe(docs, numMerges = 5), p("bpe"))
      Learn.saveModel(spark, Array(0.5, -1.0, 0.25, 2.0), p("model"))
      assert(manifest(p("ivfpq")).get.live.map(_.values(1)).distinct.length > 32,
        "the IVF-PQ index must hold codes in more lists than the 32-path listing threshold")
      assert(manifest(p("trigram")).get.live.length > 32,
        "the trigram index must hold more live files than the 32-path listing threshold")
      assert(manifest(p("profile")).get.live.map(_.path.takeWhile(_ != '/')).distinct.length > 32,
        "the profile must hold more appended slices than the 32-path listing threshold")

      FaultFs.install(spark)
      val u = (name: String) => FaultFs.uri(p(name))
      val loaders: Seq[(String, () => Seq[Row])] = Seq(
        "loadBandIndex" -> (() => Dedup.loadBandIndex(spark, u("band")).collect().toSeq),
        "searchTrigramIndex" -> (() =>
          Retrieval.searchTrigramIndex(spark, u("trigram"), docs, "quick brown").collect().toSeq),
        "loadFingerprints" -> (() =>
          StreamingWinnow.loadFingerprints(spark, u("winnow")).collect().toSeq),
        "loadDictionary" -> (() =>
          StreamingEntity.loadDictionary(spark, u("dict")).collect().toSeq),
        "loadWords" -> (() => Bloom.loadWords(spark, u("words")).collect().toSeq),
        "loadMoments" -> (() => Pca.loadMoments(spark, u("moments")).collect().toSeq),
        "loadSketchTable" -> (() =>
          Sketches.loadSketchTable(spark, u("hll"), Seq("g")).collect().toSeq),
        "loadBenchmarkIndex" -> (() =>
          TextAnalysis.loadBenchmarkIndex(spark, u("bench"))._1.collect().toSeq),
        "loadTableProfile" -> (() =>
          JoinPlanner.loadTableProfile(spark, u("profile")).stats.collect().toSeq),
        "loadIvfPq" -> (() => Similarity.loadIvfPq(spark, u("ivfpq")).encoded.collect().toSeq),
        "ivfPqListStats" -> (() => Similarity.ivfPqListStats(spark, u("ivfpq")).collect().toSeq),
        "loadIvfIndex" -> (() => Similarity.loadIvfIndex(spark, u("ivf")).assigned.collect().toSeq),
        "loadPq" -> (() => Quantization.loadPq(spark, u("pq"))._1.collect().toSeq),
        "loadQuantized" -> (() => Quantization.loadQuantized(spark, u("sq8")).collect().toSeq),
        "loadBpeModel" -> (() => Bpe.loadBpeModel(spark, u("bpe")).merges.map(Row(_))),
        "loadModel" -> (() => Learn.loadModel(spark, u("model")).toSeq.map(Row(_))))
      loaders.foreach { case (name, load) =>
        val (rows, reads, js) = FaultFs.readsAndJobs(spark)(load())
        assert(rows.nonEmpty, name)
        assert(reads.filter(_.startsWith("listStatus")) == Seq("listStatus _manifest"),
          s"$name: $reads")
        assert(js.nonEmpty && js.forall(j => j._1 != "null" && !j._2.contains("Listing")),
          s"$name: $js")
      }
    } finally Gates.deleteTree(tmp)

    // a save of an empty frame still publishes, and loads empty
    val empty = Files.createTempDirectory("graft_store_empty").toString
    try {
      Dedup.saveBandIndex(Dedup.buildBandIndex(docs.limit(0)), empty)
      assert(manifest(empty).get.live.isEmpty)
      val loaded = Dedup.loadBandIndex(spark, empty)
      assert(loaded.count() == 0L && loaded.columns.toSeq == Seq("id", "bh", "band"))
    } finally Gates.deleteTree(empty)
  }

  test("no delta-append family writes, reads or lists its artifact dir itself") {
    // every operator family (all but the two commit primitives) and the
    // streamed families commit and load their artifacts only through
    // SegmentStore: an append-mode write, a directory read or a listing
    // here would be a second copy of the commit path. The float corpus the
    // streamed ANN server reads is an input table, not an artifact.
    val operators = Files.list(Paths.get("src/main/scala/graft/operators")).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") &&
        !Set("SegmentStore.scala", "SeqFiles.scala")(f.getFileName.toString))
      .toSeq.sortBy(_.toString)
    val families = operators ++ Seq("StreamingWinnow", "StreamingEntity", "StreamingAnnServing")
      .map(f => Paths.get(s"src/main/scala/graft/streaming/$f.scala"))
    assert(operators.length > 20 && families.forall(Files.exists(_)),
      "family sources not found from the working dir")
    val banned = raw"""mode\("append"\)|read\.parquet\(|listStatus\(|getFileSystem\(""".r
    val offending = for {
      file <- families
      (line, no) <- Files.readAllLines(file).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined && !line.contains("read.parquet(corpusPath)")
    } yield s"$file:${no + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
