package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

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
    // a compaction is the store's own next commit: it publishes nothing,
    // and the store keeps base + append
    val tmp = Files.createTempDirectory("graft_store_midcompact").toString
    try {
      val band = s"$tmp/band"
      Dedup.saveBandIndex(bands(docs.filter($"doc_id" <= 3)), band)
      val e1 = intercept[IllegalArgumentException] {
        SegmentStore.compact(spark, band, "band index", Seq("band"), identity) { pile =>
          Dedup.appendBandIndex(bands(docs.filter($"doc_id" > 3)), band)
          pile.repartition(col("band")).sortWithinPartitions(col("bh"))
        }
      }
      assert(e1.getMessage.contains("the store changed mid-compaction; re-run"), e1.getMessage)
      assert(manifest(band).get.seq == 2L)
      assert(sorted(Dedup.loadBandIndex(spark, band)) ==
        sorted(bands(docs).select("id", "bh", "band")))

      val w = s"$tmp/words"
      Bloom.saveWords(words(docs.filter($"doc_id" <= 3)), w)
      val e2 = intercept[IllegalArgumentException] {
        SegmentStore.compact(spark, w, "bloom words", Nil, orWords) { pile =>
          Bloom.appendWords(words(docs.filter($"doc_id" > 3)), w)
          orWords(pile).coalesce(1)
        }
      }
      assert(e2.getMessage.contains("the store changed mid-compaction; re-run"), e2.getMessage)
      assert(manifest(w).get.seq == 2L)
      assert(sorted(Bloom.loadWords(spark, w)) == sorted(orWords(words(docs))))
      // and with the store left alone the same fold publishes commit 3
      Bloom.compactWords(spark, w)
      assert(manifest(w).get.seq == 3L && manifest(w).get.live.map(_.path.take(10)).distinct ==
        Seq("c-00000003"))
      assert(sorted(Bloom.loadWords(spark, w)) == sorted(orWords(words(docs))))

      // the profile's own verb: the append lands at the fold's first write
      // step, after the store was pinned and before the publish
      val prof = s"$tmp/profile"
      saveProfile(facts.filter($"payload" <= 30), prof)
      FaultFs.install(spark)
      val (r3, ran3) = FaultFs.interjecting(appendProfile(facts.filter($"payload" > 30), prof)) {
        JoinPlanner.compactTableProfile(spark, FaultFs.uri(prof))
      }
      assert(ran3 && r3.failed.get.getMessage.contains("the store changed mid-compaction; re-run"),
        r3)
      assert(manifest(prof).get.seq == 2L)
      assert(JoinPlanner.loadTableProfile(spark, prof).stats.head().getLong(0) == 60L)

      // the lexical index, which had no mid-compaction check: an append at
      // the fold's first write step fails it, and the store keeps both
      // segments (24 + 18 postings)
      val lex = s"$tmp/lex"
      TextAnalysis.saveLexicalIndex(docs.filter($"doc_id" <= 3), lex, nBuckets = 4)
      val (r4, ran4) = FaultFs.interjecting(
          TextAnalysis.appendLexicalIndex(docs.filter($"doc_id" > 3), lex)) {
        TextAnalysis.compactLexicalIndex(spark, FaultFs.uri(lex))
      }
      assert(ran4 && r4.failed.get.getMessage.contains("the store changed mid-compaction; re-run"),
        r4)
      val audit = TextAnalysis.validateLexicalIndex(spark, lex).collect()(0)
      assert(audit.getAs[Long]("n_segments") == 2L && audit.getAs[Long]("n_postings_actual") == 42L &&
        audit.getAs[Boolean]("postings_consistent") && audit.getAs[Boolean]("terms_consistent"),
        audit)
    } finally Gates.deleteTree(tmp)
  }

  test("compaction is a commit of the store: an append after it is served " +
      "with the folded rows, and a frame loaded before it still reads the pile") {
    val tmp = Files.createTempDirectory("graft_store_inplace").toString
    try {
      val band = s"$tmp/band"
      Dedup.saveBandIndex(bands(docs.filter($"doc_id" <= 2)), band)
      Dedup.appendBandIndex(bands(docs.filter($"doc_id" === 3L)), band)
      val pile = Dedup.loadBandIndex(spark, band)
      val pileRows = sorted(pile)
      assert(pileRows.length == 6)
      val before = manifest(band).get
      Dedup.compactBandIndex(spark, band)
      val after = manifest(band).get
      // the compaction retired every commit dir the pile lived in
      assert(before.live.map(_.path.take(10)).distinct.sorted == Seq("c-00000001", "c-00000002"))
      assert(Seq("c-00000001", "c-00000002").forall(after.retired.contains), after.retired)
      assert(after.live.forall(_.path.startsWith("c-00000003/")))
      // a reader loaded before the compaction keeps its files for the grace
      SegmentStore.recover(spark, band)
      assert(sorted(pile) == pileRows)
      // the next append lands in the same store: the next load serves 10
      Dedup.appendBandIndex(bands(docs.filter($"doc_id" > 3)), band)
      assert(sorted(Dedup.loadBandIndex(spark, band)) ==
        sorted(bands(docs).select("id", "bh", "band")))
      assert(Dedup.loadBandIndex(spark, band).count() == 10L)
    } finally Gates.deleteTree(tmp)
  }

  /** A second writer's append that commits in one piece wherever it lands:
    * the files `append` adds to a copy of `template/sub` are staged, and
    * the returned action commits them to the store at its argument
    * through [[SegmentStore.commit]] — its sweep, manifest read, files
    * and publish — placing them with a file copy instead of a Spark job,
    * so it can run at any write step of a verb, a task's included, and
    * shares no job dir with it. Also returns the rows the staged store
    * loads: the template's plus the append's. */
  private def stagedAppend(template: String, sub: String, partitions: StructType)
                          (append: String => Unit): (String => Unit, String) = {
    val staged = FaultFs.copyOf(template)
    append(s"$staged/$sub")
    val m = manifest(s"$staged/$sub").get
    val dir = SeqFiles.name("c", m.seq)
    val files = m.live.map(_.path).filter(_.startsWith(s"$dir/")).map(_.stripPrefix(s"$dir/"))
    val action = (root: String) => {
      SegmentStore.commit(spark, root, partitions) { (_, commitDir) =>
        files.foreach { f =>
          val to = Paths.get(new org.apache.hadoop.fs.Path(commitDir, f).toUri.getPath)
          Files.createDirectories(to.getParent)
          Files.copy(Paths.get(s"$staged/$sub/$dir/$f"), to)
        }
        Nil
      }
      ()
    }
    (action, staged)
  }

  /** Every manifest under `root` names only files that exist. */
  private def manifestsWhole(root: String): Unit = {
    val mdir = Paths.get(root, "_manifest")
    Files.list(mdir).iterator().asScala.filter(_.getFileName.toString.startsWith("m-")).foreach { m =>
      Files.readAllLines(m).asScala.filter(_.startsWith("F\t")).foreach { line =>
        val rel = line.split('\t').last
        assert(Files.exists(Paths.get(root, rel)), s"$m names missing $rel")
      }
    }
  }

  /**
   * Interject `appendAt` at every write step of `compact` on a fresh copy
   * of `template/sub` until the compaction makes no more steps. Each case
   * must end with the compaction failing loudly and the store reading
   * `expected` (base + append), or with the compaction done and the fold
   * reading `expected`; every manifest names only existing files, and a
   * rerun of the compaction after a failure converges to `expected`.
   * Returns the number of interjected steps and how many of them failed
   * the compaction.
   */
  private def interjectionSweep(template: String, sub: String, read: String => Seq[String],
                                expected: Seq[String], appendAt: String => Unit)
                               (compact: String => Unit): (Int, Int) = {
    FaultFs.install(spark)
    var n = 0
    var failed = 0
    var ran = true
    while (ran) {
      n += 1
      val local = FaultFs.copyOf(template)
      try {
        val root = s"$local/$sub"
        val (result, interjected) =
          FaultFs.interjecting(appendAt(FaultFs.uri(root)), step = n)(compact(FaultFs.uri(root)))
        ran = interjected
        if (ran) {
          assert(read(root) == expected, s"step $n (${result.failed.toOption}): store lost or doubled rows")
          manifestsWhole(root)
          if (result.isFailure) {
            failed += 1
            compact(root)
            assert(read(root) == expected, s"step $n: a rerun did not converge")
            manifestsWhole(root)
          }
        } else assert(result.isSuccess, s"step $n: $result")
      } finally Gates.deleteTree(local)
    }
    (n - 1, failed)
  }

  test("an append interjected at every write step of an in-place compaction " +
      "(band index, lexical index) fails it loudly or is folded: no row is lost " +
      "or doubled and no manifest names a missing file") {
    val template = Files.createTempDirectory("graft_store_interject").toString
    try {
      Dedup.saveBandIndex(bands(docs.filter($"doc_id" <= 2)), s"$template/band")
      Dedup.appendBandIndex(bands(docs.filter($"doc_id" === 3L)), s"$template/band")
      TextAnalysis.saveLexicalIndex(docs.filter($"doc_id" <= 2), s"$template/lex", nBuckets = 2)
      TextAnalysis.appendLexicalIndex(docs.filter($"doc_id" === 3L), s"$template/lex")

      def bandRows(root: String) = sorted(Dedup.loadBandIndex(spark, root))
      val (bandAppend, bandStaged) = stagedAppend(template, "band",
        StructType(Seq(StructField("band", IntegerType)))) { root =>
        Dedup.appendBandIndex(bands(docs.filter($"doc_id" > 3)), root)
      }
      // what serving reads of a lexical index: postings verbatim, dfq and
      // the corpus scalars summed
      def lexRows(root: String) = {
        val m = manifest(root).get
        val all = SegmentStore.frame(spark, root, m.live, TextAnalysis.LexSchema,
          TextAnalysis.LexPartitions)
        sorted(all.filter($"component" === "post").select("token", "doc_id", "tf", "dl")) ++
          sorted(all.filter($"component" === "term").groupBy("token").agg(sum("dfq"))) ++
          sorted(all.filter($"component" === "stat").agg(sum("n_docs"), sum("sum_dl")))
      }
      val (lexAppend, lexStaged) = stagedAppend(template, "lex", TextAnalysis.LexPartitions) {
        root => TextAnalysis.appendLexicalIndex(docs.filter($"doc_id" > 3), root)
      }
      try {
        val t0 = System.nanoTime()
        val bandSteps = interjectionSweep(template, "band", bandRows,
          bandRows(s"$bandStaged/band"), bandAppend)(Dedup.compactBandIndex(spark, _))
        val t1 = System.nanoTime()
        val lexSteps = interjectionSweep(template, "lex", lexRows,
          lexRows(s"$lexStaged/lex"), lexAppend)(TextAnalysis.compactLexicalIndex(spark, _))
        val t2 = System.nanoTime()
        info(f"compactBandIndex: ${bandSteps._1} steps (${bandSteps._2} failed the " +
          f"compaction) in ${(t1 - t0) / 1e9}%.1f s; compactLexicalIndex: ${lexSteps._1} " +
          f"steps (${lexSteps._2} failed it) in ${(t2 - t1) / 1e9}%.1f s")
        assert(bandSteps._1 >= 4 && lexSteps._1 >= 4, s"$bandSteps, $lexSteps")
      } finally { Gates.deleteTree(bandStaged); Gates.deleteTree(lexStaged) }
    } finally Gates.deleteTree(template)
  }

  test("an append keeps the ANN quantizers and the WinnowIndex; a save or a " +
      "compaction rebuilds them") {
    val tmp = Files.createTempDirectory("graft_store_memo").toString
    try {
      val ann = s"$tmp/ann"
      Similarity.saveIvfPq(vecs.filter($"vec_id" < 48), ann, nlist = 4, m = 8, ksub = 8)
      val quantizers = Similarity.quantizerMemo(spark, ann)
      val q0 = quantizers.current()._2
      Similarity.appendIvfPq(vecs.filter($"vec_id" >= 48), ann)
      val (codes, q1) = quantizers.current()
      assert(q1 eq q0, "an append reloaded the quantizers")
      assert(Quantization.rowsOf(codes, "codes").count() == 64L)
      Similarity.saveIvfPq(vecs, ann, nlist = 4, m = 8, ksub = 8)
      assert(!(quantizers.current()._2 eq q0), "a save kept the old quantizers")

      val fp = s"$tmp/winnow"
      def fps(d: DataFrame) = TextAnalysis.winnowFingerprints(d).select(col("doc_id").as("id"), col("fp"))
      StreamingWinnow.saveFingerprints(fps(docs.filter($"doc_id" <= 3)), fp)
      val index = StreamingWinnow.indexMemo(spark, fp, maxDf = 20)
      val i0 = index.current()._2
      StreamingWinnow.appendFingerprints(fps(docs.filter($"doc_id" > 3)), fp)
      val i1 = index.current()._2
      assert(i1 eq i0, "an append rebuilt the WinnowIndex")
      StreamingWinnow.compactFingerprints(spark, fp)
      val i2 = index.current()._2
      assert(!(i2 eq i0), "a compaction kept the old WinnowIndex")
      assert(index.current()._2 eq i2)
    } finally Gates.deleteTree(tmp)
  }

  test("publishing an existing manifest number fails under file: and faultfs:, " +
      "whose rename onto an existing file is refused and keeps that file") {
    val tmp = Files.createTempDirectory("graft_store_publish").toString
    try {
      FaultFs.install(spark)
      for (root <- Seq(s"$tmp/local", FaultFs.uri(s"$tmp/fault"))) {
        val hfs = SeqFiles.fs(spark, root)
        val dir = new org.apache.hadoop.fs.Path(root, "_manifest")
        SeqFiles.publish(hfs, dir, "m", 1L, Seq("first"))
        intercept[java.io.IOException](SeqFiles.publish(hfs, dir, "m", 1L, Seq("second")))
        val tmpFile = new org.apache.hadoop.fs.Path(dir, ".other.tmp")
        val out = hfs.create(tmpFile, true)
        try out.write("second\n".getBytes("UTF-8")) finally out.close()
        assert(!hfs.rename(tmpFile, new org.apache.hadoop.fs.Path(dir, "m-00000001")), root)
        assert(SeqFiles.read(hfs, new org.apache.hadoop.fs.Path(dir, "m-00000001")) == Seq("first"))
      }
      // a writer that publishes the same number between another's exists
      // check and its rename: the rename is refused, and the first stays
      val root = s"$tmp/fault"
      val dir = new org.apache.hadoop.fs.Path(FaultFs.uri(root), "_manifest")
      val (r, ran) = FaultFs.interjecting(SeqFiles.publish(SeqFiles.fs(spark, root),
          new org.apache.hadoop.fs.Path(root, "_manifest"), "m", 2L, Seq("first"))) {
        SeqFiles.publish(SeqFiles.fs(spark, dir.toString), dir, "m", 2L, Seq("second"))
      }
      assert(ran && r.failed.get.isInstanceOf[java.io.IOException], r)
      assert(SeqFiles.read(SeqFiles.fs(spark, root), new org.apache.hadoop.fs.Path(root,
        "_manifest/m-00000002")) == Seq("first"))
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
      // the compaction is in place: its reader is the pile's raw rows,
      // one per word and slice before the fold, one per word after it
      def pile(dir: String): () => Seq[String] = {
        val f = SegmentStore.load(spark, s"$dir/pile", "bloom words")
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
      val compactSteps = FaultFs.crashSweep(spark, template, pile,
        dir => SegmentStore.recover(spark, s"$dir/pile")) { dir =>
        Bloom.compactWords(spark, s"$dir/pile")
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
      val compactSteps = FaultFs.crashSweep(spark, template, pile, recoverAt("profile")) { dir =>
        JoinPlanner.compactTableProfile(spark, s"$dir/profile")
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
      val maintainSteps = FaultFs.crashSweep(spark, template, dir => ann(s"$dir/drift"),
        recoverAt("drift")) { dir =>
        assert(Similarity.maintainIvfPq(spark, s"$dir/drift",
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
