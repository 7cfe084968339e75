package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Bloom, Dedup, EntityResolution, Pca, Retrieval, SegmentStore, SeqFiles,
  Sketches, TextAnalysis}
import graft.streaming.{StreamingEntity, StreamingWinnow}

/** The eight delta-append artifact families on [[SegmentStore]]: one
  * commit path, loads pinned to one manifest, and a compaction that
  * fails exactly when its source changed while it ran. */
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
      assert(manifest(p("trigram")).get.live.length > 32,
        "the trigram index must hold more live files than the 32-path listing threshold")

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
          TextAnalysis.loadBenchmarkIndex(spark, u("bench"))._1.collect().toSeq))
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
    // the eight families' sources commit and load only through
    // SegmentStore: an append-mode write, a directory read or a listing
    // here would be a ninth copy of the old commit path
    val families = Seq("operators/Dedup", "operators/Bloom", "operators/Sketches",
      "operators/Pca", "operators/Retrieval", "operators/TextAnalysis",
      "streaming/StreamingWinnow", "streaming/StreamingEntity")
      .map(f => Paths.get(s"src/main/scala/graft/$f.scala"))
    assert(families.forall(Files.exists(_)), "family sources not found from the working dir")
    val banned = raw"""mode\("append"\)|read\.parquet\(|listStatus\(|getFileSystem\(""".r
    val offending = for {
      file <- families
      (line, no) <- Files.readAllLines(file).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"$file:${no + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
