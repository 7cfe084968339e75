package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Curation, TextAnalysis}
import graft.sources.Tables

/** Curation sampling / mixing / scrubbing ops not fully covered by the
  * oracle gate (the gate checks the exact-rank paths; these specs cover the
  * stateless hash path, mixture proportions, and redaction edge cases). */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("stratifiedSampleHash: deterministic, partition-independent, ~fraction") {
    val docs = Tables.documents(spark, Sf)
    val s1 = Curation.stratifiedSampleHash(docs, "source",
      Map("src0" -> 1.0), defaultFraction = 0.3)
    val s2 = Curation.stratifiedSampleHash(docs.repartition(13), "source",
      Map("src0" -> 1.0), defaultFraction = 0.3)
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).sorted
    val ids2 = s2.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids1.sameElements(ids2)) // hash-threshold: layout-independent
    // fraction 1.0 stratum fully kept
    val src0All = docs.filter(col("source") === "src0").count()
    assert(s1.filter(col("source") === "src0").count() == src0All)
    // default stratum close to 30% (binomial tolerance on ~475 docs)
    val rest = docs.filter(col("source") =!= "src0").count().toDouble
    val kept = s1.filter(col("source") =!= "src0").count().toDouble
    assert(math.abs(kept / rest - 0.3) < 0.08, s"$kept / $rest")
  }

  test("mixToWeights: counts proportional to weights, binding source fully used") {
    val docs = Tables.documents(spark, Sf)
    val out = Curation.mixToWeights(docs, "source",
      Map("src0" -> 0.6, "src1" -> 0.2, "src2" -> 0.2))
    val counts = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = docs.filter(col("source").isin("src0", "src1", "src2"))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // src0 demands 0.6 of the mix from the same 25-doc pool → it binds
    val target = avail("src0") / 0.6
    Seq("src0" -> 0.6, "src1" -> 0.2, "src2" -> 0.2).foreach { case (src, w) =>
      assert(counts(src) == math.floor(w * target).toLong, s"$src: ${counts(src)}")
      assert(counts(src) <= avail(src))
    }
    // only weighted sources present
    assert(out.select("source").distinct().count() == 3)
  }

  test("groupedHashRank: int-typed group column ranks correctly (cast regression)") {
    // the offset-map keys are strings, so a non-string group column must
    // stringify identically in the counts pass and the rank pass — an int
    // source id is the regression case for the explicit cast at the top of
    // groupedHashRank
    val docs = (0L until 300L).map(i => (i, (i % 3).toInt)).toDF("doc_id", "grp")
    val out = Curation.groupedHashRank(docs, "grp", "doc_id")
      .select(col("grp"), col("doc_id"), col("_rn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // per group: _rn is a permutation of 1..n, ordered by md5(id) hash order
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length))
      val md5Order = rows.sortBy { case (_, id, _) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }.map(_._2)
      val rnOrder = rows.sortBy(_._3).map(_._2)
      assert(md5Order.sameElements(rnOrder))
    }
    // partition-layout independence
    val out2 = Curation.groupedHashRank(docs.repartition(7), "grp", "doc_id")
      .select(col("grp"), col("doc_id"), col("_rn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.toSet == out2)
  }

  test("weightedSampleHash rejects nonpositive and NaN weights loudly") {
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    def assertRejected(bad: Double): Unit =
      // a group of one row is checked too: no rank comparison ever reads
      // its key, so the check must run on every row, not in the ranking
      Seq(Seq((1L, "g", 1.0), (2L, "g", bad)), Seq((1L, "g", bad))).foreach { rows =>
        val docs = rows.toDF("doc_id", "grp", "w")
        val ex = intercept[Exception] {
          Curation.weightedSampleHash(docs, "grp", col("w"), k = 1).collect()
        }
        assert(msgs(ex).exists(m => m != null && m.contains("weight must be > 0")),
          s"bad=$bad rows=$rows")
      }
    assertRejected(0.0)
    assertRejected(-1.5)
    // NaN <= 0.0 is false AND a NaN rank key sorts above every valid key —
    // it must be rejected, not silently win the sample
    assertRejected(Double.NaN)
  }

  test("redactPii scrubs all three kinds, repeated hits, leaves clean text alone") {
    val out = Seq(
      "a@b.co and c.d+e@f-g.org wrote",
      "call 555-123-4567 or 555-987-6543",
      "hosts 10.0.0.1 192.168.255.254",
      "no pii here 12-34 a@b a.b.c 1234-5678").toDF("t")
      .select(TextFunctions.redactPii(col("t")).as("r"))
      .collect().map(_.getString(0))
    assert(out(0) == "[EMAIL] and [EMAIL] wrote")
    assert(out(1) == "call [PHONE] or [PHONE]")
    assert(out(2) == "hosts [IP] [IP]")
    assert(out(3) == "no pii here 12-34 a@b a.b.c 1234-5678")
  }

  test("dedupLines strips corpus-repeated lines, keeps order, preserves rows") {
    import spark.implicits._
    val docs = Seq(
      (1L, "HEADER\nunique line one\nmiddle shared\nunique line two\nFOOTER"),
      (2L, "HEADER\nother content here\nmiddle shared\nFOOTER"),
      (3L, "HEADER\nFOOTER"), // all lines boilerplate -> empty text survives
      (4L, "standalone document with no newlines at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(docs, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("unique line one\nunique line two", 2L, 3L)))
    assert(out(2L) == (("other content here", 1L, 3L)))
    assert(out(3L) == (("", 0L, 2L)))
    assert(out(4L) == (("standalone document with no newlines at all", 1L, 0L)))
    // trimmed-key matching: "  HEADER  " would also be dropped
    val trimmed = TextAnalysis.dedupLines(
      Seq((1L, "  HEADER\nbody a"), (2L, "HEADER  \nbody b")).toDF("doc_id", "text"),
      minDocs = 2).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(trimmed(1L) == "body a" && trimmed(2L) == "body b")
  }

  test("weightedSampleHash: weight bias, determinism, per-group k") {
    import spark.implicits._
    // one dominant-weight doc per group + 29 tiny-weight docs
    val docs = (0 until 60).map { i =>
      val g = s"g${i % 2}"
      val w = if (i < 2) 1e9 else 1e-3
      (i.toLong, g, w)
    }.toDF("doc_id", "grp", "w")
    val out = Curation.weightedSampleHash(docs, "grp", col("w"), k = 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.size == 10) // 5 per group
    // u^(1/1e9) ≈ 1 beats u^(1000) for every realistic u: dominants always in
    assert(out.contains((0L, "g0")) && out.contains((1L, "g1")))
    // stable across partitionings
    val out2 = Curation.weightedSampleHash(docs.repartition(7), "grp", col("w"), k = 5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == out2)
  }

  test("removeRepeatedSpans cuts cross-doc spans, preserves case and order") {
    val docs = Seq(
      (1L, "alpha beta gamma delta SHARED ONE TWO THREE FOUR FIVE tail1 tail2"),
      (2L, "x1 x2 shared one two three four five y1 y2 y3"), // case-insensitive match
      (3L, "nothing here repeats at all ever"),
      (4L, "dup1 dup2 dup3 dup4 dup5"), // whole doc duplicated with 5
      (5L, "dup1 dup2 dup3 dup4 dup5"),
      (6L, "")) // empty doc: row survives with zero counts
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeRepeatedSpans(docs, windowTokens = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("alpha beta gamma delta tail1 tail2", 6L, 6L)))
    assert(out(2L) == (("x1 x2 y1 y2 y3", 5L, 6L)))
    assert(out(3L) == (("nothing here repeats at all ever", 6L, 0L)))
    assert(out(4L) == (("", 0L, 5L)))
    assert(out(5L) == (("", 0L, 5L)))
    assert(out(6L) == (("", 0L, 0L)))
  }

  test("removeRepeatedSpans: leading control char does not shift positions") {
    // "\\u0001 " prefix: Java-trim (the shingle kernel's normalization)
    // strips it, but a bare split("\\s+") would keep the control char as
    // token 0 and shift every position by one, cutting the wrong tokens. The
    // prefixed corpus must rebuild the SAME texts as the clean corpus.
    def run(doc1: String) = {
      val docs = Seq(
        (1L, doc1),
        (2L, "zz shared one two three four qq"))
        .toDF("doc_id", "text")
      TextAnalysis.removeRepeatedSpans(docs, windowTokens = 4, minDocs = 2)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    }
    val prefixed = run("\u0001 pre SHARED ONE TWO THREE FOUR post1 post2")
    assert(prefixed(1L) == (("pre post1 post2", 3L, 5L)))
    assert(prefixed(2L) == (("zz qq", 2L, 5L)))
    // control-char prefix is invisible: identical to the clean corpus
    assert(prefixed == run("pre SHARED ONE TWO THREE FOUR post1 post2"))
  }

  test("removeRepeatedSpans leaves runs shorter than the window alone") {
    // shared run of 3 tokens < windowTokens=4 -> below the noise floor, kept
    val docs = Seq(
      (1L, "p q r common run here s t"),
      (2L, "u v common run here w x y"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeRepeatedSpans(docs, windowTokens = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) == 0L && out(2L) == 0L)
  }

  test("gopherRules: per-rule signals and keep verdicts") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and that dog have seen it with glee"),
      (2L, "- one\n- two\n- three\n- four"),          // bullets + short words
      (3L, "#### #### #### #### ####"),               // symbols, no letters
      (4L, "to be continued...\nmore coming soon...\nthe end")) // ellipsis lines
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, minWords = 5)
      .orderBy(col("doc_id")).collect()
    assert(out(0).getAs[Long]("n_words") == 17L)
    assert(out(0).getAs[Double]("mean_word_len") == math.round(63.0 / 17 * 1e6) / 1e6)
    assert(out(0).getAs[Long]("stopword_hits") == 5L) // the and that have with
    assert(out(0).getAs[Boolean]("keep"))
    assert(out(1).getAs[Double]("bullet_line_frac") == 1.0)
    assert(!out(1).getAs[Boolean]("keep"))
    assert(out(2).getAs[Double]("alpha_word_frac") == 0.0)
    assert(out(2).getAs[Double]("symbol_word_ratio") > 0.1)
    assert(!out(2).getAs[Boolean]("keep"))
    assert(out(3).getAs[Double]("ellipsis_line_frac") == math.round(2.0 / 3 * 1e6) / 1e6)
    assert(!out(3).getAs[Boolean]("keep"))
  }

  test("repetitionMetrics flags degenerate repetition") {
    val out = TextAnalysis.repetitionMetrics(Seq(
      (1L, "spam spam spam spam"),
      (2L, "all words here are distinct tokens")).toDF("doc_id", "text"))
      .orderBy(col("doc_id")).collect()
    assert(out(0).getAs[Long]("n_words") == 4)
    assert(out(0).getAs[Double]("top_word_frac") == 1.0)
    assert(out(0).getAs[Double]("top_bigram_frac") == 1.0)
    assert(out(1).getAs[Double]("distinct_word_ratio") == 1.0)
    assert(out(1).getAs[Double]("top_word_frac") < 0.2)
  }

  test("chunkDocuments: boundaries, overlap, short docs, digests") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "solo"),                           // 1 token < overlap
      (3L, "a b c d"))                        // exactly one chunk
      .toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, chunkTokens = 4, overlapTokens = 1)
      .orderBy(col("doc_id"), col("chunk_id")).collect()
    // doc 1: stride 3, nk = ceil((10-1)/3) = 3 → starts 0,3,6
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L)))
    // every chunk contributes >= 1 new token; last chunk reaches the end
    // docs 2, 3: exactly one chunk each, full short length
    assert(out.filter(_.getLong(0) == 2L).map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 1L)))
    assert(out.filter(_.getLong(0) == 3L).map(r => (r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 4L)))
    // digest is the md5 of the joined token slice
    val c0 = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 1L).get
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest("t3 t4 t5 t6".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(c0.getString(4) == expect)
  }

  test("quantizeSQ8 roundtrip error bounded by half a step; constant vectors exact") {
    import graft.operators.Quantization
    val embs = Seq(
      (1L, Array(0.1f, 0.9f, -0.5f, 0.3f)),
      (2L, Array(2.0f, 2.0f, 2.0f, 2.0f))) // constant → scale 0
      .toDF("vec_id", "embedding")
    val q = Quantization.quantizeSQ8(embs)
    val joined = embs.join(q, "vec_id").select(
      col("vec_id"), col("q_scale"),
      Quantization.reconstructionError(
        col("embedding"), col("codes"), col("q_min"), col("q_scale")).as("err"))
      .orderBy(col("vec_id")).collect()
    assert(joined(0).getDouble(2) <= joined(0).getDouble(1) / 2 + 1e-9)
    assert(joined(1).getDouble(1) == 0.0 && joined(1).getDouble(2) == 0.0)
    // codes stay in the unsigned-byte range
    val codes = q.select(explode(col("codes"))).collect().map(_.getShort(0))
    assert(codes.forall(c => c >= 0 && c <= 255))

    // artifact lifecycle: save -> load -> identical quantized rows
    val dir = java.nio.file.Files.createTempDirectory("sq8").toString
    Quantization.saveQuantized(q, dir)
    val loaded = Quantization.loadQuantized(spark, dir)
      .orderBy(col("vec_id")).collect()
    val orig = q.orderBy(col("vec_id")).collect()
    assert(loaded.length == orig.length)
    loaded.zip(orig).foreach { case (l, o) =>
      assert(l.getLong(0) == o.getLong(0))
      assert(l.getSeq[Short](1) == o.getSeq[Short](1))
      assert(l.getDouble(2) == o.getDouble(2) && l.getDouble(3) == o.getDouble(3))
    }
  }

  test("mixToTargetCounts: exact targets, whole-epoch replication, deterministic") {
    import graft.operators.Curation
    val docs = (1L to 10L).map(i => (i, if (i <= 6) "a" else "b")).toDF("doc_id", "source")
    // a: 6 docs -> 15 (2 full epochs + 3), b: 4 docs -> 2 (truncation)
    val out = Curation.mixToTargetCounts(docs, "source", Map("a" -> 15L, "b" -> 2L))
    val bySrc = out.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("a" -> 15L, "b" -> 2L))
    // every full epoch contains each doc exactly once
    val copies = out.filter(col("source") === "a")
      .groupBy(col("copy")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(copies == Map(0L -> 6L, 1L -> 6L, 2L -> 3L))
    // deterministic across runs
    val again = Curation.mixToTargetCounts(docs, "source", Map("a" -> 15L, "b" -> 2L))
      .orderBy(col("doc_id"), col("copy")).collect().toSeq
    assert(out.orderBy(col("doc_id"), col("copy")).collect().toSeq == again)
  }

  test("contamination finds planted overlap and nothing else") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "xx alpha beta gamma delta epsilon yy"),   // shares 1 distinct 5-gram
      (2L, "totally unrelated words without overlap at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.contamination(train, bench, shingleN = 5).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("train_id") == 1L && out(0).getAs[Long]("n_shared") == 1L)

    val clean = TextAnalysis.decontaminate(train, bench, shingleN = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L)) // the contaminated doc is gone, the clean one kept

    // Bloom path: same drop guarantee (no false negatives), shuffle-free
    val bloomKept = TextAnalysis.decontaminateBloom(train, bench, shingleN = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!bloomKept.contains(1L))       // contaminated MUST go
    assert(bloomKept.subsetOf(clean))     // FPs only shrink the kept set
  }

  test("benchmark index lifecycle: save + append + load equals the " +
    "one-shot build; width mix aborts loudly") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "xx alpha beta gamma delta epsilon yy"),   // hits suite A
      (2L, "pp two three four five six qq"),          // hits suite B (the delta)
      (3L, "totally unrelated words without overlap at all"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("decon_idx").toString
    try {
      TextAnalysis.saveBenchmarkIndex(bench.filter($"doc_id" === 100L), 5, dir)
      TextAnalysis.appendBenchmarkIndex(bench.filter($"doc_id" === 101L), 5, dir)
      val viaIndex = TextAnalysis.contaminationFromIndex(train, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val oneShot = TextAnalysis.contamination(train, bench, shingleN = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaIndex == oneShot && viaIndex.keySet == Set(1L, 2L))
      val kept = TextAnalysis.decontaminateFromIndex(train, dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(3L))
      // re-appending the SAME suite is a no-op on results (distinct fold)
      TextAnalysis.appendBenchmarkIndex(bench.filter($"doc_id" === 101L), 5, dir)
      assert(TextAnalysis.contaminationFromIndex(train, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == oneShot)
      // compaction: the distinct fold dedups base/delta overlap, keeps
      // contamination results identical, and the compacted index carries
      // exactly the pile's distinct grams
      val pileGrams = graft.operators.SegmentStore.load(spark, dir, "benchmark index")
        .select($"g").distinct().count()
      TextAnalysis.compactBenchmarkIndex(spark, dir)
      assert(TextAnalysis.contaminationFromIndex(train, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == oneShot)
      val gen = graft.operators.SegmentStore.load(spark, dir, "benchmark index")
      assert(gen.count() == pileGrams)
      assert(gen.count() == gen.distinct().count())
      // width mix: a 4-gram delta against a 5-gram base must abort
      TextAnalysis.appendBenchmarkIndex(bench.filter($"doc_id" === 101L), 4, dir)
      val ex = intercept[IllegalArgumentException] {
        TextAnalysis.contaminationFromIndex(train, dir).collect()
      }
      assert(ex.getMessage.contains("mixes shingle widths"))
      // and the compactor refuses the malformed pile just like the loader
      val ex2 = intercept[IllegalArgumentException] {
        TextAnalysis.compactBenchmarkIndex(spark, dir)
      }
      assert(ex2.getMessage.contains("mixed widths"))
    } finally Gates.deleteTree(dir)

    // a legitimately EMPTY index (every benchmark text shorter than the
    // width) is not an error: zero grams, zero contamination, keep all
    val dir2 = java.nio.file.Files.createTempDirectory("decon_idx_empty").toString
    try {
      TextAnalysis.saveBenchmarkIndex(
        Seq((1L, "too short")).toDF("doc_id", "text"), 5, dir2)
      val (g, _) = TextAnalysis.loadBenchmarkIndex(spark, dir2)
      assert(g.count() == 0L)
      val viaEmpty = TextAnalysis.contaminationFromIndex(train, dir2)
      assert(viaEmpty.count() == 0L)
      assert(viaEmpty.columns.toSeq == Seq("train_id", "n_shared"))
      // the empty-index probe short-circuits: no shingle explosion of the
      // training corpus just to join against zero grams
      assert(!viaEmpty.queryExecution.optimizedPlan.toString.contains("Generate"))
      assert(TextAnalysis.decontaminateFromIndex(train, dir2).count() ==
        train.count())
    } finally Gates.deleteTree(dir2)
  }

  test("noveltyScores: planted duplicate drives novelty to 0, unique doc to 1") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),          // 2 shingles, both shared with 2
      (2L, "alpha beta gamma delta"),          // exact copy
      (3L, "one two three four five"),         // 3 shingles, all corpus-unique
      (4L, "too short"))                       // < 3 tokens → absent
      .toDF("doc_id", "text")
    val out = TextAnalysis.noveltyScores(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(!out.contains(4L))
    assert(out(1L) == ((2L, 0L, 0.0, 2.0)))   // every shingle df=2
    assert(out(2L) == ((2L, 0L, 0.0, 2.0)))
    assert(out(3L) == ((3L, 3L, 1.0, 1.0)))   // fully novel
    intercept[IllegalArgumentException] {
      TextAnalysis.noveltyScores(docs, shingleN = 0)
    }
  }

  test("groupQuantile: interpolated quantiles from the weighted histogram") {
    val df = Seq(
      ("a", 1), ("a", 2), ("a", 3), ("a", 4), // q25: h=.75 → 1 + .75·(2−1)
      ("b", 10),                              // singleton → itself
      ("c", 1), ("c", 1), ("c", 2))           // weighted: q50 h=1 → rank 2 = 1
    .toDF("g", "v")
    def thr(q: Double) = Curation.groupQuantile(df, "g", col("v"), q)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val q25 = thr(0.25)
    assert(q25("a") === 1.75 && q25("b") === 10.0)
    val q50 = thr(0.5)
    assert(q50("a") === 2.5 && q50("c") === 1.0)
    // q = 1 → max; q = 0 → min
    assert(thr(1.0)("a") === 4.0 && thr(0.0)("a") === 1.0)
  }

  test("groupQuantile: NULL scores are ignored, not a histogram bucket") {
    val clean = Seq(("a", Some(1)), ("a", Some(2)), ("a", Some(3)),
      ("a", Some(4))).toDF("g", "v")
    val withNulls = Seq(("a", Some(1)), ("a", None), ("a", Some(2)),
      ("a", None), ("a", Some(3)), ("a", Some(4))).toDF("g", "v")
    def thr(df: org.apache.spark.sql.DataFrame) =
      Curation.groupQuantile(df, "g", col("v"), 0.25)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // quantile_cont semantics: nulls carry no signal — same threshold
    assert(thr(withNulls) === thr(clean))
    assert(thr(withNulls)("a") === 1.75)
    // an all-null group contributes no threshold row at all
    val allNull = Seq(("a", Some(1)), ("a", Some(2)), ("b", None))
      .toDF("g", "v")
    assert(thr(allNull).keySet === Set("a"))
  }

  test("winsorize: clips to the per-group quantile band, one-pass bounds") {
    val df = Seq(("a", -100.0), ("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("a", 4.0), ("a", 1000.0)).toDF("g", "v")
    // n=6, q25 h=1.25 → 1+(.25)(2−1)=1.25; q75 h=3.75 → 3+.75·1=3.75
    val out = Curation.winsorize(df, "g", col("v"), 0.25, 0.75)
      .select(col("v"), col("lo"), col("hi"), col("clipped")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.forall(t => t._2 === 1.25 && t._3 === 3.75))
    assert(out.head._4 === 1.25)  // -100 clipped up
    assert(out.last._4 === 3.75)  // 1000 clipped down
    assert(out(2)._4 === 2.0)     // in-band untouched
  }

  test("quantileFloor: kept iff score >= the group's threshold") {
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("a", 4), ("b", 7))
      .toDF("g", "v")
    val out = Curation.quantileFloor(df, "g", col("v"), 0.25)
      .select(col("g"), col("v"), col("kept")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2)))
    // a-threshold 1.75: 1 dropped, 2/3/4 kept; b singleton kept
    assert(out.toSet === Set(
      ("a", 1, false), ("a", 2, true), ("a", 3, true), ("a", 4, true),
      ("b", 7, true)))
  }
}
