package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.TextAnalysis

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens, counts and shingles") {
    val df = Seq("The  quick   Brown fox").toDF("text")
    val r = df.select(
      TextFunctions.tokens($"text").as("t"),
      TextFunctions.tokenCount($"text").as("n"),
      TextFunctions.shingles($"text", 2).as("sh")).head()
    assert(r.getSeq[String](0) == Seq("the", "quick", "brown", "fox"))
    assert(r.getInt(1) == 4)
    assert(r.getSeq[String](2) == Seq("the quick", "quick brown", "brown fox"))
  }

  test("shingles shorter than n give empty array") {
    val df = Seq("one two").toDF("text")
    assert(df.select(TextFunctions.shingles($"text", 3)).head().getSeq[String](0).isEmpty)
  }

  test("char ngrams") {
    val df = Seq("ab  cd").toDF("text")
    val r = df.select(TextFunctions.charNgrams($"text", 3)).head().getSeq[String](0)
    assert(r == Seq("ab ", "b c", " cd"))
  }

  test("fingerprint is whitespace/case-insensitive, md5-stable") {
    val df = Seq(("A  b\tC", "a b c"), ("x", "y")).toDF("t1", "t2")
    val r = df.select(
      (TextFunctions.fingerprint($"t1") === TextFunctions.fingerprint($"t2")).as("eq"))
      .collect()
    assert(r(0).getBoolean(0))
    assert(!r(1).getBoolean(0))
  }

  test("langId picks the language with most marker hits; und when none") {
    val df = Seq(
      "the cat is on a mat and not in the box",   // en
      "der hund ist nicht ein tier mit fell",     // de
      "el gato no es un animal con plumas",       // es
      "le chat est un animal avec une queue",     // fr
      "zzz qqq xxx")                              // none
      .toDF("text")
    val got = df.select(TextFunctions.langId($"text")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "de", "es", "fr", "und"))
  }

  test("quality components bounded and deterministic") {
    val df = Seq("a plain sentence with the usual words in it and a bit of punctuation.")
      .toDF("text")
    val r = TextAnalysis.docMetrics(df.withColumn("doc_id", lit(1L))).head()
    val q = r.getAs[Double]("quality")
    assert(q >= 0.0 && q <= 1.0)
    assert(r.getAs[Double]("punct_ratio") > 0.0)
    assert(r.getAs[Double]("stopword_ratio") > 0.0)
  }

  test("simhash: equal token sets → equal hash; disjoint → different") {
    val df = Seq(("a b c d e f", "a b c d e f", "q w r t y u")).toDF("x", "y", "z")
    val r = df.select(
      TextFunctions.simHash64(TextFunctions.tokens($"x")).as("hx"),
      TextFunctions.simHash64(TextFunctions.tokens($"y")).as("hy"),
      TextFunctions.simHash64(TextFunctions.tokens($"z")).as("hz")).head()
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(0) != r.getLong(2))
  }

  test("rolling fingerprints: one 64-bit hash per shingle") {
    val df = Seq("a b c d e").toDF("text")
    val r = df.select(TextFunctions.rollingFingerprints($"text", 3)).head().getSeq[Long](0)
    assert(r.length == 3)
    assert(r.distinct.length == 3)
  }

  test("bm25TopK matches the hand-computed Okapi formula; non-matching docs absent") {
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "c c c c")).toDF("doc_id", "text")
    // N=3, avgdl=3.0, dfq(a)=2, idf=ln((3-2+0.5)/(2+0.5)+1)=ln(1.6)
    val idf = math.log(1.6)
    val s1 = idf * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3 / 3.0))
    val s2 = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 2 / 3.0))
    val got = TextAnalysis.bm25TopK(docs, Seq("a"), k = 10).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // desc score, doc 3 absent
    assert(math.abs(got(0).getDouble(1) - s1) < 1e-6)
    assert(math.abs(got(1).getDouble(1) - s2) < 1e-6)
  }

  test("bm25TopK: k limits output, ties break on doc_id, terms lowercased") {
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "z")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, Seq("X", "y"), k = 2).collect()
    assert(got.length == 2)
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // equal scores → id order
  }

  test("unigramNll matches the hand-computed add-one model; OOV scores worse") {
    // corpus: tokens a×3, b×2, c×1 → T=6; vocabSize=2 keeps {a,b}, c is OOV
    val docs = Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val t = 6.0; val v = 2
    val pa = 4.0 / (t + v + 1); val pb = 3.0 / (t + v + 1); val poov = 1.0 / (t + v + 1)
    val nll1 = -(math.log(pa) + math.log(pa) + math.log(pb)) / 3
    val nll2 = -(math.log(pa) + math.log(pb) + math.log(poov)) / 3
    val got = TextAnalysis.unigramNll(docs, vocabSize = v).orderBy($"doc_id").collect()
    assert(math.abs(got(0).getDouble(1) - nll1) < 1e-6)
    assert(math.abs(got(1).getDouble(1) - nll2) < 1e-6)
    assert(got(1).getDouble(1) > got(0).getDouble(1)) // the OOV doc is less fluent
  }

  test("bigramNll matches the hand-computed conditional add-one model") {
    // corpus: doc1 "a b a b", doc2 "a b c" → c1: a=3 b=3 c=1; bigrams:
    // "a b"×3, "b a"×1, "b c"×1. unigramVocab=2 keeps {a,b}; bigramVocab=2
    // keeps {"a b", "b a"} (freq desc, lexicographic tiebreak) — "b c" OOV.
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val den = 3 + 2 + 1 // freq1(w1)=3 for both a and b, + V1 + 1
    val pab = 4.0 / den; val pba = 2.0 / den; val pbc = 1.0 / den
    val nll1 = -(math.log(pab) + math.log(pba) + math.log(pab)) / 3
    val nll2 = -(math.log(pab) + math.log(pbc)) / 2
    val got = TextAnalysis.bigramNll(docs, unigramVocab = 2, bigramVocab = 2)
      .orderBy($"doc_id").collect()
    assert(got.length == 2) // a 1-token doc would be absent (no bigrams)
    assert(math.abs(got(0).getDouble(1) - nll1) < 1e-6)
    assert(math.abs(got(1).getDouble(1) - nll2) < 1e-6)
    assert(got(1).getDouble(1) > got(0).getDouble(1)) // OOV bigram → less fluent
  }

  test("bm25QueryIndex serves row-identical results to the direct derivation") {
    val docs = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan"), (4L, "filter value row"),
      (5L, "spark")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_idx").toString
    try {
      TextAnalysis.saveLexicalIndex(docs, dir, nBuckets = 8)
      // multi-term query incl. a term absent from the corpus: the index path
      // must agree row-for-row (same scores, same order) with bm25TopK
      val terms = Seq("spark", "merge", "absent_term")
      val direct = TextAnalysis.bm25TopK(docs, terms, k = 10).collect().toSeq
      val served = TextAnalysis.bm25QueryIndex(spark, dir, terms, k = 10).collect().toSeq
      assert(served == direct)
      assert(direct.nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("appendLexicalIndex: append + serve ≡ full rebuild, row for row") {
    val first = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan")).toDF("doc_id", "text")
    val extra = Seq(
      (4L, "filter value row spark"), (5L, "spark merge")).toDF("doc_id", "text")
    val all = first.union(extra)
    val dirA = java.nio.file.Files.createTempDirectory("graft_lex_app").toString
    val dirF = java.nio.file.Files.createTempDirectory("graft_lex_full").toString
    try {
      TextAnalysis.saveLexicalIndex(first, dirA, nBuckets = 8)
      TextAnalysis.appendLexicalIndex(extra, dirA)
      TextAnalysis.saveLexicalIndex(all, dirF, nBuckets = 8)
      val terms = Seq("spark", "merge", "value")
      val appended = TextAnalysis.bm25QueryIndex(spark, dirA, terms, k = 10).collect().toSeq
      val rebuilt = TextAnalysis.bm25QueryIndex(spark, dirF, terms, k = 10).collect().toSeq
      val direct = TextAnalysis.bm25TopK(all, terms, k = 10).collect().toSeq
      assert(appended == rebuilt)
      assert(appended == direct) // dfq/avgdl re-derived exactly across segments
      assert(direct.nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dirA)).deleteRecursively()
      new Directory(new java.io.File(dirF)).deleteRecursively()
    }
  }

  test("bm25QueryIndexBatch: each query's rows ≡ serving it alone") {
    val docs = Seq(
      (1L, "spark scan spark merge"), (2L, "scan filter join"),
      (3L, "merge merge merge scan"), (4L, "filter value row"),
      (5L, "spark")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lex_batch").toString
    try {
      TextAnalysis.saveLexicalIndex(docs, dir, nBuckets = 8)
      // 40 is padded and mixed-case (normalized like the tokenizer, so
      // it asks for spark and merge); 50 has no servable term
      val qs = Seq(
        (10L, Seq("spark", "merge")),
        (20L, Seq("filter")),
        (30L, Seq("absent_term")),
        (40L, Seq("\tSpark", "MERGE ")),
        (50L, Seq(" ", "\t", "")))
      val batch = TextAnalysis.bm25QueryIndexBatch(spark, dir, qs, k = 3).collect()
      def rowsOf(qid: Long) = batch.filter(_.getLong(0) == qid).sortBy(_.getInt(3))
        .map(r => Row(r.get(1), r.get(2))).toSeq
      qs.foreach { case (qid, terms) =>
        val alone = TextAnalysis.bm25QueryIndex(spark, dir, terms, k = 3).collect().toSeq
        assert(rowsOf(qid) == alone, s"query $qid diverges: ${rowsOf(qid)} vs $alone")
      }
      val direct = TextAnalysis.bm25TopK(docs, Seq("\tSpark", "MERGE "), k = 3).collect().toSeq
      assert(rowsOf(40L) == direct && direct.nonEmpty)
      assert(rowsOf(40L) == rowsOf(10L))
      // rnk is dense 1..n per query; the no-hit and no-term queries are
      // simply absent, and a batch of no-term queries answers empty
      assert(rowsOf(30L).isEmpty && rowsOf(50L).isEmpty)
      assert(batch.filter(_.getLong(0) == 10L).map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3))
      assert(TextAnalysis.bm25QueryIndexBatch(spark, dir, Seq((60L, Seq(" "))), k = 3)
        .collect().isEmpty)
      // the JVM's default locale does not enter: Java's toLowerCase under
      // tr maps FILTER to fılter (dotless ı), which no index token holds
      val locale = java.util.Locale.getDefault
      val lowered = try {
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
        TextAnalysis.queryTokens(Seq("FILTER"))
      } finally java.util.Locale.setDefault(locale)
      assert(lowered == Seq("filter"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("sourceDivergence: identical distributions read 0; a skewed source reads > 0") {
    // two sources with IDENTICAL token distributions -> p = q for both,
    // chi2 exactly 0.0; adding a third source of pure novel tokens makes
    // the skewed source diverge and perturbs the others only slightly
    val same = Seq(
      (1L, "alpha beta beta", "s1"), (2L, "alpha beta beta", "s2"))
      .toDF("doc_id", "text", "source")
    val d0 = TextAnalysis.sourceDivergence(same, vocabSize = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(d0("s1") == 0.0 && d0("s2") == 0.0)

    val skew = same.union(Seq((3L, "zeta zeta zeta zeta", "s3"))
      .toDF("doc_id", "text", "source"))
    val d1 = TextAnalysis.sourceDivergence(skew, vocabSize = 10).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(d1("s3") > d1("s1") && d1("s3") > 1.0)
    assert(d1("s1") == d1("s2")) // still identical to each other
  }

  test("sourceDivergence: OOV bucket catches tokens outside the capped vocab") {
    // vocabSize=1 keeps only the most frequent token; everything else must
    // flow through the OOV bucket and still form proper distributions
    val docs = Seq((1L, "a a a b c", "s1"), (2L, "a a a d e", "s2"))
      .toDF("doc_id", "text", "source")
    val d = TextAnalysis.sourceDivergence(docs, vocabSize = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // both sources: p(a)=0.6, p(oov)=0.4 — identical to q -> exactly 0
    assert(d("s1") == 0.0 && d("s2") == 0.0)
  }

  test("StreamingDivergence.scoreStream: corpus-identical doc scores 0; validation fires") {
    import graft.streaming.StreamingDivergence
    // corpus = one doc -> q IS that doc's distribution -> chi2 exactly 0
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text")
    val model = TextAnalysis.divergenceModel(docs, vocabSize = 10)
    val got = StreamingDivergence.scoreStream(docs, model).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0)
    // token-free rows are dropped, not scored
    val withEmpty = Seq((1L, "a a b"), (2L, "   ")).toDF("doc_id", "text")
    assert(StreamingDivergence.scoreStream(withEmpty, model).count() == 1)
    // loud failures: empty model, oversized model, nonpositive q
    intercept[IllegalArgumentException](
      StreamingDivergence.scoreStream(docs, Seq.empty))
    intercept[IllegalArgumentException](
      StreamingDivergence.scoreStream(docs,
        (1 to 1025).map(i => (s"t$i", 0.001))))
    intercept[IllegalArgumentException](
      StreamingDivergence.scoreStream(docs, Seq(("a", 0.0))))
  }
}
