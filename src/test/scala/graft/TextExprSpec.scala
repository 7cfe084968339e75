package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.sources.Tables

/** Native text kernels ([[graft.plans.TextKernels]]): row-for-row parity
  * with the legacy UDF/HOF paths they replace, plus no-ScalaUDF plan
  * assertions for the dedup pipelines that now run on them. */
class TextExprSpec extends SparkSpec {

  import spark.implicits._

  /** Edge-case corpus: nulls, empties, whitespace runs/kinds, unicode case
    * mapping, multibyte scripts, control chars, surrogate pairs. */
  private val edgeTexts: Seq[String] = Seq(
    null,
    "",
    "   ",
    "\t\n\f\r",
    "a",
    "a b",
    "a  b\tc",
    "  lead and trail  ",
    "one two three four five six",
    "İstanbul ŞİŞLİ constantinople",
    "STRASSE ẞ groß",
    "中文 文本 测试 去重",
    "ab c",      // interior control char is NOT a \s separator
    "abc def",    // leading control char ≤ 0x20 IS trimmed
    "x y z",       // NBSP is not Java \s — stays inside the token
    "😀 emoji 😀😀 pair",
    "word " * 50)

  private def edgeDf = edgeTexts.toDF("text")

  test("word_shingles ≡ legacy UDF row-for-row (edge corpus × n)") {
    for (n <- Seq(1, 2, 3, 5)) {
      val rows = edgeDf.select(
        TextFunctions.shingles(col("text"), n).as("native"),
        Baselines.shingles_udf(col("text"), n).as("legacy")).collect()
      rows.zip(edgeTexts).foreach { case (r, t) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n text=${Option(t).map(_.take(40))}")
      }
    }
  }

  test("word_shingles ≡ legacy UDF on the documents table") {
    val rows = Tables.documents(spark, Sf).select(
      TextFunctions.shingles(col("text"), 3).as("native"),
      Baselines.shingles_udf(col("text"), 3).as("legacy")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("minhash_signature ≡ legacy HOF (documents, empty array, null)") {
    val sh = Tables.documents(spark, Sf)
      .select(array_distinct(TextFunctions.shingles(col("text"), 3)).as("sh"))
    val rows = sh.select(
      TextFunctions.minHashSignature(col("sh"), 32).as("native"),
      Baselines.minHashSignature_hof(col("sh"), 32).as("legacy")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[java.lang.Long](0) == r.getSeq[java.lang.Long](1)))

    // empty + null inputs: all-null signature both ways (array_min(empty)=null)
    val edge = Seq(Seq.empty[String], null).toDF("sh").select(
      TextFunctions.minHashSignature(col("sh"), 4).as("native"),
      Baselines.minHashSignature_hof(col("sh"), 4).as("legacy")).collect()
    edge.foreach { r =>
      assert(r.getSeq[java.lang.Long](0) == Seq(null, null, null, null))
      assert(r.getSeq[java.lang.Long](0) == r.getSeq[java.lang.Long](1))
    }
  }

  test("simhash64 ≡ legacy vote UDF (documents + empty array)") {
    val rows = Tables.documents(spark, Sf)
      .select(TextFunctions.tokens(col("text")).as("t"))
      .select(
        TextFunctions.simHash64(col("t")).as("native"),
        Baselines.simHash64_udf(col("t")).as("legacy")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))

    val empty = Seq(Seq.empty[String]).toDF("t")
      .select(TextFunctions.simHash64(col("t")).as("h")).head()
    assert(empty.getLong(0) == 0L)
  }

  test("null-element parity: kernel hashes null like xxhash64(NULL) = seed") {
    val df = Seq(Seq("a", null, "b")).toDF("sh")
    val r = df.select(
      TextFunctions.minHashSignature(col("sh"), 8).as("native"),
      Baselines.minHashSignature_hof(col("sh"), 8).as("legacy")).head()
    assert(r.getSeq[java.lang.Long](0) == r.getSeq[java.lang.Long](1))
  }

  test("n=1 empty-string edge: [\"\"] with a non-null element (nullability audit)") {
    val r = Seq("", "   ").toDF("text")
      .select(TextFunctions.shingles(col("text"), 1).as("sh")).collect()
    r.foreach { row =>
      val sh = row.getSeq[String](0)
      assert(sh == Seq(""))
      assert(sh.head != null)
    }
  }

  test("fuzz: kernel ≡ legacy parity on 300 generated adversarial strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // character mix tuned to hurt: every \s kind, ≤0x20 controls that are
    // NOT \s, NBSP/line-separator (not Java \s), case-mapping traps
    // (İ → i̇ grows a char; ß/ẞ), CJK, astral emoji (surrogate pairs)
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar,
      3 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f', '\u000B'),
      1 -> Gen.oneOf('\u0000', '\u0001', '\u001F', '\u00A0', '\u2028'),
      2 -> Gen.oneOf('中', '文', 'ş', 'İ', 'ẞ', 'ß', 'É'),
      1 -> Gen.const("😀").map(_.charAt(0)),
      1 -> Gen.const("😀").map(_.charAt(1)))
    val strGen = Gen.chooseNum(0, 80)
      .flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val texts = (0 until 300).map(i =>
      strGen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    val df = texts.toDF("text")
    for (n <- Seq(1, 2, 3)) {
      val rows = df.select(
        TextFunctions.shingles(col("text"), n).as("native"),
        Baselines.shingles_udf(col("text"), n).as("legacy"),
        col("text")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n text=${r.getString(2).getBytes("UTF-8").map("%02x".format(_)).mkString}")
      }
    }
    val sigRows = df
      .select(array_distinct(TextFunctions.shingles(col("text"), 2)).as("sh"),
        TextFunctions.tokens(col("text")).as("t"))
      .select(
        TextFunctions.minHashSignature(col("sh"), 16).as("sig_n"),
        Baselines.minHashSignature_hof(col("sh"), 16).as("sig_l"),
        TextFunctions.simHash64(col("t")).as("sim_n"),
        Baselines.simHash64_udf(col("t")).as("sim_l")).collect()
    sigRows.foreach { r =>
      assert(r.getSeq[java.lang.Long](0) == r.getSeq[java.lang.Long](1))
      assert(r.getLong(2) == r.getLong(3))
    }
  }

  test("dedup band/signature pipelines have no ScalaUDF in the plan") {
    val docs = Tables.documents(spark, Sf)
    val bandPlan = Dedup.buildBandIndex(docs)
      .queryExecution.executedPlan.toString
    assert(!bandPlan.contains("UDF"), bandPlan)
    val simPlan = Dedup.simHashDedup(docs)
      .queryExecution.executedPlan.toString
    assert(!simPlan.contains("UDF"), simPlan)
  }

  test("text_normalize ≡ java.text.Normalizer on adversarial strings, all forms") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val cases = Seq(
      "cafe\u0301",          // combining acute -> composed under NFC
      "\u212B",               // Angstrom sign -> U+00C5 under NFC
      "\uFB01le",             // fi ligature: NFC-invariant, NFKC-decomposed
      "A\u030A\u0327",        // base + ring + cedilla (reorder/compose case)
      "already plain ascii",
      "\uD83D\uDE00 emoji e\u0301", // surrogate pair + decomposed
      "")
    val df = cases.toDF("t")
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
      val got = df.select(TextFunctions.normalizeUnicode(col("t"), form).as("n"))
        .collect().map(_.getString(0))
      val ref = cases.map(java.text.Normalizer.normalize(_, java.text.Normalizer.Form.valueOf(form)))
      assert(got.sameElements(ref), s"form=$form")
    }
    // null propagates; no UDF in the plan
    val withNull = Seq(Some("a"), None).toDF("t")
      .select(TextFunctions.normalizeUnicode(col("t")).as("n"))
    assert(withNull.collect().map(r => Option(r.getString(0))).toSeq == Seq(Some("a"), None))
    assert(!withNull.queryExecution.executedPlan.toString.contains("UDF"))
    // SQL registration with a literal form
    graft.plans.GraftFunctions.register(spark)
    assert(spark.sql("SELECT text_normalize('cafe\u0301', 'NFC') AS n")
      .head().getString(0) == "caf\u00E9")
    // non-literal / NULL form must fail with a clear plan-time error, not
    // an opaque eval NPE (round-6 advisory)
    for (bad <- Seq("SELECT text_normalize(t, t) FROM VALUES ('a') v(t)",
                    "SELECT text_normalize('a', CAST(NULL AS STRING))")) {
      val err = intercept[Exception](spark.sql(bad).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(err).exists(_.contains("form must be a non-null string literal")),
        s"query [$bad] failed with the wrong error: $err")
    }
  }

  test("SQL names registered: word_shingles / minhash_signature / simhash64") {
    graft.plans.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT word_shingles('a b c d', 2) AS sh,
        |       minhash_signature(word_shingles('a b c d', 2), 4) AS sig,
        |       simhash64(array('a','b','c')) AS h""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("a b", "b c", "c d"))
    assert(r.getSeq[java.lang.Long](1).length == 4)
    assert(!r.isNullAt(2))
  }

  test("char_grams ≡ the HOF transform+array_distinct formulation, " +
    "edge cases pinned") {
    graft.plans.GraftFunctions.register(spark)
    // value-identity on the documents table: same grams, same
    // (first-occurrence) order as array_distinct over positional slices
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(200)
    val t = lower(col("text"))
    val hof = when(length(t) >= 3,
      array_distinct(transform(sequence(lit(1), length(t) - 2),
        i => call_function("substr", t, i, lit(3))))).otherwise(array())
    val diff = docs.select(
        call_function("char_grams", col("text"), lit(3)).as("k"), hof.as("h"))
      .filter(col("k") =!= col("h")).count()
    assert(diff === 0L)
    // edges: short text → empty; repeats dedup; case folds; non-ASCII cps
    val r = spark.sql(
      """SELECT char_grams('ab', 3) AS short, char_grams('aaaa', 3) AS rep,
        |       char_grams('AbCd', 3) AS cased, char_grams('héllo', 3) AS uni
        |""".stripMargin).head()
    assert(r.getSeq[String](0).isEmpty)
    assert(r.getSeq[String](1) == Seq("aaa"))
    assert(r.getSeq[String](2) == Seq("abc", "bcd"))
    assert(r.getSeq[String](3) == Seq("hél", "éll", "llo"))
  }

  test("cdc chunks: partition cover, window edges, shift robustness") {
    import graft.plans.TextKernels
    import org.apache.spark.unsafe.types.UTF8String
    def chunksOf(s: String, maskBits: Int = 6): Seq[(Int, Int)] = {
      val a = TextKernels.cdcChunks(UTF8String.fromString(s), maskBits)
      (0 until a.numElements()).map { i =>
        val r = a.getStruct(i, 2); (r.getInt(0), r.getInt(1))
      }
    }
    // empty → no chunks; shorter than the 16-byte window → one whole chunk
    assert(chunksOf("").isEmpty)
    assert(chunksOf("short") == Seq((0, 5)))
    assert(chunksOf("exactly15bytes!") == Seq((0, 15)))
    // chunks tile the byte stream exactly: contiguous, complete, non-empty
    val text = (1 to 400).map(i => s"tok$i").mkString(" ")
    val cs = chunksOf(text)
    assert(cs.nonEmpty && cs.head._1 == 0)
    assert(cs.forall(_._2 > 0))
    assert(cs.sliding(2).forall {
      case Seq((s1, l1), (s2, _)) => s2 == s1 + l1
      case _ => true
    })
    assert(cs.last._1 + cs.last._2 == text.getBytes("UTF-8").length)
    // shift robustness — THE property fixed-size blocking lacks: prepending
    // bytes changes only the leading chunk(s); the tail re-aligns because
    // boundaries depend on the local 16-byte window alone
    val shifted = chunksOf("PREFIX-INSERTED " + text)
    def hashes(s: String, c: Seq[(Int, Int)]): Seq[Seq[Byte]] = {
      val b = s.getBytes("UTF-8")
      c.map { case (st, ln) => b.slice(st, st + ln).toSeq }
    }
    val orig = hashes(text, cs).toSet
    val after = hashes("PREFIX-INSERTED " + text, shifted)
    val preserved = after.count(orig.contains)
    assert(preserved >= cs.length - 2,
      s"only $preserved of ${cs.length} chunks survived a prefix insertion")
    // determinism
    assert(chunksOf(text) == cs)
  }

  test("driver-side termBuckets ≡ SQL pmod(xxhash64(token), n) — pruning parity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the lexical serving path prunes partitions with driver-computed
    // bucket ids; if they ever diverged from the SQL xxhash64 the index
    // wrote with, serving would silently miss postings — pin the parity
    // on adversarial tokens (unicode, empty-ish, long, ascii)
    val tokens = Seq("vector", "stream", "hash", "naïve", "日本語", "a",
      "x" * 500, "UPPER", "with space", "ﬁligree", "émigré")
    for (n <- Seq(1, 7, 16, 64)) {
      val sqlSide = tokens.toDF("token")
        .select(col("token"), pmod(xxhash64(col("token")), lit(n.toLong)).cast("int").as("b"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      tokens.foreach { t =>
        val driverSide = graft.operators.TextAnalysis.termBuckets(Seq(t), n)
        assert(driverSide == Seq(sqlSide(t)),
          s"bucket divergence for '$t' n=$n: driver $driverSide vs sql ${sqlSide(t)}")
      }
    }
  }
}
