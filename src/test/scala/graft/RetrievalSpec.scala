package graft

import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, SegmentStore, SeqFiles}

/** [[Retrieval.rrfFuse]] must implement textbook reciprocal-rank fusion:
  * score(d) = Σ_r 1/(kRrf + rank_r(d)) over the rankings containing d,
  * deterministic ties on id, exact on ids present in only one ranking. */
class RetrievalSpec extends SparkSpec {

  import spark.implicits._

  private def ranking(rows: (Long, Int)*) =
    rows.toSeq.toDF("doc_id", "rnk")

  test("rrf arithmetic: both-sides, one-side, ordering and the k cut") {
    // a: 10>20>30 ; b: 20>40>10  (30 and 40 each live in one ranking)
    val a = ranking(10L -> 1, 20L -> 2, 30L -> 3)
    val b = ranking(20L -> 1, 40L -> 2, 10L -> 3)
    val out = Retrieval.rrfFuse(a, b, k = 3, idCol = "doc_id")
      .orderBy(col("rnk"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    def t(r: Int) = 1.0 / (60.0 + r)
    def rnd(x: Double) = math.rint(x * 1e6) / 1e6
    // 20: 1/62 + 1/61 ; 10: 1/61 + 1/63 ; 30: 1/63 ; 40: 1/62
    val expect = Seq(
      (1, 20L, rnd(t(2) + t(1))),
      (2, 10L, rnd(t(1) + t(3))),
      (3, 40L, rnd(t(2))))
    assert(out.toSeq == expect, out.toSeq)
    // k cut dropped doc 30 (the lowest fused score)
    assert(!out.exists(_._2 == 30L))
  }

  test("score ties break on id ascending; kRrf is honored") {
    // identical ranks on both sides -> equal scores -> id order decides
    val a = ranking(7L -> 1, 5L -> 1)
    val b = ranking(7L -> 1, 5L -> 1)
    val out = Retrieval.rrfFuse(a, b, k = 2, kRrf = 10, idCol = "doc_id")
      .orderBy(col("rnk"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val s = math.rint(2.0 / 11.0 * 1e6) / 1e6
    assert(out.toSeq == Seq((1, 5L, s), (2, 7L, s)), out.toSeq)
  }

  test("ranked adapts a scored list: score desc, id asc, 1-based") {
    val scored = Seq((3L, 0.5), (1L, 0.9), (2L, 0.5)).toDF("doc_id", "score")
    val out = Retrieval.ranked(scored, "doc_id", "score")
      .orderBy(col("rnk"))
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 1), (2L, 2), (3L, 3)), out.toSeq)
  }

  test("input validation") {
    val a = ranking(1L -> 1)
    intercept[IllegalArgumentException](Retrieval.rrfFuse(a, a, k = 0, idCol = "doc_id"))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(a, a, k = 1, kRrf = 0, idCol = "doc_id"))
  }

  test("trigram index lifecycle: save + delta-append + search-from-artifact " +
    "== direct search; gram predicates reach the index scan") {
    val a = Seq((1L, "we sort tables daily"), (2L, "sort now, fast table soon"))
    val b = Seq((3L, "nothing relevant here"), (4L, "SORT TABLE"))
    val docs = (a ++ b).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("tri_idx_spec").toString
    try {
      Retrieval.saveTrigramIndex(Retrieval.trigramPostings(a.toDF("doc_id", "text")), tmp)
      Retrieval.appendTrigramIndex(Retrieval.trigramPostings(b.toDF("doc_id", "text")), tmp)
      val viaIndex = Retrieval.searchTrigramIndex(spark, tmp, docs, "sort table")
      val direct = Retrieval.substringSearch(docs, "sort table")
      assert(viaIndex.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq ===
        direct.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq)
      // the needle-gram filter must reach the parquet scan of the index
      val plan = viaIndex.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("gram"),
        s"gram predicate not pushed into the index scan:\n$plan")
    } finally Gates.deleteTree(tmp)
  }

  test("trigram compaction: fewer files, identical search, layout-only " +
    "(row multiset preserved verbatim)") {
    val a = Seq((1L, "we sort tables daily"), (2L, "sort now, fast table soon"))
    val b = Seq((3L, "nothing relevant here"), (4L, "SORT TABLE"))
    val c = Seq((5L, "resort tableau"))
    val docs = (a ++ b ++ c).toDF("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("tri_cmp_spec").toString
    try {
      Retrieval.saveTrigramIndex(Retrieval.trigramPostings(a.toDF("doc_id", "text")), src)
      Retrieval.appendTrigramIndex(Retrieval.trigramPostings(b.toDF("doc_id", "text")), src)
      Retrieval.appendTrigramIndex(Retrieval.trigramPostings(c.toDF("doc_id", "text")), src)
      // the live files of the store's newest manifest
      def files() = SegmentStore.latest(SeqFiles.fs(spark, src), src).get.live.length
      val rows = () => SegmentStore.load(spark, src, "trigram index").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      def search() = Retrieval.searchTrigramIndex(spark, src, docs, "sort table")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      val (pileFiles, pileRows, pre) = (files(), rows(), search())
      Retrieval.compactTrigramIndex(spark, src)
      assert(files() < pileFiles,
        s"compaction must shrink the file pile: $pileFiles -> ${files()}")
      // row multiset preserved verbatim
      assert(rows() === pileRows)
      // identical search results through the compacted index
      assert(search() === pre)
      intercept[IllegalStateException] {
        Retrieval.compactTrigramIndex(spark, src + "_none")
      }
    } finally Gates.deleteTree(src)
  }

  test("trigram postings: sliding 3-grams, lowercased, short texts empty") {
    val docs = Seq((1L, "AbCd"), (2L, "xy"), (3L, "aaaa"))
      .toDF("doc_id", "text")
    val got = Retrieval.trigramPostings(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "abc"), (1L, "bcd"), (3L, "aaa")))
  }

  test("substring search: candidates need every gram, verify kills the " +
    "false candidates, matches are complete") {
    val docs = Seq(
      (1L, "we sort tables daily"),          // contains 'sort table'
      (2L, "sort now, fast table soon"),     // all grams, NOT contiguous
      (3L, "nothing relevant here"),         // not a candidate
      (4L, "SORT TABLE"),                    // case-insensitive match
      (5L, "resort tableau"))                // superstring match
      .toDF("doc_id", "text")
    val out = Retrieval.substringSearch(docs, "sort table").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(!out.contains(3L), "doc 3 must not be a candidate")
    assert(out(1L) && out(4L) && out(5L))
    assert(!out(2L), "doc 2 is the measured false candidate")
    // completeness: every exact match is present and verified
    val truth = docs.collect()
      .filter(_.getString(1).toLowerCase.contains("sort table"))
      .map(_.getLong(0)).toSet
    assert(truth.forall(id => out.getOrElse(id, false)))
    intercept[IllegalArgumentException](Retrieval.substringSearch(docs, "ab"))
  }
}
