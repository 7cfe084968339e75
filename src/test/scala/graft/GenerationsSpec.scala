package graft

import org.apache.spark.sql.functions._

import graft.operators.{Generations, SegmentStore}

/** The `Generations` shim the benchmark's retrieval workload builds on: an
  * artifact root is one store root, `advance` commits into it and
  * `resolve` checks it holds a commit. */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  private def withTmp[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_gen").toString
    try f(tmp) finally Gates.deleteTree(tmp)
  }

  private def save(path: String, v: Long): Unit =
    SegmentStore.write(Seq((v, s"payload$v")).toDF("v", "s"), path, replace = true)

  private def readV(path: String): Long =
    SegmentStore.load(spark, path, "test table").select(col("v")).head().getLong(0)

  test("advance publishes, resolve serves, a second advance flips while the " +
    "old generation stays readable") {
    withTmp { root =>
      intercept[IllegalArgumentException] { Generations.resolve(spark, root) }
      assert(Generations.advance(spark, root)(save(_, 1L)) === root)
      assert(Generations.resolve(spark, root) === root)
      assert(readV(Generations.resolve(spark, root)) === 1L)
      val first = SegmentStore.load(spark, root, "test table")
      Generations.advance(spark, root)(save(_, 2L))
      assert(readV(Generations.resolve(spark, root)) === 2L)
      assert(first.select(col("v")).head().getLong(0) === 1L,
        "a frame loaded before the save must keep reading its files")
    }
  }

  test("a second family serves through the pointer: BM25 index built, " +
    "appended, compacted and flipped — answers identical across the flip") {
    // the benchmark's lexical shape: save through advance, append to the
    // resolved root, compact it in place through advance
    import graft.operators.TextAnalysis
    import graft.sources.Tables
    withTmp { root =>
      val docs = Tables.documents(spark, Sf)
      Generations.advance(spark, root) { dst =>
        TextAnalysis.saveLexicalIndex(
          docs.filter(col("doc_id") % 2 === 0), dst, nBuckets = 8)
      }
      TextAnalysis.appendLexicalIndex(
        docs.filter(col("doc_id") % 2 === 1), Generations.resolve(spark, root))
      def serve() = TextAnalysis.bm25QueryIndex(spark,
          Generations.resolve(spark, root), Seq("vector", "stream"), k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      def seq() = SegmentStore.latest(graft.operators.SeqFiles.fs(spark, root), root).get.seq
      val pre = serve()
      assert(pre.nonEmpty && seq() == 2L)
      Generations.advance(spark, root)(TextAnalysis.compactLexicalIndex(spark, _))
      assert(seq() == 3L)
      assert(serve() === pre,
        "the compacted lexical index serves different answers")
    }
  }
}
