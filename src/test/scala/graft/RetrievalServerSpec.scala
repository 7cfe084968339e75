package graft

import scala.io.Source

import org.apache.spark.sql.functions._

import graft.operators.{Quantization, Similarity, TextAnalysis}
import graft.serving.RetrievalServer
import graft.sources.Tables

/** The `/api/retrieve` endpoints must answer from the persisted lexical +
  * IVF-PQ artifacts ROW-IDENTICALLY to the library calls they wrap, wear
  * the reference `Message` envelope, and turn malformed input into 400
  * `ErrorMessage`s — never 500s. */
class RetrievalServerSpec extends SparkSpec {

  private def get(url: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(is).mkString
    (code, body)
  }

  private def withServer(f: (Int, String, String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_retrieve").toString
    val lex = s"$root/lex"
    val ivfpq = s"$root/ivfpq"
    val corpusPath = s"$root/corpus"
    try {
      TextAnalysis.saveLexicalIndex(Tables.documents(spark, Sf), lex, nBuckets = 16)
      val e = Tables.embeddings(spark, Sf)
      e.write.mode("overwrite").parquet(corpusPath)
      Similarity.saveIvfPq(e, ivfpq, nlist = 8, m = 8, ksub = 16, kmeansIters = 1)
      val srv = new RetrievalServer(spark, lex, ivfpq, corpusPath)
      val port = srv.start()
      try f(port, lex, ivfpq) finally srv.stop()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("lexical + ann endpoints: Message envelope, row-identical to library calls") {
    withServer { (port, lex, ivfpq) =>
      // lexical: compare against bm25QueryIndex on the same artifact
      val expectLex = TextAnalysis.bm25QueryIndex(spark, lex,
          Seq("vector", "stream", "hash"), k = 5)
        .collect().map(r => s"[${r.getLong(0)},${r.getDouble(1)}]").mkString(",")
      val (c1, b1) = get(s"http://localhost:$port/api/retrieve/lexical" +
        "?terms=vector,stream,hash&k=5")
      assert(c1 == 200, b1)
      assert(b1 ==
        s"""{"columns":["doc_id","score"],"data":[$expectLex],"metadata":{"metric":"retrieval"}}""")

      // ann: a corpus vector as the client query (own id space) — compare
      // against ivfPqQuery with excludeSelf = false on the loaded artifact
      val qvec = Tables.embeddings(spark, Sf).filter(col("vec_id") === 3)
        .head().getSeq[Float](1)
      val idx = Similarity.loadIvfPq(spark, ivfpq)
      import spark.implicits._
      val q = Seq((0L, qvec)).toDF("vec_id", "embedding")
      val expectAnn = Similarity.ivfPqQuery(idx.encoded, idx.centroids, idx.books,
          Tables.embeddings(spark, Sf), q, k = 4, nprobe = 8, shortlist = 50,
          excludeSelf = false)
        .orderBy(col("rnk"))
        .collect().map(r => s"[${r.getInt(1)},${r.getLong(2)},${r.getDouble(3)}]")
        .mkString(",")
      val (c2, b2) = get(s"http://localhost:$port/api/retrieve/ann" +
        s"?vector=${qvec.mkString(",")}&k=4&nprobe=8")
      assert(c2 == 200, b2)
      assert(b2 ==
        s"""{"columns":["rnk","vec_id","cos"],"data":[$expectAnn],"metadata":{"metric":"retrieval"}}""")
      // the planted self-duplicate comes back at rank 1 with cos 1.0
      assert(b2.contains("[1,3,1.0]"), b2)
    }
  }

  test("Generations roots resolve per request: an ANN maintenance flip " +
    "under the running server re-loads the quantizers, no restart") {
    import graft.operators.Generations
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_retr_gen").toString
    try {
      val e = Tables.embeddings(spark, Sf)
      e.write.mode("overwrite").parquet(s"$root/corpus")
      TextAnalysis.saveLexicalIndex(
        Tables.documents(spark, Sf).limit(50), s"$root/lex", nBuckets = 8)
      // gen-1: index over HALF the corpus — vec_id 3 is absent (odd)
      Generations.advance(spark, s"$root/anngen") { dst =>
        Similarity.saveIvfPq(e.filter(col("vec_id") % 2 === 0), dst,
          nlist = 8, m = 8, ksub = 16, kmeansIters = 1)
      }
      val srv = new RetrievalServer(spark, s"$root/lex", s"$root/anngen",
        s"$root/corpus")
      val port = srv.start()
      try {
        val qvec = e.filter(col("vec_id") === 3).head().getSeq[Float](1)
        def top1(): String = {
          val (code, body) = get(s"http://localhost:$port/api/retrieve/ann" +
            s"?vector=${qvec.mkString(",")}&k=1&nprobe=8")
          assert(code == 200, body)
          body
        }
        // gen-1 cannot answer with the odd vector itself
        assert(!top1().contains("[1,3,1.0]"))
        // maintenance publishes gen-2 over the FULL corpus while the
        // server runs: the per-generation memo must reload on the flip
        // and the self-duplicate now comes back at rank 1 / cos 1.0
        Generations.advance(spark, s"$root/anngen") { dst =>
          Similarity.saveIvfPq(e, dst, nlist = 8, m = 8, ksub = 16,
            kmeansIters = 1)
        }
        assert(top1().contains("[1,3,1.0]"),
          "the flipped ANN generation was not picked up by the running server")
      } finally srv.stop()
    } finally Gates.deleteTree(root)
  }

  test("malformed input is a 400 ErrorMessage, unknown paths 404 — never a 500") {
    withServer { (port, _, _) =>
      val cases = Seq(
        s"http://localhost:$port/api/retrieve/lexical?terms=&k=5",
        s"http://localhost:$port/api/retrieve/lexical?terms=vector&k=0",
        s"http://localhost:$port/api/retrieve/lexical?terms=vector&k=abc",
        s"http://localhost:$port/api/retrieve/ann?vector=&k=2",
        s"http://localhost:$port/api/retrieve/ann?vector=1.0,zap&k=2",
        s"http://localhost:$port/api/retrieve/ann?vector=1.0,2.0&k=2", // wrong dim
        s"http://localhost:$port/api/retrieve/ann?vector=${Seq.fill(64)("0.1").mkString(",")}&nprobe=-1")
      cases.foreach { url =>
        val (code, body) = get(url)
        assert(code == 400, s"$url -> $code $body")
        assert(body.contains("\"errorMessage\"") && body.contains("\"errorCode\":400"), body)
      }
      val (nf, _) = get(s"http://localhost:$port/api/retrieve/nope?x=1")
      assert(nf == 404)
      // score endpoint without a deployed model is a 400, not a 500
      val (nm, nmBody) = get(s"http://localhost:$port/api/retrieve/score?text=hello+world")
      assert(nm == 400 && nmBody.contains("No quality model"), nmBody)
    }
  }

  test("score endpoint serves the persisted classifier, row-identical to the library") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_score").toString
    try {
      val docs = Tables.documents(spark, Sf)
      val w = graft.operators.Learn.trainLinear(
        graft.operators.Learn.qualityFeatures(docs), Seq("x1", "x2", "x3"), "y", iters = 2)
      graft.operators.Learn.saveModel(spark, w, s"$root/model")
      assert(graft.operators.Learn.loadModel(spark, s"$root/model").toSeq == w.toSeq)
      TextAnalysis.saveLexicalIndex(docs, s"$root/lex", nBuckets = 16)
      val e = Tables.embeddings(spark, Sf)
      e.write.mode("overwrite").parquet(s"$root/corpus")
      Similarity.saveIvfPq(e, s"$root/ivfpq", nlist = 8, m = 8, ksub = 16, kmeansIters = 1)
      val srv = new RetrievalServer(spark, s"$root/lex", s"$root/ivfpq",
        s"$root/corpus", qualityModelPath = Some(s"$root/model"))
      val port = srv.start()
      try {
        val text = "the quick brown fox jumps over the lazy dog in the sun"
        val enc = java.net.URLEncoder.encode(text, "UTF-8")
        val (code, body) = get(
          s"http://localhost:$port/api/retrieve/score?text=$enc&lang=en")
        assert(code == 200, body)
        val expect = graft.operators.Learn.scoreWith(
            Seq((0L, text, "en")).toDF("doc_id", "text", "lang"), w)
          .collect().head
        assert(body ==
          s"""{"columns":["score","pred_label"],"data":[[${expect.getDouble(2)},${expect.getInt(3)}]],""" +
          s""""metadata":{"metric":"retrieval"}}""", body)
        val (bad, badBody) = get(s"http://localhost:$port/api/retrieve/score?text=")
        assert(bad == 400 && badBody.contains("errorMessage"), badBody)
      } finally srv.stop()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("concurrent requests each get the body of the same request sent alone") {
    withServer { (port, _, _) =>
      val qvec = Tables.embeddings(spark, Sf).filter(col("vec_id") === 3)
        .head().getSeq[Float](1).mkString(",")
      val paths = Seq(
        "lexical?terms=vector,stream,hash&k=5",
        "lexical?terms=graph&k=3",
        s"ann?vector=$qvec&k=4&nprobe=8",
        s"hybrid?terms=vector,stream&vector=$qvec&k=5")
        .map(p => s"http://localhost:$port/api/retrieve/$p")
      val alone = paths.map(get)
      assert(alone.forall(_._1 == 200), alone)
      // every path twice, all in flight at once
      val results = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
      val threads = (paths ++ paths).zipWithIndex.map { case (url, i) =>
        new Thread(() => results.put(i, get(url)))
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      (paths ++ paths).indices.foreach { i =>
        assert(results.get(i) == alone(i % paths.length), paths(i % paths.length))
      }
    }
  }
}
