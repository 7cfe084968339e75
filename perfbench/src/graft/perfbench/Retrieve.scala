package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Generations, Retrieval, Similarity, TextAnalysis}
import graft.serving.RetrievalServer

/** A retrieval request: lexical terms, an ANN vector (as sent), or both. */
final case class RetReq(kind: String, terms: Seq[String], vector: Seq[String], k: Int) {
  def path: String = {
    val t = if (terms.nonEmpty) s"terms=${Http.enc(terms.mkString(","))}&" else ""
    val v = if (vector.nonEmpty) s"vector=${vector.mkString(",")}&" else ""
    s"/api/retrieve/$kind?$t${v}k=$k"
  }
  def vec: Seq[Float] = vector.map(_.toFloat)
}

/**
 * A seeded corpus shaped like the sf0.1 fixtures: 5 000 documents over a
 * Zipf-distributed vocabulary and 2 000 64-dim embeddings in 10 clusters.
 * Document and vector ids share one id space, as hybrid search requires.
 */
final class Corpus(seed: Long, nDocs: Int, nVecs: Int) {
  private val rnd = new SplittableRandom(seed)
  val vocab: Vector[String] = {
    val syl = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    Iterator.continually(Seq.fill(2 + rnd.nextInt(2))(syl(rnd.nextInt(syl.length))).mkString)
      .distinct.take(400).toVector
  }
  private val cdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / (i + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def word(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }
  val docs: Vector[(Long, String)] = Vector.tabulate(nDocs) { i =>
    (i.toLong, Seq.fill(10 + rnd.nextInt(50))(word(rnd)).mkString(" "))
  }
  val Dim = 64
  // 10 labelled clusters of 20 sub-clusters each: every vector has a few
  // close neighbours, as embeddings of near-duplicate content do
  private val centers = Array.fill(10, Dim)(rnd.nextGaussian())
  private val subs = Array.fill(200, Dim)(0.5 * rnd.nextGaussian())
  private val sub: Array[Int] = Array.fill(nVecs)(rnd.nextInt(200))
  val labels: Array[Int] = sub.map(_ / 20)
  val vecs: Array[Array[Float]] = Array.tabulate(nVecs) { i =>
    Array.tabulate(Dim)(d => (centers(labels(i))(d) + subs(sub(i))(d) + 0.15 * rnd.nextGaussian()).toFloat)
  }

  def request(r: SplittableRandom, turn: Int): RetReq = {
    def terms = Seq.fill(2 + r.nextInt(3))(word(r)).distinct
    def vector = {
      val v = vecs(r.nextInt(vecs.length))
      v.map(x => f"${x + 0.05 * r.nextGaussian()}%.5f").toSeq
    }
    turn % 3 match {
      case 0 => RetReq("lexical", terms, Nil, 10)
      case 1 => RetReq("ann", Nil, vector, 5)
      case _ => RetReq("hybrid", terms, vector, 10)
    }
  }

  /** Exact top-k by cosine over the whole corpus. */
  def bruteForce(q: Seq[Float], k: Int): Set[Long] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    vecs.indices.map { i =>
      val v = vecs(i)
      var dot = 0.0; var vn = 0.0; var d = 0
      while (d < Dim) { dot += v(d) * q(d).toDouble; vn += v(d).toDouble * v(d); d += 1 }
      i.toLong -> dot / (qn * math.sqrt(vn))
    }.sortBy(x => (-x._2, x._1)).take(k).map(_._1).toSet
  }
}

/**
 * Retrieval serving, measured in traced `serve` runs: BM25 and IVF-PQ
 * artifacts built through the public save functions, published as
 * generations and served by `RetrievalServer`. Sampled responses must equal
 * the library call on the same artifact, and ANN recall@k against
 * brute-force cosine must stay above a floor.
 */
object Retrieve {
  val RecallFloor = 0.6
  val Depth = 20
  val NProbe = 8

  final class Deployment(spark: SparkSession, val lexRoot: String, val annRoot: String,
                         val corpusPath: String) {
    lazy val corpus: DataFrame = spark.read.parquet(corpusPath)
    lazy val index: Similarity.IvfPqIndex =
      Similarity.loadIvfPq(spark, Generations.resolve(spark, annRoot))

    private def ann(vec: Seq[Float], k: Int): DataFrame = {
      import spark.implicits._
      Similarity.ivfPqQuery(index.encoded, index.centroids, index.books, corpus,
        Seq((0L, vec)).toDF("vec_id", "embedding"), k, NProbe,
        shortlist = math.max(50, k), excludeSelf = false)
    }

    /** The request through the library, with spans; rows as the server sends them. */
    def direct(q: RetReq): Vector[Vector[Double]] = {
      import spark.implicits._
      // the server resolves both generation roots on every request
      val (lexPath, _) = Trace.span("operators.generation_resolve")(
        (Generations.resolve(spark, lexRoot), Generations.resolve(spark, annRoot)))
      q.kind match {
        case "lexical" =>
          Trace.span("operators.bm25")(TextAnalysis.bm25QueryIndex(spark, lexPath, q.terms, q.k).collect())
            .map(x => Vector(x.getLong(0).toDouble, x.getDouble(1))).toVector
        case "ann" =>
          Trace.span("operators.ivfpq")(ann(q.vec, q.k).orderBy(col("rnk")).collect())
            .map(x => Vector(x.getInt(1).toDouble, x.getLong(2).toDouble, x.getDouble(3))).toVector
        case "hybrid" =>
          val lex = Trace.span("operators.bm25")(Retrieval.ranked(
            TextAnalysis.bm25QueryIndex(spark, lexPath, q.terms, Depth), "doc_id", "score")
            .select(col("doc_id"), col("rnk")).collect()).map(x => (x.getLong(0), x.getInt(1)))
          val nn = Trace.span("operators.ivfpq")(ann(q.vec, Depth).select(col("cid"), col("rnk")).collect())
            .map(x => (x.getLong(0), x.getInt(1)))
          Trace.span("operators.rrf")(Retrieval.rrfFuse(lex.toSeq.toDF("doc_id", "rnk"),
            nn.toSeq.toDF("doc_id", "rnk"), q.k, idCol = "doc_id").orderBy(col("rnk")).collect())
            .map(x => Vector(x.getInt(0).toDouble, x.getLong(1).toDouble, x.getDouble(2))).toVector
      }
    }
  }

  /** Build the artifacts, serve them to K closed-loop clients and check the
    * responses; adds the ANN recall to the report. */
  def measure(ctx: Ctx, r: Report, counters: SparkCounters): Phase = {
    val corpus = new Corpus(ctx.seed, ctx.scaled(5000), ctx.scaled(2000))
    val (dep, server) = setup(ctx, corpus, 0)
    val reqs = new RequestStreams[RetReq](ctx, corpus.request(_, _))
    val phase =
      try ClosedLoop.run[RetReq](ctx, s"http://localhost:${server.start()}", reqs,
        _.kind, _.path, ctx.seconds * 1000L, counters, q => { dep.direct(q); () })
      finally server.stop()
    r.put("operators.ann_recall_at_k", check(ctx, r, dep, corpus, reqs, phase.all), "ratio")
    phase
  }

  /** Build the artifacts through the public save functions, each published
    * as a generation, and construct (not start) the server over them. */
  def setup(ctx: Ctx, corpus: Corpus, i: Int): (Deployment, RetrievalServer) = {
    val spark = ctx.spark
    import spark.implicits._
    val corpusPath = ctx.dir(s"corpus-$i")
    corpus.vecs.indices.map(v => (v.toLong, corpus.vecs(v).toSeq, corpus.labels(v)))
      .toDF("vec_id", "embedding", "label").write.parquet(corpusPath)
    val lexRoot = ctx.dir(s"lexical-$i")
    Generations.advance(spark, lexRoot)(p =>
      TextAnalysis.saveLexicalIndex(corpus.docs.toDF("doc_id", "text"), p))
    val annRoot = ctx.dir(s"ivfpq-$i")
    Generations.advance(spark, annRoot)(p => Similarity.saveIvfPq(spark.read.parquet(corpusPath), p))
    (new Deployment(spark, lexRoot, annRoot, corpusPath),
      new RetrievalServer(spark, lexRoot, annRoot, corpusPath, port = 0))
  }

  /**
   * Every response is one attempted op and must be a 200; the first
   * response of each kind must also equal the library call on the same
   * artifact. Returns the mean ANN recall@k against brute-force cosine over
   * the ANN responses, which must stay above the floor.
   */
  def check(ctx: Ctx, r: Report, dep: Deployment, corpus: Corpus,
            reqs: RequestStreams[RetReq], ex: Vector[Exchange]): Double = {
    val sampled = Seq("lexical", "ann", "hybrid").flatMap(k => ex.find(e => e.kind == k && e.code == 200)).toSet
    var recalls = Vector.empty[Double]
    ex.foreach { e =>
      val q = reqs(e.client, e.seq)
      if (e.code != 200) r.check(ok = false, s"retrieve ${e.code} ${e.path.take(120)} -> ${e.body.take(200)}")
      else {
        val got = Json.dataRows(e.body).map(_.map(Json.toDouble))
        if (!sampled(e)) r.check(ok = true, "")
        else {
          val want = dep.direct(q)
          // self-check: a corrupted expectation must be caught
          val expect =
            if (!ctx.corrupt) want
            else if (want.isEmpty) Vector(Vector(-1.0))
            else want.updated(0, want(0).updated(0, want(0)(0) + 1))
          r.check(got == expect, s"retrieve ${q.path.take(120)} differs from the library call")
        }
        if (q.kind == "ann") {
          val truth = corpus.bruteForce(q.vec, q.k)
          recalls :+= got.count(x => truth.contains(x(1).toLong)).toDouble / q.k
        }
      }
    }
    val recall = Stats.mean(recalls)
    r.check(recalls.isEmpty || recall >= RecallFloor, f"ANN recall@k $recall%.3f below $RecallFloor")
    Stats.nanToZero(recall)
  }
}
