package graft.serving

import com.sun.net.httpserver.HttpExchange

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.QueryBuilders.QueryError
import graft.operators.{Retrieval, Similarity, TextAnalysis}
import graft.serving.HttpEndpoint.{parseQuery, respond}

/**
 * REST retrieval over the persisted serving artifacts — the reference's
 * interactive-query story (`querying/QueryingService.java:39` serves its
 * materialized store over HTTP) applied to the extension surface: the
 * lexical BM25 index ([[TextAnalysis.saveLexicalIndex]] layout) and the
 * IVF-PQ ANN index ([[Similarity.saveIvfPqWith]] layout) answer queries
 * over the same JDK `HttpServer`, `Message` envelope and error contract as
 * [[RestServer]].
 *
 *   GET /api/retrieve/lexical?terms=t1,t2[,…]&k=10
 *     → `{"columns":["doc_id","score"],"data":[[id,score],…],
 *        "metadata":{"metric":"retrieval"}}` — row-identical to
 *     [[TextAnalysis.bm25QueryIndex]] on the same artifact (spec-pinned).
 *   GET /api/retrieve/ann?vector=v1,v2,…&k=5[&nprobe=8]
 *     → `{"columns":["rnk","vec_id","cos"],…}` — row-identical to
 *     [[Similarity.ivfPqQuery]] (`excludeSelf = false`: client queries live
 *     in their own id space).
 *   GET /api/retrieve/hybrid?terms=t1,t2&vector=v1,v2,…&k=10[&depth=20][&nprobe=8]
 *     → `{"columns":["rnk","doc_id","rrf_score"],…}` — the lexical and ANN
 *     top-`depth` rankings fused by reciprocal-rank fusion
 *     ([[Retrieval.rrfFuse]]); row-identical to the library composition
 *     (spec-pinned). Requires a shared id space between the lexical index's
 *     `doc_id` and the ANN index's `vec_id` — the deployment contract for
 *     hybrid search over one corpus.
 *   GET /api/retrieve/score?text=…[&lang=xx]
 *     → `{"columns":["score","pred_label"],…}` — the trained quality
 *     classifier ([[graft.operators.Learn]] model artifact) served
 *     interactively; requires a `qualityModelPath` deployment (absent →
 *     400, not 500).
 *
 * Malformed input is a 400 with the reference's `ErrorMessage` shape, never
 * a 500: missing/blank terms, non-positive or non-numeric `k`/`nprobe`,
 * non-numeric vector components, and a query-vector dimensionality that
 * does not match the index (`width` of the coarse quantizer — scoring a
 * wrong-dim vector would silently truncate the dot product instead).
 *
 * The lexical and ANN paths may each be a [[graft.operators.Generations]]
 * ROOT instead of a raw artifact: the serving generation resolves per
 * request, so an out-of-band maintenance flip ([[Similarity.maintainIvfPq]]
 * recluster → `advance`, or a lexical `compactLexicalIndex` fold → flip)
 * is served immediately with no restart. The ANN quantizers (centroids +
 * codebooks) are the index artifact's driver/broadcast-small state —
 * collected ONCE PER GENERATION (memoized on the resolved path: requests
 * pay at most three FS metadata calls via
 * [[graft.operators.Generations.resolveIfPublished]], and the collect
 * re-runs exactly when the pointer moves); the code table and float
 * corpus stay DataFrames. A raw
 * (pointer-less) path behaves as before: immutable per deployment,
 * loaded once. The lexical path re-reads by path inside the query call
 * and so serves appended segments immediately (same growing-index
 * contract as the streaming server).
 */
class RetrievalServer(spark: SparkSession, lexicalPath: String,
                      ivfPqPath: String, corpusPath: String, port: Int = 0,
                      qualityModelPath: Option[String] = None) {

  private def resolved(p: String): String =
    graft.operators.Generations.resolveIfPublished(spark, p).getOrElse(p)

  // per-generation ANN index memo — the shared
  // [[graft.operators.Generations.artifactMemo]] discipline; its
  // construction warm IS the fail-fast startup contract (a missing or
  // corrupt IVF-PQ artifact aborts the deployment here instead of
  // surfacing as opaque generic-500 bodies at query time), and it
  // reloads exactly when the pointer flips
  private val annMemo = graft.operators.Generations.artifactMemo(
    spark, ivfPqPath)(p => Similarity.loadIvfPq(spark, p))
  private def index: Similarity.IvfPqIndex = annMemo.artifact()
  private def dim = index.centroids.head._2.length
  private def corpus: DataFrame = spark.read.parquet(corpusPath)
  // trained classifier weights: model-sized, loaded once per deployment
  // (the artifact is immutable; retraining writes a fresh path)
  private val qualityWeights = qualityModelPath.map(p => graft.operators.Learn.loadModel(spark, p))

  private val endpoint = new HttpEndpoint(port, "/api/retrieve", handle)

  /** Start serving; returns the bound port. */
  def start(): Int = endpoint.start()

  /** Stop accepting requests and wait for the handler threads to exit. */
  def stop(): Unit = endpoint.stop()

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
      // path = api, retrieve, lexical|ann
      val params = parseQuery(ex)
      if (path.length != 3) respond(ex, 404, Json.error("not found", 404))
      else path(2) match {
        case "lexical" => respond(ex, 200, lexical(params))
        case "ann"     => respond(ex, 200, ann(params))
        case "hybrid"  => respond(ex, 200, hybrid(params))
        case "score"   => respond(ex, 200, score(params))
        case _         => respond(ex, 404, Json.error("not found", 404))
      }
    } catch {
      case QueryError(msg, code) => respond(ex, code, Json.error(msg, code))
      case t: Throwable          =>
        // log server-side, answer generically: exception text carries
        // paths/class names a public-facing 500 must not leak
        System.err.println(s"[serving] 500 on ${ex.getRequestURI}: $t")
        respond(ex, 500, Json.error("internal error", 500))
    }
  }

  private def positiveInt(params: Map[String, String], name: String,
                          default: Int): Int =
    params.get(name) match {
      case None => default
      case Some(s) => s.toIntOption.filter(_ > 0)
        .getOrElse(throw QueryError(s"Invalid $name: $s"))
    }

  private def lexical(params: Map[String, String]): String = {
    val terms = params.getOrElse("terms", "").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
    if (terms.isEmpty) throw QueryError("Missing or empty terms")
    val k = positiveInt(params, "k", 10)
    val rows = TextAnalysis.bm25QueryIndex(spark, resolved(lexicalPath), terms, k)
      .collect().map(r => s"[${r.getLong(0)},${Json.number(r.get(1))}]")
    Json.message(Seq("doc_id", "score"), rows.toSeq, "retrieval")
  }

  private def ann(params: Map[String, String]): String = {
    val raw = params.getOrElse("vector", "").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
    if (raw.isEmpty) throw QueryError("Missing or empty vector")
    val vec = raw.map(s =>
      s.toFloatOption.getOrElse(throw QueryError(s"Invalid vector component: $s")))
    if (vec.length != dim)
      throw QueryError(s"Vector dimension ${vec.length} does not match index dim $dim")
    val k = positiveInt(params, "k", 5)
    val nprobe = positiveInt(params, "nprobe", 8)
    import spark.implicits._
    val q = Seq((0L, vec)).toDF("vec_id", "embedding")
    val rows = Similarity.ivfPqQuery(index.encoded, index.centroids, index.books,
        corpus, q, k, nprobe, shortlist = math.max(50, k), excludeSelf = false)
      .orderBy(col("rnk"))
      .collect().map(r => s"[${r.getInt(1)},${r.getLong(2)},${Json.number(r.get(3))}]")
    Json.message(Seq("rnk", "vec_id", "cos"), rows.toSeq, "retrieval")
  }

  private def hybrid(params: Map[String, String]): String = {
    val terms = params.getOrElse("terms", "").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
    if (terms.isEmpty) throw QueryError("Missing or empty terms")
    val raw = params.getOrElse("vector", "").split(",").toSeq
      .map(_.trim).filter(_.nonEmpty)
    if (raw.isEmpty) throw QueryError("Missing or empty vector")
    val vec = raw.map(s =>
      s.toFloatOption.getOrElse(throw QueryError(s"Invalid vector component: $s")))
    if (vec.length != dim)
      throw QueryError(s"Vector dimension ${vec.length} does not match index dim $dim")
    val k = positiveInt(params, "k", 10)
    val depth = positiveInt(params, "depth", math.max(20, k))
    val nprobe = positiveInt(params, "nprobe", 8)
    import spark.implicits._
    val lex = Retrieval.ranked(
        TextAnalysis.bm25QueryIndex(spark, resolved(lexicalPath), terms, depth),
        "doc_id", "score")
      .select(col("doc_id"), col("rnk"))
    val q = Seq((0L, vec)).toDF("vec_id", "embedding")
    val ann = Similarity.ivfPqQuery(index.encoded, index.centroids, index.books,
        corpus, q, depth, nprobe, shortlist = math.max(50, depth),
        excludeSelf = false)
      .select(col("cid").as("doc_id"), col("rnk"))
    val rows = Retrieval.rrfFuse(lex, ann, k, idCol = "doc_id")
      .orderBy(col("rnk"))
      .collect().map(r => s"[${r.getInt(0)},${r.getLong(1)},${Json.number(r.get(2))}]")
    Json.message(Seq("rnk", "doc_id", "rrf_score"), rows.toSeq, "retrieval")
  }

  /** GET /api/retrieve/score?text=…[&lang=xx] — the trained quality
    * classifier served interactively: same feature expressions and
    * rational-sigmoid calibration as [[graft.operators.Learn.scoreWith]],
    * row-identical to the library call (spec-pinned). Requires a
    * `qualityModelPath` deployment; absent → 400, not 500. */
  private def score(params: Map[String, String]): String = {
    val w = qualityWeights.getOrElse(
      throw QueryError("No quality model deployed on this server"))
    val text = params.getOrElse("text", "")
    if (text.trim.isEmpty) throw QueryError("Missing or empty text")
    val lang = params.getOrElse("lang", "und")
    import spark.implicits._
    val one = Seq((0L, text, lang)).toDF("doc_id", "text", "lang")
    val rows = graft.operators.Learn.scoreWith(one, w)
      .collect().map(r => s"[${Json.number(r.get(2))},${r.getInt(3)}]")
    Json.message(Seq("score", "pred_label"), rows.toSeq, "retrieval")
  }
}
