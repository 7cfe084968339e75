package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.operators.{Quantization, Similarity, TextAnalysis}
import graft.sources.Tables

/**
 * Per-JVM cache of TRAINED ANN quantizers and their persisted serving
 * artifacts, keyed by sf dir — the build-vs-serve separation the bench
 * needs (round-6 verdict #1): quantizer training (the Lloyd passes +
 * deterministic seed collects) happens at most ONCE per JVM per dataset
 * here, and every serving-side query (`ann_*_serve`, the recall gates)
 * consumes the cached result, so its timed window measures index load +
 * query serving, not training. The `ann_*_build` bench entries deliberately
 * do NOT use this cache — they retrain on every call, which is exactly the
 * number they exist to report.
 *
 * This mirrors the production shape: an index is trained once, persisted
 * ([[Similarity.saveIvfIndex]] / [[Quantization.savePq]] /
 * [[Similarity.saveIvfPqWith]]), and then serves many query batches from
 * the artifact. The quantizers are deterministic functions of the corpus
 * (md5-order seed + decimal-exact Lloyd), so a cached copy is bit-identical
 * to a freshly trained one — correctness gates see the exact same values
 * they saw when they trained inline.
 *
 * Everything driver-side here is bounded by the quantizer shape (nlist·dim
 * centroids, m·ksub·subDim codebook cells), never by the corpus.
 */
private[graft] object AnnArtifacts {
  /** Canonical quantizer family shared by the refined-ANN gates and serve
    * entries (must match what `ann_*_build` trains). */
  val Nlist = 16
  val M = 8
  val Ksub = 64
  val Iters = 2

  // per-JVM scratch root; artifacts are rewritten lazily per dataset
  private lazy val root: String =
    Files.createTempDirectory("graft_ann_artifacts").toString

  private def dirKey(dir: String): String = DirKeys.key(dir)

  private val centsMemo =
    scala.collection.mutable.Map[String, Array[(Int, Array[Float])]]()
  private val booksMemo =
    scala.collection.mutable.Map[String, Quantization.PqCodebooks]()
  private val pathMemo = scala.collection.mutable.Map[String, String]()

  /** The trained coarse quantizer (nlist=16, 2 Lloyd iterations) for the
    * embeddings table under `dir` — trains on first touch, cached after. */
  def ivfCentroids(s: SparkSession, dir: String): Array[(Int, Array[Float])] =
    synchronized {
      centsMemo.getOrElseUpdate(dir,
        Similarity.buildIvfIndex(Tables.embeddings(s, dir), Nlist,
          kmeansIters = Iters).centroids)
    }

  /** The trained PQ codebooks (m=8, ksub=64, 2 Lloyd iterations). */
  def pqBooks(s: SparkSession, dir: String): Quantization.PqCodebooks =
    synchronized {
      booksMemo.getOrElseUpdate(dir,
        Quantization.buildPqCodebooks(Tables.embeddings(s, dir), M, Ksub,
          kmeansIters = Iters))
    }

  /**
   * Root of the persisted serving artifacts for `dir` — written once per
   * JVM from the cached quantizers: `<root>/ivf` ([[Similarity.saveIvfIndex]]),
   * `<root>/pq` ([[Quantization.savePq]]), `<root>/ivfpq`
   * ([[Similarity.saveIvfPqWith]], code rows partitioned by `list_id`).
   * Serve queries read THESE paths through the public load APIs — the
   * same artifact round-trip a deployment makes.
   */
  def artifactRoot(s: SparkSession, dir: String): String = synchronized {
    pathMemo.getOrElseUpdate(dir, {
      val e = Tables.embeddings(s, dir)
      val cents = ivfCentroids(s, dir)
      val books = pqBooks(s, dir)
      val p = s"$root/${dirKey(dir)}"
      val index = Similarity.IvfIndex(cents, Similarity.assignIvf(e, cents))
      Similarity.saveIvfIndex(index, s"$p/ivf")
      Quantization.savePq(Quantization.encodePq(e, books), books, s"$p/pq")
      Similarity.saveIvfPqWith(index, books, s"$p/ivfpq")
      p
    })
  }

  private val annAppendMemo = scala.collection.mutable.Map[String, String]()

  /** An IVF-PQ artifact GROWN by the incremental path — the ANN twin of
    * [[lexicalAppendRoot]]: quantizers trained and persisted from the even
    * half of the corpus only, then the odd half encoded against the STORED
    * quantizers and committed as one store append
    * ([[Similarity.appendIvfPq]] — no retraining, one narrow pass). The
    * `ann_append_topk` gate serves planted duplicates of APPENDED vectors
    * from it: an append that failed to land (or landed with wrong codes /
    * in the wrong list) cannot return its query at rank 1 / cos 1.0. */
  def ivfPqAppendRoot(s: SparkSession, dir: String): String = synchronized {
    annAppendMemo.getOrElseUpdate(dir, {
      import org.apache.spark.sql.functions.col
      val p = s"$root/${dirKey(dir)}_annapp"
      val e = Tables.embeddings(s, dir)
      val base = e.filter(col("vec_id") % 2 === 0)
      val idx = Similarity.buildIvfIndex(base, Nlist, kmeansIters = Iters)
      val books = Quantization.buildPqCodebooks(base, M, Ksub, kmeansIters = Iters)
      Similarity.saveIvfPqWith(idx, books, p)
      // grow: encode the odd half against the artifact's own stored
      // quantizers (the honest deployment shape — no driver state reuse)
      Similarity.appendIvfPq(e.filter(col("vec_id") % 2 =!= 0), p)
      p
    })
  }

  private val driftMemo = scala.collection.mutable.Map[String, (String, Boolean)]()

  /** IVF-PQ maintenance under append drift — the `ann_recluster_recall`
    * artifact: the full-corpus index persisted, a drifted ingest clump
    * ([[Fixtures.annDriftClump]] — 256 copies of 4 vectors, guaranteed to
    * pile into stale lists) appended via [[Similarity.appendIvfPq]], then
    * [[Similarity.maintainIvfPq]] detects the oversized list and saves a
    * re-clustered index of the grown corpus into the same store. Returns
    * (servingPath, fired) — fired must be true on this fixture; the gate
    * asserts it through the hash. */
  def ivfPqDriftRoots(s: SparkSession, dir: String): (String, Boolean) = synchronized {
    driftMemo.getOrElseUpdate(dir, {
      import org.apache.spark.sql.functions.col
      val p1 = s"$root/${dirKey(dir)}_anndrift"
      val e = Tables.embeddings(s, dir)
      val clump = Fixtures.annDriftClump(e)
      Similarity.saveIvfPq(e, p1, nlist = Nlist, m = M, ksub = Ksub,
        kmeansIters = Iters)
      Similarity.appendIvfPq(clump, p1)
      val grown = e.select(col("vec_id"), col("embedding")).union(clump)
      // geometry (nlist/m/ksub) is derived from the p1 artifact itself
      val fired = Similarity.maintainIvfPq(s, p1, grown,
        oversizeFactor = 2.0, kmeansIters = Iters)
      (p1, fired)
    })
  }

  private val lexMemo = scala.collection.mutable.Map[String, String]()

  /** Persisted BM25 postings index ([[TextAnalysis.saveLexicalIndex]]
    * layout) for the documents table under `dir` — the lexical serving
    * artifact, built at most once per JVM per dataset. */
  def lexicalRoot(s: SparkSession, dir: String): String = synchronized {
    lexMemo.getOrElseUpdate(dir, {
      val p = s"$root/${dirKey(dir)}_lex"
      TextAnalysis.saveLexicalIndex(Tables.documents(s, dir), p)
      p
    })
  }

  private val lexAppendMemo = scala.collection.mutable.Map[String, String]()

  private val lexCompactMemo = scala.collection.mutable.Map[String, String]()

  private val triAppendMemo = scala.collection.mutable.Map[String, String]()

  private val triCompactMemo = scala.collection.mutable.Map[String, String]()

  /** The documents corpus trigram-indexed as base + delta segments —
    * [[graft.operators.Retrieval.saveTrigramIndex]] over doc_id % 2 = 0
    * plus an [[graft.operators.Retrieval.appendTrigramIndex]] of the rest
    * — the uncompacted source the compaction gate folds. Built at most
    * once per JVM per dataset; `trigram_index_search` stays the honest
    * full-rebuild entry. */
  def trigramAppendRoot(s: SparkSession, dir: String): String = synchronized {
    triAppendMemo.getOrElseUpdate(dir, {
      import org.apache.spark.sql.functions.col
      val p = s"$root/${dirKey(dir)}_triapp"
      val d = Tables.documents(s, dir)
      graft.operators.Retrieval.saveTrigramIndex(
        graft.operators.Retrieval.trigramPostings(d.filter(col("doc_id") % 2 === 0)), p)
      graft.operators.Retrieval.appendTrigramIndex(
        graft.operators.Retrieval.trigramPostings(d.filter(col("doc_id") % 2 === 1)), p)
      p
    })
  }

  /** A copy of the store `src` at `dst`, compacted there in place by
    * `compact`, so the uncompacted pile keeps serving its own gates. */
  private def compactedCopy(src: String, dst: String)(compact: String => Unit): String = {
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(src), new java.io.File(dst))
    compact(dst)
    dst
  }

  /** [[graft.operators.Retrieval.compactTrigramIndex]] of a copy of
    * [[trigramAppendRoot]] — the artifact behind the compaction gate
    * (`trigram_index_compact`): searching the compacted copy must answer
    * row-identically to the uncompacted pile AND to the oracle's union
    * replay. */
  def trigramCompactRoot(s: SparkSession, dir: String): String = synchronized {
    triCompactMemo.getOrElseUpdate(dir,
      compactedCopy(trigramAppendRoot(s, dir), s"$root/${dirKey(dir)}_tricomp")(
        graft.operators.Retrieval.compactTrigramIndex(s, _)))
  }

  /** [[TextAnalysis.compactLexicalIndex]] of a copy of
    * [[lexicalAppendRoot]] — the artifact behind the compaction gate
    * (`bm25_compact_topk`): serving from the compacted copy must reproduce
    * the full-corpus formula row for row, same oracle as the append path. */
  def lexicalCompactRoot(s: SparkSession, dir: String): String = synchronized {
    lexCompactMemo.getOrElseUpdate(dir,
      compactedCopy(lexicalAppendRoot(s, dir), s"$root/${dirKey(dir)}_lexcomp")(
        TextAnalysis.compactLexicalIndex(s, _)))
  }

  private val winnowAppMemo = scala.collection.mutable.Map[String, String]()

  private val winnowCompactMemo = scala.collection.mutable.Map[String, String]()

  private val benchAppMemo = scala.collection.mutable.Map[String, String]()

  private val benchCompactMemo = scala.collection.mutable.Map[String, String]()

  /** The winnow decontamination index as base + delta segments — the
    * `winnow_index_flag` fixture (full corpus saved, exact copies of every
    * 37th doc appended under shifted ids) persisted once per JVM; that
    * entry stays the honest per-run save+append rebuild, this root feeds
    * the compaction gate. */
  def winnowIdxAppendRoot(s: SparkSession, dir: String): String = synchronized {
    winnowAppMemo.getOrElseUpdate(dir, {
      import org.apache.spark.sql.functions.col
      val p = s"$root/${dirKey(dir)}_winapp"
      val d = Tables.documents(s, dir)
      graft.streaming.StreamingWinnow.saveFingerprints(
        TextAnalysis.winnowFingerprints(d)
          .select(col("doc_id").as("id"), col("fp")), p)
      graft.streaming.StreamingWinnow.appendFingerprints(
        TextAnalysis.winnowFingerprints(
            d.filter(col("doc_id") % 37 === 0)
              .withColumn("doc_id", col("doc_id") + 1000000L))
          .select(col("doc_id").as("id"), col("fp")), p)
      p
    })
  }

  /** [[graft.streaming.StreamingWinnow.compactFingerprints]] of a copy
    * of [[winnowIdxAppendRoot]] — the artifact behind
    * `winnow_index_compact`: flagging against the compacted copy must
    * reproduce the save→append→load oracle row for row. */
  def winnowIdxCompactRoot(s: SparkSession, dir: String): String = synchronized {
    winnowCompactMemo.getOrElseUpdate(dir,
      compactedCopy(winnowIdxAppendRoot(s, dir), s"$root/${dirKey(dir)}_wincomp")(
        graft.streaming.StreamingWinnow.compactFingerprints(s, _)))
  }

  /** The benchmark-shingle decontamination index as base + delta segments
    * (even/odd halves of the doc_id % 97 benchmark slice, shingle width
    * 5 — the `decontaminate_index_count` fixture, which stays the honest
    * per-run save+append rebuild). */
  def benchIdxAppendRoot(s: SparkSession, dir: String): String = synchronized {
    benchAppMemo.getOrElseUpdate(dir, {
      import org.apache.spark.sql.functions.col
      val p = s"$root/${dirKey(dir)}_benchapp"
      val bench = Tables.documents(s, dir).filter(col("doc_id") % 97 === 0)
      TextAnalysis.saveBenchmarkIndex(bench.filter(col("doc_id") % 2 === 0), 5, p)
      TextAnalysis.appendBenchmarkIndex(bench.filter(col("doc_id") % 2 =!= 0), 5, p)
      p
    })
  }

  /** Distinct-folded [[TextAnalysis.compactBenchmarkIndex]] of a copy of
    * [[benchIdxAppendRoot]] — the artifact behind `decon_index_compact`. */
  def benchIdxCompactRoot(s: SparkSession, dir: String): String = synchronized {
    benchCompactMemo.getOrElseUpdate(dir,
      compactedCopy(benchIdxAppendRoot(s, dir), s"$root/${dirKey(dir)}_benchcomp")(
        TextAnalysis.compactBenchmarkIndex(s, _)))
  }

  /** The same documents corpus indexed as TWO segments — an initial
    * [[TextAnalysis.saveLexicalIndex]] over doc_id % 3 != 0 plus an
    * [[TextAnalysis.appendLexicalIndex]] of the rest — the artifact behind
    * the append-≡-rebuild gate (`bm25_append_topk`): serving from it must
    * reproduce the full-corpus BM25 formula row for row. */
  def lexicalAppendRoot(s: SparkSession, dir: String): String = synchronized {
    lexAppendMemo.getOrElseUpdate(dir, {
      import org.apache.spark.sql.functions.col
      val p = s"$root/${dirKey(dir)}_lexapp"
      val d = Tables.documents(s, dir)
      TextAnalysis.saveLexicalIndex(d.filter(col("doc_id") % 3 =!= 0), p)
      TextAnalysis.appendLexicalIndex(d.filter(col("doc_id") % 3 === 0), p)
      p
    })
  }
}
