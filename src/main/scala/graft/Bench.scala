package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.StreamingAnnServing

/** Query-vector row for the streaming serving micro-bench (top-level so the
  * case-class Encoder derives). */
case class BenchQueryVec(vec_id: Long, embedding: Seq[Float])

/** Lexical-query row for the streaming BM25 serving micro-bench. */
case class BenchLexQuery(query_id: Long, terms: Seq[String])

/**
 * Benchmark main (BASELINE.md protocol): warm SparkSession, run every
 * SparkEntry query `SPARK_GRAFT_BENCH_RUNS` times (default 5, per the N≥5
 * protocol) on `SPARK_GRAFT_SF_DIR`, report per-query MEDIAN wall-clock
 * seconds and the median total as ONE JSON line on stdout. Runs are
 * INTERLEAVED round-robin across queries (run 1 of every query, then run
 * 2, …) so one query's spread is not an artifact of the JVM/GC phase its
 * back-to-back minute landed in, AND the within-round query order is a
 * seeded random permutation per round, so a query's samples don't all
 * land at the same position in the round (same GC phase, same neighbor
 * residue) — position-correlated host contention averages out instead of
 * shifting one query's median; the SQL cache is cleared before every
 * measurement so each is measured in isolation.
 *
 * Timing includes plan + execution (count() forces the full pipeline;
 * results are already small aggregates so count ≈ materialize).
 *
 * Beyond the per-query median the line carries (round-6 verdict #2 — the
 * variance that separates environmental drift from a real regression):
 *  - `total_min_sec`: the contention-robust second headline — Σ per-query
 *    spread.min (each query's best observed run, the closest proxy for its
 *    uncontended cost); entries whose base-round max/min exceeds 2× get
 *    `runs` extra measurements and additionally report `tmax` (max with the
 *    single worst sample dropped) and `n` (sample count) — `max` stays raw.
 *  - `spread`: per-query min/max across the runs, plus `warm` — a SECOND
 *    count() on one Dataset instance, which reuses the analyzed plan and
 *    cached codegen and so isolates execution cost from per-call planning
 *    overhead (~0.3–1.3 s at sf0.1). For the eager gate queries
 *    (`ann_*_build`, the recall gates) the work happens inside the query
 *    function itself, so `warm` reads near-zero there by design — their
 *    cost IS the construction, and min/max still carry their variance.
 *  - `streaming`: per-epoch wall seconds of 3 micro-batches served by
 *    [[StreamingAnnServing.serveIvfPqFromRoot]] from the persisted IVF-PQ
 *    artifact — quantizer load + stream construction are OUTSIDE the
 *    epochs (StreamingAnnSpec pins that quantizers are not re-read per
 *    epoch), so each epoch is pure micro-batch serving; epoch 0 still
 *    carries the first-execution plan/codegen cost of the serving
 *    pipeline. `bm25_serve_epoch_sec` is the lexical twin
 *    ([[graft.streaming.StreamingLexicalServing]] from the persisted
 *    postings index, growing-index per-epoch path re-read included).
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // engine extension stack (SQL functions + TopK strategy),
      // loaded the way a cluster deployment would
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen/IO warmup outside the timed region
    SparkEntry.queries.get("q1_agg").foreach(fn => fn(spark, sfDir).count())
    // pre-build the per-JVM ANN artifact cache outside any timed region:
    // serve/recall entries measure artifact CONSUMPTION by design, and the
    // ann_*_build entries measure (re)training explicitly — without this,
    // whichever cached entry runs first would absorb the one-time lazy
    // build into its first-run max
    try {
      AnnArtifacts.artifactRoot(spark, sfDir)
      AnnArtifacts.ivfPqAppendRoot(spark, sfDir)
      // drift-maintenance artifact: ann_recluster_recall measures serving
      // + the recall math from the re-clustered generation; the one-time
      // append + recluster build happens here
      AnnArtifacts.ivfPqDriftRoots(spark, sfDir)
    } catch { case e: Throwable => System.err.println(s"[bench] ann warmup failed: $e") }
    // same for the persisted BM25 postings artifacts: the index/append/
    // compact serve entries measure serving, not the one-time lazy builds —
    // without warming ALL THREE roots, bm25_append_topk / bm25_compact_topk
    // absorb their segment build / compaction rewrite into the first
    // timed run's max
    try {
      AnnArtifacts.lexicalRoot(spark, sfDir)
      AnnArtifacts.lexicalAppendRoot(spark, sfDir)
      AnnArtifacts.lexicalCompactRoot(spark, sfDir)
      // trigram twin: trigram_index_compact measures serving from the
      // compacted generation (trigram_index_search keeps the honest
      // full save+append+search rebuild cost)
      AnnArtifacts.trigramAppendRoot(spark, sfDir)
      AnnArtifacts.trigramCompactRoot(spark, sfDir)
      // winnow + benchmark-shingle compaction twins: the *_compact
      // entries measure flagging/decontaminating FROM the compacted
      // generation (winnow_index_flag / decontaminate_index_count keep
      // the honest per-run save+append rebuild costs)
      AnnArtifacts.winnowIdxAppendRoot(spark, sfDir)
      AnnArtifacts.winnowIdxCompactRoot(spark, sfDir)
      AnnArtifacts.benchIdxAppendRoot(spark, sfDir)
      AnnArtifacts.benchIdxCompactRoot(spark, sfDir)
    } catch { case e: Throwable => System.err.println(s"[bench] lex warmup failed: $e") }
    // and the per-JVM PCA component cache: streaming_pca_project measures
    // the streaming projection path against the cached component (the
    // moment-pass build cost stays pca_moments_append's number)
    try PcaArtifacts.topComponent(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] pca warmup failed: $e") }
    // and the per-JVM funnel pipeline cache: curation_funnel_check measures
    // the pinned checks against the cached frames (curation_funnel itself
    // remains the full-recompute build entry) — without warming, the first
    // timed run of the check would absorb the one-time pipeline build
    try FunnelArtifacts.stages(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] funnel warmup failed: $e") }
    // and the LSH gate pair-set cache: the recall/precision/keep gates
    // measure the pinned CHECK against cached pair frames by design
    // (minhash_lsh_dedup / semantic_dedup stay honest full recomputes) —
    // un-warmed, the one-time pair derivation lands in whichever timed
    // run goes first and reads as a 20-40x spread on a 0.05 s entry
    try {
      DedupArtifacts.minhashRecall(spark, sfDir)
      DedupArtifacts.minhashPrecision(spark, sfDir)
      DedupArtifacts.semanticPairs(spark, sfDir)
      // winnow base-corpus fingerprints + streaming flagger index:
      // winnow_matches measures the copy-half + join, streaming_winnow_flag
      // the per-micro-batch path; winnow_fingerprints stays the honest
      // full corpus scan
      DedupArtifacts.winnowBaseFps(spark, sfDir)
      DedupArtifacts.winnowIndex(spark, sfDir)
      // blocked name dictionary for streaming_entity_flag (one per corpus
      // epoch by design; the batch entity_* entries stay honest recomputes)
      DedupArtifacts.entityIndex(spark, sfDir)
    } catch { case e: Throwable => System.err.println(s"[bench] dedup-gate warmup failed: $e") }
    // and the per-JVM trade-graph edge cache (round-10 verdict #2): the
    // weighted / personalized / HITS entries measure ITERATIONS against the
    // cached year-slice edge sets; pagerank_trade stays the honest full
    // edge-ETL recompute — without warming, the first timed run of each
    // consumer would absorb the one-time slice derivation
    try {
      GraphArtifacts.weightedEdges1995(spark, sfDir)
      GraphArtifacts.edges1996(spark, sfDir)
      GraphArtifacts.directedEdges1995(spark, sfDir)
      GraphArtifacts.nationSeeds(spark, sfDir)
    } catch { case e: Throwable => System.err.println(s"[bench] graph warmup failed: $e") }
    // and the per-JVM media perceptual-hash cache: ahash/vhash_near_dup
    // measure the banded JOIN, phash_keep the representative collapse,
    // streaming_phash_flag the per-batch streaming path — image_phash /
    // audio_ahash / video_vhash / phash_near_dup stay honest decode
    // recomputes. Un-warmed, the first timed run of each consumer would
    // absorb the one-time corpus decode
    try {
      MediaArtifacts.imageFixtureHashes(spark, sfDir)
      MediaArtifacts.imagePairs(spark, sfDir)
      MediaArtifacts.audioFixtureHashes(spark, sfDir)
      MediaArtifacts.videoFixtureHashes(spark, sfDir)
      MediaArtifacts.pngBandedIndex(spark, sfDir)
      MediaArtifacts.plantedImageRecords(spark, sfDir)
    } catch { case e: Throwable => System.err.println(s"[bench] media warmup failed: $e") }
    try ViewArtifacts.keyedStoreDir(spark, sfDir) // view_keyed_history serves reads
    catch { case e: Throwable => System.err.println(s"[bench] view warmup failed: $e") }

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      fn
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2)
    }
    def r4(x: Double): Double = math.rint(x * 1e4) / 1e4

    // CONTENTION CANARY (round-15 verdict #1): a pinned, deterministic,
    // single-partition CPU-bound count measured at the START and END of
    // every interleaved round. The canary never changes with the query
    // surface, reads no data, and shuffles nothing — host load (noisy
    // neighbors, CPU steal) is the only thing that can move it — so its
    // round-to-round drift separates environmental contention from plan
    // regressions: four full round-15 runs of doc-only-changed code read
    // total-MIN 147.5 → 183.6 s on host load alone, which a future round
    // could misread as a >2× regression. `total_canary_norm_sec` =
    // total_median · (CanaryNominalSec / canary median) is the
    // contention-corrected headline reported BESIDE the raw one (never
    // replacing it; SCALING.md carries the normalized cross-round series).
    // pinned at the round-16 least-contended calibration reading (min of 8
    // samples, local[8]); NEVER recalibrate silently — the constant only
    // scales the normalized headline, and changing it breaks the series
    val CanaryNominalSec = 0.43
    def canaryOnce(): Double = time {
      spark.range(0L, 200000000L, 1L, 1)
        .filter(pmod(col("id") * 2654435761L, lit(9973L)) < 3L).count()
    }
    canaryOnce() // JIT/codegen warm — outside the recorded samples
    var canarySamples = Vector.empty[Double]

    // optional subset for focused iteration: comma-separated query names
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None        => SparkEntry.queries
    }
    // INTERLEAVED rounds (round 8 verdict #7): run 1 of every query, then
    // run 2, … — back-to-back runs of one query correlate its min/max with
    // whatever JVM/GC phase that minute happened to be in (ann_ivfpq_build
    // measured max/min 1.7× that way); spreading a query's runs across the
    // whole bench decorrelates them. The SQL cache is still cleared before
    // every measurement (no cross-query cache residue); the ContextCleaner
    // GC nudge (frees localCheckpoint blocks) runs once per round instead
    // of per measurement — same total pressure, ~1/100th the gc() calls.
    val queryFns = selected.toSeq.sortBy(_._1)
    val samples = Array.fill(queryFns.size)(Vector.empty[Double])
    def measureRound(idx: Seq[Int]): Unit = {
      System.gc()
      canarySamples :+= r4(canaryOnce()) // contention reading at round start
      idx.foreach { i =>
        val fn = queryFns(i)._2
        spark.catalog.clearCache()
        samples(i) = samples(i) :+
          (try time(fn(spark, sfDir).count())
           catch { case _: Throwable => -1.0 })
      }
      canarySamples :+= r4(canaryOnce()) // and at round end
    }
    // per-round ORDER permutation (round-13 verdict #3): interleaved
    // rounds alone still run the queries in the SAME alphabetical order
    // every round, so a query's samples all land at the same position in
    // the round — the same GC phase, the same neighbors' page-cache /
    // shuffle-dir residue — and a position-correlated contention source
    // shows up as a correlated median shift on an untouched code path
    // (pagerank_trade's r13 median doubled with a flat min). A seeded
    // Fisher–Yates shuffle per round decorrelates position from query;
    // the fixed seeds keep the protocol reproducible run-to-run.
    (1 to runs).foreach { r =>
      val order = new scala.util.Random(1234L + r).shuffle(queryFns.indices.toVector)
      measureRound(order)
    }
    // CONTENTION ROBUSTNESS (round-10 verdict #1/#3): entries whose max/min
    // exceeded 2× over the base rounds get `runs` EXTRA interleaved
    // measurements — a host-contention hit on one run of a heavy entry
    // should not define its round-over-round number. Entries that took
    // extras then also report `tmax`, the max after dropping the single
    // worst sample (a trimmed statistic is only meaningful once n ≥ 2·runs;
    // `max` stays the raw maximum either way, nothing is hidden).
    val highSpread = queryFns.indices.filter { i =>
      val ts = samples(i)
      !ts.contains(-1.0) && ts.min > 0 && ts.max / ts.min > 2.0
    }
    if (highSpread.nonEmpty) {
      System.err.println(s"[bench] extra runs for high-spread entries: " +
        highSpread.map(queryFns(_)._1).mkString(", "))
      (1 to runs).foreach { r =>
        val order = new scala.util.Random(5678L + r).shuffle(highSpread.toVector)
        measureRound(order)
      }
    }
    val results = queryFns.zipWithIndex.map { case ((name, fn), i) =>
      // warm-plan second execution: one Dataset, counted twice; the second
      // count isolates execution from analysis/optimization/codegen
      spark.catalog.clearCache()
      val warm =
        try { val df = fn(spark, sfDir); df.count(); time(df.count()) }
        catch { case _: Throwable => -1.0 }
      val ts = samples(i)
      val bad = ts.contains(-1.0)
      val tmax = if (bad || ts.length <= runs) -1.0
                 else r4(ts.sorted.dropRight(1).max)
      (name,
        if (bad) -1.0 else median(ts),
        if (bad) -1.0 else r4(ts.min),
        if (bad) -1.0 else r4(ts.max),
        r4(warm),
        tmax,
        ts.length)
    }

    // streaming ANN serving latency: 3 micro-batches of the 8 fixture
    // queries (shifted ids — client id space) against the per-JVM persisted
    // IVF-PQ artifact; the growing-index path re-reads the code table's
    // newest manifest and the corpus per epoch, which is part of the honest
    // per-epoch cost
    // the streaming sections run in a full bench, or when the subset names
    // "streaming" explicitly (focused iteration on epoch latency)
    val runStreaming = only.forall(_.contains("streaming"))
    val streamEpochs: Seq[Double] =
      if (!runStreaming) Seq.empty
      else try {
        implicit val sqlCtx = spark.sqlContext
        import spark.implicits._
        val indexPath = s"${AnnArtifacts.artifactRoot(spark, sfDir)}/ivfpq"
        val corpusPath = s"$sfDir/embeddings.parquet"
        val qs = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
          .collect().map(r => BenchQueryVec(r.getLong(0), r.getSeq[Float](1)))
        val stream = MemoryStream[BenchQueryVec]
        var served = 0L
        val q = StreamingAnnServing.serveIvfPqFromRoot(stream.toDF(), indexPath,
          corpusPath, k = 5, nprobe = 8, shortlist = 50) { (ans, _) =>
          served += ans.count()
        }
        val epochs = (1 to 3).map { _ =>
          stream.addData(qs.toIndexedSeq: _*)
          r4(time(q.processAllAvailable()))
        }
        q.stop()
        require(served == 3L * qs.length * 5, s"streaming bench served $served rows")
        epochs
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming section failed: $e"); Seq.empty
      }

    // streaming BM25 serving latency: 3 micro-batches of a 3-query batch
    // against the per-JVM persisted lexical index (growing-index path —
    // postings/termstats/stats re-read per epoch, honest per-epoch cost)
    val lexEpochs: Seq[Double] =
      if (!runStreaming) Seq.empty
      else try {
        implicit val sqlCtx = spark.sqlContext
        import spark.implicits._
        val idxPath = AnnArtifacts.lexicalRoot(spark, sfDir)
        val stream = MemoryStream[BenchLexQuery]
        var served = 0L
        val q = graft.streaming.StreamingLexicalServing
          .serveBm25FromPath(stream.toDF(), idxPath, k = 10) { (ans, _) =>
            served += ans.count()
          }
        val batch = Seq(
          BenchLexQuery(1L, Seq("vector", "stream", "hash")),
          BenchLexQuery(2L, Seq("data", "merge")),
          BenchLexQuery(3L, Seq("window", "stream")))
        val epochs = (1 to 3).map { _ =>
          stream.addData(batch: _*)
          r4(time(q.processAllAvailable()))
        }
        q.stop()
        require(served > 0, s"streaming BM25 bench served $served rows")
        epochs
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming BM25 section failed: $e"); Seq.empty
      }

    val qs = results.map { case (k, v, _, _, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, _, mn, mx, warm, tmax, n) =>
      "\"" + k + "\":{\"min\":" + mn + ",\"max\":" + mx + ",\"warm\":" + warm +
        (if (tmax >= 0) ",\"tmax\":" + tmax else "") + ",\"n\":" + n + "}"
    }.mkString("{", ",", "}")
    val streaming =
      "{\"ann_serve_epoch_sec\":" + streamEpochs.mkString("[", ",", "]") +
        ",\"bm25_serve_epoch_sec\":" + lexEpochs.mkString("[", ",", "]") + "}"
    val total = results.map(_._2).filter(_ >= 0).sum
    // SECOND, contention-robust headline (round-10 verdict #3): the sum of
    // per-query spread.min. Each min is that query's best observed run —
    // the closest measurable proxy for its cost on an UNCONTENDED host —
    // so Σmin is comparable round-over-round even when a noisy-neighbor
    // phase inflates medians across the board; SCALING.md gates
    // regressions on it alongside the median total
    val totalMin = r4(results.map(_._3).filter(_ >= 0).sum)
    // canary aggregation + the contention-corrected headline: the canary
    // median measures THIS run's host-load level; dividing it out (scaled
    // by the pinned nominal) yields a total comparable across rounds even
    // when the host's background load drifts
    val canaryMedian = if (canarySamples.isEmpty) -1.0 else r4(median(canarySamples))
    val canaryMin = if (canarySamples.isEmpty) -1.0 else r4(canarySamples.min)
    val totalNorm =
      if (canaryMedian <= 0) -1.0
      else r4(total * (CanaryNominalSec / canaryMedian))
    val canaryJson = "{\"samples\":" +
      canarySamples.mkString("[", ",", "]") +
      s""","median":$canaryMedian,"min":$canaryMin,"nominal":$CanaryNominalSec}"""
    // the commit SHA makes the artifact self-identifying: a stale
    // bench_latest.json from a previous (e.g. failed) round is detectable
    val line = s"""{"metric":"total_median_sec","value":$total,"unit":"sec","total_min_sec":$totalMin,"total_canary_norm_sec":$totalNorm,"canary":$canaryJson,"queries":$qs,"spread":$spread,"streaming":$streaming,"runs":$runs,"cpus":"$cpus","sf":"$sfDir","commit":"${BuildId.gitSha()}"}"""
    println(line)
    // stdout gets truncated by some harnesses — also persist the full
    // per-query map as a file artifact (SPARK_GRAFT_BENCH_OUT overrides)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_latest.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch { case e: Exception => System.err.println(s"[bench] file write failed: $e") }

    // The driver parses only the LAST ~2000 chars of stdout (its BENCH_r*.json
    // "tail"), and sbt appends an ~85-char "[success]" line after us — so the
    // machine-readable line it sees must fit in ~1900 chars. The full per-query
    // map above is ~3× that, which is why BENCH_r* carried "parsed": null for
    // two rounds. Emit a FINAL compact line: total + per-query [median, min]
    // pairs sorted most-expensive-first, greedily filled to a hard character
    // budget; the
    // cheap tail entries that don't fit are summarized by count + summed
    // seconds and live in full in `bench_latest.json` (commit-stamped above).
    val sfName = sfDir.split('/').lastOption.getOrElse(sfDir)
    def r2(x: Double): Double = math.rint(x * 100) / 100
    val byCost = results.map { case (k, v, mn, _, _, _, _) => (k, v, mn) }
      .sortBy(-_._2)
    val budget = 1800
    val head = s"""{"metric":"total_median_sec","value":${r4(total)},"unit":"sec","total_min_sec":$totalMin,"total_canary_norm_sec":$totalNorm,"canary":[$canaryMedian,$canaryMin],"sf":"$sfName","runs":$runs,"commit":"${BuildId.gitSha()}","full":"$outPath""""
    // each compact entry is [median, min]: the min is the
    // contention-robust statistic (round-12 verdict #5) so per-entry
    // round-over-round comparison doesn't ride host-contention noise
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    var used = head.length + 60 // room for the omitted/queries framing + close
    var omitted = 0
    var omittedSum = 0.0
    byCost.foreach { case (k, v, mn) =>
      val e = "\"" + k + "\":[" + r2(v) + "," + r2(mn) + "]"
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
      else { omitted += 1; omittedSum += math.max(v, 0.0) }
    }
    val compact = head +
      s""","omitted":$omitted,"omitted_sum_sec":${r2(omittedSum)},"queries":""" +
      entries.mkString("{", ",", "}") + "}"
    // stop FIRST so Spark's shutdown chatter (stderr) can't land after the
    // machine line, then emit it as the last stdout line of the run;
    // `run / outputStrategy := StdoutOutput` in build.sbt keeps it free of
    // sbt's "[info] " prefix so a line-level json.loads downstream parses it
    spark.stop()
    println(compact)
  }
}
