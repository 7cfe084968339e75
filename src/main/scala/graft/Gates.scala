package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{GeoFunctions, TextFunctions, VectorFunctions}
import graft.operators._
import graft.sources.Tables

/**
 * Quality GATES over the approximate operators: recall and precision of
 * every ANN/near-dup path against exact baselines, no-false-negative
 * decontamination, and pipeline self-consistency checks — each a named
 * query with its DuckDB oracle, exactly like the core surface in
 * [[Queries]]/[[Oracles]].
 */
private[graft] object Gates {
  import Fixtures._

  /** Remove a throwaway build artifact (bounded: the bench-build index
    * trees, a few files each). Shared with the [[Queries]] entries that
    * build-and-discard persisted artifacts (`winnow_index_flag`). */
  private[graft] def deleteTree(path: String): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    val p = Path.of(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** The newest commit of the artifact store at `root`, which must hold
    * one: what the lifecycle gates compare across a save or compaction. */
  private[graft] def storeState(s: SparkSession, root: String): SegmentStore.Manifest =
    SegmentStore.latest(SeqFiles.fs(s, root), root).getOrElse(
      throw new IllegalStateException(s"no store at $root"))

  /**
   * Start a streaming gate's query with a feed-volume-derived STATE
   * partition count (optimization guide §2.2/§2.5: derive partitioning
   * from input size instead of a constant tuned for either local mode or
   * the cluster). A stateful plan takes its shuffle-partition count from
   * `spark.sql.shuffle.partitions` of the session it is started from (the
   * StreamExecution clones that session; AQE is disabled for stateful
   * workloads, so nothing coalesces it later), which makes the
   * session-wide value — sized for the batch surface — wrong at BOTH
   * scales: at fixture volume every micro-batch pays `partitions ×
   * (state-store commit + task schedule)` for KBs of state; at warehouse
   * volume a static count undersizes the state shuffle.
   * `ceil(feedRows / 64Ki)` (clamped to [1, 4096]) sizes it from the
   * gate's actual feed — the same derive-from-volume rule
   * [[graft.operators.Capacity.advisedPartitions]] applies to batch
   * exchanges. `stream` is rebound into a private clone of its session
   * that carries that count, and `start` starts the query from it: the
   * caller's session conf never changes, so the gate's batch probes (and
   * any concurrent request) keep the session's value. A memory sink's view
   * then lives in the clone: read it through `q.sparkSession`. Results are
   * partition-count independent: every streaming gate's state aggregate is
   * exact or mergeable by construction (the law each gate pins against its
   * oracle).
   */
  private[graft] def startSized[Q](feedRows: Long, stream: DataFrame)
                                  (start: DataFrame => Q): Q = {
    val sized = org.apache.spark.sql.graftshim.GraftPlanBridge.sizedClone(
      stream.sparkSession)(_ => Graph.partitionsFor(feedRows, 4096))
    start(org.apache.spark.sql.graftshim.GraftPlanBridge.ofRows(
      sized, stream.queryExecution.analyzed))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------------- approximate-vs-exact recall gates (M6)
    "ann_lsh_recall" -> ((s, dir) => {
      // gate: MEAN recall@5 of SRP-LSH vs the exact brute-force baseline —
      // a recall collapse (broken bucketing/re-rank) flips recall_ok and
      // fails the hash check. The fixture's embeddings are random (near-
      // orthogonal, the hardest case for angle-LSH), so the gated variant
      // widens candidate generation (3-bit buckets × 8 tables); threshold
      // 0.5 sits well below measured recall but far above a collapse.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val brute = Similarity.bruteForceTopK(e, q, k = 5).select(col("qid"), col("cid"))
      val lsh = Similarity.lshTopK(e, q, k = 5, dim = 64, nBits = 3, probes = 8)
        .select(col("qid").as("q2"), col("cid").as("c2"))
      brute.join(lsh, col("qid") === col("q2") && col("cid") === col("c2"), "left")
        .agg(countDistinct(col("qid")).as("n_queries"),
          (count(col("c2")).cast("double") / count(lit(1))).as("recall"))
        .select(col("n_queries"), (col("recall") >= 0.5).as("recall_ok"))
    }),

    "ann_ivf_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val brute = Similarity.bruteForceTopK(e, q, k = 5).select(col("qid"), col("cid"))
      // refined quantizer (kmeansIters=2) from the per-JVM artifact cache:
      // the timed window here measures index load + probe + re-rank + the
      // recall join, NOT training — ann_ivf_build reports the training cost
      val ivf = Similarity.ivfQuery(
        Similarity.loadIvfIndex(s, s"${AnnArtifacts.artifactRoot(s, dir)}/ivf"),
        q, k = 5, nprobe = 8)
        .select(col("qid").as("q2"), col("cid").as("c2"))
      brute.join(ivf, col("qid") === col("q2") && col("cid") === col("c2"), "left")
        .agg(countDistinct(col("qid")).as("n_queries"),
          (count(col("c2")).cast("double") / count(lit(1))).as("recall"))
        .select(col("n_queries"), (col("recall") >= 0.5).as("recall_ok"))
    }),

    "contamination_check" -> ((s, dir) => {
      // eval-leakage scan: distinct 5-gram overlap of each training doc with
      // the benchmark slice (doc_id % 97 == 0) via inverted-index join
      val d = Tables.documents(s, dir)
      TextAnalysis.contamination(
        d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
        shingleN = 5)
        .orderBy(col("train_id"))
    }),


    "incremental_dedup_recall" -> ((s, dir) => {
      // new batch = exact copies of every 37th doc (shifted ids); the stored
      // band index must find EVERY exact cross-pair with jaccard >= 0.95
      // (identical signatures collide in all bands) — n_exact is the true
      // DuckDB-checked value, n_missed = 0 gates the index path's recall
      val corpus = Tables.documents(s, dir)
      val newBatch = corpus.filter(col("doc_id") % 37 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val idx = Dedup.buildBandIndex(corpus)
      val found = Dedup.nearDupsAgainstIndex(newBatch, idx, corpus, threshold = 0.95)
        .select(col("new_id"), col("corpus_id"), lit(1).as("hit"))
      val sh = (d: DataFrame, id: String, shc: String) => d.select(
        col("doc_id").as(id),
        array_distinct(TextFunctions.shingles(col("text"), 3)).as(shc))
        .filter(size(col(shc)) > 0)
      // ground truth WITHOUT a batch×corpus cross join: jaccard ≥ 0.95 > 0
      // implies ≥ 1 shared shingle, so an inverted-index equi-join generates
      // every qualifying pair; a size-ratio cull (min/max bounds jaccard)
      // runs before the exact intersect. Same result set, linear in shared-
      // shingle collisions instead of quadratic in corpus size.
      val shn = sh(newBatch, "na", "sa")
      val shc2 = sh(corpus, "nb", "sb")
      val candPairs = shn.select(col("na"), explode(col("sa")).as("g"))
        .join(shc2.select(col("nb"), explode(col("sb")).as("g")), "g")
        .select(col("na"), col("nb")).distinct()
      val exact = candPairs
        .join(shn, "na").join(shc2, "nb")
        .filter(least(size(col("sa")), size(col("sb"))).cast("double") /
          greatest(size(col("sa")), size(col("sb"))).cast("double") >= 0.95)
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("double"))
        .withColumn("jac", col("inter") /
          (size(col("sa")) + size(col("sb")) - col("inter")).cast("double"))
        .filter(col("jac") >= 0.95)
        .select(col("na"), col("nb"))
      exact.join(found,
        col("na") === col("new_id") && col("nb") === col("corpus_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(when(col("hit").isNull, 1)).as("n_missed"))
    }),


    "band_index_append" -> ((s, dir) => {
      // the PERSISTED band-index lifecycle under continuous ingest
      // (round-17 task #3): base half saved, second half delta-appended
      // (no rewrite), the pile compacted in place, and an ingest batch of
      // exact copies (every 37th doc, shifted ids) probed against the pile
      // and the compacted index. Recall contract = the
      // incremental_dedup_recall oracle: the stored union must find every
      // exact cross-pair with jaccard >= 0.95 (n_exact is DuckDB-checked,
      // n_missed = 0), and compaction_consistent pins that the fold
      // changed nothing a probe can see
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_band_idx").toString
      try {
        val corpus = Tables.documents(s, dir)
        val newBatch = corpus.filter(col("doc_id") % 37 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        Dedup.saveBandIndex(
          Dedup.buildBandIndex(corpus.filter(col("doc_id") % 2 === 0)), s"$tmp/idx")
        Dedup.appendBandIndex(
          Dedup.buildBandIndex(corpus.filter(col("doc_id") % 2 === 1)), s"$tmp/idx")
        def probe(index: DataFrame) = Dedup.nearDupsAgainstIndex(
            newBatch, index, corpus, threshold = 0.95)
          .select(col("new_id"), col("corpus_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // the pile probe and the fold are independent READS of the same
        // committed pile (the pile's frame is pinned before the fold, whose
        // commit retires the pile's files only after the store's grace) —
        // overlap them (guide §2.6); the compacted probe runs after
        val pile = Dedup.loadBandIndex(s, s"$tmp/idx")
        var pre: Set[(Long, Long)] = null
        Jobs.concurrently(
          () => pre = probe(pile),
          () => Dedup.compactBandIndex(s, s"$tmp/idx"))
        val post = probe(Dedup.loadBandIndex(s, s"$tmp/idx"))
        // found pairs are local (collected) — the temp index can vanish
        val found = post.toSeq.map { case (a, b) => (a, b, 1) }
          .toDF("new_id", "corpus_id", "hit")
        // exact ground truth, the incremental_dedup_recall derivation:
        // inverted-index candidate join + size-ratio cull + exact Jaccard
        val sh = (d: DataFrame, id: String, shc: String) => d.select(
          col("doc_id").as(id),
          array_distinct(TextFunctions.shingles(col("text"), 3)).as(shc))
          .filter(size(col(shc)) > 0)
        val shn = sh(newBatch, "na", "sa")
        val shc2 = sh(corpus, "nb", "sb")
        val candPairs = shn.select(col("na"), explode(col("sa")).as("g"))
          .join(shc2.select(col("nb"), explode(col("sb")).as("g")), "g")
          .select(col("na"), col("nb")).distinct()
        val exact = candPairs
          .join(shn, "na").join(shc2, "nb")
          .filter(least(size(col("sa")), size(col("sb"))).cast("double") /
            greatest(size(col("sa")), size(col("sb"))).cast("double") >= 0.95)
          .withColumn("inter",
            size(array_intersect(col("sa"), col("sb"))).cast("double"))
          .withColumn("jac", col("inter") /
            (size(col("sa")) + size(col("sb")) - col("inter")).cast("double"))
          .filter(col("jac") >= 0.95)
          .select(col("na"), col("nb"))
        exact.join(found,
            col("na") === col("new_id") && col("nb") === col("corpus_id"), "left")
          .agg(count(lit(1)).as("n_exact"),
            count(when(col("hit").isNull, 1)).as("n_missed"))
          .withColumn("compaction_consistent", lit(pre == post))
      } finally deleteTree(tmp)
    }),

    "ingest_lifecycle_capstone" -> ((s, dir) => {
      // the END-TO-END ingest arc the per-family gates prove piecewise,
      // composed over one band-index store: the even-doc band index is
      // saved; STREAMED ingest (two real micro-batches of the odd docs)
      // bands each batch in-flight and delta-appends INTO the store;
      // maintenance compacts the pile in place with compactBandIndex;
      // admission-control probes serve before and after the compaction;
      // RETENTION then runs the store's sweep. Contract: the served pairs
      // are IDENTICAL across the compaction AND the sweep (asserted
      // in-query), the compaction published a new base commit whose
      // manifest retires every pre-compaction commit dir (storage stays
      // bounded to the folded files), and recall against the exact ground
      // truth is total — the incremental_dedup_recall oracle, now across
      // streaming + compaction + retention boundaries at once.
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val tmp = java.nio.file.Files.createTempDirectory("graft_capstone").toString
      try {
        val corpus = Tables.documents(s, dir)
        val newBatch = corpus.filter(col("doc_id") % 37 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        val root = s"$tmp/band"
        Dedup.saveBandIndex(
          Dedup.buildBandIndex(corpus.filter(col("doc_id") % 2 === 0)), root)
        val rows = corpus.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text")).as[(Long, String)].collect()
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val q = startSized(rows.length, mem.toDF().toDF("doc_id", "text"))(
          _.writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              Dedup.appendBandIndex(Dedup.buildBandIndex(batch), root)
            }
            .start())
        val (b1, b2) = rows.splitAt(rows.length / 2)
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        q.stop()
        def probe() = Dedup.nearDupsAgainstIndex(
            newBatch, Dedup.loadBandIndex(s, root), corpus, threshold = 0.95)
          .select(col("new_id"), col("corpus_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val pre = probe()
        val before = storeState(s, root)
        Dedup.compactBandIndex(s, root)
        val after = storeState(s, root)
        val post = probe()
        require(pre == post,
          "ingest_lifecycle_capstone: the compacted index serves " +
            "different pairs than the pile it replaced")
        // retention closes the arc — the last lifecycle verb: the store's
        // sweep, then proof that the served answers are untouched and
        // storage is bounded to EXACTLY the folded files: the compaction's
        // manifest retires every commit dir the pile lived in (counted,
        // not assumed)
        SegmentStore.recover(s, root)
        val pileDirs = before.live.map(_.path.takeWhile(_ != '/')).distinct
        require(pileDirs.length > 1 && pileDirs.forall(after.retired.contains),
          s"ingest_lifecycle_capstone: the compaction retired ${after.retired}, " +
            s"not every pre-compaction commit dir $pileDirs — storage is not " +
            "bounded to the folded files")
        require(probe() == post,
          "ingest_lifecycle_capstone: the retention sweep changed the served pairs")
        val found = post.toSeq.map { case (a, b) => (a, b, 1) }
          .toDF("new_id", "corpus_id", "hit")
        // exact ground truth — the incremental_dedup_recall derivation
        val sh = (d: DataFrame, id: String, shc: String) => d.select(
          col("doc_id").as(id),
          array_distinct(TextFunctions.shingles(col("text"), 3)).as(shc))
          .filter(size(col(shc)) > 0)
        val shn = sh(newBatch, "na", "sa")
        val shc2 = sh(corpus, "nb", "sb")
        val candPairs = shn.select(col("na"), explode(col("sa")).as("g"))
          .join(shc2.select(col("nb"), explode(col("sb")).as("g")), "g")
          .select(col("na"), col("nb")).distinct()
        val exact = candPairs
          .join(shn, "na").join(shc2, "nb")
          .filter(least(size(col("sa")), size(col("sb"))).cast("double") /
            greatest(size(col("sa")), size(col("sb"))).cast("double") >= 0.95)
          .withColumn("inter",
            size(array_intersect(col("sa"), col("sb"))).cast("double"))
          .withColumn("jac", col("inter") /
            (size(col("sa")) + size(col("sb")) - col("inter")).cast("double"))
          .filter(col("jac") >= 0.95)
          .select(col("na"), col("nb"))
        exact.join(found,
            col("na") === col("new_id") && col("nb") === col("corpus_id"), "left")
          .agg(count(lit(1)).as("n_exact"),
            count(when(col("hit").isNull, 1)).as("n_missed"))
          .withColumn("flip_changed_generation", lit(after.seq > before.seq &&
            SegmentStore.base(after) != SegmentStore.base(before)))
          .withColumn("served_identical", lit(true))
          .withColumn("prune_bounded_storage", lit(true))
          .withColumn("served_identical_after_prune", lit(true))
      } finally deleteTree(tmp)
    }),

    "retrieval_lifecycle_capstone" -> ((s, dir) => {
      // the lexical-serving END-TO-END arc — what ingest_lifecycle_capstone
      // is for the band index, driven through the REST surface: a BM25
      // index over the quarter corpus saved to one store and served by a
      // live RetrievalServer (phase 0); ingest APPENDS a segment to the
      // store (phase 1 — the per-request path re-read makes it searchable
      // with no restart); maintenance compacts the two-segment pile in
      // place with compactLexicalIndex (phase 2 — must be
      // serving-invisible, asserted in-query); retention runs the store's
      // sweep (phase 3 — still identical, and the compaction's manifest
      // retires every pre-compaction commit dir). The oracle replays
      // phase 0 over the quarter corpus and phases 1-3 over the half
      // corpus one-shot in SQL, so every HTTP answer along the arc is
      // value-pinned, not just shape-pinned.
      val tmp = java.nio.file.Files.createTempDirectory("graft_retr_cap").toString
      try {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val root = s"$tmp/lexgen"
        // the lexical build and the ANN-deployment artifacts (required
        // by the server contract, not under test here) are INDEPENDENT
        // writes to disjoint paths — fan them out (guide §2.6: overlap
        // independent jobs) instead of serializing phase-0 setup
        Jobs.concurrently(
          () => TextAnalysis.saveLexicalIndex(docs.filter(col("doc_id") % 4 === 0),
            root, nBuckets = 8),
          () => {
            val e = Tables.embeddings(s, dir).filter(col("vec_id") < 64)
            e.write.mode("overwrite").parquet(s"$tmp/corpus")
            Similarity.saveIvfPq(e, s"$tmp/ivfpq", nlist = 4, m = 8, ksub = 16)
          })
        val srv = new graft.serving.RetrievalServer(s, root, s"$tmp/ivfpq",
          s"$tmp/corpus")
        val port = srv.start()
        try {
          def ask(): Seq[(Long, Double)] = {
            val conn = new java.net.URL(s"http://localhost:$port/api/retrieve/" +
                "lexical?terms=vector,stream,hash&k=10").openConnection()
              .asInstanceOf[java.net.HttpURLConnection]
            try {
              require(conn.getResponseCode == 200,
                s"retrieval_lifecycle_capstone: HTTP ${conn.getResponseCode}")
              val in = conn.getInputStream
              val body = try scala.io.Source.fromInputStream(in).mkString
                finally in.close()
              // deliberately brittle envelope split: the gate pins the
              // exact Message shape RestServerSpec pins byte-for-byte
              val data = body.split("\"data\":\\[")(1).split("\\],\"metadata\"")(0)
              if (data.isEmpty) Seq.empty
              else data.stripPrefix("[").stripSuffix("]").split("\\],\\[").toSeq
                .map { r => val Array(a, b) = r.split(","); (a.toLong, b.toDouble) }
            } finally conn.disconnect()
          }
          val p0 = ask()
          TextAnalysis.appendLexicalIndex(docs.filter(col("doc_id") % 4 === 2), root)
          val p1 = ask()
          require(p1 != p0,
            "retrieval_lifecycle_capstone: the appended segment is not " +
              "being served — the per-request re-read broke")
          val before = storeState(s, root)
          TextAnalysis.compactLexicalIndex(s, root)
          val p2 = ask()
          require(p2 == p1,
            "retrieval_lifecycle_capstone: the compaction changed the served answers")
          SegmentStore.recover(s, root)
          val p3 = ask()
          require(p3 == p1,
            "retrieval_lifecycle_capstone: the retention sweep changed the served answers")
          val pileDirs = before.live.map(_.path.takeWhile(_ != '/')).distinct
          require(pileDirs.length == 2 && pileDirs.forall(storeState(s, root).retired.contains),
            s"retrieval_lifecycle_capstone: the compaction did not retire every " +
              s"pre-compaction commit dir $pileDirs — storage is not bounded")
          import s.implicits._
          Seq(0 -> p0, 1 -> p1, 2 -> p2, 3 -> p3)
            .flatMap { case (ph, rows) =>
              rows.map(r => (ph, r._1, r._2)) }
            .toDF("phase", "doc_id", "score")
            .orderBy(col("phase"), col("score").desc, col("doc_id"))
        } finally srv.stop()
      } finally deleteTree(tmp)
    }),

    "embedding_near_dup_recall" -> ((s, dir) => {
      // SRP-LSH near-dup pairs vs EXACT all-pairs cosine ≥ 0.95 on a bounded
      // slice (≤500 vectors at any sf) — n_exact is a true DuckDB oracle
      // value; n_missed = 0 asserts the LSH path finds every exact pair
      val base = Tables.embeddings(s, dir).filter(col("vec_id") < 250)
      val fixture = embsWithDups(base)
      val v = fixture.select(col("vec_id").as("id"), col("embedding").as("v"))
      // n_boundary guards the float-threshold comparison: Spark and DuckDB
      // may accumulate the cosine sums in different orders, so a pair within
      // 1e-9 of the 0.95 cut could flake n_exact between engines — assert
      // (on BOTH sides) that the fixture has no such pair
      val pairsCos = v.select(col("id").as("a"), col("v").as("va"))
        .crossJoin(v.select(col("id").as("b"), col("v").as("vb")))
        .filter(col("a") < col("b"))
        .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      val exact = pairsCos.filter(col("cos") >= 0.95).select(col("a"), col("b"))
      val found = Dedup.embeddingNearDup(fixture, dim = 64, threshold = 0.95)
        .select(col("a").as("fa"), col("b").as("fb"), lit(1).as("hit"))
      exact.join(found, col("a") === col("fa") && col("b") === col("fb"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(when(col("hit").isNull, 1)).as("n_missed"))
        .crossJoin(pairsCos.agg(
          count(when(abs(col("cos") - 0.95) < 1e-9, 1)).as("n_boundary")))
    }),


    "minhash_lsh_recall" -> ((s, dir) => {
      // identical normalized text ⇒ identical shingle set ⇒ identical MinHash
      // signature ⇒ collision in EVERY band ⇒ the pair MUST be found (jaccard
      // = 1). Expected set = identical-fingerprint pairs with ≥ 3 tokens
      // (shorter docs have no 3-shingles and are filtered from the LSH input);
      // n_exact is the DuckDB-checked value, n_missed = 0 gates recall.
      // The found/exact pair sets come from the per-JVM [[DedupArtifacts]]
      // cache (the FunnelArtifacts discipline): deriving them is the
      // minhash_lsh_dedup scale entry's cost to measure — this gate's window
      // measures the pinned recall check.
      val ps = DedupArtifacts.minhashRecall(s, dir)
      val found = ps.found
        .select(col("a").as("fa"), col("b").as("fb"), lit(1).as("hit"))
      ps.exact.join(found, col("a") === col("fa") && col("b") === col("fb"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(when(col("hit").isNull, 1)).as("n_missed"))
    }),


    "simhash_recall" -> ((s, dir) => {
      // identical normalized text ⇒ identical token multiset ⇒ identical
      // 64-bit simhash ⇒ hamming 0 ⇒ collision in every band; all identical-
      // fingerprint pairs must surface. No token-count filter: simhash is
      // defined for every doc.
      val corpus = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val fixture = corpus.union(
        corpus.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      val found = Dedup.simHashDedup(fixture, maxHamming = 3)
        .select(col("a").as("fa"), col("b").as("fb"), lit(1).as("hit"))
      val fp = fixture.select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      val exact = fp.select(col("fp"), col("doc_id").as("a"))
        .join(fp.select(col("fp"), col("doc_id").as("b")), "fp")
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"))
      exact.join(found, col("a") === col("fa") && col("b") === col("fb"), "left")
        .agg(count(lit(1)).as("n_exact"),
          count(when(col("hit").isNull, 1)).as("n_missed"))
    }),


    "minhash_lsh_precision" -> ((s, dir) => {
      // PRECISION gate for the LSH pair set (recall's dual): every reported
      // pair must sit in the EXACT Jaccard pair set at the same threshold —
      // reported ⊆ exact, n_violations = 0. The exact set is DuckDB-checked
      // (n_exact). Bounded scope (every 5th doc, the ngram_jaccard_pairs
      // fixture): the exact verifier is a gate path, not the scale path.
      // Pair sets from the per-JVM [[DedupArtifacts]] cache — see
      // minhash_lsh_recall.
      val ps = DedupArtifacts.minhashPrecision(s, dir)
      val exact = ps.exact.select(col("a").as("ea"), col("b").as("eb"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(
          ps.found.join(exact,
            col("a") === col("ea") && col("b") === col("eb"), "left_anti")
            .agg(count(lit(1)).as("n_violations")))
    }),


    "simhash_precision" -> ((s, dir) => {
      // PRECISION gate for the SimHash pair set: recompute each reported
      // pair's Hamming distance from raw text through an INDEPENDENT path
      // (Spark's bit_count over xor, not TextFunctions.hamming64) and assert
      // it both matches the reported distance and respects the bound.
      val fixture = docsWithNearDups(Tables.documents(s, dir))
      val reported = Dedup.simHashDedup(fixture, maxHamming = 8)
      val sigs = fixture.select(col("doc_id"),
        TextFunctions.simHash64(TextFunctions.tokens(col("text"))).as("sig"))
      // n_dup_pairs pins a REAL DuckDB value: identical normalized text ⇒
      // identical tokens ⇒ identical simhash ⇒ hamming 0 ⇒ the pair MUST be
      // reported, so the reported-pair subset with equal fingerprints equals
      // the fixture's exact-duplicate pair count, which DuckDB computes
      // independently from md5 — a simhash bug dropping such a pair FAILs
      // the hash compare instead of passing a literal-only oracle.
      val fps = fixture.select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      reported
        .join(sigs.select(col("doc_id").as("a"), col("sig").as("siga")), "a")
        .join(sigs.select(col("doc_id").as("b"), col("sig").as("sigb")), "b")
        .join(fps.select(col("doc_id").as("a"), col("fp").as("fpa")), "a")
        .join(fps.select(col("doc_id").as("b"), col("fp").as("fpb")), "b")
        .withColumn("h2", bit_count(col("siga").bitwiseXOR(col("sigb"))).cast("int"))
        .agg(
          (count(lit(1)) > 0).as("nonempty"),
          count(when(col("h2") =!= col("hamming") || col("h2") > 8, 1))
            .as("n_violations"),
          count(when(col("fpa") === col("fpb"), 1)).as("n_dup_pairs"))
    }),


    "embedding_near_dup_precision" -> ((s, dir) => {
      // PRECISION gate for SRP-LSH near-dup pairs: reported ⊆ exact all-pairs
      // cosine ≥ 0.95 on the bounded recall-fixture slice; n_exact is the
      // DuckDB-checked value, n_violations = 0 asserts no spurious pair.
      val base = Tables.embeddings(s, dir).filter(col("vec_id") < 250)
      val fixture = embsWithDups(base)
      val v = fixture.select(col("vec_id").as("id"), col("embedding").as("v"))
      // n_boundary: see embedding_near_dup_recall — no pair may sit within
      // 1e-9 of the threshold, or cross-engine fp accumulation could flake
      val pairsCos = v.select(col("id").as("ea"), col("v").as("va"))
        .crossJoin(v.select(col("id").as("eb"), col("v").as("vb")))
        .filter(col("ea") < col("eb"))
        .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      val exact = pairsCos.filter(col("cos") >= 0.95).select(col("ea"), col("eb"))
      val reported = Dedup.embeddingNearDup(fixture, dim = 64, threshold = 0.95)
        .select(col("a"), col("b"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(
          reported.join(exact,
            col("a") === col("ea") && col("b") === col("eb"), "left_anti")
            .agg(count(lit(1)).as("n_violations")))
        .crossJoin(pairsCos.agg(
          count(when(abs(col("cos") - 0.95) < 1e-9, 1)).as("n_boundary")))
    }),


    "decontaminate_bloom" -> ((s, dir) => {
      // Bloom decontamination is shuffle-free (broadcast filter in the scan);
      // its guarantee is NO false negatives: every doc the exact inverted-
      // index path flags must be dropped by the Bloom path too. FPs only
      // over-drop clean docs (≤ fpp), which this gate tolerates by design.
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val keptBloom = TextAnalysis.decontaminateBloom(train, bench, shingleN = 5)
        .select(col("doc_id").as("bk"))
      val keptExact = TextAnalysis.decontaminate(train, bench, shingleN = 5)
        .select(col("doc_id").as("ek"))
      val contaminated = train.select(col("doc_id"))
        .join(keptExact, col("doc_id") === col("ek"), "left_anti")
      contaminated.join(keptBloom, col("doc_id") === col("bk"), "left")
        .agg(count(lit(1)).as("n_contaminated"),
          count(col("bk")).as("n_contaminated_kept"))
    }),


    "ann_sq8_recall" -> ((s, dir) => {
      // recall@5 of the SQ8-quantized brute-force path vs the float baseline:
      // reconstruction error ≤ half a step per dim keeps top-k near-exact on
      // random embeddings; 0.8 sits far below measured, far above a collapse
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val brute = Similarity.bruteForceTopK(e, q, k = 5).select(col("qid"), col("cid"))
      val sq8 = Similarity.quantizedTopK(Quantization.quantizeSQ8(e), q, k = 5)
        .select(col("qid").as("q2"), col("cid").as("c2"))
      brute.join(sq8, col("qid") === col("q2") && col("cid") === col("c2"), "left")
        .agg(countDistinct(col("qid")).as("n_queries"),
          (count(col("c2")).cast("double") / count(lit(1))).as("recall"))
        .select(col("n_queries"), (col("recall") >= 0.8).as("recall_ok"))
    }),


    "ann_pq_recall" -> ((s, dir) => {
      // PQ (m=8, ksub=64, 32x compression, 2 bounded Lloyd iterations) vs
      // the float baseline. Measured on this corpus with refined codebooks:
      // ADC-only recall@5 ~0.3 (vs ~0.01 random floor — near-random gaussian
      // embeddings are the WORST case for PQ), re-rank (shortlist 50) ~0.85;
      // gates at 0.1 / 0.5 sit far below measured, far above collapse.
      // VectorExprSpec pins refined >= sampled recall on the same fixture.
      // n_dup_exact is exact: planted duplicate queries
      // (identical vectors) MUST recover their source at cos 1.0 through
      // the ADC shortlist -> re-rank path — a sharp, deterministic property,
      // not a statistical one.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      // the brute baseline is 8×5 pairs — computed ONCE, compared locally
      // (recomputing it per comparison was pure repeated work)
      val brutePairs = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("qid"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(df: DataFrame) = {
        val hits = df.select(col("qid"), col("cid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        brutePairs.count(hits.contains).toDouble / brutePairs.size
      }
      // refined codebooks + code table from the per-JVM artifact cache,
      // reused by all three paths through the pqQuery serving API (the dup
      // path encodes the grown corpus against the same books — the
      // incremental-indexing pattern): the timed window measures serving +
      // the recall math, NOT training — ann_pq_build reports that cost
      val (enc, books) = Quantization.loadPq(s, s"${AnnArtifacts.artifactRoot(s, dir)}/pq")
      val adc = recallOf(Similarity.pqQuery(enc, books, e, q, k = 5))
      val rr = recallOf(Similarity.pqQuery(enc, books, e, q, k = 5, shortlist = 50))
      val dupQ = e.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = e.select(col("vec_id"), col("embedding")).union(dupQ)
      val nDup = Similarity.pqQuery(Quantization.encodePq(corpus, books), books,
        corpus, dupQ, k = 1, shortlist = 20)
        .filter(col("rnk") === 1 && col("cid") === col("qid") - 1000000L &&
          col("cos") === 1.0)
        .count()
      import s.implicits._
      Seq((8L, adc >= 0.1, rr >= 0.5, nDup))
        .toDF("n_queries", "adc_ok", "rerank_ok", "n_dup_exact")
    }),


    "ann_ivfpq_recall" -> ((s, dir) => {
      // the full production composition: IVF probe pruning × PQ codes × ADC
      // × exact re-rank, both quantizers k-means-refined (2 bounded Lloyd
      // iterations). Measured recall@5 ~0.78 refined vs ~0.63 sampled
      // (nlist=16, nprobe=8, m=8, ksub=64, shortlist=50) on the near-random
      // corpus — the compounded IVF+PQ loss; gate at 0.25 (vs 0.01 random
      // floor). Planted identical queries must come back exactly (same
      // list, shortlisted, cos 1.0).
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val brutePairs = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("qid"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // both refined quantizers + the encoded code table from the per-JVM
      // artifact cache, reused by both paths (the dup path encodes the grown
      // corpus against the same artifact via ivfPqEncode — the incremental-
      // indexing pattern): the timed window measures serving + the recall
      // math, NOT training — ann_ivfpq_build reports that cost
      val index = Similarity.loadIvfPq(s, s"${AnnArtifacts.artifactRoot(s, dir)}/ivfpq")
      val books = index.books
      val enc = index.encoded
      val hits = Similarity.ivfPqQuery(enc, index.centroids, books, e, q,
        k = 5, nprobe = 8, shortlist = 50)
        .select(col("qid"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = brutePairs.count(hits.contains).toDouble / brutePairs.size
      val dupQ = e.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val corpus = e.select(col("vec_id"), col("embedding")).union(dupQ)
      val nDup = Similarity.ivfPqQuery(
        Similarity.ivfPqEncode(corpus, index.centroids, books),
        index.centroids, books, corpus, dupQ, k = 1, nprobe = 4, shortlist = 20)
        .filter(col("rnk") === 1 && col("cid") === col("qid") - 1000000L &&
          col("cos") === 1.0)
        .count()
      import s.implicits._
      Seq((8L, recall >= 0.25, nDup)).toDF("n_queries", "recall_ok", "n_dup_exact")
    }),

    "ann_recluster_recall" -> ((s, dir) => {
      // ANN list maintenance under append drift (round-17 task #5): a
      // drifted ingest clump appended against stale quantizers piles
      // into one list; maintainIvfPq must detect it (reclustered = the
      // fired flag, asserted through the hash) and the re-clustered
      // generation must still serve — recall@5 on clump-untouched
      // queries vs the exact baseline over the SAME grown corpus >= the
      // ann_ivfpq_recall floor, and planted duplicates of base vectors
      // (shifted ids, external-client convention) must come back at
      // rank 1 / cos 1.0 — the sharp availability property a wrong
      // re-encode or lost row cannot fake
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val grown = e.select(col("vec_id"), col("embedding"))
        .union(Fixtures.annDriftClump(e))
      val (path, fired) = AnnArtifacts.ivfPqDriftRoots(s, dir)
      val idx = Similarity.loadIvfPq(s, path)
      val q = e.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      val brute = Similarity.bruteForceTopK(grown, q, k = 5)
        .select(col("qid"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hits = Similarity.ivfPqQuery(idx.encoded, idx.centroids, idx.books,
          grown, q, k = 5, nprobe = 8, shortlist = 50)
        .select(col("qid"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = brute.count(hits.contains).toDouble / brute.size
      val dupQ = e.filter(col("vec_id") < 8)
        .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
      val nCos1 = Similarity.ivfPqQuery(idx.encoded, idx.centroids, idx.books,
          grown, dupQ, k = 1, nprobe = 8, shortlist = 50)
        .filter(col("rnk") === 1 && col("cos") === 1.0)
        .count()
      Seq((8L, fired, recall >= 0.25, nCos1))
        .toDF("n_queries", "reclustered", "post_ok", "n_cos1_top1")
    }),

    // ---------------- ANN build-vs-serve split (round-6 verdict #1): the
    // `*_build` entries retrain + persist on EVERY call (the honest index-
    // build cost, deliberately NOT cached); the `*_serve` entries answer a
    // query batch from the per-JVM persisted artifact through the public
    // load APIs (the honest serving cost). Serve correctness gate: query ids
    // are shifted out of the corpus id space (external-client convention)
    // and every query is a planted duplicate of a corpus row, so its source
    // row MUST come back at rank 1 / cos 1.0 — the same deterministic
    // property the recall gates pin — and each query must return exactly k
    // answers.
    "ann_ivf_build" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_build").toString
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(e, nlist = AnnArtifacts.Nlist,
          kmeansIters = AnnArtifacts.Iters), tmp)
      // counts collected eagerly from the artifact through its loader
      // (build includes the write), then the throwaway copy is removed
      val loaded = Similarity.loadIvfIndex(s, tmp)
      val (n, nc) = (loaded.assigned.count(), loaded.centroids.length.toLong)
      deleteTree(tmp)
      Seq((n, nc)).toDF("n_assigned", "n_centroids")
    }),

    "ann_pq_build" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_pq_build").toString
      val books = Quantization.buildPqCodebooks(e, m = AnnArtifacts.M,
        ksub = AnnArtifacts.Ksub, kmeansIters = AnnArtifacts.Iters)
      Quantization.savePq(Quantization.encodePq(e, books), books, tmp)
      val (codes, stored) = Quantization.loadPq(s, tmp)
      val (n, nb) = (codes.count(), stored.books.map(_.length.toLong).sum)
      deleteTree(tmp)
      Seq((n, nb)).toDF("n_codes", "n_book_rows")
    }),

    "ann_ivfpq_build" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_build").toString
      Similarity.saveIvfPq(e, tmp, nlist = AnnArtifacts.Nlist, m = AnnArtifacts.M,
        ksub = AnnArtifacts.Ksub, kmeansIters = AnnArtifacts.Iters)
      val loaded = Similarity.loadIvfPq(s, tmp)
      val (n, nc, nb) = (loaded.encoded.count(), loaded.centroids.length.toLong,
        loaded.books.books.map(_.length.toLong).sum)
      deleteTree(tmp)
      Seq((n, nc, nb)).toDF("n_codes", "n_centroids", "n_book_rows")
    }),

    "ann_ivf_serve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val idx = Similarity.loadIvfIndex(s, s"${AnnArtifacts.artifactRoot(s, dir)}/ivf")
      Similarity.ivfQuery(idx, q, k = 5, nprobe = 8).agg(
        countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_answers"),
        count(when(col("rnk") === 1 && col("cid") === col("qid") - 1000000L &&
          col("cos") === 1.0, 1)).as("n_self_top1"))
    }),

    "ann_pq_serve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val (enc, books) = Quantization.loadPq(s, s"${AnnArtifacts.artifactRoot(s, dir)}/pq")
      Similarity.pqQuery(enc, books, e, q, k = 5, shortlist = 50).agg(
        countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_answers"),
        count(when(col("rnk") === 1 && col("cid") === col("qid") - 1000000L &&
          col("cos") === 1.0, 1)).as("n_self_top1"))
    }),

    "ann_ivfpq_serve" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val idx = Similarity.loadIvfPq(s, s"${AnnArtifacts.artifactRoot(s, dir)}/ivfpq")
      Similarity.ivfPqQuery(idx.encoded, idx.centroids, idx.books, e, q,
        k = 5, nprobe = 8, shortlist = 50).agg(
        countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_answers"),
        count(when(col("rnk") === 1 && col("cid") === col("qid") - 1000000L &&
          col("cos") === 1.0, 1)).as("n_self_top1"))
    }),

    "ann_append_topk" -> ((s, dir) => {
      // append ≡ availability for ANN (the vector twin of bm25_append_topk):
      // the artifact's code table was GROWN by ivfPqEncode against stored
      // quantizers (no retraining — AnnArtifacts.ivfPqAppendRoot); queries
      // are planted shifted-id duplicates of APPENDED (odd-id) vectors, so
      // each must return exactly k answers with its source row at rank 1 /
      // cos 1.0 — an append that did not land, or landed with wrong codes
      // or in the wrong list partition, fails the hash
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") % 2 =!= 0 && col("vec_id") < 16)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val idx = Similarity.loadIvfPq(s, AnnArtifacts.ivfPqAppendRoot(s, dir))
      Similarity.ivfPqQuery(idx.encoded, idx.centroids, idx.books, e, q,
        k = 5, nprobe = 8, shortlist = 50).agg(
        countDistinct(col("qid")).as("n_queries"),
        count(lit(1)).as("n_answers"),
        count(when(col("rnk") === 1 && col("cid") === col("qid") - 1000000L &&
          col("cos") === 1.0, 1)).as("n_self_top1"))
    }),


    "curation_funnel_check" -> ((s, dir) => {
      // gates the funnel's exactly-oracle-able stages (input count, exact-
      // dedup survivor count — both plain SQL over the same fixture) plus
      // monotonicity/nonemptiness of the LSH-dependent later stages (those
      // counts depend on MinHash banding, so they cannot be DuckDB
      // literals). The dedup→LSH pipeline itself comes from the per-JVM
      // [[FunnelArtifacts]] cache (built at most once per dataset; the
      // sibling `curation_funnel` query remains an independent honest
      // full re-run — ITS timing is the pipeline's build cost). What this
      // gate derives fresh is the stage-2 cardinality through a SECOND
      // counting path — the anti-join shape [[Curation.curate]] serves
      // (exact-dedup frontier minus distinct pair b-sides) over the
      // cached, plan-severed frames — ONE action. `neardup_consistent`
      // pins its equality with the funnel's conditional-aggregation count;
      // a count/path divergence flips the boolean and fails the hash check.
      // (Round 8 re-ran the whole pipeline here — ~3.4 s of replanning for
      // no extra evidence, since stage DEFINITIONS are already the one
      // shared implementation, Curation.stageCounts.)
      import s.implicits._
      val f = FunnelArtifacts.stages(s, dir)
      val n2Independent =
        f.exactIds.join(f.dupB, Seq("doc_id"), "left_anti").count()
      Seq((f.n0, f.n1, f.n2 <= f.n1, f.n2 == n2Independent, f.n3 <= f.n2, f.n3 > 0L))
        .toDF("n_input", "n_exact_kept", "neardup_monotone", "neardup_consistent",
          "quality_monotone", "nonempty")
    }))

  // One phase of the retrieval capstone's lexical answers: the Bm25Sql
  // arithmetic (three fixed terms, top-10 by row_number) over a corpus
  // SLICE — phase 0 serves the quarter corpus, phases 1-3 serve the
  // appended/compacted/swept half corpus and must be row-identical.
  // one BM25 oracle core for the whole surface — the phase replay derives
  // from [[Oracles.bm25SingleQuerySql]] so the k1/b constants, tokenizer
  // and rounding live in exactly one place
  private def retrievalCapstonePhaseSql(pred: String): String =
    Oracles.bm25SingleQuerySql(pred, Seq("vector", "stream", "hash"), 10)

  def oracles: Map[String, String] = Map(

    // the REST lexical-serving arc: phase 0 = the quarter corpus;
    // phases 1-3 = append/compact/sweep, all serving the half corpus
    // — the compaction/sweep invisibility is ALSO hash-checked here
    // (three identical phase blocks), on top of the in-query requires
    "retrieval_lifecycle_capstone" ->
      s"""SELECT CAST(0 AS INT) AS phase, doc_id, score
         |FROM (${retrievalCapstonePhaseSql("doc_id % 4 = 0")})
         |UNION ALL
         |SELECT ph.p AS phase, doc_id, score
         |FROM (${retrievalCapstonePhaseSql("doc_id % 2 = 0")})
         |CROSS JOIN (VALUES (CAST(1 AS INT)), (CAST(2 AS INT)), (CAST(3 AS INT))) ph(p)
         |ORDER BY phase ASC, score DESC, doc_id ASC""".stripMargin,
    "contamination_check" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w) - 3),
        |           i -> array_to_string(w[i:i+4], ' '))) AS s
        |  FROM tok WHERE len(w) >= 5),
        |b AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |t AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0)
        |SELECT t.doc_id AS train_id, CAST(COUNT(DISTINCT t.g) AS BIGINT) AS n_shared
        |FROM t JOIN b ON t.g = b.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "decontaminate_bloom" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |           i -> array_to_string(w[i:i+4], ' '))) AS s
        |  FROM tok WHERE len(w) >= 5),
        |b AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |flagged AS (
        |  SELECT DISTINCT sh.doc_id FROM sh, unnest(sh.s) AS u(g)
        |  WHERE sh.doc_id % 97 <> 0 AND u.g IN (SELECT g FROM b))
        |SELECT CAST((SELECT COUNT(*) FROM flagged) AS BIGINT) AS n_contaminated,
        |       CAST(0 AS BIGINT) AS n_contaminated_kept""".stripMargin,

    "ann_sq8_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "ann_pq_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS adc_ok, true AS rerank_ok,
        |       CAST(COUNT(*) AS BIGINT) AS n_dup_exact
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "ann_ivfpq_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ok,
        |       CAST(COUNT(*) AS BIGINT) AS n_dup_exact
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    // maintenance-fired + post-recluster floor are engine-side booleans;
    // the duplicate-availability count is the sharp per-query property
    // (every planted duplicate answered at rank 1 / cos 1.0)
    "ann_recluster_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS reclustered,
        |       true AS post_ok, CAST(COUNT(*) AS BIGINT) AS n_cos1_top1
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    // build gates: artifact row counts — the code/assignment table must
    // carry every (finite — the fixture is all-finite, so COUNT(*)) corpus
    // vector; quantizer tables are shape-pinned (nlist=16, m·ksub=512)
    "ann_ivf_build" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_assigned,
        |       CAST(16 AS BIGINT) AS n_centroids
        |FROM embeddings""".stripMargin,

    "ann_pq_build" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_codes,
        |       CAST(512 AS BIGINT) AS n_book_rows
        |FROM embeddings""".stripMargin,

    "ann_ivfpq_build" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_codes,
        |       CAST(16 AS BIGINT) AS n_centroids,
        |       CAST(512 AS BIGINT) AS n_book_rows
        |FROM embeddings""".stripMargin,

    // serve gates: every query (a planted duplicate under a shifted id) must
    // return exactly k=5 answers with its source row at rank 1 / cos 1.0
    "ann_ivf_serve" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(5 * COUNT(*) AS BIGINT) AS n_answers,
        |       CAST(COUNT(*) AS BIGINT) AS n_self_top1
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "ann_pq_serve" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(5 * COUNT(*) AS BIGINT) AS n_answers,
        |       CAST(COUNT(*) AS BIGINT) AS n_self_top1
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "ann_ivfpq_serve" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(5 * COUNT(*) AS BIGINT) AS n_answers,
        |       CAST(COUNT(*) AS BIGINT) AS n_self_top1
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    // append availability: every planted duplicate of an APPENDED (odd-id)
    // vector must be answered from the grown code table — same counting
    // contract as the serve gate, over the appended id slice
    "ann_append_topk" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(5 * COUNT(*) AS BIGINT) AS n_answers,
        |       CAST(COUNT(*) AS BIGINT) AS n_self_top1
        |FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 16""".stripMargin,

    "curation_funnel_check" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |         array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), 1,
        |           greatest(CAST(floor(len(string_split_regex(trim(lower(text)), '\s+')) * 3 / 4) AS INT), 1)), ' ') AS text
        |  FROM documents)
        |SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_input,
        |       CAST((SELECT COUNT(DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) FROM d) AS BIGINT) AS n_exact_kept,
        |       true AS neardup_monotone, true AS neardup_consistent,
        |       true AS quality_monotone, true AS nonempty""".stripMargin,

    "minhash_lsh_recall" ->
      """WITH f AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 23 = 0),
        |fp AS (
        |  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM f
        |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 3)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_missed
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id""".stripMargin,

    "simhash_recall" ->
      """WITH f AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 23 = 0),
        |fp AS (
        |  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM f)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_missed
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id""".stripMargin,

    // same exact-recall contract as incremental_dedup_recall, probed
    // through the persisted save -> append -> compact index lifecycle;
    // compaction_consistent is a Spark-side structural pin (pre == post)
    "band_index_append" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> array_to_string(w[i:i+2], ' '))) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |newb AS (SELECT doc_id + 1000000 AS doc_id, s FROM sh WHERE doc_id % 37 = 0),
        |p AS (
        |  SELECT a.doc_id AS na, b.doc_id AS nb,
        |         len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
        |  FROM newb a, sh b)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_missed,
        |       true AS compaction_consistent
        |FROM p
        |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.95""".stripMargin,

    // the capstone arc: same exact-recall contract as band_index_append,
    // now served through streamed appends + an in-place compaction + the
    // retention sweep; the compaction/retention booleans are in-query
    // structural pins
    "ingest_lifecycle_capstone" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> array_to_string(w[i:i+2], ' '))) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |newb AS (SELECT doc_id + 1000000 AS doc_id, s FROM sh WHERE doc_id % 37 = 0),
        |p AS (
        |  SELECT a.doc_id AS na, b.doc_id AS nb,
        |         len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
        |  FROM newb a, sh b)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_missed,
        |       true AS flip_changed_generation, true AS served_identical,
        |       true AS prune_bounded_storage, true AS served_identical_after_prune
        |FROM p
        |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.95""".stripMargin,

    "incremental_dedup_recall" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> array_to_string(w[i:i+2], ' '))) AS s
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |        FROM documents)
        |  WHERE len(w) >= 3),
        |newb AS (SELECT doc_id + 1000000 AS doc_id, s FROM sh WHERE doc_id % 37 = 0),
        |p AS (
        |  SELECT a.doc_id AS na, b.doc_id AS nb,
        |         len(list_intersect(a.s, b.s)) AS inter, len(a.s) AS la, len(b.s) AS lb
        |  FROM newb a, sh b)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_missed
        |FROM p
        |WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.95""".stripMargin,

    "ann_lsh_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "ann_ivf_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, true AS recall_ok
        |FROM embeddings WHERE vec_id < 8""".stripMargin,

    "minhash_lsh_precision" ->
      """WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |d0 AS (
        |  SELECT doc_id, text FROM src
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |         array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), 1,
        |           greatest(CAST(floor(len(string_split_regex(trim(lower(text)), '\s+')) * 3 / 4) AS INT), 1)), ' ') AS text
        |  FROM src),
        |s AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(string_split_regex(trim(lower(text)), '\s+')) - 1),
        |           i -> array_to_string((string_split_regex(trim(lower(text)), '\s+'))[i:i+2], ' '))) AS sh
        |  FROM d0
        |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 3),
        |p AS (
        |  SELECT len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM s a, s b WHERE a.doc_id < b.doc_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_violations
        |FROM p WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.6""".stripMargin,

    "simhash_precision" ->
      """WITH src AS (SELECT doc_id, text FROM documents),
        |d0 AS (
        |  SELECT doc_id, text FROM src
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |         array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), 1,
        |           greatest(CAST(floor(len(string_split_regex(trim(lower(text)), '\s+')) * 3 / 4) AS INT), 1)), ' ') AS text
        |  FROM src),
        |f AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp FROM d0)
        |SELECT true AS nonempty, CAST(0 AS BIGINT) AS n_violations,
        |       CAST((SELECT COUNT(*) FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id) AS BIGINT) AS n_dup_pairs""".stripMargin,

    "embedding_near_dup_precision" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250),
        |v AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM base),
        |p AS (
        |  SELECT a.id AS ida, b.id AS idb,
        |    list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]))
        |      / (sqrt(list_sum(list_transform(a.e, x -> x * x))) * sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cos
        |  FROM v a, v b WHERE a.id < b.id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_violations,
        |       CAST((SELECT COUNT(*) FROM p WHERE abs(cos - 0.95) < 1e-9) AS BIGINT) AS n_boundary
        |FROM p WHERE cos >= 0.95""".stripMargin,

    "embedding_near_dup_recall" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250),
        |v AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM base),
        |p AS (
        |  SELECT a.id AS ida, b.id AS idb,
        |    list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]))
        |      / (sqrt(list_sum(list_transform(a.e, x -> x * x))) * sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cos
        |  FROM v a, v b WHERE a.id < b.id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_missed,
        |       CAST((SELECT COUNT(*) FROM p WHERE abs(cos - 0.95) < 1e-9) AS BIGINT) AS n_boundary
        |FROM p WHERE cos >= 0.95""".stripMargin)
}
