package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}

/**
 * Deduplication operators for training-data curation (driver brief / SURVEY.md
 * §7.2 M6). All are pure DataFrame pipelines — shuffle-based, no driver-side
 * state, no collect — so they scale with executor count:
 *
 *  - exact:      hash-groupBy on a normalized fingerprint (1 shuffle)
 *  - MinHash:    shingle → signature (narrow) → LSH band explode →
 *                bucket-join (1 shuffle on band key) → verified pairs
 *  - SimHash:    64-bit signature → band buckets → Hamming-verified pairs
 *  - n-gram Jaccard: exact verification used by the candidate generators
 *  - embedding:  SRP-LSH buckets → cosine-verified near-dup pairs
 *
 * Pair outputs use `(a, b)` with a < b (ids) so each pair appears once.
 * At 100 TB: candidate generation must never be O(n²) — every candidate set
 * here comes from an equi-join on a bucket key (band hash / simhash band /
 * SRP bucket), which Catalyst executes as a shuffled hash join keyed on the
 * bucket. Skewed buckets (boilerplate docs) are bounded by `maxBucketSize`.
 */
object Dedup {

  /**
   * Exact dedup: keep the first row (min of `idCol`) per normalized-text
   * fingerprint. One partial/final hash aggregate; the canonical-id choice is
   * deterministic.
   */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Rows surviving exact dedup (the kept representatives). */
  def exactDedupKept(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(TextFunctions.fingerprint(col(textCol))).orderBy(col(idCol))
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** [[exactDedupKept]] plus a `grp_n` column — the size of each
    * representative's duplicate group, counted in the SAME window pass
    * (an unbounded-frame count over the fingerprint partition reuses the
    * row_number's shuffle and sort). `Σ grp_n` over the frontier equals
    * the input cardinality, so a caller that needs both (the curation
    * funnel's stage-0 count) folds it into its stage aggregate instead of
    * spending a separate corpus count action. */
  def exactDedupKeptCounted(docs: DataFrame,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val w = Window.partitionBy(fp).orderBy(col(idCol))
    docs
      // same partitioning AND ordering as the row_number window (whole-
      // partition frame) — one Window operator computes both, instead of a
      // second shuffle+sort for an orderless count window
      .withColumn("grp_n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /**
   * MinHash + LSH near-duplicate pairs.
   *
   * numHashes = bands × rowsPerBand. Pipeline:
   *   1. narrow: shingle(n) → minhash signature (numHashes values)
   *   2. explode to `bands` rows: (bandId, xxhash64(band slice)) — each doc
   *      contributes `bands` bucket keys
   *   3. self-join on (bandId, bandHash) → candidate pairs (shuffle on the
   *      band key; this is the ONLY shuffle that grows with corpus size)
   *   4. verify: exact shingle-set Jaccard ≥ threshold
   *
   * Returns (a, b, jaccard) with a < b, distinct.
   */
  def minHashLsh(docs: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                 threshold: Double = 0.7,
                 maxBucketSize: Int = 1000): DataFrame =
    lshImpl(docs, idCol, textCol, shingleN, bands, rowsPerBand, threshold,
      maxBucketSize, wantReport = false)._1

  /**
   * [[minHashLsh]] plus its COVERAGE report: the second frame has one row
   * per `(band, bh)` bucket the `maxBucketSize` cap excluded from pair
   * generation, with its size. The cap is a documented recall trade
   * (boilerplate floods would otherwise explode the bucket self-join
   * O(bucket²)), but at 100 TB "covered everything" must be checkable —
   * a non-empty report tells the operator exactly which floods were
   * skipped and how big they were, from the size table the cap already
   * computes. The report is eagerly materialized (it is at most one row
   * per over-cap bucket) so it stays valid after the internal shingle
   * cache is released.
   */
  def minHashLshWithReport(docs: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text",
                           shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                           threshold: Double = 0.7,
                           maxBucketSize: Int = 1000): (DataFrame, DataFrame) = {
    val (pairs, report) = lshImpl(docs, idCol, textCol, shingleN, bands,
      rowsPerBand, threshold, maxBucketSize, wantReport = true)
    (pairs, report.get)
  }

  private def lshImpl(docs: DataFrame,
                      idCol: String, textCol: String,
                      shingleN: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double,
                      maxBucketSize: Int,
                      wantReport: Boolean): (DataFrame, Option[DataFrame]) = {
    val numHashes = bands * rowsPerBand
    // sigd feeds banding AND both verify joins — persist so the shingling
    // pass runs once, not three times. Lifecycle is bounded: the result is
    // eagerly materialized (localCheckpoint, lineage cut) at the end of this
    // method and sigd is unpersisted before returning, so repeated calls
    // never accumulate cached shingle arrays.
    val sigd = docs
      .select(col(idCol).as("id"),
        array_distinct(TextFunctions.shingles(col(textCol), shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fill the cache in one sequential pass: the banding exchange and both
    // verify joins scan sigd in concurrent stages, each of which would
    // otherwise compute and store the same blocks
    sigd.count()

    // Slim band rows: (id, band, bandHash) ONLY — the shingle arrays stay out
    // of the explode/shuffle/distinct path (carrying them through banding was
    // ~10× the whole operator's cost; they rejoin below just for candidates).
    val banded = sigd
      .withColumn("sig", TextFunctions.minHashSignature(col("sh"), numHashes))
      .select(
        col("id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bh"))
        }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))

    // Skew bound: drop pathological buckets (boilerplate floods) — documented
    // coverage cap; keeps the join fan-out O(bucket²) small.
    val wb = Window.partitionBy(col("band"), col("bh"))
    val bounded = banded
      .withColumn("bsz", count(lit(1)).over(wb))
      .filter(col("bsz") <= maxBucketSize)
      .drop("bsz")

    val cand = bounded.select(col("band"), col("bh"), col("id").as("a"))
      .join(bounded.select(col("band"), col("bh"), col("id").as("b")), Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()

    val verified = cand
      .join(sigd.select(col("id").as("a"), col("sh").as("sha")), "a")
      .join(sigd.select(col("id").as("b"), col("sh").as("shb")), "b")
      .withColumn("jaccard", jaccardShingles(col("sha"), col("shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))

    // dropped-bucket report (only when asked — the plain path pays nothing):
    // one tiny aggregate over the band rows, materialized while the shingle
    // cache is still warm so its lineage does not replay shingling later
    val report =
      if (!wantReport) None
      else Some(banded.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("bucket_size"))
        .filter(col("bucket_size") > maxBucketSize)
        .localCheckpoint())

    // Materialize the (small: one row per verified near-dup pair) result and
    // cut its lineage so sigd can be released NOW rather than leaking until
    // session end. localCheckpoint blocks are freed by the ContextCleaner
    // when the frame is GC'd; on a multi-executor cluster with dynamic
    // allocation, swap for reliable checkpoint or caller-owned lifecycle.
    val out = verified.localCheckpoint()
    sigd.unpersist()
    (out, report)
  }

  /**
   * Storable LSH band index over a corpus: the slim `(id, band, bh)` rows
   * [[minHashLsh]] shuffles internally, materialized as a table. Write it
   * partitioned however the serving layout likes; its size is
   * |corpus| × bands × ~20 bytes regardless of document length.
   *
   * The point is INCREMENTAL dedup: banding a new batch and equi-joining it
   * against this index finds near-dups of a 100 TB corpus without touching
   * corpus text again — the daily-ingest shape
   * ([[nearDupsAgainstIndex]]).
   */
  def buildBandIndex(docs: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text",
                     shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    bandRows(docs, idCol, textCol, shingleN, bands, rowsPerBand)

  /**
   * Persist a band index partitioned by `band`: an incremental-dedup probe
   * joins on `(band, bh)`, so partition pruning cuts the scan to the bands
   * being probed, and within a band the parquet min/max stats on `bh` skip
   * row groups. Written sorted by `bh` within each band for that reason.
   */
  def saveBandIndex(index: DataFrame, path: String): Unit =
    SegmentStore.write(bandLayout(index), path, replace = true, Seq("band"))

  private def bandLayout(index: DataFrame): DataFrame =
    index.repartition(col("band")).sortWithinPartitions(col("bh"))

  /** Read a stored band index back; schema (id, bh, band). */
  def loadBandIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    SegmentStore.load(spark, path, "band index")

  /**
   * Append an ingest batch's band rows as a [[SegmentStore]] append
   * commit under the same `band=` partition layout (no base rewrite — the
   * segment-append
   * discipline shared with [[graft.operators.Retrieval.appendTrigramIndex]]
   * and [[graft.streaming.StreamingWinnow.appendFingerprints]]): admitted
   * batches join the index they were just probed against, so
   * [[nearDupsAgainstIndex]] admission control keeps working under
   * continuous ingest without whole-index rebuilds. Band rows across
   * batches are distinct as long as the batches' doc ids are, so the
   * loaded union needs no dedup. Build the batch's rows with
   * [[buildBandIndex]] using the SAME shingleN/bands/rowsPerBand as the
   * base — banding parameters are baked into the hash values; a mix
   * silently probes nothing.
   */
  def appendBandIndex(index: DataFrame, path: String): Unit =
    SegmentStore.write(bandLayout(index), path, replace = false, Seq("band"))

  /**
   * Compact a band index in place: fold the base save plus its append
   * commits into one commit of `path` — per band partition, `bh`-sorted
   * files whose parquet min/max stats prune probe row groups again (each
   * append lands unsorted RELATIVE to the base's runs, so under
   * continuous ingest probes pay more files and overlapping stat ranges
   * until a fold restores the layout). Rows are preserved VERBATIM
   * (batches are id-distinct by construction — compaction is file-layout
   * work, no dedup), audited by [[SegmentStore.compact]]; probing the
   * compacted index is row-identical to probing the pile, and a reader
   * loaded before keeps the pile's files for the store's grace (the
   * ingest_lifecycle_capstone gate composes that arc).
   */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    SegmentStore.compact(spark, path, "band index", Seq("band"), identity)(bandLayout)

  /**
   * Near-dup pairs (new_id, corpus_id, jaccard) between a NEW batch and an
   * already-indexed corpus. Candidates come from the band equi-join
   * (new-batch bands × stored index); only candidate ids re-shingle their
   * text (the batch side fully, the corpus side via a semi-joined slice of
   * `corpusDocs`) for exact Jaccard verification — corpus-wide shingling
   * never reruns.
   */
  def nearDupsAgainstIndex(newDocs: DataFrame, bandIndex: DataFrame,
                           corpusDocs: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text",
                           shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                           threshold: Double = 0.7): DataFrame = {
    val newBands = bandRows(newDocs, idCol, textCol, shingleN, bands, rowsPerBand)
      .withColumnRenamed("id", "new_id")
    val cand = newBands
      .join(bandIndex.withColumnRenamed("id", "corpus_id"), Seq("band", "bh"))
      .select(col("new_id"), col("corpus_id")).distinct()
    def shingled(df: DataFrame, as: String, sh: String) = df
      .select(col(idCol).as(as),
        array_distinct(TextFunctions.shingles(col(textCol), shingleN)).as(sh))
    val corpusSlice = shingled(
      corpusDocs.join(cand.select(col("corpus_id").as(idCol)).distinct(), idCol),
      "corpus_id", "shc")
    cand
      .join(shingled(newDocs, "nid", "shn"), col("new_id") === col("nid"))
      .join(corpusSlice, "corpus_id")
      .withColumn("jaccard", jaccardShingles(col("shn"), col("shc")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Shared banding: docs → slim (id, band, bh) rows. */
  private def bandRows(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    docs
      .select(col(idCol).as("id"),
        array_distinct(TextFunctions.shingles(col(textCol), shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", TextFunctions.minHashSignature(col("sh"), numHashes))
      .select(
        col("id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bh"))
        }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))
  }

  /**
   * Connected components over near-dup pairs: iterative min-label
   * propagation ("hash-to-min"). Single-pass drop-the-b-side (what
   * [[graft.operators.Curation.curate]] uses) over-keeps when duplicates
   * chain (a~b, b~c, a≁c keeps a AND drops b,c only if both pairs
   * surface); clustering assigns every document of a transitive dup group
   * to the group's min id, so exactly one representative per group
   * survives.
   *
   * Each iteration propagates the neighborhood min (one hash-join +
   * min-aggregate) and then SHORTCUTS pointers (label ← label-of-label, one
   * more self-join) — the pointer-doubling step turns O(diameter) rounds
   * into O(log diameter). Near-dup clusters are shallow (boilerplate stars,
   * version chains), so typically ≤ 3 rounds. Round 0 is free: labels are
   * seeded with min(id, min neighbor) straight off the edge list. Lineage is
   * cut per round (`localCheckpoint`; swap for reliable checkpoint on a
   * cluster) — without the cut, iteration i replays all i−1 predecessors.
   *
   * Returns (id, cluster_rep = min id reachable). Singletons (ids not in any
   * pair) are absent — callers treat missing as self-cluster.
   */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
                  driverEdgeLimit: Int = 1 << 22): DataFrame = {
    // DRIVER-SIDED SMALL PATH (optimization guide §1.2 step 1 — remove
    // the rounds outright, the [[Graph.pageRank]] node-sized-state
    // discipline): the pair list is DUP-RATE-proportional, not
    // corpus-proportional, so in the common case it fits the driver and
    // the whole fixpoint is a union-find over collected longs — zero
    // Spark rounds instead of 2 jobs × O(log diameter) rounds. The
    // bounded probe is `limit(driverEdgeLimit + 1)`: under the limit the
    // pair subtree runs ONCE (same price the distributed path pays to
    // checkpoint it); over it, the distributed loop below re-runs the
    // subtree — the at-scale path, where that cost is the floor anyway.
    // Result identity: union-find computes the COMPLETE closure with
    // min-id representatives — exactly the fixpoint the rounds converge
    // to (and the recursive-CTE oracles replay); `maxIter` only caps the
    // distributed loop. Set `driverEdgeLimit = 0` to force the
    // distributed path (specs pin both).
    val p2 = pairs.select(col("a"), col("b"))
    val longIds = p2.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && driverEdgeLimit > 0) {
      // PRIMITIVE collect (guide §5 — the driver should hold as little as
      // possible): a specialized (Long, Long) tuple is ~3× leaner than a
      // generic Row of boxed longs, cutting the worst-case transient
      // allocation at the probe limit. Decoding a NULL id into the
      // primitive tuple fails loudly; current producers never emit null
      // ids, but if one ever does, fall through to the distributed loop
      // (whose groupBy semantics define the behavior) instead of crashing
      // the small path. Any other failure surfaces from the probe itself.
      val rows: Array[(Long, Long)] =
        try p2.as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong))
          .limit(driverEdgeLimit + 1).collect()
        catch { case e: Exception if nullIdDecode(e) => null }
      if (rows != null && rows.length <= driverEdgeLimit) {
        val idx = new java.util.HashMap[Long, Int]()
        val ids = new scala.collection.mutable.ArrayBuffer[Long]()
        val parent = new scala.collection.mutable.ArrayBuffer[Int]()
        def ix(v: Long): Int = {
          val got = idx.getOrDefault(v, -1)
          if (got >= 0) got
          else {
            val i = ids.length
            idx.put(v, i); ids += v; parent += i; i
          }
        }
        def find(i0: Int): Int = {
          var i = i0
          while (parent(i) != i) {
            parent(i) = parent(parent(i)) // path halving
            i = parent(i)
          }
          i
        }
        rows.foreach { case (a, b) =>
          val ra = find(ix(a))
          val rb = find(ix(b))
          if (ra != rb) parent(ra) = rb
        }
        val minOfRoot = new java.util.HashMap[Int, Long]()
        var i = 0
        while (i < ids.length) {
          val r = find(i)
          // getOrDefault(MaxValue): no reliance on null-unboxing for
          // absent keys (ids are real ids, always < MaxValue)
          if (ids(i) < minOfRoot.getOrDefault(r, Long.MaxValue))
            minOfRoot.put(r, ids(i))
          i += 1
        }
        val out = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
        i = 0
        while (i < ids.length) {
          out.add(org.apache.spark.sql.Row(ids(i), minOfRoot.get(find(i))))
          i += 1
        }
        return pairs.sparkSession.createDataFrame(out,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("cluster_rep",
              org.apache.spark.sql.types.LongType))))
      }
    }
    val edges = p2
      .union(p2.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    // distributed-loop partition sizing (guide §2.2, [[Graph.distLoop]]):
    // the loop's per-round exchanges are edge-keyed, so their width comes
    // from the checkpointed edge volume (a cheap block count) instead of
    // the static session value, which undersizes them at warehouse scale.
    // The rounds run in a sized clone of the session, whose AQE setting
    // is the caller's.
    Graph.distLoop(pairs.sparkSession, edges.count())(edges) { loopFrames =>
    val Seq(edges) = loopFrames
    // round 0 fused into init: label = min(id, min neighbor) in one agg
    var labels = edges.groupBy(col("a"))
      .agg(min(col("b")).as("_nb"))
      .select(col("a").as("id"), least(col("a"), col("_nb")).as("label"))
      .localCheckpoint()
    // convergence witness: labels only ever DECREASE, so the label sum
    // strictly drops until fixpoint — one scalar agg per round replaces a
    // join-and-diff check. coalesce(…, 0): an EMPTY pair set (nothing to
    // dedup — the common production case) sums to NULL, which must read as
    // "already converged", not NPE.
    def sumOf(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var labelSum = sumOf(labels)
    // an empty pair set is already converged — skip the (empty) propagation
    // round its joins/checkpoint would otherwise still run
    var converged = labels.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("nl")), "b")
        .groupBy(col("a").as("id")).agg(min(col("nl")).as("nbr_min"))
      val cand = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      // pointer doubling: label ← min(label, label[label]). Every label IS an
      // id in the table (labels start as ids and only copy other labels), so
      // the lookup side is cand itself.
      val next = cand.as("x")
        .join(cand.select(col("id").as("lid"), col("label").as("ll")).as("y"),
          col("x.label") === col("lid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.label"), coalesce(col("ll"), col("x.label"))).as("label"))
        .localCheckpoint()
      val nextSum = sumOf(next)
      labels = next
      converged = nextSum == labelSum
      labelSum = nextSum
      i += 1
    }
    labels.withColumnRenamed("label", "cluster_rep")
    } // distLoop
  }

  /** A NULL id met the primitive `(Long, Long)` decoder of the
    * [[dupClusters]] probe (anywhere in the cause chain: the decode runs
    * on the driver, or inside a task when the plan carries it). */
  private def nullIdDecode(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case st: org.apache.spark.SparkThrowable =>
        st.getCondition == "NOT_NULL_ASSERT_VIOLATION"
      case _ => false
    }

  /**
   * The end-product of the dedup family: one canonical document per near-dup
   * cluster plus every singleton — what a training pipeline actually writes
   * out after candidate generation ([[minHashLsh]] / [[simHashDedup]] /
   * [[ngramJaccardPairs]]) and [[dupClusters]]. Keep rule: the LONGEST text
   * in the cluster wins (truncations/excerpts lose to their source), ties
   * break to the smallest id — deterministic, so re-runs keep the same docs.
   *
   * Output: (idCol of kept doc, cluster_rep, n_cluster). Singletons keep
   * themselves with `cluster_rep = id, n_cluster = 1`.
   *
   * Scale shape: the argmax groupBy runs over CLUSTER MEMBERS only (docs
   * that appear in some near-dup pair — dup-rate-proportional, not
   * corpus-proportional); singletons pass through via one anti-join against
   * the (equally small) label table, never shuffling on a group key.
   */
  def keepRepresentatives(docs: DataFrame, pairs: DataFrame,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val clusters = dupClusters(pairs) // (id, cluster_rep) — members only
    val member = docs.join(clusters, docs(idCol) === clusters("id"))
      .select(col("cluster_rep").as("_cl"), clusters("id").as("_id"),
        length(docs(textCol)).cast("long").as("_len"))
    // argmax by (len, -id): lexicographic struct max = longest text,
    // then smallest id
    val winners = member.groupBy(col("_cl"))
      .agg(
        max(struct(col("_len"), (lit(0L) - col("_id")).as("_neg"))).as("_w"),
        count(lit(1)).as("n_cluster"))
      .select((lit(0L) - col("_w").getField("_neg")).as(idCol),
        col("_cl").as("cluster_rep"), col("n_cluster"))
    val singletons = docs
      .join(clusters, docs(idCol) === clusters("id"), "left_anti")
      .select(col(idCol), col(idCol).as("cluster_rep"), lit(1L).as("n_cluster"))
    winners.unionByName(singletons)
  }

  /**
   * Id-keyed variant of [[keepRepresentatives]] for modalities without a
   * text column (embeddings, media): the MIN id in each near-dup cluster
   * wins, every singleton keeps itself. Composes [[semanticDedup]] /
   * [[embeddingNearDup]] pairs into the dedup end-product (the surviving
   * row set). Same scale shape: closure and anti-join touch only pair
   * members (dup-rate-proportional), the corpus passes through narrow.
   */
  def keepMinIdRepresentatives(all: DataFrame, pairs: DataFrame,
                               idCol: String = "vec_id"): DataFrame = {
    val losers = dupClusters(pairs) // (id, cluster_rep = min reachable id)
      .filter(col("id") =!= col("cluster_rep"))
      .select(col("id"))
    all.join(losers, all(idCol) === losers("id"), "left_anti")
  }

  /** Exact Jaccard over two shingle arrays (set semantics). */
  private def jaccardShingles(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    val ad = array_distinct(a)
    val bd = array_distinct(b)
    val inter = size(array_intersect(ad, bd)).cast("double")
    val union = (size(ad) + size(bd) - size(array_intersect(ad, bd))).cast("double")
    when(union === 0.0, lit(0.0)).otherwise(inter / union)
  }

  /**
   * n-gram Jaccard near-dup pairs WITHOUT LSH (exact, for small candidate
   * scopes or oracle checks). Candidate generation is a shared-shingle
   * inverted-index equi-join (a pair with jaccard ≥ threshold > 0 shares at
   * least one shingle, so no qualifying pair is missed) — linear in
   * shingle-collision pairs, quadratic only WITHIN a shingle's posting list.
   * A size-ratio cull (`min(|A|,|B|)/max(|A|,|B|) ≥ threshold`, implied by
   * `jaccard ≤ min/max`) drops hopeless pairs before the division. Use
   * [[minHashLsh]] at scale.
   */
  def ngramJaccardPairs(docs: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val d = docs.select(col(idCol).as("id"),
      array_distinct(TextFunctions.shingles(col(textCol), shingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
    val ex = d.select(col("id"), explode(col("sh")).as("g"))
    val sizes = d.select(col("id"), size(col("sh")).as("n"))
    val pairs = ex.as("x").join(ex.as("y"), col("x.g") === col("y.g"))
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), "b")
      // size-ratio cull: jaccard ≤ min/max, so these pairs cannot qualify
      .filter(least(col("na"), col("nb")).cast("double") /
        greatest(col("na"), col("nb")).cast("double") >= threshold)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /**
   * Asymmetric shingle-CONTAINMENT pairs: `C(a→b) = |S(a)∩S(b)| / |S(a)|`.
   * Symmetric Jaccard misses subset inclusion — a short document quoted
   * whole inside a long one, or a boilerplate-wrapped copy, keeps
   * containment ≈ 1 on the small side while Jaccard shrinks with the size
   * gap. Returns one row per unordered pair (a < b) with BOTH directions'
   * containments, kept when either direction ≥ `threshold`.
   *
   * Scale shape: pair generation is the inverted-index equi-join on the
   * shingle key with a DOCUMENT-FREQUENCY cut — shingles appearing in more
   * than `maxDf` documents are excluded from pairing (a boilerplate
   * shingle would otherwise pair everything with everything; the same
   * coverage-cap discipline as [[minHashLsh]]'s `maxBucketSize`).
   * Denominators stay the FULL per-document shingle counts, so the df-cut
   * can only lower a containment estimate, never inflate it. Exact
   * pairwise output is inherently quadratic in shingle collisions — use
   * bounded scopes or [[minHashLsh]] candidates upstream at corpus scale.
   */
  def containmentPairs(docs: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3, threshold: Double = 0.8,
                       maxDf: Int = 100): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containmentPairs: threshold must be in (0, 1], got $threshold")
    require(maxDf >= 1, s"containmentPairs: maxDf must be >= 1, got $maxDf")
    // ex feeds the df-count, BOTH sides of the self-join and (via groupBy)
    // the size table — persist so shingling runs once, not ~5×; the
    // (small, thresholded) pair output is eagerly materialized with a
    // lineage cut and ex unpersisted before returning (the [[minHashLsh]]
    // discipline)
    val ex = docs.select(col(idCol).as("id"),
        explode(array_distinct(TextFunctions.shingles(col(textCol), shingleN))).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // fill the cache in one sequential pass: the df-count, the sizes and
      // both join sides scan ex in concurrent stages, each of which would
      // otherwise compute and store the same blocks
      ex.count()
      val dfOk = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("g"))
      val exf = ex.join(dfOk, "g")
      val sizes = ex.groupBy(col("id")).agg(count(lit(1)).as("n"))
      exf.as("x").join(exf.as("y"), col("x.g") === col("y.g"))
        .filter(col("x.id") < col("y.id"))
        .groupBy(col("x.id").as("a"), col("y.id").as("b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "na"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), "b")
        .withColumn("ca", col("inter").cast("double") / col("na").cast("double"))
        .withColumn("cb", col("inter").cast("double") / col("nb").cast("double"))
        .filter(greatest(col("ca"), col("cb")) >= threshold)
        .select(col("a"), col("b"),
          round(col("ca"), 6).as("contain_a_in_b"),
          round(col("cb"), 6).as("contain_b_in_a"))
        .localCheckpoint()
    } finally ex.unpersist()
  }

  /**
   * Cross-source shingle-overlap matrix — the data-governance view of
   * contamination: for every unordered source pair, how many DISTINCT
   * n-gram shingles they share, plus per-source totals and the Jaccard of
   * their shingle sets. High overlap between a "clean" and a "web" source
   * is leakage a per-document dedup can miss.
   *
   * Scale shape: one (source, shingle) distinct projection (a corpus-
   * shingle shuffle, same cost class as vocabulary building), then a
   * self-equi-join on the shingle key whose per-key fan-out is bounded by
   * the SOURCE COUNT squared (not the corpus) — no df-cut needed; the
   * result is #sources² rows.
   */
  def sourceOverlapMatrix(docs: DataFrame, sourceCol: String = "source",
                          textCol: String = "text", shingleN: Int = 3): DataFrame = {
    // ss feeds the size table and BOTH self-join sides — persist so the
    // corpus shingle explode+distinct runs once, not ~3×; the #sources²-row
    // result is eagerly materialized with a lineage cut and ss unpersisted
    // before returning (the [[containmentPairs]] discipline)
    val ss = docs.select(col(sourceCol).as("s"),
        explode(array_distinct(TextFunctions.shingles(col(textCol), shingleN))).as("g"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = ss.groupBy(col("s")).agg(count(lit(1)).as("n"))
      ss.as("x").join(ss.as("y"), col("x.g") === col("y.g"))
        .filter(col("x.s") < col("y.s"))
        .groupBy(col("x.s").as("src_a"), col("y.s").as("src_b"))
        .agg(count(lit(1)).as("shared"))
        .join(sizes.withColumnRenamed("s", "src_a").withColumnRenamed("n", "na"), "src_a")
        .join(sizes.withColumnRenamed("s", "src_b").withColumnRenamed("n", "nb"), "src_b")
        .select(col("src_a"), col("src_b"), col("shared"), col("na"), col("nb"),
          round(col("shared").cast("double") /
            (col("na") + col("nb") - col("shared")).cast("double"), 6).as("jaccard"))
        .localCheckpoint()
    } finally ss.unpersist()
  }

  /**
   * SimHash near-dup pairs: 64-bit signature, banded into `bands` chunks of
   * 64/bands bits (a pair within Hamming distance d collides on ≥1 band when
   * d < bands); verify candidates by exact Hamming ≤ `maxHamming`.
   *
   * `maxBucketSize` is the same documented coverage cap as [[minHashLsh]]'s:
   * a (band, chunk) bucket's self-join fan-out is O(bucket²), and at 10⁹+
   * docs even RANDOM 16-bit chunk collisions put ~|corpus|/2¹⁶ docs in every
   * bucket — a boilerplate flood makes it far worse. Buckets above the cap
   * are dropped (pairs in them may still collide on another band); raise
   * `bands`' bit width or the cap for recall-critical small corpora.
   */
  def simHashDedup(docs: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   bands: Int = 4, maxHamming: Int = 3,
                   maxBucketSize: Int = 100000): DataFrame =
    hamming64Pairs(
      docs.select(col(idCol).as("id"),
        TextFunctions.simHash64(TextFunctions.tokens(col(textCol))).as("sh")),
      idCol = "id", hashCol = "sh",
      bands = bands, maxHamming = maxHamming, maxBucketSize = maxBucketSize)

  /**
   * Banded Hamming-neighbor pairs over ANY 64-bit signature column — the
   * shared engine beneath [[simHashDedup]] (text SimHash) and the
   * perceptual-hash image path ([[Multimodal.imagePerceptualHashes]]):
   * band the signature into `bands` chunks of 64/bands bits, equi-join on
   * (band, chunk), verify exact Hamming ≤ `maxHamming`. When
   * `maxHamming < bands` the pigeonhole guarantees EXACT recall (≤ d
   * differing bits can touch at most d < bands of the bands, so one band
   * matches) as long as no bucket exceeds `maxBucketSize` — the same
   * documented coverage cap as [[minHashLsh]]'s.
   *
   * Output: (a, b, hamming) with a < b.
   */
  def hamming64Pairs(sigs: DataFrame, idCol: String, hashCol: String,
                     bands: Int = 4, maxHamming: Int = 3,
                     maxBucketSize: Int = 100000): DataFrame = {
    val banded = banded64(sigs, idCol, hashCol, bands)
    val wb = Window.partitionBy(col("band"), col("chunk"))
    val bounded = banded
      .withColumn("bsz", count(lit(1)).over(wb))
      .filter(col("bsz") <= maxBucketSize)
      .drop("bsz")
    val l = bounded.select(col("band"), col("chunk"), col("id").as("a"), col("sh").as("ha"))
    val r = bounded.select(col("band"), col("chunk"), col("id").as("b"), col("sh").as("hb"))
    l.join(r, Seq("band", "chunk")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), TextFunctions.hamming64(col("ha"), col("hb")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Band a 64-bit signature column into `bands` (band, chunk) keys:
    * (id, sh, band, chunk) — the shared explode beneath [[hamming64Pairs]]
    * and the streaming flagger ([[graft.streaming.StreamingPhashDedup]]).
    * Every op is narrow, so it applies to a streaming frame unchanged. */
  private[graft] def banded64(sigs: DataFrame, idCol: String, hashCol: String,
                              bands: Int): DataFrame = {
    require(bands >= 1 && 64 % bands == 0,
      s"banded64: bands must divide 64, got $bands")
    val bits = 64 / bands
    sigs.select(col(idCol).as("id"), col(hashCol).as("sh"))
      .select(col("id"), col("sh"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            col("sh").bitwiseAND(lit(((1L << bits) - 1) << (b * bits))).as("chunk"))
        }: _*)).as("bb"))
      .select(col("id"), col("sh"), col("bb.band"), col("bb.chunk"))
  }

  /**
   * SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication"): cluster embeddings with the
   * coarse k-means quantizer, then verify pairwise cosine ≥ `threshold`
   * WITHIN each cluster only — the cluster prunes the O(n²) to
   * O(Σ |cluster|²). The complement of [[embeddingNearDup]]'s hyperplane
   * buckets: clustering follows the data's density (one semantic
   * neighborhood = one cluster) where SRP cuts blind hyperplanes, so
   * near-dups straddling a hyperplane that land in one cluster are found
   * here and vice versa.
   *
   * The quantizer is [[Similarity.buildIvfIndex]]'s (deterministic
   * md5-order seed — engine-replayable, so the gate's DuckDB oracle
   * re-derives cluster assignment from the parquet table alone — plus
   * optional bounded-Lloyd refinement via `kmeansIters`).
   *
   * Scale shape: assignment is one narrow codegen'd pass; the pair join is
   * an equi-join on `cluster_id`. Cluster sizes must be bounded for the
   * within-cluster self-join — size `nlist` ∝ corpus (SemDeDup uses ~10⁴
   * clusters at web scale) and/or cap with `maxClusterSize` (clusters above
   * the cap are dropped from pair generation, same documented trade as
   * [[minHashLsh]]'s `maxBucketSize`).
   *
   * Output: (a, b, cos, cluster_id) with a < b, cos rounded to 6.
   */
  def semanticDedup(embs: DataFrame, nlist: Int, threshold: Double,
                    kmeansIters: Int = 0, maxClusterSize: Int = 100000,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    semanticDedupWithReport(embs, nlist, threshold, kmeansIters, maxClusterSize,
      idCol, vecCol)._1

  /**
   * [[semanticDedup]] plus its COVERAGE report: the second frame has one row
   * per cluster the `maxClusterSize` cap excluded from pair generation —
   * `(cluster_id, cluster_size)` — computed from the same nlist-row size
   * table the cap itself uses (a second tiny aggregate, no extra corpus
   * pass). At 100 TB a silently skipped mega-cluster is the difference
   * between "deduped" and "thought we deduped"; a non-empty report names
   * it. Both frames are lazy and share the assignment plan — persist the
   * assignment upstream if both are consumed at scale.
   */
  def semanticDedupWithReport(embs: DataFrame, nlist: Int, threshold: Double,
                              kmeansIters: Int = 0, maxClusterSize: Int = 100000,
                              idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val assigned = Similarity.buildIvfIndex(embs, nlist, idCol, vecCol, kmeansIters)
      .assigned.withColumnRenamed("list_id", "cluster_id")
    // size cap via a tiny nlist-row aggregate + broadcast semi-join — NOT a
    // corpus-wide window (which would shuffle AND sort the whole corpus on
    // cluster_id just to count; the cluster-count table is nlist rows by
    // construction, broadcastable at any corpus size)
    val sizes = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val okClusters = sizes.filter(col("cluster_size") <= maxClusterSize)
      .select(col("cluster_id"))
    val dropped = sizes.filter(col("cluster_size") > maxClusterSize)
    val bounded = assigned.join(broadcast(okClusters), Seq("cluster_id"))
    val l = bounded.select(col("cluster_id"), col("cid").as("a"), col("cv").as("va"))
    val r = bounded.select(col("cluster_id"), col("cid").as("b"), col("cv").as("vb"))
    val pairs = l.join(r, Seq("cluster_id")).filter(col("a") < col("b"))
      .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"), col("cluster_id"))
    (pairs, dropped)
  }

  /**
   * Embedding-cosine near-dup pairs: SRP-LSH bucket join (no O(n²)) then
   * exact cosine ≥ threshold. `dim` is the embedding dimensionality.
   */
  def embeddingNearDup(embs: DataFrame,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       dim: Int, nBits: Int = 12, threshold: Double = 0.95): DataFrame = {
    // NaN cosine satisfies `>= threshold` (Spark orders NaN above all), so
    // a corrupted vector would report a spurious pair with every bucket
    // peer — non-finite vectors are excluded like every index path does
    val d = embs.filter(VectorFunctions.isFiniteVec(col(vecCol)))
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", VectorFunctions.srpBucket(col("v"), nBits, dim))
    val l = d.select(col("bucket"), col("id").as("a"), col("v").as("va"))
    val r = d.select(col("bucket"), col("id").as("b"), col("v").as("vb"))
    l.join(r, Seq("bucket")).filter(col("a") < col("b"))
      .withColumn("cos", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
      .distinct()
  }
}
