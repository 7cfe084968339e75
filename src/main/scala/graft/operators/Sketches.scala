package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Approximate sketch operators for cardinality and frequency at scale
 * (extension surface — the reference has no approximate aggregates).
 *
 * Why sketches are first-class at 100 TB: exact `countDistinct`/`groupBy`
 * answers shuffle one row per distinct value; a mergeable sketch shuffles a
 * few KB per partition regardless of cardinality, and PRE-AGGREGATED sketch
 * tables (per day / per source) can be re-merged later to answer rollup
 * questions without touching raw data — the same partial/final shape as
 * [[AggCore]], applied to distinct counts.
 *
 *  - Distinct counts: Spark's built-in Apache DataSketches HLL
 *    (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate`) — binary
 *    sketches are storable and mergeable across arbitrary groupings.
 *  - Heavy hitters: [[graft.plans.SpaceSavingTopK]], a custom Catalyst
 *    `TypedImperativeAggregate` (SpaceSaving / stream-summary), merged
 *    map-side like any partial aggregate.
 */
object Sketches {

  /** Per-group HLL sketch column (binary, mergeable, storable). */
  def hllSketch(child: Column, lgConfigK: Int = 12): Column =
    hll_sketch_agg(child, lit(lgConfigK))

  /** Merge stored sketches back into one estimate (re-aggregation path). */
  def hllMergedEstimate(sketch: Column): Column =
    hll_sketch_estimate(hll_union_agg(sketch, lit(false)))

  /**
   * Build a per-group sketch TABLE: one row per group with a binary sketch
   * and its estimate — the materializable artifact whose union answers any
   * coarser-grained distinct-count question later.
   */
  def distinctSketchTable(df: DataFrame, groupCols: Seq[Column], value: Column,
                          lgConfigK: Int = 12): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(hllSketch(value, lgConfigK).as("sketch"))
      .withColumn("estimate", hll_sketch_estimate(col("sketch")))

  /**
   * Persist a per-group sketch table ([[distinctSketchTable]] layout minus
   * the derived estimate — binary sketches only, re-estimated at load so a
   * stale stored estimate can never disagree with the merged registers).
   * Range-laid by the group columns for pruned group lookups. The HLL
   * artifact completes sketch-family lifecycle parity: CMS cells and KMV
   * ride the profile bundle, bloom words and SpaceSaving drains have their
   * own stores — this is the distinct-count registers' store.
   */
  def saveSketchTable(table: DataFrame, path: String,
                      groupCols: Seq[String]): Unit =
    writeSketchTable(table, path, groupCols, "overwrite")

  /** Append an ingest slice's per-group sketches as delta rows (no base
    * rewrite); [[loadSketchTable]] folds duplicates by register union —
    * the HLL merge law, applied at the storage boundary. The slice must be
    * sketched at the SAME lgConfigK: the loader unions with
    * `allowDifferentLgConfigK = false`, so a shape mix fails EVERY
    * subsequent load loudly — and to keep one bad write from poisoning
    * the artifact until then, the append itself validates the slice's
    * lgConfigK against the stored rows and rejects a mismatch at the
    * boundary (inline with the write — no extra pass, the same
    * shape-per-slice discipline as the profile bundle's depth/width). */
  def appendSketchTable(table: DataFrame, path: String,
                        groupCols: Seq[String]): Unit =
    writeSketchTable(table, path, groupCols, "append")

  /** lgConfigK of one stored sketch row (byte 3 of the DataSketches HLL
    * preamble — spec-pinned against sketches built at known k), or None
    * when the artifact doesn't exist / holds no rows yet. */
  private def storedLgK(spark: org.apache.spark.sql.SparkSession,
                        path: String): Option[Byte] = {
    // ONLY a missing/empty artifact maps to None (the first append
    // creates it) — checked via the filesystem, not by classifying read
    // exceptions, so a corrupt footer / permission failure still
    // propagates instead of silently disabling the shape guard, and the
    // bootstrap path doesn't depend on Spark's error-condition strings
    val hp = new org.apache.hadoop.fs.Path(path)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(hp) ||
        !hfs.listStatus(hp).exists(s => s.isFile && s.getLen > 0)) None
    else
      // first NON-NULL sketch (a null-sketch row must not disable the
      // check); one k per artifact is the documented contract — an
      // already-mixed pile still fails loudly at load
      spark.read.parquet(path).select(col("sketch"))
        .filter(col("sketch").isNotNull).limit(1).collect()
        .headOption.map(_.getAs[Array[Byte]](0)(3))
  }

  private def writeSketchTable(table: DataFrame, path: String,
                               groupCols: Seq[String], mode: String): Unit = {
    require(groupCols.nonEmpty, "sketch table: need at least one group column")
    val out = table.select((groupCols.map(col) :+ col("sketch")): _*)
    // append-boundary shape check: every written sketch must carry the
    // artifact's lgConfigK (preamble byte 3) — checked inline with the
    // write so a wrong-k slice aborts THIS append instead of failing
    // every future load of an already-poisoned artifact
    val checked = if (mode != "append") out else
      storedLgK(out.sparkSession, path).fold(out) { k =>
        out.withColumn("sketch",
          // null first: substring(NULL) === ... is NULL, which would fall
          // into the mismatch branch with a nonsense 0x<null> message
          when(col("sketch").isNull, raise_error(lit(
              s"appendSketchTable: NULL sketch in the appended slice at " +
                s"$path — every row must carry a sketch")).cast("binary"))
            .when(substring(col("sketch"), 4, 1) === lit(Array(k)), col("sketch"))
            .otherwise(raise_error(concat(
              lit(s"appendSketchTable: slice sketched at lgConfigK 0x"),
              hex(substring(col("sketch"), 4, 1)),
              lit(f" but the artifact at $path holds lgConfigK 0x$k%02X — " +
                "rebuild the slice at the artifact's k (one k per artifact)")))
              .cast("binary")))
      }
    checked
      .repartitionByRange(groupCols.map(col): _*)
      .sortWithinPartitions(groupCols.map(col): _*)
      .write.mode(mode).parquet(path)
  }

  /** Load base + deltas back into ONE sketch row per group: register
    * union per group (`hll_union_agg` — exactly the sketch a one-shot
    * build over the union of the slices produces), estimate re-derived
    * from the merged registers. */
  def loadSketchTable(spark: org.apache.spark.sql.SparkSession, path: String,
                      groupCols: Seq[String]): DataFrame =
    spark.read.parquet(path)
      .groupBy(groupCols.map(col): _*)
      .agg(hll_union_agg(col("sketch"), lit(false)).as("sketch"))
      .withColumn("estimate", hll_sketch_estimate(col("sketch")))

  /**
   * Compact a sketch-table artifact: fold the base + delta pile into ONE
   * row per group at `dst` — the fold IS the register union
   * [[loadSketchTable]] performs, so the compacted artifact holds |groups|
   * rows forever after no matter how many slices were appended (under
   * per-trigger maintenance the pile otherwise grows one file set per
   * batch). Audited: the per-group ESTIMATES of `dst` must checksum-match
   * the merged pile's (register unions are associative/idempotent, so the
   * folded sketch estimates identically; comparing estimates rather than
   * sketch bytes tolerates representation differences the estimate cannot
   * see). Production shape: fresh path + [[Generations]] pointer flip.
   */
  def compactSketchTable(spark: org.apache.spark.sql.SparkSession,
                         src: String, dst: String,
                         groupCols: Seq[String]): Unit = {
    require(src != dst, "compactSketchTable: dst must be a fresh path")
    def chk(df: DataFrame): (Long, Long) = {
      val cs = groupCols.map(c => col(c).cast("string")) :+
        col("estimate").cast("string")
      val r = df.agg(count(lit(1)).as("n"),
        coalesce(call_function("bit_xor", xxhash64(cs: _*)), lit(0L)).as("x"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    writeSketchTable(loadSketchTable(spark, src, groupCols), dst,
      groupCols, "overwrite")
    // both audit reads run AFTER the write (the src re-list is what
    // detects an append landing mid-compaction — the [[Dedup
    // .compactBandIndex]] contract) but are independent of EACH OTHER:
    // fan them out (guide §2.6)
    var pre: (Long, Long) = null
    var post: (Long, Long) = null
    Jobs.concurrently(
      () => pre = chk(loadSketchTable(spark, src, groupCols)),
      () => post = chk(loadSketchTable(spark, dst, groupCols)))
    require(pre == post,
      s"compactSketchTable: merged estimates changed ($pre -> $post) — the " +
        "source changed mid-compaction; re-run")
  }

  /** Count-min row-hash multipliers/offsets: small fixed primes, so
    * `(key % CmsMod) * a + b` stays far below 2^63 (exact int64 in any
    * engine — the cross-engine replay requirement). Depth ≤ 8. The single
    * definition lives on [[graft.plans.CmsGrid]] so the streaming grid
    * aggregate and these batch cell tables probe identically. */
  private[graft] val CmsMod = graft.plans.CmsGrid.M
  private[graft] val CmsA = graft.plans.CmsGrid.A
  private[graft] val CmsB = graft.plans.CmsGrid.B

  /** h_r(key): row `r`'s counter column — ((key mod M)·a_r + b_r) mod M
    * mod width, every intermediate exact in int64. Reductions use `pmod`
    * so a NEGATIVE key still lands in [0, width) — plain `%` keeps the
    * dividend's sign in Spark, which would build cells the estimate path
    * never probes and silently return 0. For non-negative keys pmod ≡ %,
    * so a plain-`%` SQL replay (the oracle convention) stays hash-equal;
    * a negative-key replay must use ((x % M) + M) % M. */
  private def cmsCol(key: Column, r: Int, width: Int): Column =
    pmod(pmod(key, lit(CmsMod)) * CmsA(r) + CmsB(r), lit(CmsMod)) % width

  /**
   * Count-min sketch (Cormode & Muthukrishnan 2005) over a non-negative
   * int64 key column: a `depth`×`width` grid of counters where
   * cell(r, c) = |{rows : h_r(key) = c}|; the point-frequency estimate
   * `min_r cell(r, h_r(key))` NEVER undercounts, and overcounts by more
   * than 2N/width with probability ≤ 2^-depth.
   *
   * Why it earns a place next to HLL/SpaceSaving: the sketch is
   * CELL-WISE ADDITIVE — sketches built per partition / day / source
   * merge by summing cells ([[countMinMerge]]) — so frequency questions
   * over any later grouping re-aggregate KB-sized artifacts instead of
   * re-scanning raw data, and the build itself is one narrow depth-way
   * explode + ONE shuffle to `depth·width` bounded rows (map-side
   * partial counts do the heavy combine).
   *
   * Returns (r, c, n) — only occupied cells; absent cells are zero.
   */
  def countMinCells(df: DataFrame, key: Column, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= CmsA.length,
      s"countMinCells: depth must be in [1, ${CmsA.length}], got $depth")
    require(width >= 2, s"countMinCells: width must be >= 2, got $width")
    val k = key.cast("long")
    val rows = (0 until depth).map(r =>
      struct(lit(r).as("r"), cmsCol(k, r, width).as("c")))
    df.select(explode(array(rows: _*)).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("n"))
  }

  /** Merge stored cell tables (the re-aggregation path): cell-wise sum —
    * CMS(A ⊎ B) is exactly countMinCells over A ∪ B. */
  def countMinMerge(cellTables: Seq[DataFrame]): DataFrame = {
    require(cellTables.nonEmpty, "countMinMerge: need at least one cell table")
    cellTables.reduce(_ unionAll _)
      .groupBy(col("r"), col("c")).agg(sum(col("n")).as("n"))
  }

  /**
   * Point-frequency estimates for `keys` (a frame with distinct
   * non-negative int64 `keyCol`) against a cell table: per key,
   * min over rows of its cell's count (0 if the cell is absent). The
   * cell table is `depth·width`-bounded → rides a broadcast; the keys
   * frame never shuffles.
   */
  def countMinEstimate(cells: DataFrame, keys: DataFrame, keyCol: String,
                       depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= CmsA.length,
      s"countMinEstimate: depth must be in [1, ${CmsA.length}], got $depth")
    val k = col(keyCol).cast("long")
    val hashed = keys.select(col(keyCol),
        explode(array((0 until depth).map(r =>
          struct(lit(r).as("r"), cmsCol(k, r, width).as("c"))): _*)).as("rc"))
      .select(col(keyCol), col("rc.r").as("r"), col("rc.c").as("c"))
    hashed.join(broadcast(cells), Seq("r", "c"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))
  }

  /**
   * Point-frequency estimates against DENSE row-major grids — the probe
   * path for [[graft.plans.CmsGrid]] / [[graft.streaming.StreamingCms]]
   * artifacts: `grids` is any frame carrying a `gridCol` array (plus
   * grouping columns, e.g. window_start), `keys` a frame of distinct
   * int64 `keyCol` probes. Returns one row per (grid row × key) with
   * `est = min_r grid[r·width + h_r(key)]` — the grid is dense, so a
   * plain element_at probes it with no absent-cell coalesce. Each probe
   * carries its depth slot positions as an ARRAY, and the min is an
   * `array_min(transform(...))` expression evaluated in place — one
   * narrow codegen pass over grids × broadcast(probes), no per-key
   * groupBy, so the grids frame genuinely never shuffles.
   *
   * PRECONDITION: one row per grid identity — `grids` must not carry two
   * rows with identical non-grid columns (every producer here emits one
   * grid per group/window by construction). The zero-shuffle rewrite has
   * no regroup, so duplicate grid rows would emit duplicate estimate
   * rows instead of min-merging them; merge grids first
   * (e.g. [[countMinMerge]] on the cell form) if a source can re-emit.
   */
  def gridEstimate(grids: DataFrame, keys: DataFrame, keyCol: String,
                   depth: Int, width: Int,
                   gridCol: String = "grid"): DataFrame = {
    require(depth >= 1 && depth <= CmsA.length,
      s"gridEstimate: depth must be in [1, ${CmsA.length}], got $depth")
    require(width >= 2, s"gridEstimate: width must be >= 2, got $width")
    val k = col(keyCol).cast("long")
    val probes = keys.select(col(keyCol),
      array((0 until depth).map(r =>
        (cmsCol(k, r, width) + lit(r.toLong * width) + lit(1))
          .cast("int")): _*).as("__slots"))
    val others = grids.columns.filter(_ != gridCol).map(col).toSeq
    grids.crossJoin(broadcast(probes))
      .select(others :+ col(keyCol) :+
        array_min(transform(col("__slots"),
          s => element_at(col(gridCol), s))).as("est"): _*)
  }

  /**
   * JOIN-SIZE estimate from two count-min cell tables (the AMS/CMS
   * inner-product estimator, Cormode & Muthukrishnan 2005 §4.2):
   * |A ⋈ B| = Σ_k f_A(k)·f_B(k) ≤ Σ_c A[r,c]·B[r,c] for EVERY hash row r
   * (collisions only add non-negative cross terms), so
   * `min_r Σ_c A[r,c]·B[r,c]` NEVER undercounts the true join size — the
   * estimate a 100 TB planner wants BEFORE committing to a join order,
   * computed from two KB-sized artifacts instead of the join itself.
   *
   * Exactness: cell counts are int64; products/sums run as DECIMAL(38,0)
   * (two 10-digit cells would overflow a long product at warehouse
   * scale), min cast back to long — pure integer arithmetic, full SQL
   * replay. Both tables must share depth/width/hash family. Absent rows
   * (no co-occupied cells) contribute inner product 0, which is itself a
   * valid never-undercounting estimate (it certifies an EMPTY join).
   */
  def cmsJoinSize(cellsA: DataFrame, cellsB: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= CmsA.length,
      s"cmsJoinSize: depth must be in [1, ${CmsA.length}], got $depth")
    val spark = cellsA.sparkSession
    import spark.implicits._
    val a = cellsA.select(col("r"), col("c"), col("n").as("na"))
    val b = cellsB.select(col("r"), col("c"), col("n").as("nb"))
    val ip = a.join(b, Seq("r", "c"))
      .groupBy(col("r"))
      .agg(sum(col("na").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
        col("nb")).as("ip"))
    // one partition: the depth rows feed a global min, and over
    // single-partition profile cells (JoinPlanner.loadTableProfile) the
    // whole estimate then plans without a shuffle
    (0 until depth).toDF("r").coalesce(1)
      .join(ip, Seq("r"), "left")
      .agg(min(coalesce(col("ip"), lit(0)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .cast("long").as("est_join_size"))
  }

  /**
   * Heavy hitters via the SpaceSaving aggregate: items whose GUARANTEED
   * count (`count_min`) may still undercount, so candidates are verified
   * against exact counts in [[verifiedHeavyHitters]]; every item with true
   * count > |df| / capacity is guaranteed present among the candidates.
   */
  def heavyHitterCandidates(df: DataFrame, item: Column, capacity: Int): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(item.as("__item"))
      .agg(call_function("space_saving_topk", col("__item"), lit(capacity)).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item").as("item"), col("e.count_min").as("count_min"),
        col("e.count_max").as("count_max"))
  }

  /**
   * Sketch-guided exact heavy hitters: candidates from one sketch pass, then
   * ONE semi-joined exact count pass over just the candidate keys, keeping
   * rows with exact share > `threshold` of the total. Two passes, but the
   * exact pass's shuffle carries only candidate keys (≤ capacity), not the
   * full distinct-key domain.
   */
  def verifiedHeavyHitters(df: DataFrame, item: Column, capacity: Int,
                           threshold: Double): DataFrame = {
    val cands = heavyHitterCandidates(df, item, capacity)
    val keyed = df.select(item.as("k"))
    val total = keyed.count()
    val floor = (total * threshold).toLong
    keyed.join(broadcast(cands), col("k") === col("item"), "left_semi")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > floor)
      .join(broadcast(cands), col("k") === col("item"))
      .select(col("k").as("item"), col("cnt"),
        (col("count_min") <= col("cnt") && col("cnt") <= col("count_max"))
          .as("bounds_ok"))
  }

  /** KMV hash: the first 13 hex digits of md5 as an exact int64 — uniform
    * on [0, 2^52), identical in Spark (`conv`) and DuckDB
    * (`CAST('0x'||… AS BIGINT)`), so the whole sketch replays. */
  private[graft] def kmvHash(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 13), 16, 10).cast("long")

  /** 2^52 — the kmvHash range, as an exact double for the estimator. */
  private[graft] val KmvRange = 4503599627370496.0

  /**
   * KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al. 2002):
   * the k smallest DISTINCT hash values of the key column. The third
   * mergeable sketch next to HLL and count-min, and the one whose entire
   * arithmetic is exact — build, merge, and estimate all replay in SQL,
   * where HLL's register encoding does not.
   *
   * Scale shape: one hash-distinct shuffle (map-side combine collapses
   * duplicates early), then a global TakeOrdered(k) — no full sort; the
   * artifact is k int64s (KB-sized at k = 256), and sketches over any
   * partitioning of the data merge by union + re-take ([[kmvMerge]]).
   */
  def kmvSketch(df: DataFrame, key: Column, k: Int = 256): DataFrame = {
    require(k >= 2, s"kmvSketch: k must be >= 2, got $k")
    df.select(kmvHash(key).as("h")).distinct().orderBy(col("h")).limit(k)
  }

  /** Merge KMV sketches built over disjoint (or overlapping — distinct
    * collapses re-sightings) slices: union, dedup, keep the k smallest.
    * The result is EXACTLY the sketch a single pass over the union would
    * build — the law the spec pins. */
  def kmvMerge(sketches: Seq[DataFrame], k: Int = 256): DataFrame = {
    require(sketches.nonEmpty, "kmvMerge: need at least one sketch")
    sketches.reduce(_ unionByName _).distinct().orderBy(col("h")).limit(k)
  }

  /**
   * Distinct-count estimate from a KMV sketch: (k−1) · 2^52 / h_(k) when
   * the sketch is full, else the EXACT count (fewer than k distinct
   * values ⇒ every hash is in the sketch). Output: (k, n, hk, estimate).
   */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .select(lit(k).cast("long").as("k"), col("n"), col("hk"),
        when(col("n") < k, col("n").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * lit(KmvRange) / col("hk"), 6))
          .as("estimate"))

  /**
   * KMV SET ALGEBRA (the theta-sketch idea, Dasgupta et al. 2016, on the
   * exact-arithmetic KMV substrate): intersection / union / Jaccard
   * estimates for two key populations from their KB-sized sketches alone —
   * no re-scan, no join of the raw sides. The union sketch
   * U = k smallest of S_A ∪ S_B is EXACTLY the KMV sketch of A ∪ B
   * (k-min commutes with union), so |A ∪ B| estimates by the standard
   * estimator; within U every hash is known to be in A, in B, or both
   * (a hash in U ∩ S_A IS a member of A — sketches are exact k-min sets,
   * below-threshold membership is certain, not probabilistic), so the
   * shared fraction ρ = |U ∩ S_A ∩ S_B| / |U| is the minwise Jaccard
   * estimator and |A ∩ B| ≈ ρ · |A ∪ B|.
   *
   * All set operations are exact int64 semi-joins on k-row frames; the
   * two divisions are the only IEEE steps (round6, small-integer
   * operands) — the whole table replays in SQL. Output one row:
   * (k, n_union, hk_union, shared, union_est, jaccard, inter_est).
   */
  def kmvSetEstimate(sketchA: DataFrame, sketchB: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"kmvSetEstimate: k must be >= 2, got $k")
    val u = kmvMerge(Seq(sketchA, sketchB), k)
    val shared = u
      .join(broadcast(sketchA.select(col("h"))), Seq("h"), "left_semi")
      .join(broadcast(sketchB.select(col("h"))), Seq("h"), "left_semi")
      .agg(count(lit(1)).as("shared"))
    val est = kmvEstimate(u, k)
      .select(col("k"), col("n").as("n_union"), col("hk").as("hk_union"),
        col("estimate").as("union_est"))
    est.crossJoin(broadcast(shared))
      .select(col("k"), col("n_union"), col("hk_union"), col("shared"),
        col("union_est"),
        round(col("shared").cast("double") / col("n_union"), 6).as("jaccard"),
        round(round(col("shared").cast("double") / col("n_union"), 6) *
          col("union_est"), 6).as("inter_est"))
  }
}
