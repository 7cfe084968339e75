package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Estimate-before-you-shuffle JOIN PLANNING: the automatic strategy
 * chooser that closes the loop between the planner DIAGNOSTICS
 * ([[Sketches.cmsJoinSize]] — the CMS inner-product join-size bound;
 * [[Skew.keySkewProfile]] — hot-key shares) and the REMEDIES
 * ([[Skew.saltedJoin]], [[Bloom.prunedJoin]], broadcast). At 100 TB the
 * wrong join strategy is the difference between minutes and hours — a
 * skewed key pins one reducer, a selective dim read through a plain
 * shuffle drags the whole fact table across the exchange, a
 * broadcastable dim shuffled anyway pays two sorts — and the inputs
 * needed to pick correctly are KB-sized artifacts (two CMS cell tables,
 * a top-k skew profile, two row counts) that an ingest pipeline builds
 * once per table and merges incrementally, never the join itself.
 *
 * Decision rule, in precedence order (first match wins):
 *  1. `dim_rows ≤ broadcastMaxDimRows`      → '''broadcast''' (no
 *     exchange at all beats every other remedy when the dim fits);
 *  2. `top_share ≥ skewShareMin`            → '''salted''' (the hot
 *     fact key would pin one reducer; spread it over `salt` partitions);
 *  3. `est_selectivity ≤ bloomSelectivityMax` → '''bloom_pruned''' (most
 *     fact rows have NO match — drop them with a codegen'd scan
 *     predicate BEFORE the exchange);
 *  4. otherwise                             → '''plain''' (the join is
 *     dense and balanced; Spark's sort-merge + AQE is the right tool).
 *
 * `est_selectivity = round6(est_join_size / fact_rows)` — an UPPER bound
 * on the matching-row fraction when dim keys are unique (the CMS
 * inner-product never undercounts), so the bloom branch can only be
 * chosen conservatively: a fixed-size sketch over a bigger corpus gives
 * a looser bound, degrading gracefully toward 'plain', never toward a
 * wrong prune. Every number in the decision row is an exact count or a
 * round-6 ratio of exact counts — the whole derivation, CASE included,
 * replays in DuckDB (the `join_choice_decision` gate).
 *
 * Chosen-strategy RESULT IDENTITY is structural, not statistical: all
 * four strategies return exactly `fact ⋈ dim` (broadcast is a hint;
 * salting is an equi-join refinement that drops its salt; the bloom
 * prune has no false negatives and the join discards false positives) —
 * so the chooser can never change answers, only costs (the
 * `join_choice_exec` gate hash-matches the plain join's aggregate).
 */
object JoinPlanner {

  /** Decision thresholds + remedy parameters. Defaults suit the test
    * scale; a deployment tunes `broadcastMaxDimRows` to its broadcast
    * memory budget and `skewShareMin` to its reducer-imbalance
    * tolerance. `cmsDepth`/`cmsWidth` size the join-size sketch —
    * bigger width = tighter selectivity bound = more bloom-prune
    * opportunities detected. */
  final case class JoinThresholds(
      broadcastMaxDimRows: Long = 100000L,
      skewShareMin: Double = 0.05,
      bloomSelectivityMax: Double = 0.25,
      salt: Int = 8,
      bloomMBits: Int = 62 * 2048,
      bloomNumHashes: Int = 4,
      cmsDepth: Int = 4,
      cmsWidth: Int = 4096) {
    require(broadcastMaxDimRows >= 0, "broadcastMaxDimRows must be >= 0")
    require(skewShareMin > 0.0 && skewShareMin <= 1.0,
      s"skewShareMin must be in (0, 1], got $skewShareMin")
    require(bloomSelectivityMax >= 0.0,
      s"bloomSelectivityMax must be >= 0, got $bloomSelectivityMax")
    require(salt >= 2, s"salt must be >= 2, got $salt")
  }

  /** The chosen plan: the decision inputs (exact counts + round-6
    * ratios), the strategy, the advised exchange width (applied to the
    * plain/salted branches — see [[chooseJoin]]), and the resulting
    * joined frame. */
  final case class JoinPlan(
      strategy: String,
      factRows: Long,
      dimRows: Long,
      topShare: Double,
      estJoinSize: Long,
      estSelectivity: Double,
      advisedShufflePartitions: Long,
      result: DataFrame)

  /**
   * The decision ROW as a DataFrame — one row: (fact_rows, dim_rows,
   * top_share, est_join_size, est_selectivity, strategy). Derivation:
   * two exact counts, the rank-1 share from [[Skew.keySkewProfile]],
   * the never-undercounting [[Sketches.cmsJoinSize]] bound from two
   * `depth·width`-bounded cell tables, one round-6 division, one CASE
   * over literal thresholds — fully SQL-replayable. The corpus-sized
   * passes here (counts, CMS builds, the skew profile's one groupBy)
   * are what a 100 TB deployment would maintain incrementally as
   * mergeable per-ingest artifacts ([[Sketches.countMinMerge]]); the
   * inline form exists so the gate can replay the whole chain.
   */
  /** The CMS cell build casts its key to long ([[Sketches.countMinCells]]);
    * a string key would cast to NULL, never equi-join in the inner
    * product, and collapse the bound to 0 — flipping the never-undercount
    * guarantee into a guaranteed undercount that force-picks
    * 'bloom_pruned' for every string-keyed join. String keys (URLs,
    * doc ids) are therefore xxhash64'd first: hash collisions can only
    * MERGE distinct keys into one cell, which inflates the inner product —
    * the bound stays an upper bound, degrading toward 'plain', never
    * toward a wrong prune. */
  private def sketchKey(df: DataFrame, key: String): Column =
    df.schema(key).dataType match {
      case org.apache.spark.sql.types.StringType => xxhash64(col(key))
      case _ => col(key)
    }

  def joinDecision(fact: DataFrame, dim: DataFrame, factKey: String,
                   dimKey: String, th: JoinThresholds): DataFrame = {
    val factRows = fact.agg(count(lit(1)).cast("long").as("fact_rows"))
    val dimRows = dim.agg(count(lit(1)).cast("long").as("dim_rows"))
    val top = Skew.keySkewProfile(fact, factKey, topK = 1)
      .select(col("share").as("top_share"))
    val est = Sketches.cmsJoinSize(
      Sketches.countMinCells(fact, sketchKey(fact, factKey), th.cmsDepth, th.cmsWidth),
      Sketches.countMinCells(dim, sketchKey(dim, dimKey), th.cmsDepth, th.cmsWidth),
      th.cmsDepth)
    factRows
      .crossJoin(broadcast(dimRows))
      .crossJoin(broadcast(top))
      .crossJoin(broadcast(est))
      .withColumn("est_selectivity",
        round(col("est_join_size").cast("double") / col("fact_rows"), 6))
      .withColumn("strategy",
        when(col("dim_rows") <= th.broadcastMaxDimRows, "broadcast")
          .when(col("top_share") >= th.skewShareMin, "salted")
          .when(col("est_selectivity") <= th.bloomSelectivityMax, "bloom_pruned")
          .otherwise("plain"))
  }

  /**
   * [[joinDecision]] extended with the exchange-sizing half
   * ([[Capacity]]): exact byte accounting of both join inputs plus the
   * advised partition count for the join's shuffle exchange —
   * `clamp(ceildiv(fact_bytes + dim_bytes, targetPartitionBytes))`, the
   * initial count AQE can only coalesce DOWN from (a too-small static
   * `spark.sql.shuffle.partitions` is unfixable at runtime; a sized one
   * costs nothing). When the strategy is 'broadcast' no exchange runs
   * and `dim_bytes` is instead the payload the driver must hold — the
   * number to check against the broadcast memory budget. Everything
   * added is int64 arithmetic on exact sums, so the gate replays
   * sketches, byte accounting and ceildiv in one chain.
   */
  def sizedJoinDecision(fact: DataFrame, dim: DataFrame, factKey: String,
                        dimKey: String, th: JoinThresholds,
                        t: Capacity.SizingTargets = Capacity.SizingTargets()): DataFrame = {
    val fb = fact.agg(
      coalesce(sum(Capacity.rowBytes(fact)), lit(0L)).as("fact_bytes"))
    val db = dim.agg(
      coalesce(sum(Capacity.rowBytes(dim)), lit(0L)).as("dim_bytes"))
    joinDecision(fact, dim, factKey, dimKey, th)
      .crossJoin(broadcast(fb))
      .crossJoin(broadcast(db))
      .withColumn("advised_shuffle_partitions",
        Capacity.advisedPartitions(col("fact_bytes") + col("dim_bytes"), t))
  }

  /** Sketch-bundle shape: CMS grid dimensions plus the breadth of the
    * per-slice hot-key candidate list. `topK` bounds the topk component at
    * `topK` rows PER APPENDED SLICE (KB-sized at any setting); the merged
    * top-1 count is exact whenever the table's hottest key ranks within
    * every slice's top-`topK` (always true when `topK` >= the per-slice
    * distinct-key count), and a LOWER bound otherwise — see
    * [[joinDecisionFromProfiles]] for the degrade direction. */
  final case class ProfileParams(depth: Int = 4, width: Int = 4096,
                                 topK: Int = 64, kmvK: Int = 256) {
    require(topK >= 1, s"ProfileParams: topK must be >= 1, got $topK")
    require(kmvK >= 2, s"ProfileParams: kmvK must be >= 2, got $kmvK")
  }

  /**
   * Persist the per-table sketch BUNDLE the planner decides from — the
   * artifact an ingest pipeline maintains per table so that every later
   * join decision costs zero corpus passes:
   *
   *  - `cells` rows — the CMS cell table ([[Sketches.countMinCells]],
   *    string keys xxhash64'd exactly as [[joinDecision]] does) feeding
   *    the never-undercounting join-size bound;
   *  - `topk` rows — this slice's `topK` hottest sketch-keys with EXACT
   *    counts, feeding the salted-join trigger;
   *  - `kmv` rows — the slice's KMV distinct sketch;
   *  - `stats` row — exact row count + [[Capacity.rowBytes]] total + the
   *    sketch shape, feeding sizing and load-time shape validation.
   *
   * The four components live as disjoint `component`-discriminated row
   * groups of ONE unified parquet table per slice (`<slice>/data`) —
   * one write job and one output commit per slice, one relation per
   * bundle at load.
   *
   * Every component is MERGEABLE by construction: cells sum cell-wise
   * ([[Sketches.countMinMerge]] — CMS(A ⊎ B) is exactly the one-shot
   * sketch of A ∪ B), stats sum row-wise, and topk counts sum per key
   * (exactness precondition on [[ProfileParams.topK]]). So
   * [[appendTableProfile]] just adds a delta SLICE — no base rewrite, no
   * read-modify-write — and the loader folds the pile.
   *
   * ATOMIC SLICE PUBLISH: each slice's four components are written
   * together under `path/_staging/<sliceId>` and committed by ONE
   * directory rename to `path/slices/<sliceId>` (write everything, then
   * commit with one rename). A crash mid-write leaves only staging — the loader
   * never sees a bundle whose cells include a slice its stats/topk do
   * not, so decisions can never silently mix slice populations. The
   * rename also makes appends IDEMPOTENT under a caller-chosen
   * `sliceId`: re-publishing a committed slice is a no-op, which is the
   * exactly-once contract a `foreachBatch` maintainer needs under
   * at-least-once replays (pass `sliceId = s"batch-$id"` — no side
   * marker files, the commit IS the marker).
   *
   * Narrow map-side-combined passes over the ONE materialized slice
   * cache, each shuffling rows bounded by the sketch shape (depth·width
   * cells / topK keys / 1 stat row), never by the slice — and the four
   * component derivations union into the single write, so their internal
   * exchanges run as concurrent AQE stages of one action and the slice
   * pays one commit instead of four. The stats row also records whether
   * the slice's topk component covers EVERY key of the slice
   * (`top_covered` — distinct sketch keys ≤ topK): the bundle-recorded
   * form of the [[joinDecisionFromProfiles]] exactness precondition,
   * surfaced there as `top_share_exact`.
   *
   * Re-saving resets the bundle by deleting only the bundle's OWN layout
   * (`slices/` and `_staging/`) — never the whole target path, so a path
   * mistakenly pointed at a [[Generations]] root or a directory holding
   * unrelated files cannot be silently wiped by a profile save.
   */
  def saveTableProfile(df: DataFrame, key: String, path: String,
                       p: ProfileParams = ProfileParams()): Unit = {
    val hfs = SeqFiles.fs(df.sparkSession, path)
    hfs.delete(new org.apache.hadoop.fs.Path(path, "slices"), true)
    hfs.delete(new org.apache.hadoop.fs.Path(path, "_staging"), true)
    writeSlice(df, key, path, p, "base")
  }

  /** Add an ingest slice's profile as an atomically-published slice dir
    * (no base rewrite) — the bundle must be written with the SAME
    * depth/width as the base ([[loadTableProfile]] validates; a shape mix
    * cannot merge). `sliceId` names the commit: a replay under the same
    * id is a no-op (exactly-once maintenance under at-least-once
    * delivery); the default fresh id gives plain always-append semantics. */
  def appendTableProfile(df: DataFrame, key: String, path: String,
                         p: ProfileParams = ProfileParams(),
                         sliceId: String = ""): Unit = {
    val id = if (sliceId.isEmpty)
      java.util.UUID.randomUUID().toString else sliceId
    writeSlice(df, key, path, p, id)
  }

  /** Committed slice dirs of a bundle (staging is invisible by layout). */
  private def sliceDirs(spark: org.apache.spark.sql.SparkSession,
                        path: String): Seq[String] = {
    val hfs = SeqFiles.fs(spark, path)
    val slices = new org.apache.hadoop.fs.Path(path, "slices")
    if (!hfs.exists(slices)) Seq.empty
    else hfs.listStatus(slices).toIndexedSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toString).sorted
  }

  /** The unified slice schema: the four sketch-sized components as
    * disjoint row groups of ONE parquet table, discriminated by
    * `component` — `cells` rows carry (r, c, n), `topk` rows (k, cnt),
    * `kmv` rows (h), `stats` rows the exact totals + sketch shape;
    * columns not owned by a row's component are null. One table means
    * ONE write job and ONE commit per slice where the previous layout
    * paid four of each (guide §1.2/§2.4: the write latency of a
    * KB-sized artifact is all job-scheduling + commit protocol, so
    * jobs × latency is the whole cost), and the loader opens one
    * relation per bundle instead of four. */
  private val UnifiedTypes: Seq[(String, String)] = Seq(
    "r" -> "int", "c" -> "long", "n" -> "long", "k" -> "long",
    "cnt" -> "long", "h" -> "long", "rows" -> "long", "bytes" -> "long",
    "depth" -> "int", "width" -> "int", "top_k" -> "int",
    "kmv_k" -> "int", "top_covered" -> "boolean")

  /** Project `df` onto the unified slice schema under component `tag`:
    * owned columns cast to the unified type, the rest typed nulls. */
  private def unifiedComponent(tag: String, df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    df.select(lit(tag).as("component") +: UnifiedTypes.map { case (c, t) =>
      (if (present(c)) col(c).cast(t) else lit(null).cast(t)).as(c)
    }: _*)
  }

  /** One slice: the four components as one unified write under staging,
    * one rename to commit. Returns false when the slice id was already
    * committed (the idempotent-replay no-op). */
  private def writeSlice(df: DataFrame, key: String, path: String,
                         p: ProfileParams, sliceId: String): Boolean = {
    // first char must be alphanumeric: a '.'-prefixed name would COMMIT but
    // be invisible to sliceDirs (silent population mix — exactly what the
    // atomic publish exists to prevent), '_' collides with staging, and a
    // bare '.'/'..' would resolve the target to the bundle root itself
    require(sliceId.matches("[A-Za-z0-9][A-Za-z0-9._-]*") &&
        sliceId != "." && sliceId != "..",
      s"profile sliceId must start alphanumeric ([A-Za-z0-9][A-Za-z0-9._-]*), " +
        s"got '$sliceId' — a dot- or underscore-prefixed name would commit " +
        "but never be loaded")
    val spark = df.sparkSession
    val hfs = SeqFiles.fs(spark, path)
    val target = new org.apache.hadoop.fs.Path(path, s"slices/$sliceId")
    if (hfs.exists(target)) return false // committed by a previous attempt
    val stage = new org.apache.hadoop.fs.Path(path, s"_staging/$sliceId")
    if (hfs.exists(stage)) hfs.delete(stage, true) // torn previous attempt
    // four bundle components, one slice scan, ONE write job: the
    // cells/topk/kmv/stats derivations union into the unified slice
    // table (their internal exchanges run as concurrent AQE stages of
    // the one action), so the slice pays a single output commit instead
    // of four — the dominant term of a write whose data is KBs
    val slice = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val k = sketchKey(slice, key)
      // the grouped counts feed BOTH the topk component and the exact
      // per-slice coverage bit; distinct-key-sized, cached for the reuse
      // (the single write action fills it once — block locks serialize
      // concurrent stage fills)
      val grouped = slice.select(k.as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the kmv branch: the slice's KMV distinct-count sketch over the
        // SAME sketch key (k-min commutes with union, so the loader's
        // kmvMerge over slices IS the one-shot sketch — the pinned
        // SketchLawsSpec law; string keys ride the xxhash64 first, where
        // a collision can only merge two keys = undercount by at most
        // the 2^-64 collision mass). The coverage bit (distinct keys ≤
        // topK) rides the stats row as a column — no driver-side count
        unifiedComponent("cells",
            Sketches.countMinCells(slice, k, p.depth, p.width))
          .unionByName(unifiedComponent("topk",
            grouped.orderBy(col("cnt").desc, col("k").asc).limit(p.topK)))
          .unionByName(unifiedComponent("kmv",
            Sketches.kmvSketch(slice.select(k.as("k")), col("k"), p.kmvK)))
          .unionByName(unifiedComponent("stats",
            slice.agg(count(lit(1)).as("rows"),
                coalesce(sum(Capacity.rowBytes(slice)), lit(0L)).as("bytes"))
              .crossJoin(grouped.agg(count(lit(1)).as("__dk")))
              .select(col("rows"), col("bytes"), lit(p.depth).as("depth"),
                lit(p.width).as("width"), lit(p.topK).as("top_k"),
                lit(p.kmvK).as("kmv_k"),
                (col("__dk") <= p.topK).as("top_covered"))))
          .write.mode("overwrite").parquet(s"$stage/data")
      } finally grouped.unpersist()
    } finally slice.unpersist()
    commitSlice(hfs, path, stage, target)
  }

  /** The commit point: parent mkdirs + atomic dir rename; a target that
    * appeared meanwhile (replay race) wins and staging is dropped. */
  private def commitSlice(hfs: org.apache.hadoop.fs.FileSystem, path: String,
                          stage: org.apache.hadoop.fs.Path,
                          target: org.apache.hadoop.fs.Path): Boolean = {
    hfs.mkdirs(new org.apache.hadoop.fs.Path(path, "slices"))
    if (hfs.exists(target)) { hfs.delete(stage, true); false }
    else if (!hfs.rename(stage, target))
      throw new java.io.IOException(
        s"profile slice commit $stage -> $target failed")
    else true
  }

  /** A loaded (still-lazy) profile: merged cell table, raw per-slice topk
    * rows, the folded KMV distinct sketch, 1-row summed stats frame, the
    * validated sketch shape, and whether EVERY committed slice's topk
    * covered its key set (`topCovered` — the recorded exactness
    * precondition of the merged top-1 count). Every frame is
    * single-partition (see [[loadTableProfile]]). */
  final case class TableProfile(cells: DataFrame, topk: DataFrame,
                                kmv: DataFrame, stats: DataFrame,
                                depth: Int, width: Int, topK: Int,
                                kmvK: Int, topCovered: Boolean)

  /** Load a profile bundle, folding accumulated slices: cells via
    * [[Sketches.countMinMerge]] (cell-wise sum), the KMV component via
    * [[Sketches.kmvMerge]] (k-min of the union — exactly the one-shot
    * sketch), stats by summing slice rows. Only COMMITTED slices are
    * read (an interrupted append's staging dir is invisible), and each
    * committed slice carries all four components by construction — the
    * torn-bundle state cannot be observed. The sketch shape is validated
    * across slices (bounded collect over the slice-count-sized stats
    * table); a depth/width/kmvK mix aborts — sketches of different
    * shapes share no hash family or k-floor to merge under. */
  def loadTableProfile(spark: org.apache.spark.sql.SparkSession,
                       path: String): TableProfile = {
    val dirs = sliceDirs(spark, path)
    require(dirs.nonEmpty,
      s"no committed profile slices at $path — saveTableProfile first " +
        "(an interrupted write leaves only invisible staging)")
    // LAYOUT-VERSION check: the unified single-table slice (`<slice>/data`)
    // replaced the four component subdirs (cells/topk/kmv/stats) in the
    // round-19 format break. A bundle written by a pre-break build — or a
    // mixed pile from appending new-format slices onto an old-format base —
    // must fail HERE with the migration instruction, not deep inside the
    // parquet reader with an opaque path error. Bounded: one fs.exists per
    // committed slice, driver-side metadata only.
    val hfs = SeqFiles.fs(spark, path)
    val legacy = dirs.filterNot(d =>
      hfs.exists(new org.apache.hadoop.fs.Path(d, "data")))
    require(legacy.isEmpty,
      s"profile bundle at $path contains ${legacy.length} slice(s) in the " +
        "legacy component-subdir layout (no data/ table): " +
        legacy.map(_.split('/').last).sorted.mkString(", ") +
        " — the on-disk format changed to one unified table per slice; " +
        "rebuild the bundle (saveTableProfile/appendTableProfile) from the " +
        "source data with this version")
    // ONE relation over every slice's unified table; each component is a
    // discriminator filter + projection of it (one file listing + footer
    // set per bundle instead of four). The whole relation is SKETCH-BOUNDED
    // — slices × (depth·width + topK + kmvK + 1) rows, KBs at any corpus
    // scale — so it is read as ONE partition: every merge, join and
    // aggregate over the components (here, in the decision and advice
    // builders, in [[compactTableProfile]]) then plans with no shuffle,
    // under whatever conf the caller's session holds. Without this each
    // of those exchanges would pay a stage (and an AQE materialization
    // round-trip) for a few KB.
    val all = spark.read.parquet(dirs.map(d => s"$d/data"): _*).coalesce(1)
    def component(sub: String): DataFrame = {
      val owned = sub match {
        case "cells" => Seq("r", "c", "n")
        case "topk"  => Seq("k", "cnt")
        case "kmv"   => Seq("h")
        case "stats" => Seq("rows", "bytes", "depth", "width", "top_k",
          "kmv_k", "top_covered")
      }
      all.filter(col("component") === sub).select(owned.map(col): _*)
    }
    val st = component("stats")
    // one bounded collect (a row per slice): shape validation + coverage
    val rows = st.select(col("depth"), col("width"), col("top_k"),
      col("kmv_k"), col("top_covered")).collect()
    val shapes = rows.map(r =>
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))).distinct
    require(shapes.length == 1,
      s"table profile at $path mixes sketch shapes " +
        shapes.map { case (d, w, t, k) => s"${d}x$w/t$t/k$k" }
          .sorted.mkString(",") +
        " — rebuild with one ProfileParams; mixed-shape sketches cannot merge")
    val (depth, width, topK, kmvK) = shapes(0)
    TableProfile(
      Sketches.countMinMerge(Seq(component("cells"))),
      component("topk"),
      Sketches.kmvMerge(Seq(component("kmv")), kmvK),
      st.agg(sum(col("rows")).as("rows"), sum(col("bytes")).as("bytes")),
      depth, width, topK, kmvK, rows.forall(_.getBoolean(4)))
  }

  /**
   * Compact a profile bundle: fold the slice pile into ONE merged slice
   * at `dst` (committed through the same staged atomic publish as every
   * append). The bundle is the one artifact family whose compaction IS
   * its merge semantics: cells collapse to the summed grid (≤ depth·width
   * rows forever after), kmv to the k-min of the union (exactly the
   * one-shot sketch), stats to one summed row, and topk to the merged
   * per-key sums truncated back to `topK`. Under per-micro-batch
   * maintenance ([[appendTableProfile]] from `foreachBatch`) the pile
   * otherwise grows one slice per trigger — unbounded listing cost for
   * an artifact whose information content is fixed-size.
   *
   * Decision preservation: every decision NUMBER derives from the MERGED
   * components, so a decision from `dst` equals a decision from the
   * loaded pile UNCONDITIONALLY — the merged top-1 count survives any
   * topK ≥ 1 truncation. The `top_share_exact` marker is the one field
   * that can move, and only DOWNWARD: the folded slice's `top_covered`
   * requires all sources covered AND the merged key set to survive
   * re-truncation (a truncated-but-exact topk cannot promise exactness
   * under FUTURE appends — a later slice's hot key may have been cut
   * from the fold, which is exactly what the per-slice bit exists to
   * catch), so a fold over more distinct keys than `topK` degrades the
   * marker from exact to conservative while changing no number.
   * Audited: summed rows/bytes must match the pile's. Production shape:
   * `dst` under a [[Generations]] root, published by pointer flip.
   */
  def compactTableProfile(spark: org.apache.spark.sql.SparkSession,
                          src: String, dst: String): Unit = {
    require(src != dst, "compactTableProfile: dst must be a fresh path")
    val prof = loadTableProfile(spark, src) // validates shape, one stats read
    val hfs = SeqFiles.fs(spark, dst)
    val target = new org.apache.hadoop.fs.Path(dst, "slices/base")
    require(!hfs.exists(target),
      s"compactTableProfile: $dst already holds a committed base slice — " +
        "fold into a fresh generation path")
    val stage = new org.apache.hadoop.fs.Path(dst, "_staging/base")
    if (hfs.exists(stage)) hfs.delete(stage, true)
    // the loaded components are single-partition (see
    // [[loadTableProfile]]), so the fold below plans with no exchange
    val pre = prof.stats.collect()(0)
    val mergedTopk = prof.topk.groupBy(col("k")).agg(sum(col("cnt")).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the four fold outputs as ONE unified write (the [[writeSlice]]
      // discipline): one job, one commit; the merged-topk cache feeds
      // both the truncated topk branch and the coverage re-check column,
      // filled once inside the single action
      unifiedComponent("cells", prof.cells)
        .unionByName(unifiedComponent("topk",
          mergedTopk.orderBy(col("cnt").desc, col("k").asc).limit(prof.topK)))
        .unionByName(unifiedComponent("kmv", prof.kmv))
        .unionByName(unifiedComponent("stats", prof.stats
          .crossJoin(mergedTopk.agg(count(lit(1)).as("__dk")))
          .select(col("rows"), col("bytes"), lit(prof.depth).as("depth"),
            lit(prof.width).as("width"), lit(prof.topK).as("top_k"),
            lit(prof.kmvK).as("kmv_k"),
            (lit(prof.topCovered) && col("__dk") <= prof.topK)
              .as("top_covered"))))
        .write.mode("overwrite").parquet(s"$stage/data")
    } finally mergedTopk.unpersist()
    commitSlice(hfs, dst, stage, target)
    val post = loadTableProfile(spark, dst).stats.collect()(0)
    require(pre.getAs[Long]("rows") == post.getAs[Long]("rows") &&
        pre.getAs[Long]("bytes") == post.getAs[Long]("bytes"),
      s"compactTableProfile: summed stats changed ($pre -> $post) — " +
        "the source changed mid-compaction; re-run")
  }

  /**
   * DISTINCT-KEY advice from a persisted bundle alone — the aggregation
   * planner's twin of [[joinDecisionFromProfiles]]: before committing to
   * a `groupBy(key)` over a 100 TB table, the two artifact-derivable
   * numbers that size it are the exchange volume (exact byte total) and
   * the OUTPUT cardinality (the KMV distinct estimate — whether the
   * grouped result is broadcastable, driver-collectable, or itself a
   * big table). One row: `(rows, bytes, k, n, hk, estimate)` — the
   * [[Sketches.kmvEstimate]] columns joined with the exact stats; the
   * whole derivation (md5 k-min chain included) replays in SQL, and the
   * merge law holds exactly (k-min commutes with union), so advice from
   * merged deltas equals advice from a one-shot scan.
   */
  def profileDistinctAdvice(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame = {
    val prof = loadTableProfile(spark, path)
    prof.stats.crossJoin(broadcast(Sketches.kmvEstimate(prof.kmv, prof.kmvK)))
      .select(col("rows"), col("bytes"), col("k"), col("n"), col("hk"),
        col("estimate"))
  }

  /**
   * The COMPLETE planner row from two persisted bundles alone — the
   * [[sizedJoinDecision]] columns (strategy + exchange sizing) with ZERO
   * passes over fact or dim: every input is a KB-sized artifact read
   * (depth·width cells, slices·topK hot keys, slice stats). This is the
   * deployment shape the inline [[joinDecision]] exists to gate: ingest
   * maintains each table's bundle incrementally ([[appendTableProfile]]
   * per batch), and join planning — including planning the SAME join
   * repeatedly under different thresholds or against many candidate dims
   * — never touches the data again.
   *
   * MERGE LAW (the `join_profile_decision` gate replays it): because
   * cells, stats, and (under the [[ProfileParams.topK]] precondition)
   * the top-1 count all merge exactly, the decision row from a profile
   * built as save + N delta-appends over a partition of the table is
   * IDENTICAL to [[sizedJoinDecision]] run one-shot over the whole
   * table. When the precondition fails (a slice whose top-`topK` list
   * misses the global hottest key), the merged top count is a lower
   * bound, so `top_share` can only sink — the decision degrades from
   * 'salted' toward 'bloom_pruned'/'plain', never conversely; and since
   * every strategy returns identical rows ([[chooseJoin]]'s structural
   * identity), a degraded decision costs time, never correctness.
   *
   * The precondition is RECORDED, not just documented: `top_share_exact`
   * carries the AND of the fact bundle's per-slice `top_covered` bits
   * (each slice's topk held its ENTIRE key set — the sufficient condition
   * a maintainer can actually check per ingest batch), so a consumer can
   * tell an exact `top_share` from a lower bound without touching the
   * corpus. One caveat for STRING join keys: the topk component counts
   * xxhash64 sketch keys, while an inline [[joinDecision]] profiles raw
   * keys — a 2⁻⁶⁴-probability hash collision merging two raw keys could
   * OVERSTATE the artifact's top_share (the one direction the
   * degrades-toward-plain law does not cover). Astronomically rare, and
   * bounded by strategy result identity either way; noted because the
   * law above is otherwise unconditional.
   */
  def joinDecisionFromProfiles(spark: org.apache.spark.sql.SparkSession,
                               factPath: String, dimPath: String,
                               th: JoinThresholds,
                               t: Capacity.SizingTargets = Capacity.SizingTargets()): DataFrame =
    joinDecisionFromProfiles(loadTableProfile(spark, factPath),
      loadTableProfile(spark, dimPath), th, t)

  /** [[joinDecisionFromProfiles]] over ALREADY-LOADED bundles — the form
    * for a planner asking several questions of the same profiles (same
    * join under different thresholds, one fact against many candidate
    * dims): each [[loadTableProfile]] costs a slice listing plus a
    * bounded stats read, so a loop that reloads per question pays that
    * per question for artifacts that cannot have changed mid-plan.
    * Decision semantics are identical by construction (the path form
    * delegates here). */
  def joinDecisionFromProfiles(f: TableProfile, d: TableProfile,
                               th: JoinThresholds,
                               t: Capacity.SizingTargets): DataFrame = {
    require(f.depth == d.depth && f.width == d.width,
      s"joinDecisionFromProfiles: sketch shapes differ (fact ${f.depth}x${f.width}, " +
        s"dim ${d.depth}x${d.width}) — the inner product needs one hash family")
    val est = Sketches.cmsJoinSize(f.cells, d.cells, f.depth)
    val top = f.topk
      .groupBy(col("k")).agg(sum(col("cnt")).as("cnt"))
      .agg(coalesce(max(col("cnt")), lit(0L)).as("top_cnt"))
    f.stats.select(col("rows").as("fact_rows"), col("bytes").as("fact_bytes"))
      .crossJoin(broadcast(
        d.stats.select(col("rows").as("dim_rows"), col("bytes").as("dim_bytes"))))
      .crossJoin(broadcast(top))
      .crossJoin(broadcast(est))
      .withColumn("top_share",
        round(col("top_cnt").cast("double") / col("fact_rows"), 6))
      .withColumn("est_selectivity",
        round(col("est_join_size").cast("double") / col("fact_rows"), 6))
      .withColumn("strategy",
        when(col("dim_rows") <= th.broadcastMaxDimRows, "broadcast")
          .when(col("top_share") >= th.skewShareMin, "salted")
          .when(col("est_selectivity") <= th.bloomSelectivityMax, "bloom_pruned")
          .otherwise("plain"))
      .withColumn("advised_shuffle_partitions",
        Capacity.advisedPartitions(col("fact_bytes") + col("dim_bytes"), t))
      .withColumn("top_share_exact", lit(f.topCovered))
      .select(col("fact_rows"), col("dim_rows"), col("top_share"),
        col("est_join_size"), col("est_selectivity"), col("strategy"),
        col("fact_bytes"), col("dim_bytes"), col("advised_shuffle_partitions"),
        col("top_share_exact"))
  }

  /**
   * WRITE/EXCHANGE sizing advice from a persisted bundle alone — the
   * fourth artifact-derivable planner answer ([[Capacity.sizeAdvice]]'s
   * columns with zero corpus passes): the summed exact stats rows give
   * the table's row count and byte total, and the same clamped-ceildiv
   * int64 arithmetic turns them into the advised shuffle-partition count
   * and output-file count for any stage that moves or writes the table.
   * One row: `(rows, bytes, advised_shuffle_partitions, advised_files)`.
   */
  def profileSizeAdvice(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        t: Capacity.SizingTargets = Capacity.SizingTargets()): DataFrame =
    loadTableProfile(spark, path).stats
      .select(col("rows"), col("bytes"),
        Capacity.advisedPartitions(col("bytes"), t)
          .as("advised_shuffle_partitions"),
        greatest(lit(1L), Capacity.ceilDiv(col("bytes"), t.targetFileBytes))
          .as("advised_files"))

  /**
   * KEY-OVERLAP advice from two persisted bundles — the third planner
   * signal the KMV component unlocks ([[Sketches.kmvSetEstimate]], the
   * theta-sketch set algebra on the exact-replay substrate): estimated
   * union size, Jaccard, and intersection of two tables' key sets with
   * zero corpus passes. The referential-health read: a fact profiled on
   * its FK against its dim's PK should show `inter_est ≈` the fact's
   * distinct count — a Jaccard collapse between ingest epochs means
   * orphaned fact keys (a broken upstream feed) caught from KB-sized
   * artifacts BEFORE any join runs and reports empty. Both bundles must
   * share `kmvK` (k-min sets of different k have no common floor).
   */
  def profileOverlapAdvice(spark: org.apache.spark.sql.SparkSession,
                           pathA: String, pathB: String): DataFrame = {
    val a = loadTableProfile(spark, pathA)
    val b = loadTableProfile(spark, pathB)
    require(a.kmvK == b.kmvK,
      s"profileOverlapAdvice: kmvK differs (${a.kmvK} vs ${b.kmvK}) — " +
        "k-min sets of different k cannot intersect soundly; rebuild one side")
    Sketches.kmvSetEstimate(a.kmv, b.kmv, a.kmvK)
  }

  /**
   * APPLY the advised exchange sizing ([[sizedJoinDecision]] /
   * [[joinDecisionFromProfiles]]'s `advised_shuffle_partitions`) to a
   * plain equi-join: both sides are hash-repartitioned on their keys to
   * exactly `advised` partitions, which satisfies the join's
   * distribution requirement — Spark reuses the two explicit exchanges
   * instead of inserting its own at the static
   * `spark.sql.shuffle.partitions` (the one global knob the advice
   * exists to override per-stage; an explicit numPartitions is also
   * exempt from AQE coalescing, which can only shrink counts anyway —
   * the advice guards the too-SMALL direction AQE cannot fix). Result
   * rows are the plain join's; only the exchange width changes.
   */
  def advisedExchangeJoin(fact: DataFrame, dim: DataFrame,
                          factKey: String, dimKey: String,
                          advised: Int): DataFrame = {
    require(advised >= 1, s"advisedExchangeJoin: advised must be >= 1, got $advised")
    val f = fact.repartition(advised, col(factKey))
    val d = dim.repartition(advised, col(dimKey))
    f.join(d, f(factKey) === d(dimKey)).drop(d(dimKey))
  }

  /**
   * [[chooseJoin]] fed by persisted bundles: the decision comes from
   * [[joinDecisionFromProfiles]] (zero corpus passes — the 1-row collect
   * reads artifacts only), then the chosen strategy runs on the actual
   * frames, with the decision row's `advised_shuffle_partitions` applied
   * to the exchange-bearing branches (see [[chooseJoin]] — the advice is
   * computed AND used, never just reported). The strategies' structural
   * result identity is unchanged; only the decision inputs moved from
   * inline scans to artifacts, so a stale bundle can mis-cost a join but
   * never corrupt it. As with [[chooseJoin]], pass a narrow
   * `factSaltCols` subset when the salted branch can fire — the
   * always-correct default hashes every fact column per row to derive
   * one salt byte.
   */
  def chooseJoinFromProfiles(fact: DataFrame, dim: DataFrame,
                             factKey: String, dimKey: String,
                             factProfile: String, dimProfile: String,
                             th: JoinThresholds = JoinThresholds(),
                             factSaltCols: Seq[String] = Nil,
                             t: Capacity.SizingTargets = Capacity.SizingTargets()): JoinPlan = {
    require(factKey != dimKey,
      s"chooseJoinFromProfiles: fact and dim key columns must be named " +
        s"differently (both '$factKey') — rename one side first")
    require(!fact.columns.contains(dimKey) && !dim.columns.contains(factKey),
      "chooseJoinFromProfiles: key names must be unique across both sides " +
        "(see chooseJoin) — rename first; strategy branches would otherwise " +
        "diverge in schema")
    val rows = joinDecisionFromProfiles(fact.sparkSession,
      factProfile, dimProfile, th, t).collect()
    require(rows.nonEmpty && rows(0).getAs[Long]("fact_rows") > 0L,
      "chooseJoinFromProfiles: empty fact profile — nothing to join")
    val dcs = rows(0)
    val strategy = dcs.getAs[String]("strategy")
    val advised = dcs.getAs[Long]("advised_shuffle_partitions")
    val result = runStrategy(fact, dim, factKey, dimKey, th, factSaltCols,
      strategy, advised.toInt)
    JoinPlan(strategy,
      dcs.getAs[Long]("fact_rows"), dcs.getAs[Long]("dim_rows"),
      dcs.getAs[Double]("top_share"), dcs.getAs[Long]("est_join_size"),
      dcs.getAs[Double]("est_selectivity"), advised, result)
  }

  /** The one strategy-dispatch implementation shared by [[chooseJoin]]
    * and [[chooseJoinFromProfiles]] — result identity across strategies
    * is proven once, here. The exchange-bearing branches run at the
    * ADVISED width the decision row already computed: plain through
    * [[advisedExchangeJoin]], salted through [[Skew.saltedJoin]]'s sized
    * exchanges. Broadcast runs no exchange; the bloom branch keeps the
    * static conf deliberately — its post-prune exchange volume is far
    * below the full-input bytes the advice was derived from (that is the
    * point of the prune), so applying the advice there would oversize. */
  private def runStrategy(fact: DataFrame, dim: DataFrame, factKey: String,
                          dimKey: String, th: JoinThresholds,
                          factSaltCols: Seq[String], strategy: String,
                          advised: Int): DataFrame =
    strategy match {
      case "broadcast" =>
        fact.join(broadcast(dim), fact(factKey) === dim(dimKey))
          .drop(dim(dimKey))
      case "salted" =>
        val saltCols = if (factSaltCols.nonEmpty) factSaltCols
                       else fact.columns.toSeq
        Skew.saltedJoin(fact, dim.withColumnRenamed(dimKey, factKey),
          factKey, th.salt, saltCols, Some(advised))
      case "bloom_pruned" =>
        Bloom.prunedJoin(fact, dim, factKey, dimKey,
          th.bloomMBits, th.bloomNumHashes).drop(dimKey)
      case _ =>
        advisedExchangeJoin(fact, dim, factKey, dimKey, advised)
    }

  /**
   * Pick and RUN the strategy: inner equi-join `fact(factKey) =
   * dim(dimKey)`, returned with the dim's key column dropped (the key
   * survives once, as `factKey`) — the same rows under every strategy.
   * The decision row is a bounded 1-row collect (the codebook-collect
   * discipline: model-sized state driver-side, corpus-sized work
   * distributed). `factSaltCols` seeds the deterministic salt when the
   * salted branch fires (stable across task retries, which `rand()` is
   * not). The default — every fact column — is the always-correct
   * fallback, but it hashes the ENTIRE row per row: on a wide fact table
   * (long strings, arrays) that is a second full-row pass just to derive
   * one salt byte. Pass a narrow, stable column subset (an id column, or
   * the join key plus a timestamp) whenever one exists — ANY subset
   * yields a correct join (the salt only spreads rows; the equi-join
   * condition is unchanged), and a subset that distinguishes the hot
   * key's rows spreads them just as uniformly at a fraction of the
   * hashing cost.
   *
   * The decision is the SIZED row ([[sizedJoinDecision]] — one extra
   * narrow byte-accounting aggregate per side), and its
   * `advised_shuffle_partitions` is APPLIED to the chosen plan's
   * exchange-bearing branches (plain via [[advisedExchangeJoin]], salted
   * via [[Skew.saltedJoin]]'s sized exchanges) — the one static knob the
   * planner exists to override is actually overridden, per stage, with
   * the number it computed. `t` tunes the target partition size.
   */
  def chooseJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, th: JoinThresholds = JoinThresholds(),
                 factSaltCols: Seq[String] = Nil,
                 t: Capacity.SizingTargets = Capacity.SizingTargets()): JoinPlan = {
    require(factKey != dimKey,
      s"chooseJoin: fact and dim key columns must be named differently " +
        s"(both '$factKey') — rename one side first")
    // schema identity across strategies needs the key names to be unique
    // across BOTH sides: the bloom branch drops dimKey by NAME (it would
    // take a same-named fact column with it), and the salted branch
    // renames dimKey→factKey (ambiguous if dim already has a factKey
    // column). Fail loudly instead of letting the picked strategy decide
    // whether the schema survives.
    require(!fact.columns.contains(dimKey),
      s"chooseJoin: fact already has a column named '$dimKey' (the dim key) — " +
        "rename it first; strategy branches would otherwise diverge in schema")
    require(!dim.columns.contains(factKey),
      s"chooseJoin: dim already has a column named '$factKey' (the fact key) — " +
        "rename it first; strategy branches would otherwise diverge in schema")
    val rows = sizedJoinDecision(fact, dim, factKey, dimKey, th, t).collect()
    require(rows.nonEmpty,
      "chooseJoin: empty fact side — no decision row (nothing to join)")
    val d = rows(0)
    val strategy = d.getAs[String]("strategy")
    val advised = d.getAs[Long]("advised_shuffle_partitions")
    val result = runStrategy(fact, dim, factKey, dimKey, th, factSaltCols,
      strategy, advised.toInt)
    JoinPlan(strategy,
      d.getAs[Long]("fact_rows"), d.getAs[Long]("dim_rows"),
      d.getAs[Double]("top_share"), d.getAs[Long]("est_join_size"),
      d.getAs[Double]("est_selectivity"), advised, result)
  }
}
