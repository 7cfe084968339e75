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
   * groups of ONE unified parquet table per slice — one write job and one
   * [[SegmentStore]] commit per slice, one relation per bundle at load.
   *
   * Every component is MERGEABLE by construction: cells sum cell-wise
   * ([[Sketches.countMinMerge]] — CMS(A ⊎ B) is exactly the one-shot
   * sketch of A ∪ B), stats sum row-wise, and topk counts sum per key
   * (exactness precondition on [[ProfileParams.topK]]). So
   * [[appendTableProfile]] just adds a delta SLICE — no base rewrite, no
   * read-modify-write — and the loader folds the pile.
   *
   * ATOMIC SLICE PUBLISH: a save is one [[SegmentStore]] commit that
   * replaces every live slice, an append one commit that adds a slice,
   * and the manifest rename is the only commit point. A reader sees all
   * four components of a slice or none of them, so decisions can never
   * silently mix slice populations, and a reader resolved before a save
   * keeps reading the bundle it resolved. An append's `sliceId` is its
   * commit's tag, and a replay under a tag the newest manifest names
   * publishes nothing: the exactly-once contract a `foreachBatch`
   * maintainer needs under at-least-once replays (pass `sliceId =
   * s"batch-$id"` — no side marker files, the commit IS the marker). The
   * store writes only `path/c-N/` and `path/_manifest/`, so unrelated
   * files at the same path survive a save.
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
   */
  def saveTableProfile(df: DataFrame, key: String, path: String,
                       p: ProfileParams = ProfileParams()): Unit =
    writeSlice(df, key, path, p, replace = true, tag = "")

  /** Add an ingest slice's profile as one more committed slice (no base
    * rewrite) — the bundle must be written with the SAME depth/width as
    * the base ([[loadTableProfile]] validates; a shape mix cannot merge).
    * A non-empty `sliceId` tags the commit: a replay under the same id is
    * a no-op (exactly-once maintenance under at-least-once delivery); the
    * empty default always appends. */
  def appendTableProfile(df: DataFrame, key: String, path: String,
                         p: ProfileParams = ProfileParams(),
                         sliceId: String = ""): Unit = {
    // the tag is one field of a tab-separated manifest line: a plain id
    // keeps tabs, line breaks and path-like names out of it
    require(sliceId.isEmpty || sliceId.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"profile sliceId must be a plain id ([A-Za-z0-9][A-Za-z0-9._-]*), got '$sliceId'")
    writeSlice(df, key, path, p, replace = false, tag = sliceId)
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

  /** One slice as its unified table: the cell grid, the `p.topK` hottest
    * of the per-key `counts` (k, cnt), the KMV sketch and the stats row —
    * the exact `totals` (rows, bytes), the sketch shape and the coverage
    * bit (`covered` and at most `p.topK` distinct keys in `counts`). A
    * few KB, so one file: the loader opens one footer per slice. */
  private def unifiedSlice(cells: DataFrame, counts: DataFrame, kmv: DataFrame,
                           totals: DataFrame, p: ProfileParams,
                           covered: Boolean): DataFrame =
    unifiedComponent("cells", cells)
      .unionByName(unifiedComponent("topk",
        counts.orderBy(col("cnt").desc, col("k").asc).limit(p.topK)))
      .unionByName(unifiedComponent("kmv", kmv))
      .unionByName(unifiedComponent("stats", totals
        .crossJoin(counts.agg(count(lit(1)).as("__dk")))
        .select(col("rows"), col("bytes"), lit(p.depth).as("depth"),
          lit(p.width).as("width"), lit(p.topK).as("top_k"),
          lit(p.kmvK).as("kmv_k"),
          (lit(covered) && col("__dk") <= p.topK).as("top_covered"))))
      .coalesce(1)

  /** One slice: the four components as one unified write, committed as
    * a save (`replace`) or an append under `tag`. */
  private def writeSlice(df: DataFrame, key: String, path: String,
                         p: ProfileParams, replace: Boolean, tag: String): Unit = {
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
      val grouped = slice.select(k.as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // fill BOTH caches in one sequential pass (computing grouped scans
        // the slice), so the unified write's concurrent AQE stages only
        // read them: racing first stages each filled the same block
        grouped.count()
        // the kmv branch: the slice's KMV distinct-count sketch over the
        // SAME sketch key (k-min commutes with union, so the loader's
        // kmvMerge over slices IS the one-shot sketch — the pinned
        // SketchLawsSpec law; string keys ride the xxhash64 first, where
        // a collision can only merge two keys = undercount by at most
        // the 2^-64 collision mass)
        SegmentStore.write(unifiedSlice(
          Sketches.countMinCells(slice, k, p.depth, p.width), grouped,
          Sketches.kmvSketch(slice.select(k.as("k")), col("k"), p.kmvK),
          slice.agg(count(lit(1)).as("rows"),
            coalesce(sum(Capacity.rowBytes(slice)), lit(0L)).as("bytes")),
          p, covered = true), path, replace, tag = tag)
      } finally grouped.unpersist()
    } finally slice.unpersist()
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
    * sketch), stats by summing slice rows. It reads exactly the slices of
    * the newest [[SegmentStore]] manifest (one `_manifest` listing, no
    * listing or schema-inference job), each carrying all four components
    * by construction — the torn-bundle state cannot be observed. The
    * sketch shape is validated across slices (bounded collect over the
    * slice-count-sized stats table); a depth/width/kmvK mix aborts —
    * sketches of different shapes share no hash family or k-floor to
    * merge under. */
  def loadTableProfile(spark: org.apache.spark.sql.SparkSession,
                       path: String): TableProfile =
    profileOf(path, SegmentStore.load(spark, path, "table profile"))

  /** The profile of the unified `bundle` table stored at `path`. */
  private def profileOf(path: String, bundle: DataFrame): TableProfile = {
    // each component is a discriminator filter + projection of the ONE
    // relation. The whole relation is SKETCH-BOUNDED — slices × (depth·
    // width + topK + kmvK + 1) rows, KBs at any corpus scale — so it is
    // read as ONE partition: every merge, join and aggregate over the
    // components (here, in the decision and advice builders, in
    // [[compactTableProfile]]) then plans with no shuffle, under whatever
    // conf the caller's session holds. Without this each of those
    // exchanges would pay a stage (and an AQE materialization round-trip)
    // for a few KB.
    val all = bundle.coalesce(1)
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
      summedStats(st),
      depth, width, topK, kmvK, rows.forall(_.getBoolean(4)))
  }

  /** The summed (rows, bytes) of the stats rows in `stats`. */
  private def summedStats(stats: DataFrame): DataFrame =
    stats.agg(sum(col("rows")).as("rows"), sum(col("bytes")).as("bytes"))

  /**
   * Compact a profile bundle in place: fold the slice pile into ONE
   * merged slice, one commit of its store ([[SegmentStore.compact]]). The
   * bundle
   * is the one artifact family whose compaction IS its merge semantics:
   * cells collapse to the summed grid (≤ depth·width rows forever after),
   * kmv to the k-min of the union (exactly the one-shot sketch), stats to
   * one summed row, and topk to the merged per-key sums truncated back to
   * `topK`. Under per-micro-batch maintenance ([[appendTableProfile]]
   * from `foreachBatch`) the pile otherwise grows one slice per trigger —
   * unbounded read cost for an artifact whose information content is
   * fixed-size.
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
   * Audited before the publish: the summed rows/bytes of the folded slice
   * must match the pile's, and the newest commit must still be the pile
   * it folded — an append that lands mid-compaction fails it and the
   * store keeps the append. Readers loaded before keep the slices' files
   * for the store's grace.
   */
  def compactTableProfile(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    SegmentStore.compact(spark, path, "table profile", Nil,
      b => summedStats(b.filter(col("component") === "stats"))) { pile =>
      val prof = profileOf(path, pile)
      // the loaded components are single-partition, so the fold plans
      // with no exchange
      unifiedSlice(prof.cells,
        prof.topk.groupBy(col("k")).agg(sum(col("cnt")).as("cnt")), prof.kmv,
        prof.stats, ProfileParams(prof.depth, prof.width, prof.topK, prof.kmvK),
        prof.topCovered)
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
    * dims): each [[loadTableProfile]] costs a manifest read plus a
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
