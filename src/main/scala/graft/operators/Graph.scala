package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftPlanBridge
import org.apache.spark.sql.types.DecimalType

/**
 * Iterative graph analytics over edge tables ([[Dedup.dupClusters]] is the
 * connected-components sibling; this adds centrality). The training-data
 * use: rank hosts/documents in a link or citation graph for crawl
 * prioritization and quality weighting.
 *
 * Numeric discipline (what makes a float fixpoint loop hash-comparable
 * across engines AND partitionings): every per-edge contribution is
 * rounded to 12 decimals (a deterministic unary op on a deterministic
 * double), summed as DECIMAL(30,12) — exact, order-free — and the damped
 * update is re-rounded to 12 decimals, so each iteration's ranks are
 * bit-reproducible; the DuckDB oracle replays all iterations with the
 * same arithmetic (the weighted-sample/dsum convention applied to an
 * iterative algorithm).
 *
 * Scale shape: per iteration one equi-join of the rank table against the
 * (degree-annotated, cached) edge table plus one partial/final aggregate —
 * the canonical distributed PageRank plan. The rank table is node-sized;
 * while it fits the broadcast budget (`broadcastNodeLimit`) it is
 * MATERIALIZED as a local table between iterations (the Lloyd-codebook
 * discipline: corpus-sized work distributed, model-sized state through the
 * driver), so each iteration is exactly one cached edge scan with one
 * broadcast hash join — no nested lazy broadcast subplans re-deriving
 * earlier rounds, no edge-table shuffle. Past the budget (web-scale
 * graphs) the joins fall back to shuffles on the edge key and the loop
 * cuts rank lineage per round ([[Dedup.dupClusters]] discipline). Dangling
 * nodes (no out-edges) keep the standard simplification: their mass is not
 * redistributed.
 */
object Graph {

  /**
   * PageRank over a directed edge list with `iters` damped power
   * iterations. Returns (node, rank); ranks rounded to 12 decimals.
   * Self-loops count like any edge; duplicate edges are collapsed (pass
   * `edgesDistinct = true` when the input is already a pair set to skip
   * that shuffle).
   *
   * `danglingRedistribute` opts into the standard dangling-mass
   * treatment: each iteration the mass sitting on sink nodes (no
   * out-edges) is summed decimal-exactly and redistributed uniformly —
   * `rank' = round12(tp + d·(csum + round12(dm/n)))` — so total rank
   * stays ≈1 on graphs with sinks. Off by default: on the both-direction
   * trade graphs every node has out-edges and the term is identically
   * zero, so the default keeps those oracles' replay shape unchanged;
   * the `pagerank_dangling` gate replays the opt-in on a real sink graph.
   */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
               srcCol: String = "src", dstCol: String = "dst",
               edgesDistinct: Boolean = false,
               broadcastNodeLimit: Long = 1000000L,
               danglingRedistribute: Boolean = false): DataFrame =
    pageRankImpl(edges, iters, damping, srcCol, dstCol, None,
      edgesDistinct, broadcastNodeLimit, danglingRedistribute = danglingRedistribute)

  /**
   * Weight-proportional PageRank: each edge carries an INTEGER weight
   * (e.g. link count / interaction count) and a node's rank splits across
   * its out-edges proportionally — contribution = rank · (w / Σw_src),
   * with the division evaluated exactly in that shape so the DuckDB
   * oracle replays it bit-for-bit. Integer weights keep Σw exact; the
   * per-edge contribution then follows the same round-12 / DECIMAL-sum
   * discipline as the unweighted operator. Duplicate (src, dst) rows are
   * NOT collapsed here — the caller provides the weighted pair set.
   */
  def pageRankWeighted(edges: DataFrame, iters: Int, damping: Double = 0.85,
                       srcCol: String = "src", dstCol: String = "dst",
                       weightCol: String = "w",
                       broadcastNodeLimit: Long = 1000000L): DataFrame =
    pageRankImpl(edges, iters, damping, srcCol, dstCol, Some(weightCol),
      edgesDistinct = true, broadcastNodeLimit)

  /**
   * Personalized PageRank: teleport mass goes ONLY to the `seeds` set —
   * `rank' = round12([node ∈ S] · (1-d)/|S| + d · Σ contrib)` — ranking
   * nodes by proximity to the seeds (crawl prioritization from trusted
   * hosts, neighborhood scoring from a labeled subset). The start vector
   * is the same teleport distribution (seeds at `round12(1/|S|)`, others
   * 0). Seeds not present in the graph still receive teleport mass (they
   * are counted in |S| and emitted as isolated nodes); the same round-12 /
   * DECIMAL-sum discipline and small/distributed branches apply.
   */
  def pageRankPersonalized(edges: DataFrame, seeds: Set[Long], iters: Int,
                           damping: Double = 0.85,
                           srcCol: String = "src", dstCol: String = "dst",
                           edgesDistinct: Boolean = false,
                           broadcastNodeLimit: Long = 1000000L): DataFrame = {
    require(seeds.nonEmpty, "pageRankPersonalized: seeds must be non-empty")
    pageRankImpl(edges, iters, damping, srcCol, dstCol, None,
      edgesDistinct, broadcastNodeLimit, Some(seeds))
  }

  /**
   * HITS (hubs & authorities) over a DIRECTED edge list — the second
   * classic link-analysis centrality: authorities are pointed-to by good
   * hubs (`a(v) = Σ_{u→v} h(u)`), hubs point at good authorities
   * (`h(u) = Σ_{u→v} a(v)`), each vector L2-normalized per round. On a
   * bipartite interaction graph (customer→supplier, page→cited-doc) the
   * two scores separate the "big consumers" from the "widely-consumed".
   *
   * Numeric discipline (cf. [[pageRank]]): contributions are 12-decimal
   * grid values summed as DECIMAL(30,12); the L2 norm is
   * `round12(√Σ round12(x²))` — `sqrt` is IEEE-correctly-rounded, and a
   * square of a 12-grid value rounds tie-free (the [[Pca]] argument) —
   * so every iteration replays bit-for-bit in DuckDB. Returns
   * (node, hub, auth) for every node; nodes without the respective role
   * hold 0.0. Same node-sized-state / distributed branching as
   * [[pageRank]].
   */
  def hits(edges: DataFrame, iters: Int,
           srcCol: String = "src", dstCol: String = "dst",
           edgesDistinct: Boolean = false,
           broadcastNodeLimit: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"hits: iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e = (if (edgesDistinct) e0 else e0.distinct())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = nodes.count()
      require(n > 0, "hits: empty graph")
      val small = n <= broadcastNodeLimit
      def r12(x: Double): Double =
        java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
      // L2 norm of the raw sums under the replay discipline:
      // round12(√Σ round12(raw²)) — exact decimal sum, IEEE-exact sqrt
      def l2(raws: Iterable[Double]): Double = {
        var acc = java.math.BigDecimal.ZERO
        raws.foreach(v => acc = acc.add(
          java.math.BigDecimal.valueOf(r12(v * v))))
        r12(math.sqrt(acc.doubleValue))
      }
      // raw contribution sums for one half-step: scores on the `from` end
      // of each edge flow into decimal-exact sums on the `to` end
      def rawSums(e: DataFrame, scores: DataFrame, scoreCol: String,
                  from: String, to: String): DataFrame =
        e.join(if (small) broadcast(scores) else scores, col("node") === col(from))
          .select(col(to).as("node"), round(col(scoreCol), 12).as("c"))
          .groupBy(col("node"))
          .agg(sum(col("c").cast(DecimalType(30, 12))).cast("double").as("raw"))
      if (small) nodeLoop(spark, n)(e, nodes) { loopFrames =>
        // NODE-SIZED-STATE path (the [[pageRank]] discipline, one step
        // further): the raw sums are node-sized, so the norm and the
        // normalized score table are DRIVER arithmetic on the collected
        // rows — one Spark job per half-step instead of three
        val Seq(e, nodes) = loopFrames
        val spark = e.sparkSession
        val nodeList = nodes.collect().map(_.get(0))
        val schema = org.apache.spark.sql.types.StructType(Seq(
          nodes.schema.fields.head.copy(name = "node"),
          org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.DoubleType)))
        def scoreTable(byNode: Map[Any, Double]): DataFrame =
          spark.createDataFrame(
            java.util.Arrays.asList(nodeList.map(v =>
              org.apache.spark.sql.Row(v, byNode.getOrElse(v, 0.0))): _*), schema)
        def stepSmall(scores: DataFrame, from: String, to: String,
                      what: String): (DataFrame, Map[Any, Double]) = {
          val raw = rawSums(e, scores, "s", from, to).collect()
            .map(r => r.get(0) -> r.getDouble(1)).toMap
          val nrm = l2(raw.values)
          require(nrm != 0.0, s"hits: zero $what norm (degenerate graph)")
          val normalized = raw.map { case (v, x) => v -> r12(x / nrm) }
          (scoreTable(normalized), normalized)
        }
        var h = scoreTable(nodeList.map(_ -> r12(1.0 / math.sqrt(n.toDouble))).toMap)
        var hMap = Map.empty[Any, Double]
        var aMap = Map.empty[Any, Double]
        var k = 0
        while (k < iters) {
          val (aT, aM) = stepSmall(h, "src", "dst", "auth")
          val (hT, hM) = stepSmall(aT, "dst", "src", "hub")
          h = hT; hMap = hM; aMap = aM
          k += 1
        }
        spark.createDataFrame(
          java.util.Arrays.asList(nodeList.map(v => org.apache.spark.sql.Row(
            v, hMap.getOrElse(v, 0.0), aMap.getOrElse(v, 0.0))): _*),
          org.apache.spark.sql.types.StructType(Seq(
            nodes.schema.fields.head.copy(name = "node"),
            org.apache.spark.sql.types.StructField("hub", org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("auth", org.apache.spark.sql.types.DoubleType))))
      } else distLoop(spark, e.count())(e, nodes) { loopFrames =>
        // DISTRIBUTED path: norm via a 1-row aggregate, normalized scores
        // re-joined against the node set, lineage cut per half-step;
        // exchange width derived from the edge volume (cache read)
        val Seq(e, nodes) = loopFrames
        val nodesM = nodes.select(col("node")).localCheckpoint()
        def step(scores: DataFrame, from: String, to: String, what: String): DataFrame = {
          val raw = rawSums(e, scores, "s", from, to)
          val nrm = raw
            .agg(round(sqrt(sum(round(col("raw") * col("raw"), 12)
              .cast(DecimalType(30, 12))).cast("double")), 12))
            .head().getDouble(0)
          require(nrm != 0.0, s"hits: zero $what norm (degenerate graph)")
          nodesM.join(raw, Seq("node"), "left")
            .select(col("node"),
              round(coalesce(col("raw"), lit(0.0)) / nrm, 12).as("s"))
            .localCheckpoint()
        }
        var h = nodesM.withColumn("s", round(lit(1.0) / sqrt(lit(n.toDouble)), 12))
          .localCheckpoint()
        var a: DataFrame = null
        var k = 0
        while (k < iters) {
          a = step(h, "src", "dst", "auth")
          h = step(a, "dst", "src", "hub")
          k += 1
        }
        h.select(col("node"), col("s").as("hub"))
          .join(a.select(col("node"), col("s").as("auth")), Seq("node"))
      }
    } finally {
      nodes.unpersist()
      e.unpersist()
    }
  }

  /**
   * Synchronous label propagation (LPA community detection) over a
   * directed edge list with LONG node ids: every node starts labeled with
   * its own id; each of `iters` rounds relabels every node with the most
   * frequent label among its IN-neighbors (`src → dst` means src's label
   * flows to dst), ties broken by the SMALLEST label. The classic
   * algorithm's async sweep order is replaced by synchronous rounds +
   * min-tie-break, which makes every round a deterministic pure function
   * of the previous one — fully SQL-replayable (count + argmax per
   * round), the [[pageRank]] discipline applied to a discrete fixpoint.
   * Nodes with no in-edges keep their current label. Returns
   * (node, label) for every node. A reached fixpoint short-circuits the
   * remaining rounds (a no-op tail, so the result still equals the
   * fixed-`iters` labeling the oracles replay); note synchronous LPA can
   * oscillate with period 2 on bipartite-like graphs — `iters` is then
   * the honest semantic, and the early-exit simply never fires.
   *
   * Scale shape: per round one cached edge scan joined against the
   * node-sized label table (broadcast under `broadcastNodeLimit`, shuffle
   * past it) and a two-stage aggregate — (dst, label) counts with
   * map-side combine (shuffle rows ≤ distinct (dst, label) pairs ≤
   * edges), then a per-node max over a (count, −label) struct, which IS
   * the (count DESC, label ASC) argmax without a window sort. Label state
   * is node-sized: driver-resident under the limit (one Spark job per
   * round), localCheckpoint-cut per round on the distributed branch.
   */
  def labelPropagation(edges: DataFrame, iters: Int,
                       srcCol: String = "src", dstCol: String = "dst",
                       edgesDistinct: Boolean = false,
                       broadcastNodeLimit: Long = 1000000L,
                       weightCol: Option[String] = None): DataFrame = {
    require(iters >= 0, s"labelPropagation: iters must be >= 0, got $iters")
    val spark = edges.sparkSession
    // weighted votes (the pageRankWeighted convention): each in-edge's
    // label vote counts w times, with INTEGER weights so the vote sums
    // stay exact — the argmax semantics and replay shape are unchanged
    val e0 = weightCol match {
      case Some(w) => edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), col(w).cast("long").as("w"))
      case None => edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    }
    // dedup discipline: on the weighted path distinct() over (src, dst, w)
    // would keep duplicate (src, dst) edges carrying DIFFERENT weights and
    // double-vote them — aggregate weights per (src, dst) instead, so
    // semantics are weight-sum per edge regardless of input duplication
    val e1 =
      if (edgesDistinct) e0
      else if (weightCol.isDefined)
        e0.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      else e0.distinct()
    val e = e1
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = nodes.count()
      require(n > 0, "labelPropagation: empty graph")
      val small = n <= broadcastNodeLimit
      // one round's relabeling: in-neighbor label counts → per-node argmax
      // by (count DESC, label ASC); nodes without in-edges are ABSENT here
      val vote = weightCol match {
        case Some(_) => sum(col("w"))
        case None    => count(lit(1))
      }
      def relabeled(e: DataFrame, labels: DataFrame): DataFrame =
        e.join(if (small) broadcast(labels) else labels, col("node") === col("src"))
          .groupBy(col("dst"), col("lbl")).agg(vote.as("c"))
          .groupBy(col("dst").as("node"))
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("lbl"))
      val lblSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lbl",
          org.apache.spark.sql.types.LongType)))
      if (small) nodeLoop(spark, n)(e, nodes) { loopFrames =>
        // node-sized-state path: the label table is driver-resident; each
        // round is ONE Spark job (cached edge scan + LocalTableScan
        // broadcast + two-stage agg + node-sized collect)
        val Seq(e, nodes) = loopFrames
        val spark = e.sparkSession
        val nodeList = nodes.collect().map(_.getLong(0))
        def lblTable(m: Map[Long, Long]): DataFrame =
          spark.createDataFrame(
            java.util.Arrays.asList(nodeList.map(v =>
              org.apache.spark.sql.Row(v, m(v))): _*), lblSchema)
        var lblMap: Map[Long, Long] = nodeList.map(v => v -> v).toMap
        var k = 0
        var converged = false
        while (k < iters && !converged) {
          val upd = relabeled(e, lblTable(lblMap)).collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          val next = nodeList.map(v => v -> upd.getOrElse(v, lblMap(v))).toMap
          // fixpoint early-exit: an unchanged labeling makes every further
          // synchronous round a no-op, so stopping here returns EXACTLY the
          // fixed-`iters` result (what the oracles replay) for fewer jobs
          converged = next == lblMap
          lblMap = next
          k += 1
        }
        spark.createDataFrame(
          java.util.Arrays.asList(nodeList.map(v =>
            org.apache.spark.sql.Row(v, lblMap(v))): _*), lblSchema)
          .select(col("node"), col("lbl").as("label"))
      } else distLoop(spark, e.count())(e, nodes) { loopFrames =>
        // distributed path: label lineage cut per round; no-in-edge nodes
        // keep their previous label via the left join; exchange width
        // derived from the edge volume (cache read)
        val Seq(e, nodes) = loopFrames
        var labels = nodes.select(col("node"), col("node").as("lbl"))
          .localCheckpoint()
        var k = 0
        var converged = false
        while (k < iters && !converged) {
          val prev = labels
          labels = labels.as("p")
            .join(relabeled(e, labels).as("u"), Seq("node"), "left")
            .select(col("node"),
              coalesce(col("u.lbl"), col("p.lbl")).as("lbl"))
            .localCheckpoint()
          // fixpoint witness on the big path: one node-sized join count —
          // same no-op argument as the small path, same lineage-cut loop.
          // Skipped after the LAST round (nothing left to save), so a
          // never-converging fixed-iters run pays iters−1 witness jobs,
          // each node-sized — cheap next to the edge-scan rounds they can
          // eliminate
          converged = k + 1 < iters && labels.as("n")
            .join(prev.as("o"), Seq("node"))
            .filter(col("n.lbl") =!= col("o.lbl"))
            .isEmpty
          k += 1
        }
        labels.select(col("node"), col("lbl").as("label"))
      }
    } finally {
      nodes.unpersist()
      e.unpersist()
    }
  }

  /**
   * Per-node triangle counts + local clustering coefficient over an
   * undirected simple graph (edges accepted in either or both directions;
   * self-loops dropped, duplicates collapsed). Returns
   * (node, triangles, coeff) for every node with at least one edge, with
   * `coeff = round6(2·T / (d·(d−1)))` (0.0 for degree-1 nodes) — the
   * standard cohesion diagnostic for link/citation/co-occurrence graphs.
   *
   * Scale shape — the degree-ordered orientation that makes distributed
   * triangle enumeration skew-proof: every edge is directed from its
   * lower endpoint to its higher under the total order π = (degree, id),
   * so each node's OUT-degree is bounded by O(√m) regardless of raw
   * degree (a celebrity node's star contributes wedges at its low-degree
   * neighbors, not at the hub). Each triangle then has exactly one lowest
   * vertex and is found exactly once: wedge equi-join of the oriented
   * list with itself on the lower endpoint, closed by a second equi-join
   * against the oriented third edge — two shuffle joins on edge-shaped
   * data, no DISTINCT over candidate triples needed. The oriented list is
   * localCheckpointed (reused by both join sides).
   */
  def triangleCounts(edges: DataFrame,
                     srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .localCheckpoint()
      val oriented = und
        .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
        .select(when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
            struct(col("u").as("x"), col("v").as("y")))
          .otherwise(struct(col("v").as("x"), col("u").as("y"))).as("e"))
        .select(col("e.x").as("x"), col("e.y").as("y"))
        .localCheckpoint()
      // wedges at the lowest-π vertex; the unordered (b, c) pair appears in
      // both orders, and exactly one of them matches the oriented closure
      // edge — each triangle emitted once, no dedup shuffle
      val tri = oriented.as("e1")
        .join(oriented.as("e2"),
          col("e1.x") === col("e2.x") && col("e1.y") =!= col("e2.y"))
        .select(col("e1.x").as("a"), col("e1.y").as("b"), col("e2.y").as("c"))
        .join(oriented.select(col("x").as("b"), col("y").as("c")), Seq("b", "c"))
      val perNode = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("t"))
      deg.join(perNode, Seq("n"), "left")
        .select(col("n").as("node"),
          coalesce(col("t"), lit(0L)).as("triangles"),
          when(col("d") < 2, lit(0.0))
            .otherwise(round(lit(2.0) * coalesce(col("t"), lit(0L)) /
              (col("d") * (col("d") - lit(1.0))), 6)).as("coeff"))
    } finally und.unpersist()
  }

  /** Rows one shuffle partition of a sized loop or streaming gate is
    * sized for: each sizing rule divides its row volume by this. */
  private[graft] val RowsPerPartition = 65536L

  /** `ceil(rows / RowsPerPartition)`, clamped to [1, `max`]. */
  private[graft] def partitionsFor(rows: Long, max: Int): Int =
    math.max(1L, math.min(max.toLong, (rows + RowsPerPartition - 1) / RowsPerPartition)).toInt

  /** Run one iteration loop in a private sized clone of `spark`
    * ([[org.apache.spark.sql.graftshim.GraftPlanBridge.sizedClone]]):
    * `inputs` are rebound into the clone (their persisted data is shared),
    * the body builds and runs every round there, and the frame it returns
    * is rebound into `spark`, so later actions on it plan under the
    * caller's conf. The caller's session conf is never touched: a request
    * planned concurrently on it cannot see the loop's sizing. Results are
    * partition-count independent (exact decimal sums and deterministic
    * argmax throughout, the property every graph oracle pins). */
  private def inClone(caller: org.apache.spark.sql.SparkSession,
                      sized: org.apache.spark.sql.SparkSession,
                      inputs: Seq[DataFrame],
                      body: Seq[DataFrame] => DataFrame): DataFrame = {
    val rebound = inputs.map(df => GraftPlanBridge.ofRows(sized, df.queryExecution.analyzed))
    GraftPlanBridge.ofRows(caller, body(rebound).queryExecution.analyzed)
  }

  /** A node-sized-state loop (optimization guide §1.2 step 3). AQE is off:
    * each per-round collect is a tiny fixed-shape query whose broadcast
    * inputs are LocalTableScans, so adaptive stage materialization would
    * only add a scheduling round-trip per exchange per round. Shuffle
    * partitions are `min(session, ceil(n / 64Ki))`: map-side combine bounds
    * every round's exchange at ≤ `n` rows per map task, so the reduce side
    * needs partitions by node count, not the session's batch-sized count. */
  private def nodeLoop(spark: org.apache.spark.sql.SparkSession, n: Long)
                      (inputs: DataFrame*)
                      (body: Seq[DataFrame] => DataFrame): DataFrame =
    inClone(spark, GraftPlanBridge.sizedClone(spark, adaptive = Some(false))(
      session => math.min(session, partitionsFor(n, Int.MaxValue))), inputs, body)

  /** A DISTRIBUTED loop (guide §2.2: size exchanges from the data moved,
    * never a static session count, which undersizes the per-round
    * edge-keyed exchanges at warehouse scale): `ceil(rows / 64Ki)` clamped
    * to [1, 65536] shuffle partitions, `rows` = the loop's per-round
    * exchange volume (the EDGE count: every round joins edge-shaped data).
    * AQE keeps the session's setting: the rounds move real volume, and
    * AQE's runtime re-planning (skew splits, coalescing below the budget)
    * is exactly right; only the partition budget is derived. */
  private[operators] def distLoop(spark: org.apache.spark.sql.SparkSession, rows: Long)
                                 (inputs: DataFrame*)
                                 (body: Seq[DataFrame] => DataFrame): DataFrame =
    inClone(spark, GraftPlanBridge.sizedClone(spark)(_ => partitionsFor(rows, 65536)), inputs, body)

  private def pageRankImpl(edges: DataFrame, iters: Int, damping: Double,
                           srcCol: String, dstCol: String, weightCol: Option[String],
                           edgesDistinct: Boolean,
                           broadcastNodeLimit: Long,
                           seeds: Option[Set[Long]] = None,
                           danglingRedistribute: Boolean = false): DataFrame = {
    require(iters >= 0, s"pageRank: iters must be >= 0, got $iters")
    require(damping > 0.0 && damping < 1.0,
      s"pageRank: damping must be in (0, 1), got $damping")
    val spark = edges.sparkSession
    val e0 = weightCol match {
      case Some(w) => edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(w).cast("long").as("w"))
      case None => edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    }
    val e = (if (edgesDistinct) e0 else e0.distinct())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val graphNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val nodes = (seeds match {
      // seeds are a driver-small model-sized set (teleport targets); any
      // seed absent from the edge list still holds teleport mass, so it
      // joins the node set as an isolated node
      case Some(ss) =>
        import spark.implicits._
        graphNodes.union(ss.toSeq.sorted.toDF("node")).distinct()
      case None => graphNodes
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = nodes.count() // also materializes the persisted node set
      val small = n <= broadcastNodeLimit
      val teleport = (1.0 - damping) / n
      // teleport term and start vector: uniform for classic PageRank,
      // seed-restricted for the personalized variant — both in the exact
      // IEEE shapes the oracles replay
      val (tpCol, initCol) = seeds match {
        case Some(ss) =>
          val isSeed = col("node").isInCollection(ss)
          (when(isSeed, lit((1.0 - damping) / ss.size)).otherwise(lit(0.0)),
            when(isSeed, round(lit(1.0) / ss.size, 12)).otherwise(lit(0.0)))
        case None =>
          (lit(teleport), round(lit(1.0) / n, 12))
      }
      // unweighted: deg = out-edge count, contribution = rank / deg;
      // weighted: deg = Σw (exact integer sum), contribution =
      // rank · (w / Σw) — evaluated in exactly that IEEE shape so the
      // oracle replays it
      val outdeg = weightCol match {
        case Some(_) => e.groupBy(col("src")).agg(sum(col("w")).as("deg"))
        case None    => e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      }
      def contribution: org.apache.spark.sql.Column = weightCol match {
        case Some(_) => round(col("rank") * (col("w").cast("double") / col("deg")), 12)
        case None    => round(col("rank") / col("deg"), 12)
      }
      if (small) nodeLoop(spark, n)(e, nodes, outdeg) { loopFrames =>
        // NODE-SIZED-STATE path (the Lloyd-codebook shape: corpus-sized
        // work distributed, model-sized state through the driver — and the
        // [[hits]] discipline of ONE Spark job per iteration): the
        // contribution sums are node-sized, so the damped update is DRIVER
        // arithmetic on the collected rows in exactly the IEEE shape the
        // Spark/oracle replays evaluate (round12(tp + d·csum), double ops
        // in the same order). Each iteration is one job: cached raw-edge
        // scan joined against two LocalTableScan broadcasts, partial/final
        // decimal aggregate, node-sized collect — no second join job to
        // apply the update, no edge-table shuffle.
        val Seq(e, nodes, outdeg) = loopFrames
        val spark = e.sparkSession
        def r12(x: Double): Double =
          java.math.BigDecimal.valueOf(x)
            .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
        val nodeList = nodes.collect().map(_.get(0))
        val outdegL = spark.createDataFrame(
          java.util.Arrays.asList(outdeg.collect(): _*), outdeg.schema)
        val isSeed: Any => Boolean = seeds match {
          case Some(ss) => {
            case nmb: java.lang.Number => ss.contains(nmb.longValue)
            case _ => false
          }
          case None => (_: Any) => false
        }
        val tpOf: Any => Double = seeds match {
          case Some(ss) => v => if (isSeed(v)) (1.0 - damping) / ss.size else 0.0
          case None => _ => teleport
        }
        val initOf: Any => Double = seeds match {
          case Some(ss) => v => if (isSeed(v)) r12(1.0 / ss.size) else 0.0
          case None => _ => r12(1.0 / n)
        }
        val rankSchema = org.apache.spark.sql.types.StructType(Seq(
          nodes.schema.fields.head.copy(name = "node"),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.DoubleType)))
        def rankTable(m: Map[Any, Double]): DataFrame =
          spark.createDataFrame(
            java.util.Arrays.asList(nodeList.map(v =>
              org.apache.spark.sql.Row(v, m(v))): _*), rankSchema)
        // dangling set for the opt-in redistribution: nodes with no
        // out-edges (driver set — node-sized by the small-path contract)
        val danglingSet: Set[Any] =
          if (!danglingRedistribute) Set.empty
          else {
            val srcs = outdeg.select(col("src")).collect().map(_.get(0)).toSet
            nodeList.filterNot(srcs).toSet
          }
        var rankMap: Map[Any, Double] =
          nodeList.map(v => (v: Any) -> initOf(v)).toMap
        var k = 0
        while (k < iters) {
          val csum = e
            .join(broadcast(rankTable(rankMap)), col("node") === col("src"))
            .join(broadcast(outdegL), "src")
            .select(col("dst").as("node"), contribution.as("c"))
            .groupBy(col("node"))
            .agg(sum(col("c").cast(DecimalType(30, 12))).cast("double").as("csum"))
            .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
          // dangling mass: decimal-exact sum of the (12-grid) sink ranks,
          // shared uniformly — round12(dm/n) puts the share back on the
          // grid before it enters the update (the oracle replays this shape)
          val dshare =
            if (danglingSet.isEmpty) 0.0
            else {
              var dm = java.math.BigDecimal.ZERO
              danglingSet.foreach(v =>
                dm = dm.add(java.math.BigDecimal.valueOf(rankMap(v))))
              r12(dm.doubleValue / n)
            }
          rankMap = nodeList.map(v =>
            (v: Any) -> r12(tpOf(v) + damping * (csum.getOrElse(v, 0.0) + dshare))).toMap
          k += 1
        }
        rankTable(rankMap)
      } else distLoop(spark, e.count())(e, nodes, outdeg) { loopFrames =>
        // DISTRIBUTED path (web-scale graphs): degree-annotated cached
        // edges, shuffle joins on the edge key, rank lineage cut per round
        // ([[Dedup.dupClusters]] discipline); exchange width derived from
        // the edge volume (e is already materialized — the count is a
        // cache read)
        val Seq(e, nodes, outdeg) = loopFrames
        val ed = e.join(outdeg, "src")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // sink nodes for the opt-in redistribution (anti-join, cut once)
          val dangling =
            if (!danglingRedistribute) null
            else nodes.join(outdeg.select(col("src")),
              col("node") === col("src"), "left_anti").localCheckpoint()
          var rank = nodes.withColumn("rank", initCol)
            .localCheckpoint()
          var k = 0
          while (k < iters) {
            // dangling mass: one 1-row decimal aggregate per round (a
            // driver sync the loop already pays for the lineage cut)
            val dshare =
              if (!danglingRedistribute) 0.0
              else rank.join(dangling.select(col("node")), Seq("node"))
                .agg(round(
                  coalesce(sum(col("rank").cast(DecimalType(30, 12))).cast("double"),
                    lit(0.0)) / n, 12))
                .head().getDouble(0)
            val contrib = ed
              .join(rank, col("node") === col("src"))
              .select(col("dst").as("node"), contribution.as("c"))
              .groupBy(col("node"))
              .agg(sum(col("c").cast(DecimalType(30, 12))).cast("double").as("csum"))
            rank = nodes.join(contrib, Seq("node"), "left")
              .select(col("node"),
                round(tpCol + lit(damping) *
                  (coalesce(col("csum"), lit(0.0)) + lit(dshare)), 12)
                  .as("rank"))
              .localCheckpoint()
            k += 1
          }
          rank
        } finally ed.unpersist()
      }
    } finally {
      nodes.unpersist()
      e.unpersist()
    }
  }
}
