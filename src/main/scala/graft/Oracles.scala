package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{GeoFunctions, TextFunctions, VectorFunctions}
import graft.operators._
import graft.sources.Tables

/**
 * DuckDB oracle SQL for every query in [[Queries]] — the independent
 * single-node semantics each Spark result must hash-match (columns sorted
 * by name, rows ordered deterministically, decimal-exact sums; see
 * [[SparkEntry]]). Gate oracles live in [[Gates]].
 */
private[graft] object Oracles {
  import Fixtures._

  // Okapi BM25 (Lucene +1 idf), k1=1.2 b=0.75, query {vector,stream,hash},
  // top-20. Literals and expression tree mirror TextAnalysis.bm25TopK
  // operation-for-operation; avgdl is an exact integer sum / count so both
  // engines agree bit-for-bit; the final round(…,6) absorbs double-summation
  // order; constants fold as arithmetic ((1.2 + 1.0), not 2.2) so the
  // decimal literals round to the same doubles the operator computes.
  /** One-shot sized-planner replay over the quarter-slice lineitem fact
    * vs the supplier dim (broadcast thresholds) — shared by the
    * streamed-maintenance and compaction gates: both must reproduce the
    * decision a fresh one-shot scan would make. */
  /** The quarter-slice profile-decision replay, parameterized by the
    * `top_share_exact` derivation — the ONE column whose value depends on
    * how the gate sliced the bundle. Pile-serving gates replay the
    * engine's exact quantity (AND over slices of per-slice distinct ≤
    * topK, i.e. MAX per-slice distinct ≤ topK); compacted-serving gates
    * replay the fold's re-derived marker, which equals the GLOBAL
    * distinct ≤ topK (when the global set is covered every slice is too,
    * and the fold re-checks merged keys ≤ topK). The 5× probe data
    * (5000 suppliers, covered 2500-key l_suppkey-parity slices) is
    * exactly where the two quantities diverge — each gate's oracle must
    * replay ITS serving artifact's marker, not a proxy. */
  private def quarterProfileDecisionSql(topShareExactSql: String): String =
    s"""WITH h(r, a, b) AS (VALUES (0,31,17),(1,131,29),(2,1031,101),(3,8191,3)),
      |li AS MATERIALIZED (
      |  SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_orderkey % 4 = 0),
      |fc AS MATERIALIZED (
      |  SELECT r, (l_suppkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
      |  FROM li CROSS JOIN h GROUP BY 1, 2),
      |dc AS MATERIALIZED (
      |  SELECT r, (s_suppkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
      |  FROM supplier CROSS JOIN h GROUP BY 1, 2),
      |ip AS (SELECT fc.r, SUM(CAST(fc.n AS HUGEINT) * dc.n) AS ip
      |       FROM fc JOIN dc ON fc.r = dc.r AND fc.c = dc.c GROUP BY fc.r),
      |e AS (SELECT CAST(MIN(COALESCE(ip.ip, 0)) AS BIGINT) AS est
      |      FROM range(0, 4) t(r) LEFT JOIN ip ON ip.r = t.r),
      |f AS (SELECT COUNT(*) AS fact_rows,
      |             CAST(16 * COUNT(*) AS BIGINT) AS fact_bytes FROM li),
      |d AS (SELECT COUNT(*) AS dim_rows,
      |             CAST(16 * COUNT(*) AS BIGINT) AS dim_bytes FROM supplier),
      |ts AS (SELECT round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_share
      |       FROM (SELECT l_suppkey, COUNT(*) AS cnt FROM li GROUP BY 1))
      |SELECT f.fact_rows, d.dim_rows, ts.top_share, e.est AS est_join_size,
      |       round(CAST(e.est AS DOUBLE) / f.fact_rows, 6) AS est_selectivity,
      |       CASE WHEN d.dim_rows <= 2000 THEN 'broadcast'
      |            WHEN ts.top_share >= 0.9 THEN 'salted'
      |            WHEN round(CAST(e.est AS DOUBLE) / f.fact_rows, 6) <= 0.001 THEN 'bloom_pruned'
      |            ELSE 'plain' END AS strategy,
      |       f.fact_bytes, d.dim_bytes,
      |       greatest(1, least(4096, (f.fact_bytes + d.dim_bytes + 65535) // 65536))
      |         AS advised_shuffle_partitions,
      |       ($topShareExactSql) AS top_share_exact
      |FROM f, d, ts, e""".stripMargin

  /** [[quarterProfileDecisionSql]] marker for a PILE-serving gate whose
    * slices partition `li` by `sliceExpr`: the engine's exact quantity —
    * every slice's distinct key set covered by topK. */
  private def pileTopShareExactSql(sliceExpr: String): String =
    s"(SELECT MAX(c) FROM (SELECT COUNT(DISTINCT l_suppkey) AS c " +
      s"FROM li GROUP BY $sliceExpr)) <= 4096"

  /** [[quarterProfileDecisionSql]] marker for a COMPACTED-serving gate:
    * the fold re-derives coverage over the MERGED key set, which (given
    * covered slices) is the global distinct count. */
  private val CompactedTopShareExactSql: String =
    "(SELECT COUNT(DISTINCT l_suppkey) FROM li) <= 4096"

  /** The merged-dictionary flag derivation (save+append pile ≡ compacted
    * fold — both gates must reproduce it): normalize, block in prefix and
    * suffix spaces, merge duplicate (nm, bk, space) rows with MIN rep,
    * whole-block cap, two-space candidate join, Levenshtein cut. */
  private val EntityIndexFlagSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT regexp_replace(trim(lower(p_name)), '\s+', ' ', 'g') AS nm,
      |         MIN(CAST(p_partkey AS BIGINT)) AS rep
      |  FROM part
      |  WHERE regexp_replace(trim(lower(p_name)), '\s+', ' ', 'g') <> ''
      |  GROUP BY 1),
      |mut AS MATERIALIZED (
      |  SELECT 'x' || substr(regexp_replace(trim(lower(p_name)), '\s+', ' ', 'g'), 2) AS nm,
      |         MIN(CAST(p_partkey AS BIGINT) + 1000000) AS rep
      |  FROM part
      |  WHERE p_partkey % 37 = 0
      |    AND 'x' || substr(regexp_replace(trim(lower(p_name)), '\s+', ' ', 'g'), 2) <> ''
      |  GROUP BY 1),
      |blk AS (
      |  SELECT nm, rep, substr(nm, 1, 3) AS bk, 'p' AS space FROM base
      |  UNION ALL
      |  SELECT nm, rep, substr(nm, length(nm) - 2, 3) AS bk, 's' AS space FROM base
      |  UNION ALL
      |  SELECT nm, rep, substr(nm, 1, 3) AS bk, 'p' AS space FROM mut
      |  UNION ALL
      |  SELECT nm, rep, substr(nm, length(nm) - 2, 3) AS bk, 's' AS space FROM mut),
      |merged AS MATERIALIZED (
      |  SELECT nm, bk, space, MIN(rep) AS rep FROM blk GROUP BY 1, 2, 3),
      |idx AS MATERIALIZED (
      |  SELECT nm, rep, bk, space FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY space, bk) AS bsz FROM merged)
      |  WHERE bsz <= 1000),
      |q AS MATERIALIZED (
      |  SELECT id, nm_in, substr(nm_in, 1, 3) AS pk,
      |         substr(nm_in, length(nm_in) - 2, 3) AS sk
      |  FROM (
      |    SELECT CAST(p_partkey AS BIGINT) AS id,
      |           regexp_replace(trim(lower('x' || substr(
      |             regexp_replace(trim(lower(p_name)), '\s+', ' ', 'g'),
      |             2))), '\s+', ' ', 'g') AS nm_in
      |    FROM part WHERE p_partkey % 37 = 0)
      |  WHERE nm_in <> ''),
      |u AS (
      |  SELECT id, nm_in, nm AS match_nm, rep
      |  FROM q JOIN idx ON idx.space = 'p' AND q.pk = idx.bk
      |  UNION ALL
      |  SELECT id, nm_in, nm AS match_nm, rep
      |  FROM q JOIN idx ON idx.space = 's' AND q.sk = idx.bk
      |   AND substr(q.nm_in, 1, 3) <> substr(idx.nm, 1, 3))
      |SELECT id, nm_in, match_nm,
      |       levenshtein(nm_in, match_nm) AS dist, rep
      |FROM u WHERE levenshtein(nm_in, match_nm) <= 3
      |ORDER BY id, match_nm""".stripMargin

  /** The union-bit-set membership probe (save+append pile ≡ compacted
    * fold — bit-OR is the merge in both): md5-derived double hashing
    * over the big-order custkeys, every 3rd customer probed. */
  private val BloomIndexFlagSql: String =
    """WITH mk AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 450000.0),
      |bits AS MATERIALIZED (
      |  SELECT DISTINCT (CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 13)) AS BIGINT)
      |       + i.i * CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 14, 13)) AS BIGINT)) % 7936 AS bit
      |  FROM mk CROSS JOIN (VALUES (0), (1), (2), (3)) i(i)),
      |ph AS (
      |  SELECT c_custkey,
      |         (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13)) AS BIGINT)
      |       + i.i * CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 14, 13)) AS BIGINT)) % 7936 AS bit
      |  FROM customer CROSS JOIN (VALUES (0), (1), (2), (3)) i(i)
      |  WHERE c_custkey % 3 = 0)
      |SELECT c_custkey,
      |       MIN(CASE WHEN bit IN (SELECT bit FROM bits) THEN 1 ELSE 0 END) = 1 AS bloom_hit
      |FROM ph GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /**
   * The ONE BM25 oracle scoring core (k1=1.2, b=0.75, the engine's ln-idf
   * formula, round(SUM, 6)) — every BM25 gate's SQL derives from the two
   * builders below so the constants/tokenizer live in exactly one place
   * (`pred` slices the corpus for generation/phase replays; empty = whole
   * table). Single-query shape: `(doc_id, score)`, rnk-cut to `k`, no
   * final ORDER BY (callers append their own deterministic one).
   */
  private[graft] def bm25SingleQuerySql(pred: String, terms: Seq[String],
                                        k: Int): String = {
    val corpus = if (pred.isEmpty) "documents" else s"documents WHERE $pred"
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, token FROM (
       |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
       |    FROM $corpus) WHERE token <> ''),
       |perdoc AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM perdoc),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk
       |       WHERE token IN ($termList) GROUP BY 1, 2),
       |dfq AS (SELECT token, COUNT(*) AS dfq FROM tf GROUP BY 1),
       |s AS (
       |  SELECT tf.doc_id,
       |         ln((n_docs - dfq + 0.5) / (dfq + 0.5) + 1.0)
       |           * (tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) AS s
       |  FROM tf JOIN dfq USING (token) JOIN perdoc USING (doc_id) CROSS JOIN stats),
       |sc AS (SELECT doc_id, round(SUM(s), 6) AS score FROM s GROUP BY 1),
       |r AS (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk FROM sc)
       |SELECT doc_id, score FROM r WHERE rnk <= $k""".stripMargin
  }

  /** Batch shape of the same core: `queries` scored over the union of
    * their terms, per-query top-`k` by row_number — output
    * `(query_id BIGINT, doc_id, score, rnk INT)` matching the Spark
    * result's schema, no final ORDER BY (callers append one). */
  private[graft] def bm25BatchQuerySql(pred: String,
                                       queries: Seq[(Int, Seq[String])],
                                       k: Int): String = {
    val corpus = if (pred.isEmpty) "documents" else s"documents WHERE $pred"
    val qValues = queries.flatMap { case (qid, ts) =>
      ts.map(t => s"(CAST($qid AS BIGINT), '$t')")
    }.mkString(", ")
    val termList = queries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, token FROM (
       |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
       |    FROM $corpus) WHERE token <> ''),
       |perdoc AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM perdoc),
       |q(query_id, token) AS (VALUES $qValues),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk
       |       WHERE token IN ($termList)
       |       GROUP BY 1, 2),
       |dfq AS (SELECT token, COUNT(*) AS dfq FROM tf GROUP BY 1),
       |s AS (
       |  SELECT q.query_id, tf.doc_id,
       |         ln((n_docs - dfq + 0.5) / (dfq + 0.5) + 1.0)
       |           * (tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) AS s
       |  FROM tf JOIN q USING (token) JOIN dfq USING (token)
       |       JOIN perdoc USING (doc_id) CROSS JOIN stats),
       |sc AS (SELECT query_id, doc_id, round(SUM(s), 6) AS score
       |       FROM s GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score,
       |             CAST(row_number() OVER (PARTITION BY query_id
       |               ORDER BY score DESC, doc_id ASC) AS INT) AS rnk
       |      FROM sc)
       |SELECT query_id, doc_id, score, rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  private val Bm25Sql: String =
    s"""${bm25SingleQuerySql("", Seq("vector", "stream", "hash"), 20)}
       |ORDER BY score DESC, doc_id ASC""".stripMargin

  // Batch BM25: three queries scored with the same per-term arithmetic,
  // per-query top-10.
  private val Bm25BatchSql: String =
    s"""${bm25BatchQuerySql("", Seq(
        1 -> Seq("vector", "stream", "hash"),
        2 -> Seq("data", "merge"),
        3 -> Seq("window", "stream")), 10)}
       |ORDER BY query_id ASC, rnk ASC""".stripMargin

  // Two one-shot replays of the batch-BM25 formula (same per-term
  // arithmetic as Bm25BatchSql, two queries, k=10), one per served EPOCH
  // of the streamed generation-flip gate: epoch 0 over the quarter slice
  // (the first save's corpus, doc_id % 4 = 0), epoch 1 over the half
  // slice (the second save's, doc_id % 2 = 0). A stream that kept serving
  // the construction-time index after the save would reproduce epoch 0's
  // rows twice and fail the hash.
  private val Bm25GenFlipSql: String = {
    def epochSql(epoch: Int, pred: String) =
      s"""SELECT CAST($epoch AS INT) AS epoch, query_id, doc_id, score, rnk FROM (
         |${bm25BatchQuerySql(pred,
             Seq(1 -> Seq("vector", "stream", "hash"), 2 -> Seq("data", "merge")),
             10)})""".stripMargin
    s"""${epochSql(0, "doc_id % 4 = 0")}
       |UNION ALL
       |${epochSql(1, "doc_id % 2 = 0")}
       |ORDER BY epoch ASC, query_id ASC, rnk ASC""".stripMargin
  }

  def all: Map[String, String] = Map(
    "h1_history_avg" ->
      s"""$ReadingsCte
         |SELECT date_trunc('hour', ts) AS window_start,
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS "avg"
         |FROM r
         |WHERE ((key >= 'cl' AND key < 'cm') OR (key >= 'vi' AND key < 'vj'))
         |  AND date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-12 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // h1 replayed against the key-sorted compacted serving table — the
    // relaid layout must be content-neutral through the real read path
    "view_keyed_history" ->
      s"""$ReadingsCte
         |SELECT date_trunc('hour', ts) AS window_start,
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS "avg"
         |FROM r
         |WHERE ((key >= 'cl' AND key < 'cm') OR (key >= 'vi' AND key < 'vj'))
         |  AND date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-12 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "h2_history_count_interval" ->
      s"""$ReadingsCte
         |SELECT date_trunc('hour', ts) AS window_start, COUNT(*) AS "count"
         |FROM r
         |WHERE ((key >= 'purchase' AND key < 'purchasf') OR (key >= 'signup' AND key < 'signuq'))
         |  AND date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-23 00:00:00' AND TIMESTAMP '2024-01-30 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "h3_history_sum" ->
      s"""$ReadingsCte
         |SELECT date_trunc('hour', ts) AS window_start,
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS "sum"
         |FROM r
         |WHERE key >= 'error' AND key < 'erros'
         |  AND date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-30 00:00:00'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "s1_snapshot_sum" ->
      s"""$ReadingsCte
         |SELECT key, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS "sum"
         |FROM r
         |WHERE date_trunc('hour', ts) = TIMESTAMP '2024-01-10 07:00:00'
         |  AND ((key >= 'click_1' AND key < 'click_2') OR (key >= 'purchase_0' AND key < 'purchase_1') OR (key >= 'view' AND key < 'viex'))
         |GROUP BY key ORDER BY key""".stripMargin,

    "hview_cells" ->
      s"""$ReadingsCte
         |SELECT key, date_trunc('hour', ts) AS window_start, COUNT(*) AS "count",
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS "sum",
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS "avg"
         |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "reagg_daily" ->
      s"""$ReadingsCte
         |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS "day", COUNT(*) AS "count",
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS "sum",
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS "avg"
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // retention sweep: the daily re-agg of the upserted-then-swept serving
    // table must equal the raw aggregate under a plain cutoff WHERE — the
    // sweep removed exactly the expired day partitions and nothing else
    "view_retention" ->
      s"""$ReadingsCte
         |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS "day", COUNT(*) AS "count",
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS "sum",
         |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS "avg"
         |FROM r WHERE date_trunc('day', ts) >= DATE '2024-01-15'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "geo_history_avg" -> geoHistoryAvgOracle,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "join_broadcast_segment" ->
      """SELECT c_mktsegment,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
        |       COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "join3_nation_revenue" ->
      """SELECT n_name,
        |       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "semi_join_big_customers" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,

    "anti_join_no_big_order" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,

    "topk_orders_per_priority" ->
      """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,

    "distinct_orders_per_flag" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS distinct_orders, COUNT(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "rollup_flag_status" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "window_daily_running" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS "day", COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, "day", n,
        |       LAG(n, 1) OVER (PARTITION BY event_type ORDER BY "day") AS prev_n,
        |       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY "day" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
        |FROM daily ORDER BY event_type, "day"""".stripMargin,

    "prefix_range_source" ->
      """SELECT source, COUNT(*) AS n_docs FROM documents
        |WHERE source >= 'src1' AND source < 'src2'
        |GROUP BY source ORDER BY source""".stripMargin,

    "text_metrics" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
        |  round(CAST(list_sum(list_transform(string_split_regex(trim(lower(text)), '\s+'), t -> len(t))) AS DOUBLE)
        |        / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1), 6) AS mean_token_len,
        |  round(CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE)
        |        / greatest(len(text), 1), 6) AS punct_ratio,
        |  round(CAST(len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')),
        |        ['the','a','an','and','or','of','to','in','is','it','that','with','for','on','as','at','by','this','be'])) AS DOUBLE)
        |        / greatest(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))), 1), 6) AS stopword_ratio,
        |  round(
        |    least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |    + (1.0 - least(round(CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / greatest(len(text), 1), 6) * 5.0, 1.0)) * 0.3
        |    + least(round(CAST(len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')),
        |        ['the','a','an','and','or','of','to','in','is','it','that','with','for','on','as','at','by','this','be'])) AS DOUBLE)
        |        / greatest(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))), 1), 6) * 4.0, 1.0) * 0.3, 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "lang_confusion" ->
      """WITH s AS (
        |  SELECT lang,
        |    len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')), ['der','die','das','und','nicht','ist','ich','ein','mit','für'])) AS s_de,
        |    len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')), ['the','and','not','is','a','of','to','in','that','with'])) AS s_en,
        |    len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')), ['el','la','los','las','y','no','es','un','una','con'])) AS s_es,
        |    len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')), ['le','la','les','et','ne','pas','est','un','une','avec'])) AS s_fr,
        |    len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')), ['的','是','不','了','在','人','有','我','他','这'])) AS s_zh
        |  FROM documents),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_zh = 0 THEN 'und'
        |         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |         WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |         WHEN s_fr >= s_zh THEN 'fr'
        |         ELSE 'zh' END AS lang_pred
        |  FROM s)
        |SELECT lang, lang_pred, COUNT(*) AS n FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // chi-squared per-source divergence: fixed top-50 vocab + ''-marked
    // OOV bucket, 6-grid p/q operands, exact 12-grid squared difference,
    // re-rounded quotient, DECIMAL sum — mirrors TextAnalysis.sourceDivergence
    "source_divergence" ->
      """WITH tk AS (
        |  SELECT source, token FROM (
        |    SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |st AS MATERIALIZED (SELECT source, token, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |vocab AS MATERIALIZED (SELECT token FROM (
        |    SELECT token, SUM(c) AS freq FROM st GROUP BY token
        |    ORDER BY freq DESC, token ASC LIMIT 50)),
        |stv AS MATERIALIZED (
        |  SELECT source,
        |         CASE WHEN token IN (SELECT token FROM vocab) THEN token ELSE '' END AS vterm,
        |         SUM(c) AS c
        |  FROM st GROUP BY 1, 2),
        |ns AS (SELECT source, SUM(c) AS n FROM stv GROUP BY source),
        |cv AS (SELECT vterm, SUM(c) AS cv FROM stv GROUP BY vterm),
        |ntot AS (SELECT SUM(cv) AS n FROM cv),
        |q AS MATERIALIZED (SELECT vterm, round(CAST(cv AS DOUBLE) / CAST((SELECT n FROM ntot) AS DOUBLE), 6) AS q6
        |     FROM cv
        |     WHERE round(CAST(cv AS DOUBLE) / CAST((SELECT n FROM ntot) AS DOUBLE), 6) > 0),
        |grid AS (SELECT ns.source, ns.n, q.vterm, q.q6 FROM ns, q),
        |pj AS (SELECT g.source, g.q6,
        |         round(CAST(COALESCE(s.c, 0) AS DOUBLE) / CAST(g.n AS DOUBLE), 6) AS p6
        |       FROM grid g LEFT JOIN stv s ON s.source = g.source AND s.vterm = g.vterm)
        |SELECT source,
        |       round(CAST(SUM(CAST(round(round((p6 - q6) * (p6 - q6), 12) / q6, 12) AS DECIMAL(30,12))) AS DOUBLE), 6) AS chi2
        |FROM pj GROUP BY source ORDER BY source""".stripMargin,

    // streamed per-doc chi-squared vs the same corpus q model, restricted
    // to the streamed id slice (model trained on the FULL corpus)
    "streaming_divergence_score" ->
      """WITH tk AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |cnt AS MATERIALIZED (SELECT token, COUNT(*) AS c FROM tk GROUP BY 1),
        |vocab AS MATERIALIZED (SELECT token FROM (
        |    SELECT token, c FROM cnt ORDER BY c DESC, token ASC LIMIT 50)),
        |ntot AS (SELECT SUM(c) AS n FROM cnt),
        |cv AS (SELECT CASE WHEN token IN (SELECT token FROM vocab) THEN token ELSE '' END AS vterm,
        |              SUM(c) AS c FROM cnt GROUP BY 1),
        |q AS MATERIALIZED (SELECT vterm, round(CAST(c AS DOUBLE) / CAST((SELECT n FROM ntot) AS DOUBLE), 6) AS q6
        |     FROM cv
        |     WHERE round(CAST(c AS DOUBLE) / CAST((SELECT n FROM ntot) AS DOUBLE), 6) > 0),
        |dtk AS (SELECT doc_id, token FROM tk WHERE doc_id < 100),
        |dn AS (SELECT doc_id, COUNT(*) AS n FROM dtk GROUP BY 1),
        |ds AS MATERIALIZED (
        |  SELECT doc_id,
        |         CASE WHEN token IN (SELECT token FROM vocab) THEN token ELSE '' END AS vterm,
        |         COUNT(*) AS c
        |  FROM dtk GROUP BY 1, 2),
        |grid AS (SELECT dn.doc_id, dn.n, q.vterm, q.q6 FROM dn, q),
        |pj AS (SELECT g.doc_id, g.q6,
        |         round(CAST(COALESCE(ds.c, 0) AS DOUBLE) / CAST(g.n AS DOUBLE), 6) AS p6
        |       FROM grid g LEFT JOIN ds ON ds.doc_id = g.doc_id AND ds.vterm = g.vterm)
        |SELECT doc_id,
        |       round(CAST(SUM(CAST(round(round((p6 - q6) * (p6 - q6), 12) / q6, 12) AS DECIMAL(30,12))) AS DOUBLE), 6) AS chi2
        |FROM pj GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the same per-doc chain over the WHOLE corpus, top 20 by divergence
    "divergence_outliers" ->
      """WITH tk AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |cnt AS MATERIALIZED (SELECT token, COUNT(*) AS c FROM tk GROUP BY 1),
        |vocab AS MATERIALIZED (SELECT token FROM (
        |    SELECT token, c FROM cnt ORDER BY c DESC, token ASC LIMIT 50)),
        |ntot AS (SELECT SUM(c) AS n FROM cnt),
        |cv AS (SELECT CASE WHEN token IN (SELECT token FROM vocab) THEN token ELSE '' END AS vterm,
        |              SUM(c) AS c FROM cnt GROUP BY 1),
        |q AS MATERIALIZED (SELECT vterm, round(CAST(c AS DOUBLE) / CAST((SELECT n FROM ntot) AS DOUBLE), 6) AS q6
        |     FROM cv
        |     WHERE round(CAST(c AS DOUBLE) / CAST((SELECT n FROM ntot) AS DOUBLE), 6) > 0),
        |dn AS (SELECT doc_id, COUNT(*) AS n FROM tk GROUP BY 1),
        |ds AS MATERIALIZED (
        |  SELECT doc_id,
        |         CASE WHEN token IN (SELECT token FROM vocab) THEN token ELSE '' END AS vterm,
        |         COUNT(*) AS c
        |  FROM tk GROUP BY 1, 2),
        |grid AS (SELECT dn.doc_id, dn.n, q.vterm, q.q6 FROM dn, q),
        |pj AS (SELECT g.doc_id, g.q6,
        |         round(CAST(COALESCE(ds.c, 0) AS DOUBLE) / CAST(g.n AS DOUBLE), 6) AS p6
        |       FROM grid g LEFT JOIN ds ON ds.doc_id = g.doc_id AND ds.vterm = g.vterm),
        |sc AS (SELECT doc_id,
        |         round(CAST(SUM(CAST(round(round((p6 - q6) * (p6 - q6), 12) / q6, 12) AS DECIMAL(30,12))) AS DOUBLE), 6) AS chi2
        |       FROM pj GROUP BY doc_id)
        |SELECT doc_id, chi2 FROM sc ORDER BY chi2 DESC, doc_id ASC LIMIT 20""".stripMargin,

    "vocab_top50" ->
      """SELECT token, COUNT(*) AS freq FROM (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents)
        |WHERE token <> '' GROUP BY token ORDER BY freq DESC, token ASC LIMIT 50""".stripMargin,

    // add-one unigram LM over the top-20 corpus tokens; mean negative
    // log-likelihood per doc. Model inputs (T, top-V counts, tie-break)
    // are exact integers; round(…,6) absorbs double-summation order.
    "unigram_nll" ->
      """WITH tk AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |counts AS (SELECT token, COUNT(*) AS freq FROM tk GROUP BY 1),
        |stats AS (SELECT SUM(freq) AS t_total FROM counts),
        |vocab AS (SELECT token, freq FROM counts ORDER BY freq DESC, token ASC LIMIT 20),
        |s AS (
        |  SELECT tk.doc_id,
        |         ln(CAST(COALESCE(v.freq, 0) + 1 AS DOUBLE) / (t_total + 20 + 1)) AS lnp
        |  FROM tk LEFT JOIN vocab v USING (token) CROSS JOIN stats)
        |SELECT doc_id, round(-(SUM(lnp) / COUNT(*)), 6) AS nll
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DSIR importance weights: per-doc mean ln(p_en / p_corpus) over the
    // shared top-200 vocab + OOV, both models add-one smoothed; one
    // conditional-aggregation count pass mirrors TextAnalysis.dsirWeights
    "dsir_weights" ->
      """WITH tk AS (
        |  SELECT doc_id, is_tgt, token FROM (
        |    SELECT doc_id, (lang = 'en') AS is_tgt,
        |           unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |counts AS MATERIALIZED (
        |  SELECT token, COUNT(*) AS freq,
        |         SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS freq_t
        |  FROM tk GROUP BY 1),
        |stats AS (SELECT SUM(freq) AS t_all, SUM(freq_t) AS t_tgt FROM counts),
        |vocab AS (SELECT token, freq, freq_t FROM counts
        |          ORDER BY freq DESC, token ASC LIMIT 200),
        |s AS (
        |  SELECT tk.doc_id,
        |         ln(CAST(COALESCE(v.freq_t, 0) + 1 AS DOUBLE) / (t_tgt + 200 + 1))
        |       - ln(CAST(COALESCE(v.freq, 0) + 1 AS DOUBLE) / (t_all + 200 + 1)) AS lnr
        |  FROM tk LEFT JOIN vocab v USING (token) CROSS JOIN stats)
        |SELECT doc_id, round(SUM(lnr) / COUNT(*), 6) AS iw
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dsir_select" ->
      """WITH tk AS (
        |  SELECT doc_id, is_tgt, token FROM (
        |    SELECT doc_id, (lang = 'en') AS is_tgt,
        |           unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |counts AS MATERIALIZED (
        |  SELECT token, COUNT(*) AS freq,
        |         SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS freq_t
        |  FROM tk GROUP BY 1),
        |stats AS (SELECT SUM(freq) AS t_all, SUM(freq_t) AS t_tgt FROM counts),
        |vocab AS (SELECT token, freq, freq_t FROM counts
        |          ORDER BY freq DESC, token ASC LIMIT 200),
        |s AS (
        |  SELECT tk.doc_id,
        |         ln(CAST(COALESCE(v.freq_t, 0) + 1 AS DOUBLE) / (t_tgt + 200 + 1))
        |       - ln(CAST(COALESCE(v.freq, 0) + 1 AS DOUBLE) / (t_all + 200 + 1)) AS lnr
        |  FROM tk LEFT JOIN vocab v USING (token) CROSS JOIN stats)
        |SELECT doc_id, round(SUM(lnr) / COUNT(*), 6) AS iw
        |FROM s GROUP BY doc_id ORDER BY iw DESC, doc_id ASC LIMIT 200""".stripMargin,

    // per-source mean importance weight: the dsir_weights chain joined
    // back to the source column, sources-bounded rollup
    "dsir_source_affinity" ->
      """WITH tk AS (
        |  SELECT doc_id, is_tgt, token FROM (
        |    SELECT doc_id, (lang = 'en') AS is_tgt,
        |           unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |counts AS MATERIALIZED (
        |  SELECT token, COUNT(*) AS freq,
        |         SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS freq_t
        |  FROM tk GROUP BY 1),
        |stats AS (SELECT SUM(freq) AS t_all, SUM(freq_t) AS t_tgt FROM counts),
        |vocab AS (SELECT token, freq, freq_t FROM counts
        |          ORDER BY freq DESC, token ASC LIMIT 200),
        |s AS (
        |  SELECT tk.doc_id,
        |         ln(CAST(COALESCE(v.freq_t, 0) + 1 AS DOUBLE) / (t_tgt + 200 + 1))
        |       - ln(CAST(COALESCE(v.freq, 0) + 1 AS DOUBLE) / (t_all + 200 + 1)) AS lnr
        |  FROM tk LEFT JOIN vocab v USING (token) CROSS JOIN stats),
        |w AS (SELECT doc_id, round(SUM(lnr) / COUNT(*), 6) AS iw
        |      FROM s GROUP BY doc_id)
        |SELECT d.source, round(SUM(w.iw) / COUNT(*), 6) AS affinity,
        |       COUNT(*) AS n_docs
        |FROM w JOIN documents d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // streamed per-doc DSIR scoring vs the QUANTIZED stored model (each
    // bucket's log-ratio rounded to 6 decimals before the per-doc
    // weighted sum — the stored-artifact convention), restricted to the
    // streamed id slice; c·lnr6 terms summed in DECIMAL(30,12) exactly
    // as the streaming fold
    "streaming_dsir_score" ->
      """WITH tk AS (
        |  SELECT doc_id, is_tgt, token FROM (
        |    SELECT doc_id, (lang = 'en') AS is_tgt,
        |           unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |counts AS MATERIALIZED (
        |  SELECT token, COUNT(*) AS freq,
        |         SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS freq_t
        |  FROM tk GROUP BY 1),
        |stats AS (SELECT SUM(freq) AS t_all, SUM(freq_t) AS t_tgt FROM counts),
        |vocab AS MATERIALIZED (SELECT token, freq, freq_t FROM counts
        |          ORDER BY freq DESC, token ASC LIMIT 200),
        |model AS MATERIALIZED (
        |  SELECT token AS vterm,
        |         round(ln(CAST(freq_t + 1 AS DOUBLE) / (t_tgt + 200 + 1))
        |             - ln(CAST(freq + 1 AS DOUBLE) / (t_all + 200 + 1)), 6) AS lnr6
        |  FROM vocab CROSS JOIN stats
        |  UNION ALL
        |  SELECT '', round(ln(CAST(1 AS DOUBLE) / (t_tgt + 200 + 1))
        |              - ln(CAST(1 AS DOUBLE) / (t_all + 200 + 1)), 6) FROM stats),
        |dtk AS (SELECT doc_id, token FROM tk WHERE doc_id < 100),
        |dn AS (SELECT doc_id, COUNT(*) AS n FROM dtk GROUP BY 1),
        |ds AS (
        |  SELECT doc_id,
        |         CASE WHEN token IN (SELECT token FROM vocab) THEN token ELSE '' END AS vterm,
        |         COUNT(*) AS c
        |  FROM dtk GROUP BY 1, 2)
        |SELECT ds.doc_id,
        |       round(CAST(SUM(CAST(CAST(ds.c AS DOUBLE) * m.lnr6 AS DECIMAL(30,12))) AS DOUBLE)
        |             / dn.n, 6) AS iw
        |FROM ds JOIN model m USING (vterm) JOIN dn USING (doc_id)
        |GROUP BY ds.doc_id, dn.n ORDER BY doc_id""".stripMargin,

    "bigram_nll" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |big AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(w)), i ->
        |           array_to_string(w[i:i+1], ' '))) AS bigram
        |  FROM tok WHERE len(w) >= 2),
        |c1 AS (SELECT token, COUNT(*) AS freq1
        |       FROM (SELECT unnest(w) AS token FROM tok) WHERE token <> '' GROUP BY 1),
        |v1 AS (SELECT token AS w1, freq1 FROM c1 ORDER BY freq1 DESC, token ASC LIMIT 20),
        |c2 AS (SELECT bigram, COUNT(*) AS freq2 FROM big GROUP BY 1),
        |v2 AS (SELECT bigram, freq2 FROM c2 ORDER BY freq2 DESC, bigram ASC LIMIT 50),
        |s AS (
        |  SELECT big.doc_id,
        |         ln(CAST(COALESCE(v2.freq2, 0) + 1 AS DOUBLE)
        |            / (COALESCE(v1.freq1, 0) + 20 + 1)) AS lnp
        |  FROM big
        |  LEFT JOIN v2 USING (bigram)
        |  LEFT JOIN v1 ON v1.w1 = split_part(big.bigram, ' ', 1))
        |SELECT doc_id, round(-(SUM(lnp) / COUNT(*)), 6) AS nll
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "bm25_topk" -> Bm25Sql,

    // the persisted-index serving path computes the identical formula from
    // the postings artifact — one oracle pins both derivations
    "bm25_index_topk" -> Bm25Sql,
    // append+serve ≡ full rebuild: the two-segment artifact must reproduce
    // the full-corpus formula, so the SAME oracle pins the append path
    "bm25_append_topk" -> Bm25Sql,
    // compaction preserves every serving-visible sum → same oracle again
    "bm25_compact_topk" -> Bm25Sql,
    "bm25_batch_topk" -> Bm25BatchSql,
    // streamed serving across a save: epoch 0 = the first save (quarter
    // slice, doc_id % 4 = 0), epoch 1 = the second (half slice, doc_id % 2 = 0) —
    // both epochs' scores replayed one-shot (see Bm25GenFlipSql)
    "streaming_bm25_generation_flip" -> Bm25GenFlipSql,

    // commit-record audit of the two-segment append artifact: expected row
    // counts replay from the corpus (postings rows = Σ per-doc distinct
    // tokens; termstats rows = per-segment distinct tokens, two segments
    // split on doc_id % 3), and a healthy artifact's actuals match
    "bm25_index_audit" ->
      """WITH tk AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |post AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
        |  (SELECT DISTINCT doc_id, token FROM tk)),
        |seg AS (SELECT CAST(COUNT(DISTINCT CASE WHEN doc_id % 3 <> 0 THEN token END) AS BIGINT)
        |          + CAST(COUNT(DISTINCT CASE WHEN doc_id % 3 = 0 THEN token END) AS BIGINT) AS n
        |        FROM tk)
        |SELECT CAST(2 AS BIGINT) AS n_segments,
        |       post.n AS n_postings_expected, post.n AS n_postings_actual,
        |       seg.n AS n_terms_expected, seg.n AS n_terms_actual,
        |       true AS postings_consistent, true AS terms_consistent
        |FROM post, seg""".stripMargin,

    "fingerprints_md5" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "winnow_fingerprints" -> winnowFingerprintsOracle,
    "winnow_matches" -> winnowMatchesOracle,

    "exact_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |         array_to_string(list_slice(string_split_regex(trim(lower(text)), '\s+'), 1,
        |           greatest(CAST(floor(len(string_split_regex(trim(lower(text)), '\s+')) * 3 / 4) AS INT), 1)), ' ') AS text
        |  FROM documents)
        |SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |       MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "embed_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "ann_brute_topk" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < 8),
        |s AS (
        |  SELECT qid, v.vec_id AS cid,
        |    round(
        |      list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i] * e[i]))
        |      / (sqrt(list_sum(list_transform(qe, x -> x * x))) * sqrt(list_sum(list_transform(e, x -> x * x)))), 6) AS cos
        |  FROM q, v WHERE v.vec_id <> qid),
        |r AS (SELECT qid, cid, cos, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rnk FROM s)
        |SELECT qid, rnk, cid, cos FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "ann_ivf_topk" -> annIvfTopkOracle,

    "ann_lsh_topk" -> annLshTopkOracle,

    "embedding_clusters" -> embeddingClustersOracle,

    "cluster_sizes" -> clusterSizesOracle,

    "streaming_cluster_assign" -> streamingClusterAssignOracle,

    "streaming_quality_score" -> streamingQualityScoreOracle,

    "pagerank_trade" -> pagerankTradeOracle,

    "pagerank_weighted" -> pagerankWeightedOracle,

    "pagerank_personalized" -> pagerankPersonalizedOracle,
    "label_propagation" -> labelPropagationOracle,
    "dup_communities" -> dupCommunitiesOracle,
    "supplier_triangles" -> supplierTrianglesOracle,
    "label_propagation_weighted" -> labelPropagationWeightedOracle,
    "trade_components" -> tradeComponentsOracle,

    "pagerank_dangling" -> pagerankDanglingOracle,

    "hits_trade" -> hitsTradeOracle,

    "zorder_value" -> zorderValueOracle,

    "image_phash" -> imagePhashOracle,

    "phash_near_dup" -> phashNearDupOracle,

    "phash_keep" -> phashKeepOracle,

    "streaming_phash_flag" -> streamingPhashFlagOracle,
    "streaming_winnow_flag" -> streamingWinnowFlagOracle,
    // streamed admission across a save: epoch 0 flags against the first
    // save (even docs' fingerprints), epoch 1 against the second (full corpus) —
    // both epochs' winnow chains replayed over the matching stored slice
    "streaming_winnow_generation_flip" ->
      s"""SELECT CAST(0 AS INT) AS epoch, doc_id, dup_of, n_shared
         |FROM (${winnowFlagOracle("SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0")})
         |UNION ALL
         |SELECT CAST(1 AS INT) AS epoch, doc_id, dup_of, n_shared
         |FROM (${winnowFlagOracle("SELECT doc_id, text FROM documents")})
         |ORDER BY epoch ASC, doc_id ASC, dup_of ASC""".stripMargin,
    "winnow_index_flag" -> winnowIndexFlagOracle,
    // compaction is layout-only (row-count audited), so flagging from the
    // compacted generation must reproduce the same merged-corpus replay
    "winnow_index_compact" -> winnowIndexFlagOracle,
    "winnow_spans" -> winnowSpansOracle,

    "audio_ahash" -> audioAhashOracle,

    "ahash_near_dup" -> ahashNearDupOracle,

    "video_vhash" -> videoVhashOracle,

    "vhash_near_dup" -> vhashNearDupOracle,

    "quality_lr_train" -> qualityLrTrainOracle,

    "quality_lr_scores" -> qualityLrScoresOracle,

    "quality_weighted_sample" -> qualityWeightedSampleOracle,

    "pca_power_component" -> pcaPowerComponentOracle,

    "pca_moments_append" -> pcaMomentsAppendOracle,

    "pca_second_component" -> pcaSecondComponentOracle,

    "mmr_select" -> mmrSelectOracle,

    "ann_then_mmr" -> annThenMmrOracle,

    "pca_variance_share" -> pcaVarianceShareOracle,

    "pca_project" -> pcaProjectOracle,

    "bpe_first_merge" -> bpeFirstMergeOracle,

    "bpe_pack" -> bpePackOracle,
    "bpe_fertility" -> bpeFertilityOracle,

    // the roundtrip law is computed entirely engine-side (decode∘encode vs
    // the normalization contract, per document); the oracle pins the corpus
    // cardinality and the zero-mismatch law — the precision-gate pattern
    "bpe_roundtrip" ->
      "SELECT COUNT(*) AS n_docs, CAST(0 AS BIGINT) AS n_mismatch FROM documents",

    "json_props_sum" ->
      """SELECT event_type, CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "percentile_qty" ->
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 6) AS q50,
        |       round(quantile_cont(l_quantity, 0.95), 6) AS q95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "except_users" ->
      """SELECT user_id FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 100
        |  EXCEPT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND value > 200)
        |ORDER BY user_id""".stripMargin,

    "cube_flag_status" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "stats_per_flag" ->
      """SELECT l_returnflag, round(stddev_samp(l_quantity), 6) AS sd_qty,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sessionize_users" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 120 MINUTE
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events, CAST(SUM(new_session) AS BIGINT) AS n_sessions
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    "event_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS cur,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |c AS (SELECT cur, nxt, COUNT(*) AS cnt FROM seq
        |      WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT cur, nxt, cnt,
        |       round(CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY cur), 6) AS prob
        |FROM c ORDER BY cur, nxt""".stripMargin,

    "winsorize_balances" ->
      """WITH hist AS (
        |  SELECT c_nationkey AS g, CAST(c_acctbal AS DOUBLE) AS v, COUNT(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |w AS (SELECT g, v, cnt,
        |        SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
        |        SUM(cnt) OVER (PARTITION BY g) AS n
        |      FROM hist),
        |h AS (SELECT g, v, cnt, cum,
        |        CAST(0.05 AS DOUBLE) * (n - 1) AS h0,
        |        CAST(0.95 AS DOUBLE) * (n - 1) AS h1
        |      FROM w),
        |t AS (SELECT g,
        |        MAX(CASE WHEN cum - cnt < floor(h0) + 1 AND floor(h0) + 1 <= cum THEN v END) AS vlo0,
        |        MAX(CASE WHEN cum - cnt < ceil(h0) + 1 AND ceil(h0) + 1 <= cum THEN v END) AS vhi0,
        |        MAX(h0) AS h0,
        |        MAX(CASE WHEN cum - cnt < floor(h1) + 1 AND floor(h1) + 1 <= cum THEN v END) AS vlo1,
        |        MAX(CASE WHEN cum - cnt < ceil(h1) + 1 AND ceil(h1) + 1 <= cum THEN v END) AS vhi1,
        |        MAX(h1) AS h1
        |      FROM h GROUP BY g),
        |b AS MATERIALIZED (
        |  SELECT g, vlo0 + (h0 - floor(h0)) * (vhi0 - vlo0) AS lo,
        |         vlo1 + (h1 - floor(h1)) * (vhi1 - vlo1) AS hi
        |  FROM t)
        |SELECT c.c_nationkey, COUNT(*) AS n, MAX(b.lo) AS lo, MAX(b.hi) AS hi,
        |       CAST(SUM(CASE WHEN CAST(c.c_acctbal AS DOUBLE) < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |       CAST(SUM(CASE WHEN CAST(c.c_acctbal AS DOUBLE) > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM customer c JOIN b ON b.g = c.c_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "event_dow_lift" ->
      """WITH g AS (
        |  SELECT event_type, isodow(ts) AS dow, COUNT(*) AS nxy
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, dow, nxy,
        |        SUM(nxy) OVER (PARTITION BY event_type) AS nx,
        |        SUM(nxy) OVER (PARTITION BY dow) AS ny,
        |        SUM(nxy) OVER () AS n
        |      FROM g)
        |SELECT event_type, dow, nxy,
        |       CAST(nxy * n AS DOUBLE) / CAST(nx * ny AS DOUBLE) AS lift
        |FROM w ORDER BY event_type, dow""".stripMargin,

    "source_dup_rates" ->
      """WITH f AS (
        |  SELECT source, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |         COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS total_docs,
        |       COUNT(*) AS distinct_docs,
        |       CAST(SUM(n) - COUNT(*) AS BIGINT) AS dup_docs,
        |       round((SUM(n) - COUNT(*)) / CAST(SUM(n) AS DOUBLE), 6) AS dup_rate
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "embedding_outliers" ->
      """WITH v AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings
        |  WHERE len(embedding) = 64
        |    AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0),
        |u AS MATERIALIZED (
        |  SELECT vec_id, label, CAST(t.i - 1 AS INT) AS i,
        |         CAST(round(round(e[CAST(t.i AS INT)], 6) * 1e6, 0) AS BIGINT) AS q
        |  FROM v, range(1, 65) t(i)),
        |n AS (SELECT label, COUNT(*) AS n FROM v GROUP BY label),
        |c AS MATERIALIZED (
        |  SELECT u.label, u.i,
        |         CAST(floor((2.0 * SUM(u.q) + n.n) / (2.0 * n.n)) AS BIGINT) AS m
        |  FROM u JOIN n USING (label) GROUP BY u.label, u.i, n.n),
        |d AS (
        |  SELECT u.vec_id, u.label,
        |         CAST(SUM((u.q - c.m) * (u.q - c.m)) AS BIGINT) AS du
        |  FROM u JOIN c ON c.label = u.label AND c.i = u.i
        |  GROUP BY 1, 2),
        |r AS (SELECT label, vec_id, du,
        |        CAST(row_number() OVER (PARTITION BY label ORDER BY du DESC, vec_id) AS INT) AS rnk
        |      FROM d)
        |SELECT label, rnk, vec_id, du AS sq_dist_units,
        |       CAST(du AS DOUBLE) / 1e12 AS sq_dist
        |FROM r WHERE rnk <= 5 ORDER BY label, rnk""".stripMargin,

    "streaming_anomaly_score" ->
      """WITH s AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |         COUNT(*) AS cnt
        |  FROM events WHERE event_id % 3 = 0 GROUP BY 1),
        |m AS (SELECT median(cnt) AS med FROM s),
        |m2 AS (SELECT median(abs(cnt - med)) AS mad FROM s, m)
        |SELECT window_start, cnt,
        |       CASE WHEN mad = 0 THEN NULL
        |            ELSE round(abs(cnt - med) / mad, 6) END AS dev_score,
        |       abs(cnt - med) > CAST(3.0 AS DOUBLE) * mad AS anomaly
        |FROM s, m, m2 ORDER BY window_start""".stripMargin,

    "streaming_kmv_daily" ->
      """WITH e AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
        |  FROM events WHERE event_id % 11 = 0),
        |d AS (SELECT DISTINCT window_start, h FROM e),
        |r AS (SELECT window_start, h,
        |        row_number() OVER (PARTITION BY window_start ORDER BY h) AS rn
        |      FROM d),
        |s AS (SELECT window_start, COUNT(*) AS n, MAX(h) AS hk
        |      FROM r WHERE rn <= 64 GROUP BY window_start)
        |SELECT window_start, n, hk,
        |       CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
        |            ELSE round(CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk, 6) END AS estimate
        |FROM s ORDER BY window_start""".stripMargin,

    "streaming_asof_enrich" ->
      """WITH iv AS MATERIALIZED (
        |  SELECT o_custkey AS user_id, o_orderdate AS vfrom,
        |         lead(o_orderdate) OVER (
        |           PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS vto,
        |         o_orderdate AS asof_ts, o_orderkey, o_totalprice
        |  FROM orders),
        |q AS MATERIALIZED (
        |  SELECT event_id, user_id,
        |         CAST(DATE '1995-01-01' + CAST(event_id % 2400 AS INT) AS TIMESTAMP) AS ts
        |  FROM events WHERE event_id % 13 = 0)
        |SELECT q.event_id, q.user_id, q.ts, iv.asof_ts,
        |       iv.o_orderkey, iv.o_totalprice
        |FROM q LEFT JOIN iv
        |  ON iv.user_id = q.user_id AND q.ts >= iv.vfrom
        | AND (iv.vto IS NULL OR q.ts < iv.vto)
        |ORDER BY q.event_id""".stripMargin,

    "streaming_daily_quantiles" ->
      """WITH e AS MATERIALIZED (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |         round(value, 2) AS v
        |  FROM events WHERE event_id % 7 = 0 AND value IS NOT NULL),
        |hist AS (SELECT window_start, v, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
        |w AS (SELECT window_start, v, cnt,
        |        SUM(cnt) OVER (PARTITION BY window_start ORDER BY v) AS cum,
        |        SUM(cnt) OVER (PARTITION BY window_start) AS n
        |      FROM hist),
        |h AS (SELECT window_start, v, cnt, cum,
        |        CAST(0.5 AS DOUBLE) * (n - 1) AS h0,
        |        CAST(0.95 AS DOUBLE) * (n - 1) AS h1
        |      FROM w),
        |t AS (SELECT window_start,
        |        MAX(CASE WHEN cum - cnt < floor(h0) + 1 AND floor(h0) + 1 <= cum THEN v END) AS vlo0,
        |        MAX(CASE WHEN cum - cnt < ceil(h0) + 1 AND ceil(h0) + 1 <= cum THEN v END) AS vhi0,
        |        MAX(h0) AS h0,
        |        MAX(CASE WHEN cum - cnt < floor(h1) + 1 AND floor(h1) + 1 <= cum THEN v END) AS vlo1,
        |        MAX(CASE WHEN cum - cnt < ceil(h1) + 1 AND ceil(h1) + 1 <= cum THEN v END) AS vhi1,
        |        MAX(h1) AS h1
        |      FROM h GROUP BY window_start)
        |SELECT window_start,
        |       vlo0 + (h0 - floor(h0)) * (vhi0 - vlo0) AS p50,
        |       vlo1 + (h1 - floor(h1)) * (vhi1 - vlo1) AS p95
        |FROM t ORDER BY window_start""".stripMargin,

    "streaming_cms_daily" ->
      """WITH h(r, a, b) AS (VALUES (0,31,17),(1,131,29),(2,1031,101),(3,8191,3)),
        |e AS MATERIALIZED (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, user_id
        |  FROM events WHERE event_id % 11 = 0),
        |cells AS MATERIALIZED (
        |  SELECT window_start, r,
        |         (user_id % 1000000007 * a + b) % 1000000007 % 64 AS c,
        |         COUNT(*) AS n
        |  FROM e CROSS JOIN h GROUP BY 1, 2, 3),
        |probes AS MATERIALIZED (
        |  SELECT user_id FROM (SELECT DISTINCT user_id FROM e)
        |  ORDER BY user_id LIMIT 20),
        |pr AS (
        |  SELECT p.user_id, h.r,
        |         (p.user_id % 1000000007 * h.a + h.b) % 1000000007 % 64 AS c
        |  FROM probes p CROSS JOIN h),
        |wins AS (SELECT DISTINCT window_start FROM e),
        |est AS (
        |  SELECT w.window_start, pr.user_id, MIN(COALESCE(cells.n, 0)) AS est
        |  FROM wins w CROSS JOIN pr
        |  LEFT JOIN cells ON cells.window_start = w.window_start
        |   AND cells.r = pr.r AND cells.c = pr.c
        |  GROUP BY 1, 2),
        |ex AS (SELECT window_start, user_id, COUNT(*) AS exact
        |       FROM e GROUP BY 1, 2)
        |SELECT s.window_start, s.user_id, s.est,
        |       COALESCE(ex.exact, 0) AS exact,
        |       s.est >= COALESCE(ex.exact, 0) AS never_undercount
        |FROM est s LEFT JOIN ex
        |  ON ex.window_start = s.window_start AND ex.user_id = s.user_id
        |ORDER BY s.window_start, s.user_id""".stripMargin,

    "kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
        |  FROM events),
        |s AS (SELECT h FROM h ORDER BY h LIMIT 256),
        |a AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM s)
        |SELECT CAST(256 AS BIGINT) AS k, n, hk,
        |       CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |            ELSE round(CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk, 6) END AS estimate,
        |       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS true_distinct
        |FROM a""".stripMargin,

    "kmv_merge" ->
      """WITH h AS (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
        |  FROM events),
        |s AS (SELECT h FROM h ORDER BY h LIMIT 256),
        |a AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM s)
        |SELECT CAST(256 AS BIGINT) AS k, n, hk,
        |       CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |            ELSE round(CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk, 6) END AS merged_estimate,
        |       CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |            ELSE round(CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk, 6) END AS direct_estimate
        |FROM a""".stripMargin,

    "source_quality_floor" ->
      """WITH t AS (
        |  SELECT source,
        |         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS v
        |  FROM documents),
        |thr AS MATERIALIZED (
        |  SELECT source, quantile_cont(v, 0.25) AS thr FROM t GROUP BY source)
        |SELECT t.source, round(max(thr.thr), 6) AS thr,
        |       COUNT(*) AS total_docs,
        |       CAST(SUM(CASE WHEN v >= thr.thr THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        |       round(SUM(CASE WHEN v >= thr.thr THEN 1 ELSE 0 END)
        |             / CAST(COUNT(*) AS DOUBLE), 6) AS kept_ratio
        |FROM t JOIN thr USING (source)
        |GROUP BY t.source ORDER BY t.source""".stripMargin,

    "streaming_winsor_flag" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS v
        |  FROM documents),
        |thr AS MATERIALIZED (
        |  SELECT source, quantile_cont(v, 0.25) AS lo, quantile_cont(v, 0.75) AS hi
        |  FROM t GROUP BY source)
        |SELECT doc_id, t.source, v, lo, hi,
        |       least(greatest(v, lo), hi) AS clipped,
        |       v >= lo AS kept
        |FROM t JOIN thr USING (source)
        |ORDER BY doc_id""".stripMargin,

    "streaming_entity_flag" ->
      """WITH names AS MATERIALIZED (
        |  SELECT regexp_replace(trim(lower(p_name)), '\s+', ' ', 'g') AS nm,
        |         MIN(CAST(p_partkey AS BIGINT)) AS rep
        |  FROM part
        |  WHERE regexp_replace(trim(lower(p_name)), '\s+', ' ', 'g') <> ''
        |  GROUP BY 1),
        |blk AS (
        |  SELECT nm, rep, substr(nm, 1, 3) AS bk, 'p' AS space FROM names
        |  UNION ALL
        |  SELECT nm, rep, substr(nm, length(nm) - 2, 3) AS bk, 's' AS space
        |  FROM names),
        |idx AS MATERIALIZED (
        |  SELECT nm, rep, bk, space FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY space, bk) AS bsz FROM blk)
        |  WHERE bsz <= 1000),
        |q AS MATERIALIZED (
        |  SELECT id, nm_in, substr(nm_in, 1, 3) AS pk,
        |         substr(nm_in, length(nm_in) - 2, 3) AS sk
        |  FROM (
        |    SELECT CAST(p_partkey AS BIGINT) AS id,
        |           regexp_replace(trim(lower(substr(
        |             regexp_replace(trim(lower(p_name)), '\s+', ' ', 'g'),
        |             2))), '\s+', ' ', 'g') AS nm_in
        |    FROM part WHERE p_partkey < 500)
        |  WHERE nm_in <> ''),
        |u AS (
        |  SELECT id, nm_in, nm AS match_nm, rep
        |  FROM q JOIN idx ON idx.space = 'p' AND q.pk = idx.bk
        |  UNION ALL
        |  SELECT id, nm_in, nm AS match_nm, rep
        |  FROM q JOIN idx ON idx.space = 's' AND q.sk = idx.bk
        |   AND substr(q.nm_in, 1, 3) <> substr(idx.nm, 1, 3))
        |SELECT id, nm_in, match_nm,
        |       levenshtein(nm_in, match_nm) AS dist, rep
        |FROM u WHERE levenshtein(nm_in, match_nm) <= 3
        |ORDER BY id, match_nm""".stripMargin,

    "entity_index_flag" -> EntityIndexFlagSql,

    // same merged-corpus flag derivation, served from the COMPACTED
    // generation: only a lossless duplicate-key fold (summed counts, min
    // rep) can reproduce it
    "entity_dict_compact" -> EntityIndexFlagSql,

    "volume_anomalies" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt FROM events
        |  GROUP BY 1),
        |m AS (SELECT median(cnt) AS med FROM d),
        |m2 AS (SELECT median(abs(cnt - med)) AS mad FROM d, m)
        |SELECT day, cnt, med, mad,
        |       CASE WHEN mad = 0 THEN NULL
        |            ELSE round(abs(cnt - med) / mad, 6) END AS dev_score,
        |       abs(cnt - med) > 3.0 * mad AS anomaly
        |FROM d, m, m2 ORDER BY day""".stripMargin,

    "entity_match_pairs" ->
      s"""WITH $entityCandCtes
        |SELECT nm_a, nm_b, levenshtein(nm_a, nm_b) AS dist,
        |       cnt_a, cnt_b, rep_a, rep_b
        |FROM cand WHERE levenshtein(nm_a, nm_b) <= 3
        |ORDER BY nm_a, nm_b""".stripMargin,

    "entity_sorted_neighborhood" ->
      """WITH names AS (
        |  SELECT regexp_replace(trim(lower(p_name)), '\s+', ' ', 'g') AS nm
        |  FROM part
        |  WHERE regexp_replace(trim(lower(p_name)), '\s+', ' ', 'g') <> ''
        |  GROUP BY 1),
        |l AS MATERIALIZED (
        |  SELECT nm AS nm_a,
        |         lead(nm, 1) OVER (ORDER BY nm) AS nb1,
        |         lead(nm, 2) OVER (ORDER BY nm) AS nb2
        |  FROM names),
        |u AS (
        |  SELECT nm_a, nb1 AS nm_b, 1 AS gap FROM l WHERE nb1 IS NOT NULL
        |  UNION ALL
        |  SELECT nm_a, nb2 AS nm_b, 2 AS gap FROM l WHERE nb2 IS NOT NULL)
        |SELECT nm_a, nm_b, levenshtein(nm_a, nm_b) AS dist, gap
        |FROM u WHERE levenshtein(nm_a, nm_b) <= 3
        |ORDER BY nm_a, nm_b""".stripMargin,

    "entity_resolution" ->
      s"""WITH RECURSIVE $entityCandCtes,
        |p AS (SELECT rep_a AS a, rep_b AS b FROM cand
        |      WHERE levenshtein(nm_a, nm_b) <= 3),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(id, r) AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |lbl AS (SELECT id, MIN(r) AS entity FROM reach GROUP BY id)
        |SELECT nm, COALESCE(lbl.entity, names.rep) AS entity, cnt
        |FROM names LEFT JOIN lbl ON lbl.id = names.rep
        |ORDER BY nm""".stripMargin,

    "streaming_funnel_reach" ->
      """WITH base AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |         OVER (PARTITION BY user_id) AS t1 FROM base),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
        |                            AND ts <= t1 + INTERVAL 24 HOURS THEN ts END)
        |         OVER (PARTITION BY user_id) AS t2 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
        |                            AND ts <= t2 + INTERVAL 24 HOURS THEN ts END)
        |         OVER (PARTITION BY user_id) AS t3 FROM w2),
        |pu AS MATERIALIZED (
        |  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
        |  FROM w3 GROUP BY user_id)
        |SELECT user_id, step_idx, stage, stage_ts FROM (
        |  SELECT user_id, CAST(1 AS INTEGER) AS step_idx, 'view' AS stage,
        |         t1 AS stage_ts FROM pu WHERE t1 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, CAST(2 AS INTEGER), 'click', t2 FROM pu WHERE t2 IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, CAST(3 AS INTEGER), 'purchase', t3 FROM pu WHERE t3 IS NOT NULL)
        |ORDER BY user_id, step_idx""".stripMargin,

    "event_funnel" ->
      """WITH base AS (
        |  SELECT user_id, event_type, ts FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |         OVER (PARTITION BY user_id) AS t1 FROM base),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
        |                            AND ts <= t1 + INTERVAL 24 HOURS THEN ts END)
        |         OVER (PARTITION BY user_id) AS t2 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
        |                            AND ts <= t2 + INTERVAL 24 HOURS THEN ts END)
        |         OVER (PARTITION BY user_id) AS t3 FROM w2),
        |pu AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
        |       FROM w3 GROUP BY user_id),
        |s AS (SELECT count(t1) AS u1, count(t2) AS u2, count(t3) AS u3 FROM pu)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS step_idx, 'view' AS stage, u1 AS users,
        |         CASE WHEN u1 > 0 THEN round(CAST(u1 AS DOUBLE) / u1, 6) END AS conv_from_first,
        |         CAST(NULL AS DOUBLE) AS conv_from_prev FROM s
        |  UNION ALL
        |  SELECT CAST(2 AS INTEGER), 'click', u2,
        |         CASE WHEN u1 > 0 THEN round(CAST(u2 AS DOUBLE) / u1, 6) END,
        |         CASE WHEN u1 > 0 THEN round(CAST(u2 AS DOUBLE) / u1, 6) END FROM s
        |  UNION ALL
        |  SELECT CAST(3 AS INTEGER), 'purchase', u3,
        |         CASE WHEN u1 > 0 THEN round(CAST(u3 AS DOUBLE) / u1, 6) END,
        |         CASE WHEN u2 > 0 THEN round(CAST(u3 AS DOUBLE) / u2, 6) END FROM s)
        |ORDER BY step_idx""".stripMargin,

    "cohort_retention" ->
      """WITH m AS (
        |  SELECT o_custkey AS u,
        |         CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS INTEGER) AS m
        |  FROM orders),
        |f AS (SELECT u, m, min(m) OVER (PARTITION BY u) AS cm FROM m),
        |r AS (SELECT DISTINCT u, cm, m - cm AS off FROM f),
        |c AS (SELECT cm, off, count(*) AS users FROM r GROUP BY cm, off),
        |cs AS (SELECT *, max(CASE WHEN off = 0 THEN users END)
        |         OVER (PARTITION BY cm) AS csz FROM c)
        |SELECT CAST((cm - (cm % 12)) / 12 AS INTEGER) AS cohort_year,
        |       CAST(cm % 12 + 1 AS INTEGER) AS cohort_month,
        |       off AS month_offset, users,
        |       round(CAST(users AS DOUBLE) / csz, 6) AS retention
        |FROM cs ORDER BY cohort_year, cohort_month, month_offset""".stripMargin,

    "date_parts_orders" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "string_funcs_customer" ->
      """SELECT c_custkey, upper(c_name) AS uname, CAST(len(c_name) AS BIGINT) AS name_len,
        |       substring(c_name, 1, 8) AS name_prefix,
        |       c_mktsegment || '#' || CAST(c_custkey AS VARCHAR) AS tag
        |FROM customer WHERE c_custkey < 100 ORDER BY c_custkey""".stripMargin,

    "hopping_click_counts" ->
      """WITH h AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS window_start, value
        |  FROM events, generate_series(0, 3) t(k)
        |  WHERE event_type = 'click')
        |SELECT window_start, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    // NOTE boundary semantics: Spark's session_window is [start, start+gap),
    // so an event EXACTLY gap after its predecessor opens a NEW session — the
    // oracle's lag rule uses >= to match (unlike sessionize_users, whose
    // lag-cumsum operator uses strict > and keeps boundary-equal gaps in the
    // same session; both conventions are valid, each oracle mirrors its own).
    "session_window_users" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 120 MINUTE
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events, CAST(SUM(new_session) AS BIGINT) AS n_sessions
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    "topk_custom_operator" ->
      """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,

    "pivot_status_by_flag" ->
      """SELECT l_returnflag,
        |       COUNT(*) FILTER (l_linestatus = 'F') AS F,
        |       COUNT(*) FILTER (l_linestatus = 'O') AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "minmax_dates_per_priority" ->
      """SELECT o_orderpriority, min(o_orderdate) AS first_order, max(o_orderdate) AS last_order,
        |       COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "moving_avg_daily" ->
      """WITH d AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS "day", COUNT(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT "day", n,
        |       round(AVG(n) OVER (ORDER BY "day" ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
        |FROM d ORDER BY "day"""".stripMargin,

    "token_budget_sample" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY h, doc_id) AS cum FROM t)
        |SELECT doc_id, n_tokens FROM c WHERE cum <= 15000 ORDER BY doc_id""".stripMargin,

    "novelty_scores" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(string_split_regex(trim(lower(text)), '\s+')) - 1),
        |             i -> array_to_string((string_split_regex(trim(lower(text)), '\s+'))[i:i+2], ' '))) AS g
        |    FROM documents
        |    WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 3)),
        |d AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY g)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |       round(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS novelty,
        |       round(CAST(SUM(df) AS DOUBLE) / COUNT(*), 6) AS mean_df
        |FROM sh JOIN d USING (g)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "tfidf_top_terms" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS term
        |      FROM t, unnest(range(1, len(toks))) u(i)
        |      WHERE len(toks) >= 2),
        |tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM g GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents),
        |sc AS (SELECT doc_id, term, tf, df,
        |         round(tf * round(ln((nd + 1.0) / (df + 1.0)) + 1.0, 6), 6) AS score
        |       FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS rnk,
        |         term, tf, df, score FROM sc)
        |SELECT doc_id, rnk, term, tf, df, score FROM r WHERE rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin,

    "sparse_similar_docs" ->
      """WITH reps AS MATERIALIZED (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, row_number() OVER (
        |      PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM reps),
        |g AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS term
        |      FROM t, unnest(range(1, len(toks) - 1)) u(i)
        |      WHERE len(toks) >= 3),
        |tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM g GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM reps),
        |band AS (SELECT term, df FROM dfq, n
        |         WHERE df >= 2 AND df * 5 <= nd * 1 AND df <= 100),
        |sc AS MATERIALIZED (
        |  SELECT doc_id AS d, term,
        |         round(tf * round(ln((nd + 1.0) / (df + 1.0)) + 1.0, 6), 6) AS score
        |  FROM tf JOIN band USING (term) CROSS JOIN n),
        |nr AS (SELECT d, sqrt(CAST(sum(CAST(score AS DECIMAL(18,6)) * CAST(score AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
        |       FROM sc GROUP BY 1),
        |wt AS MATERIALIZED (SELECT d, term, CAST(round(score / nrm * 1000000, 0) AS BIGINT) AS u
        |      FROM sc JOIN nr USING (d)),
        |p AS (SELECT a.d AS da, b.d AS db, sum(a.u * b.u) AS dot, count(*) AS n_shared
        |      FROM wt a JOIN wt b ON a.term = b.term AND a.d < b.d GROUP BY 1, 2),
        |u2 AS (SELECT da AS doc_id, db AS nbr_id, dot, n_shared FROM p
        |       UNION ALL SELECT db, da, dot, n_shared FROM p),
        |r AS (SELECT doc_id,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY dot DESC, nbr_id) AS INTEGER) AS rnk,
        |         nbr_id, n_shared, round(CAST(dot AS DOUBLE) / 1e12, 6) AS cos FROM u2)
        |SELECT doc_id, rnk, nbr_id, n_shared, cos FROM r WHERE rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin,

    "ngram_jaccard_pairs" ->
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
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS na, len(b.sh) AS nb
        |  FROM s a, s b WHERE a.doc_id < b.doc_id)
        |SELECT a, b, round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
        |FROM p WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
        |ORDER BY a, b""".stripMargin,

    "source_overlap" ->
      """WITH ss AS (
        |  SELECT DISTINCT s, g FROM (
        |    SELECT source AS s,
        |           unnest(list_transform(range(1, len(string_split_regex(trim(lower(text)), '\s+')) - 1),
        |             i -> array_to_string((string_split_regex(trim(lower(text)), '\s+'))[i:i+2], ' '))) AS g
        |    FROM documents
        |    WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 3)),
        |sz AS (SELECT s, COUNT(*) AS n FROM ss GROUP BY s),
        |p AS (SELECT x.s AS src_a, y.s AS src_b, COUNT(*) AS shared
        |      FROM ss x JOIN ss y ON x.g = y.g AND x.s < y.s GROUP BY 1, 2)
        |SELECT src_a, src_b, shared, a.n AS na, b.n AS nb,
        |       round(CAST(shared AS DOUBLE) / (a.n + b.n - shared), 6) AS jaccard
        |FROM p JOIN sz a ON a.s = src_a JOIN sz b ON b.s = src_b
        |ORDER BY src_a, src_b""".stripMargin,

    "dataset_profile" ->
      """SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS n_tokens,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  round(CAST(SUM(CAST(
        |    round(
        |      least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) * 0.4
        |      + (1.0 - least(round(CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / greatest(len(text), 1), 6) * 5.0, 1.0)) * 0.3
        |      + least(round(CAST(len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')),
        |          ['the','a','an','and','or','of','to','in','is','it','that','with','for','on','as','at','by','this','be'])) AS DOUBLE)
        |          / greatest(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))), 1), 6) * 4.0, 1.0) * 0.3, 6)
        |    AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents),
        |nw AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0 THEN text || ' [edited]' ELSE text END AS text
        |  FROM o WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM o WHERE doc_id % 11 = 0),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |             o.doc_id AS oid, n.doc_id AS nid, o.text AS ot, n.text AS nt
        |      FROM o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |       CASE WHEN oid IS NULL THEN 'added'
        |            WHEN nid IS NULL THEN 'removed'
        |            WHEN ot IS NOT DISTINCT FROM nt THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM j ORDER BY doc_id""".stripMargin,

    "containment_pairs" ->
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
        |ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
        |dfok AS (SELECT g FROM ex GROUP BY g HAVING COUNT(*) <= 100),
        |exf AS (SELECT ex.doc_id, ex.g FROM ex JOIN dfok USING (g)),
        |p AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
        |  FROM exf x JOIN exf y ON x.g = y.g AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(sh) AS n FROM s)
        |SELECT a, b,
        |       round(CAST(inter AS DOUBLE) / sa.n, 6) AS contain_a_in_b,
        |       round(CAST(inter AS DOUBLE) / sb.n, 6) AS contain_b_in_a
        |FROM p JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
        |WHERE greatest(CAST(inter AS DOUBLE) / sa.n, CAST(inter AS DOUBLE) / sb.n) >= 0.8
        |ORDER BY a, b""".stripMargin,

    "normalize_text" ->
      """WITH fx AS (
        |  SELECT doc_id,
        |         'cafe' || chr(769) || ' ' || chr(8491) || ' ' || chr(64257) || 'le ' || text AS text
        |  FROM documents)
        |SELECT doc_id,
        |       md5(nfc_normalize(text)) AS nfc_md5,
        |       (nfc_normalize(text) <> text) AS changed,
        |       CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc
        |FROM fx ORDER BY doc_id""".stripMargin,

    "semantic_dedup" -> semanticDedupOracle,

    "semantic_dedup_keep" -> semanticDedupKeepOracle,

    "embedding_near_dup" -> embeddingNearDupOracle,

    "asof_last_purchase" ->
      """WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, MAX(value) AS pvalue
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.user_id, c.event_id, epoch_ms(c.ts) AS click_ms,
        |       epoch_ms(p.ts) AS purchase_ms, round(p.pvalue, 6) AS pvalue
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.user_id, click_ms, c.event_id""".stripMargin,

    "range_join_incidents" ->
      """WITH pt AS (SELECT event_id, ts FROM events
        |            WHERE event_type = 'click' AND event_id % 7 = 0),
        |i AS (SELECT event_id AS incident_id, date_trunc('second', ts) AS s,
        |             date_trunc('second', ts) + INTERVAL 4 HOUR AS e
        |      FROM events WHERE event_type = 'error')
        |SELECT pt.event_id, i.incident_id
        |FROM pt JOIN i ON pt.ts >= i.s AND pt.ts < i.e
        |ORDER BY 1, 2""".stripMargin,

    "stratified_sample" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source FROM t
        |WHERE rn <= ceil(CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
        |                 ELSE 0.125 END * n)
        |ORDER BY doc_id""".stripMargin,

    "temperature_mix" ->
      """WITH g AS (
        |  SELECT source,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |u AS (SELECT source, n_docs, n_tokens,
        |             CAST(round(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) * 1e6, 0) AS BIGINT) AS u
        |      FROM g),
        |t AS (SELECT SUM(u) AS ut, SUM(n_tokens) AS tt FROM u)
        |SELECT source, n_docs, n_tokens,
        |       round(CAST(n_tokens AS DOUBLE) / tt, 6) AS raw_share,
        |       round(CAST(u AS DOUBLE) / ut, 6) AS weight,
        |       round(round(CAST(u AS DOUBLE) / ut, 6) * 1000000, 6) AS alloc_tokens
        |FROM u, t ORDER BY source""".stripMargin,

    "mix_sources" ->
      """WITH a AS (
        |  SELECT source, COUNT(*) AS n FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY source),
        |w AS (SELECT source, n,
        |        CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
        |                    WHEN 'src1' THEN CAST(0.25 AS DOUBLE)
        |                    ELSE CAST(0.25 AS DOUBLE) END AS wt
        |      FROM a),
        |t AS (SELECT MIN(CAST(n AS DOUBLE) / wt) AS target FROM w),
        |lim AS (SELECT source, CAST(floor(wt * target) AS BIGINT) AS take FROM w, t),
        |r AS (SELECT doc_id, source,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents WHERE source IN ('src0', 'src1', 'src2'))
        |SELECT r.source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM r JOIN lim ON r.source = lim.source
        |WHERE r.rn <= lim.take GROUP BY r.source ORDER BY r.source""".stripMargin,

    "pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'contact user' || CAST(doc_id AS VARCHAR) || '@mail' ||
        |    CAST(doc_id % 7 AS VARCHAR) || '.com via 10.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
        |    CAST(doc_id % 100 AS VARCHAR) || ' or 555-' ||
        |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' ||
        |    substr(text, 1, 40) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '[PHONE]', 'g'),
        |    '(\d{1,3}\.){3}\d{1,3}', '[IP]', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,

    "repetition_metrics" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS g
        |  FROM documents),
        |wc AS (SELECT doc_id, g, COUNT(*) AS c FROM w WHERE g <> '' GROUP BY 1, 2),
        |ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, MAX(c) AS tp,
        |              COUNT(*) AS d FROM wc GROUP BY 1),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |           i -> array_to_string(w[i:i+1], ' '))) AS g
        |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |        FROM documents)
        |  WHERE len(w) >= 2),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, MAX(c) AS tp
        |       FROM bc GROUP BY 1)
        |SELECT ws.doc_id,
        |       ws.n AS n_words,
        |       round(CAST(ws.d AS DOUBLE) / ws.n, 6) AS distinct_word_ratio,
        |       round(CAST(ws.tp AS DOUBLE) / ws.n, 6) AS top_word_frac,
        |       round(CAST(coalesce(bs.tp, 0) AS DOUBLE) /
        |             greatest(coalesce(bs.n, 0), 1), 6) AS top_bigram_frac
        |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
        |ORDER BY ws.doc_id""".stripMargin,

    "line_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |fx AS (
        |  SELECT doc_id,
        |         list_prepend('=== shared boilerplate header ===',
        |           list_append(
        |             list_transform(range(0, (len(t) - 1) // 8 + 1),
        |               i -> array_to_string(list_slice(t, CAST(i*8+1 AS INT), CAST(i*8+8 AS INT)), ' ')),
        |             '--- shared footer: all rights reserved ---')) AS ls
        |  FROM toks),
        |l AS (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS pos FROM fx),
        |ll AS (SELECT doc_id, CAST(pos AS INT) AS pos, ls[CAST(pos AS INT)] AS line FROM l),
        |rep AS (SELECT trim(line) AS k FROM ll GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
        |kept AS (SELECT doc_id, pos, line FROM ll WHERE trim(line) NOT IN (SELECT k FROM rep)),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text2,
        |               CAST(COUNT(*) AS BIGINT) AS n_kept
        |        FROM kept GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines FROM fx)
        |SELECT n.doc_id,
        |       md5(coalesce(agg.text2, '')) AS text_md5,
        |       coalesce(agg.n_kept, 0) AS n_lines_kept,
        |       n.n_lines - coalesce(agg.n_kept, 0) AS n_lines_dropped
        |FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    "span_dedup" ->
      """WITH fx AS (
        |  SELECT doc_id,
        |         'permission is hereby granted free of charge to any person obtaining a copy'
        |           || ' ' || text || ' ' ||
        |         'the software is provided as is without warranty of any kind express or implied' AS text
        |  FROM documents),
        |toks AS (
        |  -- Java-trim edge strip first (all chars <= 0x20), mirroring the
        |  -- engine's kernel-aligned tokenization exactly
        |  SELECT doc_id,
        |         list_filter(string_split_regex(
        |           regexp_replace(text, '^[\x00-\x20]+|[\x00-\x20]+$', '', 'g'),
        |           '\s+'), t -> t <> '') AS ts
        |  FROM fx),
        |lt AS (SELECT doc_id, ts, list_transform(ts, t -> lower(t)) AS lts FROM toks),
        |w0s AS (SELECT doc_id, lts,
        |               unnest(range(0, greatest(len(lts) - 7, 0))) AS i
        |        FROM lt),
        |wins AS (SELECT doc_id, CAST(i AS INT) AS w0,
        |                md5(array_to_string(
        |                  list_slice(lts, CAST(i + 1 AS INT), CAST(i + 8 AS INT)), ' ')) AS wh
        |         FROM w0s),
        |rep AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2),
        |mk0 AS (SELECT doc_id, w0, unnest(range(0, 8)) AS j
        |        FROM wins WHERE wh IN (SELECT wh FROM rep)),
        |marked AS (SELECT DISTINCT doc_id, w0 + CAST(j AS INT) AS pos FROM mk0),
        |tp0 AS (SELECT doc_id, ts, unnest(range(0, len(ts))) AS p FROM toks),
        |tp AS (SELECT doc_id, CAST(p AS INT) AS pos, ts[CAST(p + 1 AS INT)] AS tok FROM tp0),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tp t
        |         WHERE NOT EXISTS (SELECT 1 FROM marked m
        |                           WHERE m.doc_id = t.doc_id AND m.pos = t.pos)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS t2,
        |               CAST(COUNT(*) AS BIGINT) AS n_kept
        |        FROM kept GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n FROM toks)
        |SELECT n.doc_id, md5(coalesce(agg.t2, '')) AS text_md5,
        |       coalesce(agg.n_kept, 0) AS n_tokens_kept,
        |       n.n - coalesce(agg.n_kept, 0) AS n_tokens_dropped
        |FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    "gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |         list_filter(string_split_regex(coalesce(text, ''), '\s+'), t -> t <> '') AS ws,
        |         string_split(coalesce(text, ''), chr(10)) AS ls
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    round(CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
        |          / greatest(len(ws), 1), 6) AS mean_word_len,
        |    round(CAST((len(text) - len(replace(text, '#', '')))
        |            + (len(text) - len(replace(text, '...', ''))) // 3 AS DOUBLE)
        |          / greatest(len(ws), 1), 6) AS symbol_word_ratio,
        |    round(CAST(len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
        |          / greatest(len(ls), 1), 6) AS bullet_line_frac,
        |    round(CAST(len(list_filter(ls, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS DOUBLE)
        |          / greatest(len(ls), 1), 6) AS ellipsis_line_frac,
        |    round(CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |          / greatest(len(ws), 1), 6) AS alpha_word_frac,
        |    CAST(len(list_intersect(list_distinct(list_transform(ws, w -> lower(w))),
        |         ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS BIGINT) AS stopword_hits
        |  FROM base)
        |SELECT *,
        |       (n_words BETWEEN 30 AND 100000
        |        AND mean_word_len BETWEEN 3.0 AND 10.0
        |        AND symbol_word_ratio <= 0.1
        |        AND bullet_line_frac <= 0.9
        |        AND ellipsis_line_frac <= 0.3
        |        AND alpha_word_frac >= 0.8
        |        AND stopword_hits >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        SUM(n_tokens) OVER (ORDER BY h, doc_id) AS cum FROM t)
        |SELECT doc_id, n_tokens,
        |       CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_first,
        |       CAST((cum - 1) // 2048 AS BIGINT) AS seq_last
        |FROM c WHERE n_tokens > 0 ORDER BY doc_id""".stripMargin,

    "mix_upsample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |t AS (SELECT *, CASE source WHEN 'src0' THEN 1500 ELSE 100 END AS need FROM d),
        |r AS (SELECT *, unnest(range(0, CAST(ceil(CAST(need AS DOUBLE) / n) AS BIGINT))) AS copy
        |      FROM t)
        |SELECT doc_id, source, CAST(copy AS BIGINT) AS copy
        |FROM r WHERE copy * n + rn <= need
        |ORDER BY doc_id, source, copy""".stripMargin,

    "interval_overlap_pairs" ->
      """WITH a AS (
        |  SELECT event_id AS a_id, date_trunc('second', ts) AS s,
        |         date_trunc('second', ts) + INTERVAL 4 HOUR AS e
        |  FROM events WHERE event_type = 'error'),
        |b AS (
        |  SELECT event_id AS b_id, date_trunc('second', ts) AS s,
        |         date_trunc('second', ts) + INTERVAL 1 HOUR AS e
        |  FROM events WHERE event_type = 'click')
        |SELECT a_id, b_id FROM a JOIN b ON a.s < b.e AND b.s < a.e
        |ORDER BY 1, 2""".stripMargin,

    "salted_join_agg" ->
      """SELECT c_mktsegment,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "hash_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      < CAST((CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
        |               ELSE 0.125 END) * 4294967296 AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    "weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |         round(pow(
        |           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
        |             / 4503599627370496.0,
        |           1.0 / (n_chars + 1.0)), 12) AS k
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_chars,
        |             ROW_NUMBER() OVER (PARTITION BY source
        |               ORDER BY k DESC, doc_id) AS rn
        |      FROM d)
        |SELECT doc_id, source, n_chars FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "streaming_heavy_hitters" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS ws, 'k_' || (event_id % 40) AS item
        |  FROM events WHERE event_id % 50 = 0)
        |SELECT ws AS window_start, item, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "multimodal_frame_sample" ->
      """SELECT doc_id AS media_id,
        |       CAST(n_chars % 100 AS BIGINT) AS n_frames,
        |       CAST(coalesce(len(range(0, n_chars % 100, 4)), 0) AS BIGINT) AS n_sampled,
        |       coalesce(array_to_string(range(0, n_chars % 100, 4), ','), '') AS frames
        |FROM documents ORDER BY media_id""".stripMargin,

    "dup_clusters" ->
      """WITH RECURSIVE src AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
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
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM s a, s b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(id, r) AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b)
        |SELECT id, MIN(r) AS cluster_rep FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "dedup_representatives" ->
      """WITH RECURSIVE src AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
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
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM s a, s b
        |  WHERE a.doc_id < b.doc_id
        |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(id, r) AS (
        |  SELECT a AS id, a AS r FROM e
        |  UNION
        |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b),
        |labels AS (SELECT id, MIN(r) AS cl FROM reach GROUP BY id),
        |member AS (SELECT d.doc_id, len(d.text) AS l, lab.cl
        |           FROM d0 d JOIN labels lab ON lab.id = d.doc_id),
        |w AS (SELECT doc_id, cl,
        |             ROW_NUMBER() OVER (PARTITION BY cl ORDER BY l DESC, doc_id ASC) AS rn,
        |             COUNT(*) OVER (PARTITION BY cl) AS n_cluster
        |      FROM member),
        |kept AS (
        |  SELECT doc_id, cl AS cluster_rep, CAST(n_cluster AS BIGINT) AS n_cluster
        |  FROM w WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, doc_id AS cluster_rep, CAST(1 AS BIGINT) AS n_cluster
        |  FROM d0 WHERE doc_id NOT IN (SELECT id FROM labels))
        |SELECT doc_id, cluster_rep, n_cluster FROM kept ORDER BY doc_id""".stripMargin,

    "chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |k AS (
        |  SELECT doc_id, w, len(w) AS n,
        |         greatest((len(w) - 16 + 47) // 48, 1) AS nk
        |  FROM t),
        |c AS (SELECT doc_id, w, n, unnest(range(0, nk)) AS chunk_id FROM k)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(chunk_id * 48 AS BIGINT) AS tok_start,
        |       CAST(least(64, n - chunk_id * 48) AS BIGINT) AS chunk_tokens,
        |       md5(array_to_string(list_slice(w, CAST(chunk_id * 48 + 1 AS INT),
        |         CAST(chunk_id * 48 + least(64, n - chunk_id * 48) AS INT)), ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // hybrid RRF: rank the Bm25Sql top-20 and the brute-cosine top-20 for
    // query vector 5, fuse 1/(60+r) contributions in one per-row expression
    "hybrid_rrf_topk" ->
      s"""WITH lex0 AS ($Bm25Sql),
         |lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rl
         |        FROM lex0),
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id = 5),
         |s AS (
         |  SELECT v.vec_id AS cid,
         |    round(
         |      list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i] * e[i]))
         |      / (sqrt(list_sum(list_transform(qe, x -> x * x))) * sqrt(list_sum(list_transform(e, x -> x * x)))), 6) AS cos
         |  FROM q, v WHERE v.vec_id <> qid),
         |vecr AS (
         |  SELECT cid AS doc_id, rv FROM (
         |    SELECT cid, cos, ROW_NUMBER() OVER (ORDER BY cos DESC, cid ASC) AS rv FROM s)
         |  WHERE rv <= 20),
         |fused AS (
         |  SELECT coalesce(lex.doc_id, vecr.doc_id) AS doc_id,
         |         round(coalesce(1.0 / (60.0 + rl), 0.0)
         |             + coalesce(1.0 / (60.0 + rv), 0.0), 6) AS rrf_score
         |  FROM lex FULL OUTER JOIN vecr ON lex.doc_id = vecr.doc_id)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rnk,
         |       doc_id, rrf_score
         |FROM fused
         |ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin,

    "hash_split" ->
      """SELECT doc_id,
        |       CASE WHEN u < 0.8 THEN 'train'
        |            WHEN u < 0.9 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
        |          / 4294967296.0 AS u
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "cdc_chunks" ->
      s"""WITH src AS (SELECT doc_id, text FROM documents),
         |${Fixtures.cdcChunksSql(6)}
         |SELECT doc_id, chunk_idx, start, len, chunk_md5
         |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,

    "cdc_dedup" ->
      s"""WITH d0 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id,
         |         array_to_string(list_slice(string_split_regex(trim(lower(text)), '\\s+'), 1,
         |           greatest(CAST(floor(len(string_split_regex(trim(lower(text)), '\\s+')) * 3 / 4) AS INT), 1)), ' ') AS text
         |  FROM documents),
         |src AS (SELECT doc_id, text FROM d0),
         |${Fixtures.cdcChunksSql(6)}
         |SELECT chunk_md5,
         |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         |       MIN(doc_id) AS min_doc_id
         |FROM chunks GROUP BY chunk_md5 HAVING COUNT(DISTINCT doc_id) >= 2
         |ORDER BY chunk_md5""".stripMargin,

    "quantize_embeddings" ->
      """SELECT vec_id,
        |       CAST(list_min(embedding) AS DOUBLE) AS q_min,
        |       CASE WHEN list_max(embedding) > list_min(embedding)
        |            THEN (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0
        |            ELSE 0.0 END AS q_scale,
        |       CAST(len(embedding) AS BIGINT) AS n_dims,
        |       true AS recon_ok
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "decontaminate_count" ->
      """WITH tok AS (
        |  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |           i -> array_to_string(w[i:i+4], ' '))) AS s
        |  FROM tok WHERE len(w) >= 5),
        |b AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |flagged AS (
        |  SELECT DISTINCT sh.doc_id FROM sh, unnest(sh.s) AS u(g)
        |  WHERE sh.doc_id % 97 <> 0 AND u.g IN (SELECT g FROM b))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)
        |GROUP BY source ORDER BY source""".stripMargin,

    // streaming admission control: the drained evidence log aggregated to
    // per-doc shared-gram counts must equal the batch contamination replay
    // exactly — stream-static equi-join semantics, no FPs, no lost hits
    "streaming_decon_flag" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |           i -> array_to_string(w[i:i+4], ' '))) AS s
        |  FROM tok WHERE len(w) >= 5),
        |b AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0)
        |SELECT sh.doc_id AS id, CAST(COUNT(DISTINCT u.g) AS BIGINT) AS n_shared
        |FROM sh, unnest(sh.s) AS u(g)
        |WHERE sh.doc_id % 97 <> 0 AND u.g IN (SELECT g FROM b)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // streamed admission across a save: epoch 0 flags against the first
    // suite (%97), epoch 1 against the saved union suite (%97 ∪ %89);
    // training stream excludes both suites' docs. The same
    // contamination aggregate, replayed per epoch per suite.
    "streaming_decon_generation_flip" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |           i -> array_to_string(w[i:i+4], ' '))) AS s
        |  FROM tok WHERE len(w) >= 5),
        |b1 AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |b2 AS (SELECT DISTINCT unnest(s) AS g FROM sh
        |       WHERE doc_id % 97 = 0 OR doc_id % 89 = 0),
        |train AS (SELECT doc_id, s FROM sh
        |          WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 0)
        |SELECT CAST(0 AS INT) AS epoch, train.doc_id AS id,
        |       CAST(COUNT(DISTINCT u.g) AS BIGINT) AS n_shared
        |FROM train, unnest(train.s) AS u(g)
        |WHERE u.g IN (SELECT g FROM b1)
        |GROUP BY 2
        |UNION ALL
        |SELECT CAST(1 AS INT) AS epoch, train.doc_id AS id,
        |       CAST(COUNT(DISTINCT u.g) AS BIGINT) AS n_shared
        |FROM train, unnest(train.s) AS u(g)
        |WHERE u.g IN (SELECT g FROM b2)
        |GROUP BY 2
        |ORDER BY epoch, id""".stripMargin,

    // persisted-index lifecycle: save(even half) + append(odd half) + load
    // must equal the ONE-SHOT build over the whole benchmark slice — the
    // oracle replays the union set, never the halves
    // the distinct-folded compacted generation must decontaminate
    // identically to the union-replayed pile (same law as
    // decontaminate_index_count — compaction changes layout, not grams)
    "decon_index_compact" ->
      """WITH tok AS (
        |  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |           i -> array_to_string(w[i:i+4], ' '))) AS s
        |  FROM tok WHERE len(w) >= 5),
        |b AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |flagged AS (
        |  SELECT DISTINCT sh.doc_id FROM sh, unnest(sh.s) AS u(g)
        |  WHERE sh.doc_id % 97 <> 0 AND u.g IN (SELECT g FROM b))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)
        |GROUP BY source ORDER BY source""".stripMargin,

    "decontaminate_index_count" ->
      """WITH tok AS (
        |  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 3),
        |           i -> array_to_string(w[i:i+4], ' '))) AS s
        |  FROM tok WHERE len(w) >= 5),
        |b AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |flagged AS (
        |  SELECT DISTINCT sh.doc_id FROM sh, unnest(sh.s) AS u(g)
        |  WHERE sh.doc_id % 97 <> 0 AND u.g IN (SELECT g FROM b))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents
        |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)
        |GROUP BY source ORDER BY source""".stripMargin,

    "asof_within_tolerance" ->
      """WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, MAX(value) AS pvalue
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |j AS (
        |  SELECT c.user_id, c.event_id, c.ts AS cts, p.ts AS pts, p.pvalue
        |  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts)
        |SELECT user_id, event_id, epoch_ms(cts) AS click_ms,
        |       CASE WHEN pts >= cts - INTERVAL 6 HOUR THEN epoch_ms(pts) END AS purchase_ms,
        |       CASE WHEN pts >= cts - INTERVAL 6 HOUR THEN round(pvalue, 6) END AS pvalue
        |FROM j ORDER BY user_id, click_ms, event_id""".stripMargin,

    "approx_quantile_rank" ->
      """SELECT l_returnflag, true AS rank_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "heavy_hitters" ->
      """WITH k AS (
        |  SELECT CASE WHEN event_id % 10 < 3 THEN 'hot_' || (event_id % 7)
        |              ELSE 'cold_' || (event_id % 2000) END AS k
        |  FROM events),
        |c AS (SELECT k, COUNT(*) AS cnt FROM k GROUP BY k),
        |t AS (SELECT CAST(SUM(cnt) * 0.03 AS BIGINT) AS floor_cnt FROM c)
        |SELECT k AS item, cnt, true AS bounds_ok
        |FROM c, t WHERE cnt > floor_cnt ORDER BY item""".stripMargin,

    "cms_frequency" ->
      """WITH h(r, a, b) AS (VALUES (0,31,17),(1,131,29),(2,1031,101),(3,8191,3)),
        |cells AS MATERIALIZED (
        |  SELECT r, (o_custkey % 1000000007 * a + b) % 1000000007 % 64 AS c,
        |         COUNT(*) AS n
        |  FROM orders CROSS JOIN h GROUP BY 1, 2),
        |ex AS MATERIALIZED (
        |  SELECT o_custkey, COUNT(*) AS exact FROM orders GROUP BY 1),
        |top AS MATERIALIZED (
        |  SELECT o_custkey, exact FROM ex ORDER BY exact DESC, o_custkey LIMIT 20),
        |probes AS (
        |  SELECT top.o_custkey, h.r,
        |         (top.o_custkey % 1000000007 * h.a + h.b) % 1000000007 % 64 AS c
        |  FROM top CROSS JOIN h),
        |est AS (
        |  SELECT p.o_custkey, MIN(COALESCE(cells.n, 0)) AS est
        |  FROM probes p LEFT JOIN cells ON cells.r = p.r AND cells.c = p.c
        |  GROUP BY 1)
        |SELECT t.o_custkey AS custkey, t.exact, e.est, e.est - t.exact AS overcount
        |FROM top t JOIN est e USING (o_custkey) ORDER BY custkey""".stripMargin,

    "cms_merge" ->
      """WITH h(r, a, b) AS (VALUES (0,31,17),(1,131,29),(2,1031,101),(3,8191,3)),
        |cells AS MATERIALIZED (
        |  SELECT r, (o_custkey % 1000000007 * a + b) % 1000000007 % 64 AS c,
        |         COUNT(*) AS n
        |  FROM orders CROSS JOIN h GROUP BY 1, 2),
        |top AS MATERIALIZED (
        |  SELECT o_custkey FROM (
        |    SELECT o_custkey, COUNT(*) AS exact FROM orders GROUP BY 1)
        |  ORDER BY exact DESC, o_custkey LIMIT 20),
        |probes AS (
        |  SELECT top.o_custkey, h.r,
        |         (top.o_custkey % 1000000007 * h.a + h.b) % 1000000007 % 64 AS c
        |  FROM top CROSS JOIN h),
        |est AS (
        |  SELECT p.o_custkey, MIN(COALESCE(cells.n, 0)) AS est
        |  FROM probes p LEFT JOIN cells ON cells.r = p.r AND cells.c = p.c
        |  GROUP BY 1)
        |SELECT o_custkey AS custkey, est AS est_direct, est AS est_merged
        |FROM est ORDER BY custkey""".stripMargin,

    "hll_daily_users" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS "day",
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |       true AS est_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "hll_union_total" ->
      """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact, true AS est_ok
        |FROM events""".stripMargin,

    // the sketch-register store: save + overlapping-day append + compact
    // must serve the same per-day registers a one-shot build produces —
    // the exact per-day distincts are the DuckDB-checked values, est_ok
    // the ±5% gate a dropped-slice fold cannot pass
    "hll_sketch_lifecycle" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS "day",
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |       true AS est_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 'png'
        |              WHEN doc_id % 3 = 0 THEN 'jpeg'
        |              WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'y4m' END AS container,
        |         n_chars,
        |         hex(encode(text)) AS hx,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS ilen
        |  FROM documents),
        |g AS (
        |  SELECT *,
        |         CAST(n_chars % 24 + 1 AS INT) AS w,
        |         CAST(n_chars % 8 + 1 AS INT) AS h,
        |         CAST(n_chars % 200 + 50 AS INT) AS ns,
        |         CAST(n_chars % 16 + 1 AS INT) AS vw,
        |         CAST(n_chars % 8 + 1 AS INT) AS vh,
        |         CAST(n_chars % 100 AS INT) AS nf
        |  FROM m),
        |b AS (
        |  SELECT media_id, kind, container, ilen, w, h, vw, vh,
        |         -- decoder-visible data: PNG = the decompressed, defiltered
        |         -- 3wh pixel bytes; WAV = the 2·ns PCM data-chunk bytes;
        |         -- Y4M = the nf·3·vw·vh concatenated frame planes;
        |         -- JPEG/raw = the embedded/raw bytes
        |         CASE container WHEN 'png' THEN CAST(3*w*h AS BIGINT)
        |              WHEN 'wav' THEN CAST(2*ns AS BIGINT)
        |              WHEN 'y4m' THEN CAST(3*vw*vh*nf AS BIGINT)
        |              ELSE ilen END AS n_inner,
        |         -- container sizes: PNG = 57 bytes of chunk structure +
        |         -- zlib-stored scanline stream (2 hdr + 5/block + raw +
        |         -- 4 adler over raw = h*(1+3w) bytes); JPEG = SOI 2 +
        |         -- APP0 18 + SOF0 19 + EOI 2 + 4 bytes per COM segment;
        |         -- WAV = 44-byte RIFF/fmt/data header + 2·ns PCM bytes;
        |         -- Y4M = 33-char fixed header + dim digits + per-frame
        |         -- "FRAME\n" + 3·vw·vh plane bytes
        |         CASE container
        |           WHEN 'png'  THEN 57 + 2 + 4 + h*(1+3*w) +
        |             5 * greatest(CAST(ceil(CAST(h*(1+3*w) AS DOUBLE) / 65535) AS BIGINT), 1)
        |           WHEN 'jpeg' THEN ilen + 41 +
        |             4 * greatest(CAST(ceil(CAST(ilen AS DOUBLE) / 60000) AS BIGINT), 1)
        |           WHEN 'wav'  THEN 44 + 2*ns
        |           WHEN 'y4m'  THEN 33 + len(CAST(vw AS VARCHAR)) + len(CAST(vh AS VARCHAR))
        |             + nf * (6 + 3*vw*vh)
        |           ELSE ilen END AS n_bytes,
        |         -- the bytes the feature kernel reads: PNG pixels / Y4M
        |         -- frame planes are the text bytes cycled over the decoded
        |         -- length; WAV bytes are the little-endian halves of the
        |         -- synthesized PCM samples v_i = (b[i mod L]·251 + 7i + 17)
        |         -- mod 2^16
        |         CASE
        |           WHEN container IN ('png', 'y4m') AND ilen > 0 THEN
        |             list_transform(range(0, CAST(CASE container WHEN 'png' THEN 3*w*h ELSE 3*vw*vh*nf END AS INT)), i ->
        |               CAST(('0x' || substr(hx, CAST(2*(i % CAST(ilen AS INT))+1 AS INT), 2)) AS INT))
        |           WHEN container IN ('png', 'y4m') THEN
        |             list_transform(range(0, CAST(CASE container WHEN 'png' THEN 3*w*h ELSE 3*vw*vh*nf END AS INT)), i -> 0)
        |           WHEN container = 'wav' THEN
        |             list_transform(range(0, CAST(2*ns AS INT)), j ->
        |               CASE WHEN j % 2 = 0
        |                 THEN ((CASE WHEN ilen > 0 THEN CAST(('0x' || substr(hx, CAST(2*((j//2) % CAST(ilen AS INT))+1 AS INT), 2)) AS INT) ELSE 0 END) * 251 + (j//2)*7 + 17) % 65536 % 256
        |                 ELSE ((CASE WHEN ilen > 0 THEN CAST(('0x' || substr(hx, CAST(2*((j//2) % CAST(ilen AS INT))+1 AS INT), 2)) AS INT) ELSE 0 END) * 251 + (j//2)*7 + 17) % 65536 // 256
        |               END)
        |           ELSE
        |             coalesce(list_transform(range(0, CAST(ilen AS INT)), i ->
        |               CAST(('0x' || substr(hx, CAST(2*i+1 AS INT), 2)) AS INT)), [])
        |         END AS bytes
        |  FROM g),
        |c AS (
        |  SELECT media_id, kind, container, n_inner, n_bytes, bytes, w, h, vw, vh,
        |         list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
        |             list_transform(bytes, x -> CAST(x AS HUGEINT))),
        |           (acc, x) -> (31*acc + x) % CAST('18446744073709551616' AS HUGEINT)) AS cs
        |  FROM b)
        |SELECT media_id, kind, n_bytes, n_inner AS n_inner_bytes, container,
        |       CAST(CASE WHEN container IN ('png', 'jpeg') THEN w
        |                 WHEN container = 'y4m' THEN vw ELSE 0 END AS INT) AS width,
        |       CAST(CASE WHEN container IN ('png', 'jpeg') THEN h
        |                 WHEN container = 'y4m' THEN vh ELSE 0 END AS INT) AS height,
        |       CAST(CASE WHEN cs >= CAST('9223372036854775808' AS HUGEINT)
        |                 THEN cs - CAST('18446744073709551616' AS HUGEINT) ELSE cs END AS BIGINT) AS checksum,
        |       CAST(16 AS BIGINT) AS feature_dim,
        |       array_to_string(list_transform(range(0, 16), j ->
        |         len(list_filter(bytes, x -> x % 16 = j))), ',') AS hist
        |FROM c WHERE container <> 'jpeg' ORDER BY media_id""".stripMargin,

    // dims and raster size replay from the generator formulas; the DCT
    // contract itself (bounded luma error, deterministic redecode) is
    // computed Spark-side and predicted true here
    "multimodal_jpeg_roundtrip" ->
      """SELECT doc_id AS media_id,
        |       CAST(n_chars % 24 + 1 AS INT) AS width,
        |       CAST(n_chars % 8 + 1 AS INT) AS height,
        |       CAST(3 * (n_chars % 24 + 1) * (n_chars % 8 + 1) AS BIGINT) AS n_pixel_bytes,
        |       true AS luma_err_ok,
        |       true AS redecode_ok
        |FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 = 1
        |ORDER BY media_id""".stripMargin,

    "multimodal_audio_info" ->
      """SELECT doc_id AS media_id,
        |       CAST(16000 AS INT) AS sample_rate,
        |       CAST(n_chars % 200 + 50 AS INT) AS n_samples
        |FROM documents WHERE doc_id % 3 = 1 ORDER BY media_id""".stripMargin,

    "multimodal_frame_checksums" ->
      """WITH v AS (
        |  SELECT doc_id AS media_id,
        |         hex(encode(text)) AS hx,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS ilen,
        |         CAST(n_chars % 16 + 1 AS INT) AS vw,
        |         CAST(n_chars % 8 + 1 AS INT) AS vh,
        |         CAST(n_chars % 100 AS INT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT media_id, hx, ilen, 3*vw*vh AS fsz,
        |         unnest(range(0, nf, 7)) AS fi
        |  FROM v WHERE nf > 0),
        |c AS (
        |  SELECT media_id, CAST(fi AS INT) AS frame_idx,
        |         CAST(fsz AS BIGINT) AS n_frame_bytes,
        |         list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
        |             list_transform(range(0, CAST(fsz AS INT)), j ->
        |               CAST(CASE WHEN ilen > 0
        |                 THEN CAST(('0x' || substr(hx, CAST(2*((fi*fsz + j) % CAST(ilen AS INT))+1 AS INT), 2)) AS INT)
        |                 ELSE 0 END AS HUGEINT))),
        |           (acc, x) -> (31*acc + x) % CAST('18446744073709551616' AS HUGEINT)) AS cs
        |  FROM f)
        |SELECT media_id, frame_idx, n_frame_bytes,
        |       CAST(CASE WHEN cs >= CAST('9223372036854775808' AS HUGEINT)
        |                 THEN cs - CAST('18446744073709551616' AS HUGEINT) ELSE cs END AS BIGINT) AS frame_checksum
        |FROM c ORDER BY media_id, frame_idx""".stripMargin,

    "multimodal_audio_resample" ->
      """WITH a AS (
        |  SELECT doc_id AS media_id,
        |         hex(encode(text)) AS hx,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS ilen,
        |         CAST(n_chars % 200 + 50 AS INT) AS ns
        |  FROM documents WHERE doc_id % 3 = 1),
        |r AS (SELECT media_id, hx, ilen, CAST((ns + 3) // 4 AS INT) AS n2 FROM a),
        |c AS (
        |  SELECT media_id, n2,
        |         -- decimated PCM: sample i of the output is source sample
        |         -- 4i, i.e. v(4i) = (b[(4i) mod L]·251 + 7·4i + 17) mod 2^16,
        |         -- serialized as little-endian byte pairs
        |         list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
        |             list_transform(range(0, CAST(2*n2 AS INT)), j ->
        |               CAST(CASE WHEN j % 2 = 0
        |                 THEN ((CASE WHEN ilen > 0 THEN CAST(('0x' || substr(hx, CAST(2*((4*(j//2)) % CAST(ilen AS INT))+1 AS INT), 2)) AS INT) ELSE 0 END) * 251 + 4*(j//2)*7 + 17) % 65536 % 256
        |                 ELSE ((CASE WHEN ilen > 0 THEN CAST(('0x' || substr(hx, CAST(2*((4*(j//2)) % CAST(ilen AS INT))+1 AS INT), 2)) AS INT) ELSE 0 END) * 251 + 4*(j//2)*7 + 17) % 65536 // 256
        |               END AS HUGEINT))),
        |           (acc, x) -> (31*acc + x) % CAST('18446744073709551616' AS HUGEINT)) AS cs
        |  FROM r)
        |SELECT media_id, CAST(4000 AS INT) AS sample_rate, n2 AS n_samples,
        |       CAST(CASE WHEN cs >= CAST('9223372036854775808' AS HUGEINT)
        |                 THEN cs - CAST('18446744073709551616' AS HUGEINT) ELSE cs END AS BIGINT) AS pcm_checksum
        |FROM c ORDER BY media_id""".stripMargin,

    "multimodal_video_info" ->
      """SELECT doc_id AS media_id,
        |       CAST(n_chars % 16 + 1 AS INT) AS width,
        |       CAST(n_chars % 8 + 1 AS INT) AS height,
        |       CAST(n_chars % 100 AS INT) AS n_frames
        |FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id""".stripMargin,

    "multimodal_image_dims" ->
      """SELECT doc_id AS media_id,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |       CAST(n_chars % 24 + 1 AS INT) AS width,
        |       CAST(n_chars % 8 + 1 AS INT) AS height
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id""".stripMargin,

    // bloom filter: the double-hashed bit SET replayed directly — packed
    // 62-bit words in the engine are storage, membership is bit-set
    // membership, mathematically identical
    "bloom_membership" ->
      """WITH mk AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 450000.0),
        |bits AS MATERIALIZED (
        |  SELECT DISTINCT (CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 13)) AS BIGINT)
        |       + i.i * CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 14, 13)) AS BIGINT)) % 3968 AS bit
        |  FROM mk CROSS JOIN (VALUES (0), (1), (2)) i(i)),
        |ph AS (
        |  SELECT c_custkey,
        |         (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13)) AS BIGINT)
        |       + i.i * CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 14, 13)) AS BIGINT)) % 3968 AS bit
        |  FROM customer CROSS JOIN (VALUES (0), (1), (2)) i(i)),
        |hit AS (
        |  SELECT c_custkey, MIN(CASE WHEN bit IN (SELECT bit FROM bits) THEN 1 ELSE 0 END) AS h
        |  FROM ph GROUP BY c_custkey)
        |SELECT c_custkey, h = 1 AS bloom_hit,
        |       CASE WHEN c_custkey IN (SELECT k FROM mk) THEN TRUE ELSE FALSE END AS is_member,
        |       CASE WHEN c_custkey IN (SELECT k FROM mk) THEN h = 1 ELSE TRUE END AS no_false_negative
        |FROM hit ORDER BY c_custkey""".stripMargin,

    // bloom-pruned join: no false negatives + the join discards false
    // positives ⇒ the result IS the plain join — which is the oracle
    "bloom_pruned_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 7500.0
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "kmv_jaccard" ->
      """WITH ca AS MATERIALIZED (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
        |  FROM events WHERE event_type = 'click'),
        |cb AS MATERIALIZED (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS h
        |  FROM events WHERE event_type = 'purchase'),
        |sa AS MATERIALIZED (SELECT h FROM ca ORDER BY h LIMIT 256),
        |sb AS MATERIALIZED (SELECT h FROM cb ORDER BY h LIMIT 256),
        |u AS MATERIALIZED (
        |  SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb))
        |  ORDER BY h LIMIT 256),
        |agg AS (SELECT COUNT(*) AS n_union, MAX(h) AS hk FROM u),
        |sh AS (SELECT COUNT(*) AS shared FROM u
        |       WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
        |tr AS (SELECT COUNT(*) AS true_inter FROM
        |  (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') a
        |  JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') b
        |  USING (user_id))
        |SELECT CAST(256 AS BIGINT) AS k, n_union, hk AS hk_union, shared,
        |  CASE WHEN n_union < 256 THEN CAST(n_union AS DOUBLE)
        |       ELSE round(CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk, 6) END AS union_est,
        |  round(CAST(shared AS DOUBLE) / n_union, 6) AS jaccard,
        |  round(round(CAST(shared AS DOUBLE) / n_union, 6) *
        |    (CASE WHEN n_union < 256 THEN CAST(n_union AS DOUBLE)
        |          ELSE round(CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk, 6) END), 6) AS inter_est,
        |  true_inter
        |FROM agg, sh, tr""".stripMargin,

    "volume_trend" ->
      """WITH d AS MATERIALIZED (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS "day", COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |x AS (SELECT event_type,
        |        date_diff('day', (SELECT MIN("day") FROM d), "day") AS x, y
        |      FROM d),
        |a AS (SELECT event_type, COUNT(*) AS n_days,
        |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |        CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        |      FROM x GROUP BY 1)
        |SELECT event_type, n_days, sy AS total,
        |  CASE WHEN n_days * sxx = sx * sx THEN NULL
        |       ELSE round(CAST(n_days * sxy - sx * sy AS DOUBLE)
        |                  / CAST(n_days * sxx - sx * sx AS DOUBLE), 6) END AS slope
        |FROM a ORDER BY event_type""".stripMargin,

    "trending_decay" -> Fixtures.trendingDecayOracle,

    "streaming_pca_project" -> Fixtures.streamingPcaProjectOracle,

    // two-chain lifecycle oracle: the UNION bit set (slices partition the
    // big orders on o_orderkey parity, and word-wise OR == union build) —
    // a broken save/append/load chain cannot match it
    "bloom_index_flag" -> BloomIndexFlagSql,

    // same union bit set, probed from the COMPACTED generation: only a
    // lossless word-wise bit-OR fold can reproduce it
    "bloom_words_compact" -> BloomIndexFlagSql,

    // same union-derivation contract as pca_moments_append, derived from
    // the COMPACTED generation: integer moments are additive, so only a
    // lossless cell-wise fold reproduces every power iterate
    "pca_moments_compact" -> pcaMomentsAppendOracle,

    // sizing from the bundle's summed stats alone: byte accounting +
    // clamped ceildiv replayed one-shot from the raw table — equality
    // proves the stats merge across save+append
    "profile_size_advice" ->
      """WITH st AS (SELECT COUNT(*) AS nr,
        |  CAST(16 * COUNT(*) AS BIGINT) AS bytes FROM supplier)
        |SELECT st.nr AS "rows", st.bytes,
        |       greatest(1, least(4096, (st.bytes + 16383) // 16384))
        |         AS advised_shuffle_partitions,
        |       greatest(1, (st.bytes + 65535) // 65536) AS advised_files
        |FROM st""".stripMargin,

    // the generation-flip gate: the decision served THROUGH the flipped
    // pointer must still equal the one-shot replay (fold + flip changed
    // nothing a consumer can see); the flip booleans are engine-side
    // structural pins asserted in-query
    "profile_generation_flip" ->
      (s"SELECT q.*, true AS generation_changed, true AS decision_identical " +
        s"FROM (${quarterProfileDecisionSql(CompactedTopShareExactSql)}) q"),

    "streaming_bloom_flag" ->
      """WITH mk AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 450000.0),
        |bits AS MATERIALIZED (
        |  SELECT DISTINCT (CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 13)) AS BIGINT)
        |       + i.i * CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 14, 13)) AS BIGINT)) % 3968 AS bit
        |  FROM mk CROSS JOIN (VALUES (0), (1), (2)) i(i)),
        |ph AS (
        |  SELECT c_custkey,
        |         (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13)) AS BIGINT)
        |       + i.i * CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 14, 13)) AS BIGINT)) % 3968 AS bit
        |  FROM customer CROSS JOIN (VALUES (0), (1), (2)) i(i)
        |  WHERE c_custkey % 2 = 1)
        |SELECT c_custkey,
        |       MIN(CASE WHEN bit IN (SELECT bit FROM bits) THEN 1 ELSE 0 END) = 1 AS bloom_hit
        |FROM ph GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "quality_calibration" -> Fixtures.qualityCalibrationOracle,

    "calibration_threshold" -> Fixtures.calibrationThresholdOracle,

    "streaming_bpe_tokens" -> Fixtures.streamingBpeTokensOracle,

    // string-key twin of streaming_bloom_daily: md5 digests the RAW
    // string (no cast), same double-hash bit family
    "streaming_bloom_string" ->
      """WITH e AS MATERIALIZED (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |         event_type || '-' || CAST(user_id AS VARCHAR) AS skey
        |  FROM events WHERE event_id % 23 = 0),
        |bits AS MATERIALIZED (
        |  SELECT DISTINCT window_start,
        |         (CAST(('0x' || substr(md5(skey), 1, 13)) AS BIGINT)
        |       + i.i * CAST(('0x' || substr(md5(skey), 14, 13)) AS BIGINT)) % 3968 AS bit
        |  FROM e CROSS JOIN (VALUES (0), (1), (2)) i(i)),
        |probes AS MATERIALIZED (
        |  SELECT skey FROM (SELECT DISTINCT skey FROM e)
        |  ORDER BY skey LIMIT 20),
        |ph AS (
        |  SELECT skey,
        |         (CAST(('0x' || substr(md5(skey), 1, 13)) AS BIGINT)
        |       + i.i * CAST(('0x' || substr(md5(skey), 14, 13)) AS BIGINT)) % 3968 AS bit
        |  FROM probes CROSS JOIN (VALUES (0), (1), (2)) i(i)),
        |wins AS (SELECT DISTINCT window_start FROM e),
        |hit AS (
        |  SELECT w.window_start, ph.skey,
        |         MIN(CASE WHEN EXISTS (SELECT 1 FROM bits b
        |                               WHERE b.window_start = w.window_start
        |                                 AND b.bit = ph.bit)
        |                  THEN 1 ELSE 0 END) AS h
        |  FROM wins w CROSS JOIN ph GROUP BY 1, 2),
        |mem AS (SELECT DISTINCT window_start, skey FROM e)
        |SELECT hit.window_start, hit.skey, hit.h = 1 AS bloom_hit,
        |       (mem.skey IS NOT NULL) AS is_member,
        |       CASE WHEN mem.skey IS NOT NULL THEN hit.h = 1 ELSE TRUE END
        |         AS no_false_negative
        |FROM hit LEFT JOIN mem
        |  ON mem.window_start = hit.window_start AND mem.skey = hit.skey
        |ORDER BY hit.window_start, hit.skey""".stripMargin,

    // per-window bit sets replayed directly (packed words are storage;
    // membership is bit-set membership)
    // append-mode twin of streaming_bloom_daily (feed % 19): finalized
    // once-per-window emission must carry the same per-day bit sets as
    // the one-shot batch build this replays
    "streaming_bloom_append" ->
      """WITH e AS MATERIALIZED (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, user_id
        |  FROM events WHERE event_id % 19 = 0),
        |bits AS MATERIALIZED (
        |  SELECT DISTINCT window_start,
        |         (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |       + i.i * CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 14, 13)) AS BIGINT)) % 3968 AS bit
        |  FROM e CROSS JOIN (VALUES (0), (1), (2)) i(i)),
        |probes AS MATERIALIZED (
        |  SELECT user_id FROM (SELECT DISTINCT user_id FROM e)
        |  ORDER BY user_id LIMIT 20),
        |ph AS (
        |  SELECT user_id,
        |         (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |       + i.i * CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 14, 13)) AS BIGINT)) % 3968 AS bit
        |  FROM probes CROSS JOIN (VALUES (0), (1), (2)) i(i)),
        |wins AS (SELECT DISTINCT window_start FROM e),
        |hit AS (
        |  SELECT w.window_start, ph.user_id,
        |         MIN(CASE WHEN EXISTS (SELECT 1 FROM bits b
        |                               WHERE b.window_start = w.window_start
        |                                 AND b.bit = ph.bit)
        |                  THEN 1 ELSE 0 END) AS h
        |  FROM wins w CROSS JOIN ph GROUP BY 1, 2),
        |mem AS (SELECT DISTINCT window_start, user_id FROM e)
        |SELECT hit.window_start, hit.user_id, hit.h = 1 AS bloom_hit,
        |       (mem.user_id IS NOT NULL) AS is_member,
        |       CASE WHEN mem.user_id IS NOT NULL THEN hit.h = 1 ELSE TRUE END
        |         AS no_false_negative
        |FROM hit LEFT JOIN mem
        |  ON mem.window_start = hit.window_start AND mem.user_id = hit.user_id
        |ORDER BY hit.window_start, hit.user_id""".stripMargin,

    "streaming_bloom_daily" ->
      """WITH e AS MATERIALIZED (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, user_id
        |  FROM events WHERE event_id % 17 = 0),
        |bits AS MATERIALIZED (
        |  SELECT DISTINCT window_start,
        |         (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |       + i.i * CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 14, 13)) AS BIGINT)) % 3968 AS bit
        |  FROM e CROSS JOIN (VALUES (0), (1), (2)) i(i)),
        |probes AS MATERIALIZED (
        |  SELECT user_id FROM (SELECT DISTINCT user_id FROM e)
        |  ORDER BY user_id LIMIT 20),
        |ph AS (
        |  SELECT user_id,
        |         (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)
        |       + i.i * CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 14, 13)) AS BIGINT)) % 3968 AS bit
        |  FROM probes CROSS JOIN (VALUES (0), (1), (2)) i(i)),
        |wins AS (SELECT DISTINCT window_start FROM e),
        |hit AS (
        |  SELECT w.window_start, ph.user_id,
        |         MIN(CASE WHEN EXISTS (SELECT 1 FROM bits b
        |                               WHERE b.window_start = w.window_start
        |                                 AND b.bit = ph.bit)
        |                  THEN 1 ELSE 0 END) AS h
        |  FROM wins w CROSS JOIN ph GROUP BY 1, 2),
        |mem AS (SELECT DISTINCT window_start, user_id FROM e)
        |SELECT hit.window_start, hit.user_id, hit.h = 1 AS bloom_hit,
        |       (mem.user_id IS NOT NULL) AS is_member,
        |       CASE WHEN mem.user_id IS NOT NULL THEN hit.h = 1 ELSE TRUE END
        |         AS no_false_negative
        |FROM hit LEFT JOIN mem
        |  ON mem.window_start = hit.window_start AND mem.user_id = hit.user_id
        |ORDER BY hit.window_start, hit.user_id""".stripMargin,

    "cms_join_size" ->
      """WITH h(r, a, b) AS (VALUES (0,31,17),(1,131,29),(2,1031,101),(3,8191,3)),
        |ca AS MATERIALIZED (
        |  SELECT r, (o_custkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM orders CROSS JOIN h GROUP BY 1, 2),
        |cb AS MATERIALIZED (
        |  SELECT r, (c_custkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM customer CROSS JOIN h WHERE c_acctbal > 7500.0 GROUP BY 1, 2),
        |ip AS (
        |  SELECT ca.r, SUM(CAST(ca.n AS HUGEINT) * cb.n) AS ip
        |  FROM ca JOIN cb ON ca.r = cb.r AND ca.c = cb.c GROUP BY ca.r),
        |est AS (
        |  SELECT CAST(MIN(COALESCE(ip.ip, 0)) AS BIGINT) AS est_join_size
        |  FROM range(0, 4) t(r) LEFT JOIN ip ON ip.r = t.r),
        |tr AS (SELECT COUNT(*) AS true_join_size
        |       FROM orders JOIN customer ON o_custkey = c_custkey
        |       WHERE c_acctbal > 7500.0)
        |SELECT est_join_size, true_join_size,
        |       est_join_size >= true_join_size AS never_undercount
        |FROM est, tr""".stripMargin,

    // declared cap semantics (matches basketLift's scaladoc): marginals
    // m and the total t count ALL baskets; only the pair counts p are
    // restricted to kept (<= 256-item) baskets — lift is intentionally
    // biased downward for items appearing in oversized baskets
    "basket_brand_lift" ->
      """WITH b AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS bk, p_brand AS it
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |t AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM b),
        |m AS (SELECT it, COUNT(*) AS n_i FROM b GROUP BY it),
        |kept AS (SELECT b.bk, b.it FROM b
        |         JOIN (SELECT bk FROM b GROUP BY bk HAVING COUNT(*) <= 256) s
        |           ON s.bk = b.bk),
        |p AS (
        |  SELECT x.it AS item_a, y.it AS item_b, COUNT(*) AS n_ab
        |  FROM kept x JOIN kept y ON x.bk = y.bk AND x.it < y.it
        |  GROUP BY 1, 2)
        |SELECT p.item_a, p.item_b, p.n_ab,
        |       CAST(p.n_ab * t.n_baskets AS DOUBLE)
        |         / CAST(ma.n_i * mb.n_i AS DOUBLE) AS lift
        |FROM p JOIN m ma ON ma.it = p.item_a
        |       JOIN m mb ON mb.it = p.item_b, t
        |ORDER BY p.item_a, p.item_b""".stripMargin,

    // the full chooser derivation per scenario: CMS inner-product bound
    // (never undercounts), rank-1 key share, exact counts, round-6
    // selectivity, CASE over the same literal thresholds as the engine
    // (broadcast <= 120 dim rows; salted >= 0.05 top share;
    // bloom_pruned <= 0.5 selectivity; else plain)
    "join_choice_decision" ->
      """WITH h(r, a, b) AS (VALUES (0,31,17),(1,131,29),(2,1031,101),(3,8191,3)),
        |s1ca AS MATERIALIZED (
        |  SELECT r, (l_suppkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM lineitem CROSS JOIN h GROUP BY 1, 2),
        |s1cb AS MATERIALIZED (
        |  SELECT r, (s_suppkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM supplier CROSS JOIN h GROUP BY 1, 2),
        |s1ip AS (SELECT ca.r, SUM(CAST(ca.n AS HUGEINT) * cb.n) AS ip
        |         FROM s1ca ca JOIN s1cb cb ON ca.r = cb.r AND ca.c = cb.c GROUP BY ca.r),
        |s1est AS (SELECT CAST(MIN(COALESCE(ip.ip, 0)) AS BIGINT) AS est
        |          FROM range(0, 4) t(r) LEFT JOIN s1ip ip ON ip.r = t.r),
        |s1f AS (SELECT COUNT(*) AS fact_rows FROM lineitem),
        |s1d AS (SELECT COUNT(*) AS dim_rows FROM supplier),
        |s1s AS (SELECT round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_share
        |        FROM (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1)),
        |s1 AS (SELECT 'lineitem_supplier' AS scenario, fact_rows, dim_rows, top_share,
        |              est AS est_join_size,
        |              round(CAST(est AS DOUBLE) / fact_rows, 6) AS est_selectivity
        |       FROM s1f, s1d, s1s, s1est),
        |s2ca AS MATERIALIZED (
        |  SELECT r, (o_custkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM orders CROSS JOIN h GROUP BY 1, 2),
        |s2cb AS MATERIALIZED (
        |  SELECT r, (c_custkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM customer CROSS JOIN h WHERE c_acctbal > 7500.0 GROUP BY 1, 2),
        |s2ip AS (SELECT ca.r, SUM(CAST(ca.n AS HUGEINT) * cb.n) AS ip
        |         FROM s2ca ca JOIN s2cb cb ON ca.r = cb.r AND ca.c = cb.c GROUP BY ca.r),
        |s2est AS (SELECT CAST(MIN(COALESCE(ip.ip, 0)) AS BIGINT) AS est
        |          FROM range(0, 4) t(r) LEFT JOIN s2ip ip ON ip.r = t.r),
        |s2f AS (SELECT COUNT(*) AS fact_rows FROM orders),
        |s2d AS (SELECT COUNT(*) AS dim_rows FROM customer WHERE c_acctbal > 7500.0),
        |s2s AS (SELECT round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_share
        |        FROM (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1)),
        |s2 AS (SELECT 'orders_rich_customer' AS scenario, fact_rows, dim_rows, top_share,
        |              est AS est_join_size,
        |              round(CAST(est AS DOUBLE) / fact_rows, 6) AS est_selectivity
        |       FROM s2f, s2d, s2s, s2est),
        |s3cb AS MATERIALIZED (
        |  SELECT r, (c_custkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM customer CROSS JOIN h GROUP BY 1, 2),
        |s3ip AS (SELECT ca.r, SUM(CAST(ca.n AS HUGEINT) * cb.n) AS ip
        |         FROM s2ca ca JOIN s3cb cb ON ca.r = cb.r AND ca.c = cb.c GROUP BY ca.r),
        |s3est AS (SELECT CAST(MIN(COALESCE(ip.ip, 0)) AS BIGINT) AS est
        |          FROM range(0, 4) t(r) LEFT JOIN s3ip ip ON ip.r = t.r),
        |s3d AS (SELECT COUNT(*) AS dim_rows FROM customer),
        |s3 AS (SELECT 'orders_customer' AS scenario, fact_rows, dim_rows, top_share,
        |              est AS est_join_size,
        |              round(CAST(est AS DOUBLE) / fact_rows, 6) AS est_selectivity
        |       FROM s2f, s3d, s2s, s3est)
        |SELECT scenario, fact_rows, dim_rows, top_share, est_join_size, est_selectivity,
        |       CASE WHEN dim_rows <= 120 THEN 'broadcast'
        |            WHEN top_share >= 0.05 THEN 'salted'
        |            WHEN est_selectivity <= 0.5 THEN 'bloom_pruned'
        |            ELSE 'plain' END AS strategy
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        |ORDER BY scenario""".stripMargin,

    // the artifact-fed planner's merge law: the Spark side decides from
    // persisted save+append sketch bundles; this replays every scenario
    // ONE-SHOT from the raw tables (CMS chains for both dims, exact
    // hot-key share, 16-byte-row accounting on the 2-col projections,
    // CASE over each scenario's literal thresholds, ceildiv sizing) —
    // a hash match proves decision-from-merged-deltas == one-shot
    "join_profile_decision" ->
      """WITH h(r, a, b) AS (VALUES (0,31,17),(1,131,29),(2,1031,101),(3,8191,3)),
        |fc AS MATERIALIZED (
        |  SELECT r, (l_suppkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM lineitem CROSS JOIN h GROUP BY 1, 2),
        |dc AS MATERIALIZED (
        |  SELECT r, (s_suppkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM supplier CROSS JOIN h GROUP BY 1, 2),
        |rc AS MATERIALIZED (
        |  SELECT r, (s_suppkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM supplier CROSS JOIN h WHERE s_acctbal > 5000.0 GROUP BY 1, 2),
        |ipd AS (SELECT fc.r, SUM(CAST(fc.n AS HUGEINT) * dc.n) AS ip
        |        FROM fc JOIN dc ON fc.r = dc.r AND fc.c = dc.c GROUP BY fc.r),
        |ipr AS (SELECT fc.r, SUM(CAST(fc.n AS HUGEINT) * rc.n) AS ip
        |        FROM fc JOIN rc ON fc.r = rc.r AND fc.c = rc.c GROUP BY fc.r),
        |ed AS (SELECT CAST(MIN(COALESCE(ip.ip, 0)) AS BIGINT) AS est
        |       FROM range(0, 4) t(r) LEFT JOIN ipd ip ON ip.r = t.r),
        |er AS (SELECT CAST(MIN(COALESCE(ip.ip, 0)) AS BIGINT) AS est
        |       FROM range(0, 4) t(r) LEFT JOIN ipr ip ON ip.r = t.r),
        |f AS (SELECT COUNT(*) AS fact_rows,
        |             CAST(16 * COUNT(*) AS BIGINT) AS fact_bytes FROM lineitem),
        |d AS (SELECT COUNT(*) AS dim_rows,
        |             CAST(16 * COUNT(*) AS BIGINT) AS dim_bytes FROM supplier),
        |rr AS (SELECT COUNT(*) AS dim_rows, CAST(16 * COUNT(*) AS BIGINT) AS dim_bytes
        |       FROM supplier WHERE s_acctbal > 5000.0),
        |ts AS (SELECT round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_share
        |       FROM (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1)),
        |base AS (
        |  SELECT 'pick_broadcast' AS scenario, f.fact_rows, d.dim_rows, ts.top_share,
        |         ed.est AS est_join_size,
        |         round(CAST(ed.est AS DOUBLE) / f.fact_rows, 6) AS est_selectivity,
        |         CAST(2000 AS BIGINT) AS bmax, CAST(0.9 AS DOUBLE) AS smin,
        |         CAST(0.001 AS DOUBLE) AS selmax, f.fact_bytes, d.dim_bytes
        |  FROM f, d, ts, ed
        |  UNION ALL
        |  SELECT 'pick_salted', f.fact_rows, d.dim_rows, ts.top_share, ed.est,
        |         round(CAST(ed.est AS DOUBLE) / f.fact_rows, 6),
        |         0, 0.009, 0.9, f.fact_bytes, d.dim_bytes
        |  FROM f, d, ts, ed
        |  UNION ALL
        |  SELECT 'pick_bloom', f.fact_rows, rr.dim_rows, ts.top_share, er.est,
        |         round(CAST(er.est AS DOUBLE) / f.fact_rows, 6),
        |         0, 0.9, 0.9, f.fact_bytes, rr.dim_bytes
        |  FROM f, rr, ts, er
        |  UNION ALL
        |  SELECT 'pick_plain', f.fact_rows, d.dim_rows, ts.top_share, ed.est,
        |         round(CAST(ed.est AS DOUBLE) / f.fact_rows, 6),
        |         0, 0.9, 0.001, f.fact_bytes, d.dim_bytes
        |  FROM f, d, ts, ed)
        |SELECT scenario, fact_rows, dim_rows, top_share, est_join_size, est_selectivity,
        |       CASE WHEN dim_rows <= bmax THEN 'broadcast'
        |            WHEN top_share >= smin THEN 'salted'
        |            WHEN est_selectivity <= selmax THEN 'bloom_pruned'
        |            ELSE 'plain' END AS strategy,
        |       fact_bytes, dim_bytes,
        |       greatest(1, least(4096, (fact_bytes + dim_bytes + 65535) // 65536))
        |         AS advised_shuffle_partitions,
        |       (SELECT MAX(c) FROM (SELECT COUNT(DISTINCT l_suppkey) AS c
        |        FROM lineitem GROUP BY l_orderkey % 2)) <= 4096 AS top_share_exact
        |FROM base ORDER BY scenario""".stripMargin,
    // ^ top_share_exact replays the ENGINE's exact quantity for a
    //   pile-serving gate: the AND over the gate's l_orderkey-parity
    //   slices of per-slice distinct ≤ topK (= MAX per-slice ≤ topK) —
    //   never the global-distinct proxy, which diverges exactly when
    //   every slice is covered but the global key set is not.

    // distinct-key advice from the bundle's KMV component: md5 k-min
    // chain + exact row/byte stats replayed one-shot — equality proves
    // the save+append k-min fold (k-min commutes with union)
    "profile_distinct_advice" ->
      """WITH h AS (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
        |  FROM supplier),
        |s AS (SELECT h FROM h ORDER BY h LIMIT 64),
        |a AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM s),
        |st AS (SELECT COUNT(*) AS nr, CAST(16 * COUNT(*) AS BIGINT) AS bytes FROM supplier)
        |SELECT st.nr AS "rows", st.bytes, CAST(64 AS BIGINT) AS k, a.n, a.hk,
        |       CASE WHEN a.n < 64 THEN CAST(a.n AS DOUBLE)
        |            ELSE round(CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / a.hk, 6) END
        |         AS estimate
        |FROM st, a""".stripMargin,

    // key-overlap from two bundles' KMV components: md5 k-min sets of
    // both key columns, the k-min union sketch, certain below-threshold
    // membership, and the exact-arithmetic estimator chain — replayed
    // one-shot, proving the save+append fold AND the set algebra
    "profile_overlap_advice" ->
      """WITH ca AS MATERIALIZED (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
        |  FROM orders),
        |cb AS MATERIALIZED (
        |  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
        |  FROM customer),
        |sa AS MATERIALIZED (SELECT h FROM ca ORDER BY h LIMIT 256),
        |sb AS MATERIALIZED (SELECT h FROM cb ORDER BY h LIMIT 256),
        |u AS MATERIALIZED (
        |  SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb))
        |  ORDER BY h LIMIT 256),
        |agg AS (SELECT COUNT(*) AS n_union, MAX(h) AS hk FROM u),
        |sh AS (SELECT COUNT(*) AS shared FROM u
        |       WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb))
        |SELECT CAST(256 AS BIGINT) AS k, n_union, hk AS hk_union, shared,
        |  CASE WHEN n_union < 256 THEN CAST(n_union AS DOUBLE)
        |       ELSE round(CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk, 6) END AS union_est,
        |  round(CAST(shared AS DOUBLE) / n_union, 6) AS jaccard,
        |  round(round(CAST(shared AS DOUBLE) / n_union, 6) *
        |    (CASE WHEN n_union < 256 THEN CAST(n_union AS DOUBLE)
        |          ELSE round(CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk, 6) END), 6) AS inter_est
        |FROM agg, sh""".stripMargin,

    // the streamed-bundle merge law: the decision row from a bundle
    // maintained by foreachBatch delta-appends must equal this one-shot
    // replay of the same sized planner chain over the raw tables
    // pile-serving: slices are the l_orderkey-parity batches the gate
    // streams, so the marker replays per-slice coverage AND-folded
    "streaming_profile_decision" ->
      // % 8, not parity: the quarter feed (l_orderkey % 4 = 0) is all
      // even, so the gate slices by the %8 residues {0, 4}
      quarterProfileDecisionSql(pileTopShareExactSql("l_orderkey % 8")),

    // same fixture, same one-shot replay — here proving the COMPACTED
    // generation (merged cells/topk/kmv/stats folded to one file set)
    // decides identically to the pile it replaced; the marker replays the
    // fold's re-derived (merged-set) coverage
    "profile_compact_decision" ->
      quarterProfileDecisionSql(CompactedTopShareExactSql),

    // the complete planner row: the s1 sketch chain + exact byte
    // accounting + ceildiv sizing, replayed end to end
    "join_choice_sized" ->
      """WITH h(r, a, b) AS (VALUES (0,31,17),(1,131,29),(2,1031,101),(3,8191,3)),
        |ca AS MATERIALIZED (
        |  SELECT r, (l_suppkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM lineitem CROSS JOIN h GROUP BY 1, 2),
        |cb AS MATERIALIZED (
        |  SELECT r, (s_suppkey % 1000000007 * a + b) % 1000000007 % 4096 AS c, COUNT(*) AS n
        |  FROM supplier CROSS JOIN h GROUP BY 1, 2),
        |ip AS (SELECT ca.r, SUM(CAST(ca.n AS HUGEINT) * cb.n) AS ip
        |       FROM ca JOIN cb ON ca.r = cb.r AND ca.c = cb.c GROUP BY ca.r),
        |e AS (SELECT CAST(MIN(COALESCE(ip.ip, 0)) AS BIGINT) AS est
        |      FROM range(0, 4) t(r) LEFT JOIN ip ON ip.r = t.r),
        |f AS (SELECT COUNT(*) AS fact_rows,
        |             CAST(SUM(68 + COALESCE(strlen(l_returnflag), 0) + 4
        |                         + COALESCE(strlen(l_linestatus), 0) + 4) AS BIGINT)
        |               AS fact_bytes
        |      FROM lineitem),
        |d AS (SELECT COUNT(*) AS dim_rows,
        |             CAST(SUM(8 + COALESCE(strlen(s_name), 0) + 4 + 4 + 8) AS BIGINT)
        |               AS dim_bytes
        |      FROM supplier),
        |s AS (SELECT round(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_share
        |      FROM (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1))
        |SELECT fact_rows, dim_rows, top_share, est AS est_join_size,
        |       round(CAST(est AS DOUBLE) / fact_rows, 6) AS est_selectivity,
        |       CASE WHEN dim_rows <= 120 THEN 'broadcast'
        |            WHEN top_share >= 0.05 THEN 'salted'
        |            WHEN round(CAST(est AS DOUBLE) / fact_rows, 6) <= 0.5 THEN 'bloom_pruned'
        |            ELSE 'plain' END AS strategy,
        |       fact_bytes, dim_bytes,
        |       greatest(1, least(4096, (fact_bytes + dim_bytes + 65535) // 65536))
        |         AS advised_shuffle_partitions
        |FROM f, d, s, e""".stripMargin,

    // chosen-strategy result identity: whatever the estimates select,
    // the output is the plain join's — the oracle IS the plain join
    "join_choice_exec" ->
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 7500.0
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // capacity advisor: the byte accounting is a DEFINED per-type widths
    // sum (8/4/2/1 fixed slots, strlen+4 strings, 4+4·len float arrays),
    // so the oracle re-derives measurement AND advice in pure int64 —
    // ceildiv spelled (n + d - 1) // d, clamped greatest/least
    "size_advice" ->
      """WITH m(label, rows, total_bytes) AS (
        |  SELECT 'documents', COUNT(*),
        |         CAST(SUM(8 + COALESCE(strlen(text), 0) + 4
        |                    + COALESCE(strlen(lang), 0) + 4
        |                    + COALESCE(strlen(source), 0) + 4 + 8) AS BIGINT)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lineitem', COUNT(*),
        |         CAST(SUM(8 + 8 + 8 + 4 + 8 + 8 + 8 + 8
        |                    + COALESCE(strlen(l_returnflag), 0) + 4
        |                    + COALESCE(strlen(l_linestatus), 0) + 4 + 8) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'embeddings', COUNT(*),
        |         CAST(SUM(8 + COALESCE(len(embedding), 0) * 4 + 4 + 4) AS BIGINT)
        |  FROM embeddings)
        |SELECT label, rows, total_bytes,
        |       greatest(1, least(4096, (total_bytes + 16383) // 16384))
        |         AS advised_shuffle_partitions,
        |       greatest(1, (total_bytes + 65535) // 65536) AS advised_files
        |FROM m ORDER BY label""".stripMargin,

    "key_skew_profile" ->
      """WITH c AS MATERIALIZED (
        |  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
        |             COUNT(*) AS distinct_keys FROM c),
        |r AS (SELECT user_id, cnt,
        |        ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id ASC) AS rnk
        |      FROM c)
        |SELECT rnk, user_id, cnt,
        |       round(CAST(cnt AS DOUBLE) / total_rows, 6) AS share,
        |       total_rows, distinct_keys,
        |       round(1.0 / distinct_keys, 6) AS uniform_share
        |FROM r, t WHERE rnk <= 15 ORDER BY rnk""".stripMargin,

    "trigram_search" -> Fixtures.trigramSearchOracle("sort table"),

    // lifecycle twin: same replay, different needle — slices partition on
    // doc_id parity, so the loaded union IS the full posting table
    "trigram_index_search" -> Fixtures.trigramSearchOracle("merge batch"),

    // compaction gate: the compacted generation must answer identically
    // to the union replay (row-identity with the uncompacted search is
    // additionally asserted inside the query itself)
    "trigram_index_compact" -> Fixtures.trigramSearchOracle("stream merge"))
}
