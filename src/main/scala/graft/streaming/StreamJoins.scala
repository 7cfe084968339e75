package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stream-stream windowed equi-join (absent in the reference — SURVEY.md
 * §2.12; standard Structured Streaming surface provided for completeness):
 * enrich a reading stream with a second sensor stream on the same key,
 * accepting pairs whose event times differ by at most `toleranceMinutes`.
 *
 * Both sides carry watermarks, so the join state store evicts rows once the
 * watermark passes `ts ± tolerance` — state is bounded by (key cardinality ×
 * tolerance window), independent of stream length.
 */
object StreamJoins {

  /**
   * `left(ts, key, value)` ⋈ `right(ts2, key, value2)` on key with
   * `|ts − ts2| ≤ tolerance`. Inner join; both inputs must be streaming
   * DataFrames (or both batch — same plan shape works for backfills).
   */
  def enrichWithin(left: DataFrame, right: DataFrame,
                   toleranceMinutes: Int,
                   watermark: String = "30 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right
      .withColumnRenamed("ts", "ts2")
      .withColumnRenamed("value", "value2")
      .withWatermark("ts2", watermark)
    // The tolerance MUST be expressed as interval arithmetic directly on the
    // watermarked timestamp columns: Spark's StreamingJoinHelper derives the
    // state-eviction watermark from `ts2 >= ts - INTERVAL …` style
    // constraints, but cannot see through unix_micros()/casts — with those,
    // results stay correct while join state grows without bound.
    val tol = expr(s"INTERVAL $toleranceMinutes MINUTES")
    l.join(r,
      l("key") === r("key") &&
        col("ts2") >= col("ts") - tol &&
        col("ts2") <= col("ts") + tol,
      "inner")
      .select(l("key"), col("ts"), col("value"), col("ts2"), col("value2"))
  }

  /**
   * Stream-static dimension enrichment: join the stream against a small
   * batch dimension with an explicit `broadcast()` — STATELESS (no state
   * store at all: the dimension ships to every task, nothing is buffered),
   * which is why it's the right join for slowly-changing reference data at
   * any stream volume. Note a path-backed `dim` keeps the file listing it
   * was read with; to pick up a refreshed dimension without restarting,
   * re-read it by path inside `foreachBatch` (the pattern
   * [[StreamingAnnServing.serveIvfPqFromRoot]] uses for its growing code
   * table and corpus).
   */
  def enrichStatic(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /**
   * Stream-static AS-OF enrichment: attach to every incoming event its
   * key's most recent dimension row as of the event time — the streaming
   * twin of [[graft.operators.Temporal.asofJoin]] (latest-known-price /
   * latest-order attribution at ingest). STATELESS: the dimension is
   * compiled batch-side into disjoint validity intervals (per key, sorted
   * by (dimTs, tieBreak), `valid_to` = the next row's `valid_from` via
   * one keyed `lead` Window — at equal timestamps the LAST row under
   * `tieBreak` wins, deterministically), and each micro-batch runs ONE
   * equi-join on the key with a residual interval filter — no state
   * store, append-safe, and every event matches at most one interval by
   * construction.
   *
   * The interval table is `localCheckpoint`ed (the static subplan
   * re-executes per micro-batch) and broadcast when `broadcastDim` —
   * right for dimension-sized tables; pass false to let the planner
   * shuffle both sides on the key for a fact-sized "dimension".
   *
   * Returns the stream's columns + `asofOut` (the matched row's `dimTs`)
   * + `payload`; unmatched events (timestamp before the key's first
   * dimension row, or an unknown key) keep null enrichment (left join).
   */
  def enrichAsOfStatic(stream: DataFrame, dim: DataFrame, key: String,
                       dimTs: String, tieBreak: String,
                       payload: Seq[String],
                       streamTs: String = "ts",
                       asofOut: String = "asof_ts",
                       broadcastDim: Boolean = true): DataFrame = {
    require(payload.nonEmpty, "enrichAsOfStatic: payload must be non-empty")
    // the enrichment columns land next to the stream's own — a stream that
    // already carries asofOut or a payload name would make the output (and
    // the unqualified references the join resolves) ambiguous; fail loudly
    val collide = stream.columns.toSet.intersect((asofOut +: payload).toSet)
    require(collide.isEmpty,
      s"enrichAsOfStatic: stream already carries enrichment column(s) " +
        s"${collide.mkString(",")} — rename them on one side first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(dimTs), col(tieBreak))
    val iv = dim
      .select((Seq(key, dimTs, tieBreak) ++ payload).distinct.map(col): _*)
      .withColumn("__from", col(dimTs).cast("timestamp"))
      .withColumn("__to", lead(col("__from"), 1).over(w))
      .select(col(key).as("__k") +: col("__from") +: col("__to") +:
        (col(dimTs).cast("timestamp").as(asofOut) +: payload.map(col)): _*)
      .localCheckpoint()
    val dimSide = if (broadcastDim) broadcast(iv) else iv
    val streamCols = stream.columns.toSeq
    // every dimension-side reference dataset-qualified: a stream column
    // named __from/__to/asof_ts (or a payload/streamTs name shared across
    // sides) can no longer capture the resolution
    stream.join(dimSide,
        stream(key) === dimSide("__k") && stream(streamTs) >= dimSide("__from") &&
          (dimSide("__to").isNull || stream(streamTs) < dimSide("__to")),
        "left")
      .select(streamCols.map(stream(_)) ++
        (dimSide(asofOut) +: payload.map(dimSide(_))): _*)
  }
}
