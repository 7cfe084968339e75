package graft.streaming

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{AggCore, QueryBuilders, SegmentStore, SeqFiles}

/**
 * The reference's continuous ingestion topology (SURVEY.md §3.1), as
 * Structured Streaming:
 *
 *   Kafka topic → JSON value → event-time + geohash-prefix key →
 *   watermark → 1 h tumbling aggregate → foreachBatch upsert into a
 *   partitioned parquet serving table.
 *
 * Mapping (reference `ingestion/KafkaStreamsAggregator.java`):
 *  - Kafka source + earliest offsets      :79-80,121 → `readStream.format("kafka")`,
 *    `startingOffsets=earliest`
 *  - JSON→POJO serde, unknown fields ignored :67-76 → `from_json` (schema-projected,
 *    permissive), null parses dropped
 *  - event time from payload, negative ts poison pill `TSExtractor.java:15-17`
 *    → negative/null timestamps routed OUT to an error sink instead of
 *    halting (declared divergence, SURVEY.md §7.4.4)
 *  - selectKey(substring(geohash,0,p)) :83-96 → `substring(geohash, 1, p)`
 *  - 1 h tumbling window + mutable Aggregate :98-105 → `groupBy(window, key).agg`
 *  - 24 h default retention / late updates (W3) → `withWatermark("ts", "24 hours")`
 *    + update output mode
 *  - 10 s commit interval (W4) :120 → `Trigger.ProcessingTime("10 seconds")`
 *  - RocksDB store + changelog (K1) :103-104 → parquet serving table partitioned
 *    by `window_day` + checkpointing; upsert = rewrite of the touched day
 *    partitions into new files, published by one manifest rename
 *    ([[graft.operators.SegmentStore]], which every writer verb here
 *    commits through and [[servingView]] resolves), idempotent across
 *    micro-batch replays.
 *
 * At scale: state is keyed by (gh-prefix, hour) — cardinality bounded by
 * 32^p × retained hours, independent of input volume; the serving table is
 * partitioned by the UTC day of `window_start`, so a snapshot reads exactly
 * its hour's day and a history exactly the days of its range
 * ([[servingView]], [[graft.operators.QueryBuilders]]).
 */
object StreamingPipeline {

  /** Input schema ≙ reference `model/TemperatureReading.java:6-12`. */
  val readingSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType),      // epoch ms
    StructField("sensorId", StringType),
    StructField("geohash", StringType),
    StructField("tempVal", DoubleType),
    StructField("tempUnit", StringType)))

  /** Kafka source → raw JSON value frame (live path). Not exercised in tests
    * (no broker in the container); the transform stack below is shared with
    * the testable socket/memory/file paths. */
  def kafkaSource(spark: SparkSession, brokers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(col("value").cast("string").as("json"))

  /** JSON lines → typed readings. Unknown fields are ignored by schema
    * projection (`@JsonIgnoreProperties` parity, `TemperatureReading.java:5`);
    * malformed JSON parses permissively to an all-null row, which
    * [[validate]] routes to the error sink (null timestamp). */
  def parseReadings(json: DataFrame): DataFrame =
    json
      .select(from_json(col("json"), readingSchema).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.*"))

  /** Split valid/invalid by the reference's poison-pill rule
    * (`TSExtractor.java:15-17`): negative or null timestamp is invalid.
    * Returns (valid, invalid); invalid carries a reason column. */
  def validate(readings: DataFrame): (DataFrame, DataFrame) = {
    val invalid = readings.filter(col("timestamp").isNull || col("timestamp") < 0)
      .withColumn("error", lit("negative or missing timestamp"))
    val valid = readings.filter(col("timestamp").isNotNull && col("timestamp") >= 0)
    (valid, invalid)
  }

  /** Readings → (ts, key, value) with the geohash-prefix key
    * (`KafkaStreamsAggregator.java:94`, default precision 6 `:39`). */
  def keyed(valid: DataFrame, precision: Int = 6): DataFrame =
    valid.select(
      timestamp_millis(col("timestamp")).as("ts"),
      substring(col("geohash"), 1, precision).as("key"),
      col("tempVal").as("value"))

  /** Continuous hourly aggregate with 24 h lateness tolerance (W3), with
    * the day [[upsertBatch]] files each cell under, for callers that group
    * a batch by day (perfbench's traced ingest counts a batch's days). */
  def hourlyAgg(keyed: DataFrame): DataFrame =
    AggCore.hourlyView(keyed.withWatermark("ts", "24 hours"))
      .withColumn("window_day", windowDay)

  /** The UTC date of `window_start`, whatever the session time zone:
    * `to_date` would file one instant under another day in another zone. */
  private def windowDay =
    date_from_unix_date(floor(unix_seconds(col("window_start")) / 86400).cast("int"))

  /**
   * Start the full pipeline writing to `tableDir` (parquet, partitioned by
   * `window_day`) with `checkpointDir` for exactly-once progress.
   *
   * Upsert semantics: each micro-batch (update mode → only cells whose
   * aggregate changed) REPLACES the (window_day) partitions it touches after
   * merging with surviving rows — `foreachBatch` + [[upsertBatch]], tagged
   * `<query id>-<batch id>`. The query id is the stable
   * [[StreamingQuery.id]] kept in the checkpoint, so a batch that Spark
   * replays after a failure (its output committed, its checkpoint commit
   * not) finds its tag in the newest manifest and publishes nothing: the
   * output is recorded once (SURVEY.md §7.4.1). A fresh checkpoint is a
   * new query id, so its batches never match an older query's tags.
   */
  def start(source: DataFrame, tableDir: String, checkpointDir: String,
            precision: Int = 6,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery = {
    val (valid, _) = validate(parseReadings(source))
    val agg = hourlyAgg(keyed(valid, precision))
    agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the driver-side property Spark sets on the stream's thread
        val query = batch.sparkSession.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)
        upsertBatch(batch, tableDir, tag = s"$query-$id")
      }
      .start()
  }

  /**
   * Batch backfill: run the SAME transform stack over historical raw JSON
   * (parquet dumps, archived topics) and merge into the serving table with
   * the same crash-atomic upsert the stream uses. One code path for bootstrap
   * and replay — `withWatermark` is a no-op in batch, so [[hourlyAgg]] is
   * shared verbatim. The commit is untagged: a rerun of a backfill commits
   * again, and rewrites the same cells.
   *
   * Handoff semantics (kappa): the upsert REPLACES a (key, hour) cell, so a
   * live stream taking over must replay the same log from the start; one
   * starting mid-log would emit partial aggregates and clobber backfilled
   * cells — replace-not-add is what keeps the cells right when a batch is
   * recomputed under a tag that no longer names a live commit.
   */
  def backfill(rawJson: DataFrame, tableDir: String, precision: Int = 6): Unit = {
    val (valid, _) = validate(parseReadings(rawJson))
    upsertBatch(hourlyAgg(keyed(valid, precision)), tableDir)
  }

  /** A serving-table file's day. */
  private def day(e: SegmentStore.Entry): String = e.values.head

  /** The cells of `entries` as a frame over exactly those files. */
  private def cells(spark: SparkSession, tableDir: String,
                    entries: Seq[SegmentStore.Entry]): DataFrame =
    SegmentStore.frame(spark, tableDir, entries, cellSchema, daySchema)

  /**
   * Merge a micro-batch of changed cells into the serving table — keep every
   * existing cell whose (key, window_start) is NOT in the batch, union the
   * batch, replace only the touched day partitions. A cell's day is the
   * UTC date of its `window_start`, derived here (a `window_day` column of
   * `batch` is replaced). Cost per trigger is
   * O(changed days), not O(table); the merge input is read through the
   * manifest (no listing, no schema-inference job). Crash-atomic: a reader
   * sees the whole batch or none of it ([[SegmentStore.commit]]). A
   * non-empty `tag` the newest manifest already names makes it a no-op.
   */
  def upsertBatch(batch: DataFrame, tableDir: String, tag: String = ""): Unit = {
    val cols = (cellSchema ++ daySchema).map(f => col(f.name))
    val changed = batch.withColumn("window_day", windowDay).select(cols: _*).cache()
    try {
      val days = changed.select(col("window_day").cast("string")).distinct().collect()
        .map(_.getString(0)).toSeq
      val spark = batch.sparkSession
      if (days.nonEmpty) SegmentStore.commit(spark, tableDir, daySchema, tag) { (live, dir) =>
        val touched = live.filter(e => days.contains(day(e)))
        // anti-join on the upsert key: survivors in the touched partitions
        // (none when no touched day is live yet, as in a first batch)
        val merged =
          if (touched.isEmpty) changed
          else cells(spark, tableDir, touched)
            .join(changed.select(col("key").as("k2"), col("window_start").as("w2")),
              col("key") === col("k2") && col("window_start") === col("w2"),
              "left_anti")
            .select(cols: _*).union(changed)
        // one writer partition per touched day: without pinning, every
        // shuffle task holding a day's rows writes its own file into the
        // day dir — up to spark.sql.shuffle.partitions files PER DAY PER
        // TRIGGER, the small-file swarm [[compact]] exists to clean up.
        // One task per day is safe because the rows are AGGREGATED CELLS
        // (bounded by |keys|·24 per day, not raw event volume)
        merged.repartition(col("window_day"))
          .write.mode("overwrite").partitionBy("window_day").parquet(dir)
        touched
      }
    } finally changed.unpersist()
  }

  /** Sweep the serving table ([[SegmentStore.recover]]): crash leftovers,
    * then the files retired longer ago than the grace. Idempotent; every
    * writer verb runs it first, and only the table's single writer may
    * call it. */
  def recover(spark: SparkSession, tableDir: String): Unit =
    SegmentStore.recover(spark, tableDir)

  /** The cell columns [[upsertBatch]] writes into each day file. */
  private val cellSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("window_start", TimestampType),
    StructField("window_end", TimestampType),
    StructField("count", LongType),
    StructField("sum", DoubleType),
    StructField("avg", DoubleType)))

  /** The partition column: one `window_day=yyyy-MM-dd` directory per day. */
  private val daySchema: StructType = StructType(Seq(StructField("window_day", DateType)))

  /** The largest read [[servingView]] scans in one task. Measured on a
    * 4-vCPU host with history reads in which every row matches: at about
    * 0.5 MB of day files one task answers as fast as Spark's split plan
    * (a task per file, an exchange, the final aggregate) for one client
    * and faster for three concurrent ones; at 1 MB and more over several
    * files it is 1.3–3.3× slower for one client, since it scans the files
    * one after another. */
  val OneTaskReadBytes: Long = 512L * 1024

  /** Load the serving table for querying (the batch view the reference's
    * REST layer reads; feeds [[graft.operators.QueryBuilders]]).
    *
    * One listing of `_manifest` and one manifest read pin the view to the
    * newest commit: it reads exactly the files named there whose day lies
    * in `[utcDay(fromMs), utcDay(toMs)]` (every day by default), with the
    * fixed schema ([[upsertBatch]]'s columns plus `window_day`). No other
    * filesystem call, no Spark job, and a later commit does not change it.
    *
    * When the selected files' recorded bytes total at most
    * [[OneTaskReadBytes]], the view is coalesced to one partition: a
    * query's aggregate then runs in the scan's single task, with no
    * exchange, while its filters still push into the scan. A larger read
    * keeps Spark's split planning, which scans its files in parallel.
    *
    * A table never committed to, or one whose every day partition was
    * expired by [[retainFrom]], has no cells to serve — fail with that
    * cause instead of serving an empty table. A range with no live day
    * is an empty view. */
  def servingView(spark: SparkSession, tableDir: String,
                  fromMs: Long = Long.MinValue, toMs: Long = Long.MaxValue): DataFrame = {
    val m = SegmentStore.latest(SeqFiles.fs(spark, tableDir), tableDir).getOrElse(
      throw new IllegalStateException(s"servingView: no serving table at $tableDir"))
    if (m.live.isEmpty)
      throw new IllegalStateException(
        s"servingView: $tableDir has no day partitions — every window_day " +
          "was expired by retainFrom (or nothing was ever upserted); " +
          "re-ingest or widen retention before serving")
    val (first, last) = (QueryBuilders.utcDay(fromMs), QueryBuilders.utcDay(toMs))
    val selected = m.live.filter { e =>
      val d = LocalDate.parse(day(e))
      !d.isBefore(first) && !d.isAfter(last)
    }
    val view = cells(spark, tableDir, selected)
    if (selected.map(_.bytes).sum <= OneTaskReadBytes) view.coalesce(1) else view
  }

  /**
   * Compact the serving table's day partitions: rewrite each listed live
   * day (or every day) into `filesPerDay` files, committed like an upsert.
   * Small-file pressure is the chronic failure mode of any
   * micro-batch-maintained table — every trigger's writer task count
   * becomes a file count, and the reader's footer-open cost dominates
   * scans unless something re-coalesces. Run this out-of-band.
   *
   * Each day's rows are laid out in `(key, window_start)` range order —
   * range-partitioned across the day's `filesPerDay` files and sorted
   * within each — so the key-prefix predicates
   * [[graft.operators.QueryBuilders]] pushes down prune whole files by
   * disjoint parquet min/max key spans, then row groups (Delta's
   * OPTIMIZE ... ZORDER, 1-D). A day with fewer cells than `filesPerDay`
   * gets fewer files.
   */
  def compact(spark: SparkSession, tableDir: String,
              days: Seq[String] = Nil, filesPerDay: Int = 1): Unit =
    SegmentStore.commit(spark, tableDir, daySchema) { (live, dir) =>
      val target = live.filter(e => days.isEmpty || days.contains(day(e)))
      val cur = cells(spark, tableDir, target)
      // one range-partitioned write PER DAY: a global range over
      // (day, key) would sample boundaries by row VOLUME, so a skewed
      // day could absorb every boundary and starve its neighbors of
      // the filesPerDay contract. The day loop is bounded by retention,
      // and compaction is the out-of-band path where a job per day is
      // the normal shape.
      target.map(day).distinct.sorted.foreach { d =>
        cur.filter(col("window_day") === lit(d))
          .drop("window_day") // implied by the directory, as partitionBy writes it
          .repartitionByRange(filesPerDay, col("key"), col("window_start"))
          .sortWithinPartitions(col("key"), col("window_start"))
          .write.mode("overwrite")
          .parquet(new Path(dir, s"window_day=$d").toString)
      }
      target
    }

  /**
   * Retention sweep: drop every `window_day=D` partition with `D < minDay`
   * (ISO `yyyy-MM-dd`; lexicographic order IS date order for that format).
   * Completes the serving-table lifecycle — [[upsertBatch]] grows it,
   * [[compact]] re-coalesces it, this bounds it (the reference keeps full
   * history, the declared W5 divergence).
   *
   * It publishes a manifest without the expired days and deletes nothing
   * itself ([[recover]] does, after the grace). Zero data reads, zero
   * Spark jobs. Returns the removed days (sorted); a replay removes none.
   * Expiring EVERY day is legitimate (a paused ingest); [[servingView]]
   * then fails with an explicit no-day-partitions error until the next
   * upsert repopulates the table.
   */
  def retainFrom(spark: SparkSession, tableDir: String, minDay: String): Seq[String] = {
    require(minDay.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"retainFrom: minDay must be yyyy-MM-dd, got '$minDay'")
    SegmentStore.commit(spark, tableDir, daySchema)((live, _) => live.filter(day(_) < minDay))
      .map(day).distinct.sorted
  }
}
