package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.AggCore

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
 *    by `window_day` + checkpointing; upsert = dynamic partition overwrite of
 *    the touched (window_start, key) cells, idempotent across micro-batch
 *    replays.
 *
 * At scale: state is keyed by (gh-prefix, hour) — cardinality bounded by
 * 32^p × retained hours, independent of input volume; the serving table is
 * partitioned by day so snapshot/point queries prune to the queried day and
 * history queries to the queried range, each plus a one-day margin
 * ([[graft.operators.QueryBuilders]]).
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

  /** Continuous hourly aggregate with 24 h lateness tolerance (W3). */
  def hourlyAgg(keyed: DataFrame): DataFrame =
    AggCore.hourlyView(keyed.withWatermark("ts", "24 hours"))
      .withColumn("window_day", to_date(col("window_start")))

  /**
   * Start the full pipeline writing to `tableDir` (parquet, partitioned by
   * `window_day`) with `checkpointDir` for exactly-once progress.
   *
   * Upsert semantics: each micro-batch (update mode → only cells whose
   * aggregate changed) REPLACES the (window_day) partitions it touches after
   * merging with surviving rows — `foreachBatch` + dynamic partition
   * overwrite. Replays of the same batch after failure rewrite the same
   * partitions with the same content → idempotent (SURVEY.md §7.4.1).
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
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, tableDir)
      }
      .start()
  }

  /**
   * Batch backfill: run the SAME transform stack over historical raw JSON
   * (parquet dumps, archived topics) and merge into the serving table with
   * the same crash-atomic upsert the stream uses. One code path for bootstrap
   * and replay — `withWatermark` is a no-op in batch, so [[hourlyAgg]] is
   * shared verbatim.
   *
   * Handoff semantics (kappa): the upsert REPLACES a (key, hour) cell, so a
   * live stream taking over must replay the same log from the start (its
   * state then covers every reading of any cell it emits, and its first
   * writes reproduce the backfilled values idempotently). A stream starting
   * mid-log would emit partial aggregates and clobber backfilled cells —
   * replace-not-add is what keeps micro-batch replays idempotent.
   *
   * Scale: the aggregate shuffles (key, hour) partial aggregates only, and
   * the upsert rewrites only the day partitions the backfill touches.
   */
  def backfill(rawJson: DataFrame, tableDir: String, precision: Int = 6): Unit = {
    val (valid, _) = validate(parseReadings(rawJson))
    upsertBatch(hourlyAgg(keyed(valid, precision)), tableDir)
  }

  /** Staging dir for an in-flight merge — the underscore prefix makes it
    * invisible to parquet partition discovery, so readers never see it. */
  private def stagingPath(tableDir: String) = new org.apache.hadoop.fs.Path(tableDir, "_staging")

  /** Swap-intent marker: its EXISTENCE is the commit point. Before it
    * appears, the live table is untouched; once it exists, the swap is
    * replayable from staging ([[recover]]). */
  private def intentPath(tableDir: String) = new org.apache.hadoop.fs.Path(tableDir, "_upsert_intent")

  private def fileSystem(spark: SparkSession, tableDir: String) =
    new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /**
   * Merge a micro-batch of changed cells into the serving table — keep every
   * existing cell whose (key, window_start) is NOT in the batch, union the
   * batch, replace only the touched day partitions. Cost per trigger is
   * O(changed days), not O(table).
   *
   * Crash-atomic commit protocol (replaces the read-your-writes overwrite,
   * which could recompute against already-deleted files if a cached block
   * was evicted mid-write; a table format with MERGE — Delta/Iceberg —
   * subsumes this at prod scale):
   *   1. write the merged day partitions to `_staging` (real files on disk —
   *      the live table is never read again after this point);
   *   2. atomically create the `_upsert_intent` marker (the commit point);
   *   3. per touched day: delete the live `window_day=D` dir, RENAME the
   *      staged one into place (rename is atomic on HDFS/local);
   *   4. clear marker + staging.
   * A crash before (2) leaves the live table untouched (orphan staging is
   * dropped on the next call); a crash after (2) is completed by [[recover]]
   * — day renames are idempotent, so any replay converges.
   *
   * `writersPerDay` spreads each staged day's merge write over up to
   * that many writer tasks (deterministic `(key, window_start)` hash
   * salt — retry-safe, never `rand()`; hash partitioning may collide a
   * few (day, salt) combos, so the spread is an upper bound, uniform in
   * expectation). The default 1 keeps the one-file-per-day
   * layout that serves best; a deployment whose days are genuinely wide
   * (|keys|·24 cells approaching a single task's comfortable write, e.g.
   * precision-6 geohash over a dense region) raises it so the staged
   * write itself parallelizes — out-of-band [[compact]] fixes file
   * COUNT, but only this spreads the per-trigger merge write.
   */
  def upsertBatch(batch: DataFrame, tableDir: String,
                  writersPerDay: Int = 1): Unit = {
    require(writersPerDay >= 1,
      s"upsertBatch: writersPerDay must be >= 1, got $writersPerDay")
    val spark = batch.sparkSession
    val cols = (cellSchema ++ daySchema).map(f => col(f.name))
    val changed = batch.select(cols: _*).cache()
    try {
      val days = changed.select(col("window_day")).distinct().collect()
        .map(_.getDate(0)).sortBy(_.toString)
      if (days.nonEmpty) {
        val hfs = fileSystem(spark, tableDir)
        recover(spark, tableDir) // finish any interrupted swap first
        val staging = stagingPath(tableDir)
        if (hfs.exists(staging)) hfs.delete(staging, true)
        val existing =
          try {
            val t = spark.read.parquet(tableDir)
            // anti-join on the upsert key: survivors in the touched partitions
            t.filter(col("window_day").isin(days.toIndexedSeq: _*))
              .join(changed.select(col("key").as("k2"), col("window_start").as("w2")),
                col("key") === col("k2") && col("window_start") === col("w2"),
                "left_anti")
              .select(cols: _*)
          } catch {
            case _: org.apache.spark.sql.AnalysisException => // first batch: no table yet
              changed.limit(0)
          }
        // writersPerDay writer partitions per touched day (default 1):
        // without pinning, every shuffle task holding a day's rows writes
        // its own file into the day dir — up to
        // spark.sql.shuffle.partitions files PER DAY PER TRIGGER, the
        // small-file swarm [[compact]] exists to clean up. One task per
        // day is safe at the default because the rows are AGGREGATED
        // CELLS (bounded by |keys|·24 per day, not raw event volume);
        // wide-day deployments raise writersPerDay to spread the staged
        // write itself (see the scaladoc).
        val staged =
          if (writersPerDay == 1)
            existing.union(changed).repartition(col("window_day"))
          else
            existing.union(changed)
              .withColumn("_w",
                pmod(hash(col("key"), col("window_start")), lit(writersPerDay)))
              .repartition(days.length * writersPerDay, col("window_day"), col("_w"))
              .drop("_w")
        staged
          .write.mode("overwrite").partitionBy("window_day").parquet(staging.toString)
        writeIntent(hfs, tableDir, days.map(_.toString).toIndexedSeq)
        swapDays(hfs, tableDir, days.map(_.toString).toIndexedSeq)
        hfs.delete(intentPath(tableDir), false)
        hfs.delete(staging, true)
      }
    } finally changed.unpersist()
  }

  /**
   * Complete an interrupted stage→swap commit. If the intent marker exists,
   * re-apply every pending day rename from staging (idempotent — already-
   * swapped days have no staged dir left and are skipped), then clear the
   * marker. Without a marker, any orphan staging dir predates the commit
   * point and is simply dropped. Safe to call at any time; [[upsertBatch]]
   * calls it before each merge.
   */
  def recover(spark: SparkSession, tableDir: String): Unit = {
    val hfs = fileSystem(spark, tableDir)
    val ip = intentPath(tableDir)
    if (hfs.exists(ip)) {
      val in = hfs.open(ip)
      val days =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
        finally in.close()
      swapDays(hfs, tableDir, days)
      hfs.delete(ip, false)
      hfs.delete(stagingPath(tableDir), true)
    } else if (hfs.exists(stagingPath(tableDir))) {
      hfs.delete(stagingPath(tableDir), true)
    }
  }

  private def swapDays(hfs: org.apache.hadoop.fs.FileSystem, tableDir: String,
                       days: Seq[String]): Unit =
    days.foreach { d =>
      val src = new org.apache.hadoop.fs.Path(stagingPath(tableDir), s"window_day=$d")
      val dst = new org.apache.hadoop.fs.Path(tableDir, s"window_day=$d")
      if (hfs.exists(src)) {
        if (hfs.exists(dst)) hfs.delete(dst, true)
        if (!hfs.rename(src, dst))
          throw new java.io.IOException(s"rename $src -> $dst failed")
      } // src absent → day already swapped by a previous attempt
    }

  /** Atomically publish the intent marker (tmp file + rename). */
  private def writeIntent(hfs: org.apache.hadoop.fs.FileSystem, tableDir: String,
                          days: Seq[String]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(tableDir, "_upsert_intent.tmp")
    val out = hfs.create(tmp, true)
    try out.write((days.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val ip = intentPath(tableDir)
    if (hfs.exists(ip)) hfs.delete(ip, false)
    if (!hfs.rename(tmp, ip))
      throw new java.io.IOException(s"publishing $ip failed")
  }

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

  /** Load the serving table for querying (the batch view the reference's
    * REST layer reads; feeds [[graft.operators.QueryBuilders]]).
    *
    * The schema is fixed ([[upsertBatch]]'s columns plus `window_day`), so
    * resolving the view lists the day directories and launches no Spark
    * job; the listing is private to the returned frame and never enters
    * the session-shared file-status cache, so a server that resolves the
    * view per request holds no listing beyond the requests in flight.
    *
    * A missing table dir, or one whose every day partition was expired by
    * [[retainFrom]], has no cells to serve — fail with that cause instead
    * of serving an empty table. */
  def servingView(spark: SparkSession, tableDir: String): DataFrame = {
    val hfs = fileSystem(spark, tableDir)
    val p = new org.apache.hadoop.fs.Path(tableDir)
    if (!hfs.exists(p))
      throw new IllegalStateException(s"servingView: no serving table at $tableDir")
    if (!hfs.listStatus(p).exists(_.getPath.getName.startsWith("window_day=")))
      throw new IllegalStateException(
        s"servingView: $tableDir has no day partitions — every window_day " +
          "was expired by retainFrom (or nothing was ever upserted); " +
          "re-ingest or widen retention before serving")
    org.apache.spark.sql.graftshim.GraftPlanBridge.parquetTable(
      spark, tableDir, cellSchema, daySchema)
  }

  /**
   * Compact the serving table's day partitions: rewrite each listed day (or
   * every day) into `filesPerDay` files through the SAME stage → intent →
   * atomic-rename protocol as [[upsertBatch]], so a crash mid-compaction
   * never loses a row ([[recover]] completes it). Small-file pressure is the
   * chronic failure mode of any micro-batch-maintained table — every
   * trigger's writer task count becomes a file count; at 100 TB the reader's
   * footer-open cost dominates scans unless something re-coalesces. Run this
   * out-of-band (it contends only for the days it swaps, and the swap is the
   * same atomic rename readers already tolerate).
   *
   * `sortByKey = true` additionally lays each day's rows out in
   * `(key, window_start)` range order — range-partitioned across the
   * day's `filesPerDay` files and sorted within each — so the reference's
   * primary read path (key-prefix ranges + time windows, the F1/F2
   * predicates [[graft.operators.QueryBuilders]] pushes down) prunes at
   * BOTH granularities: whole files by disjoint parquet min/max key
   * spans, then row groups within the survivor. A micro-batch-maintained
   * table can never keep this invariant online (each trigger appends its
   * own key range); restoring it IS a compaction concern, at the moment
   * the files are rewritten anyway — the same pairing as Delta's
   * OPTIMIZE ... ZORDER, but 1-D here because key-prefix is the
   * dominant predicate. Hash layout stays the default: it spreads
   * hot-key upsert traffic, and not every table has a range read path.
   */
  def compact(spark: SparkSession, tableDir: String,
              days: Seq[String] = Nil, filesPerDay: Int = 1,
              sortByKey: Boolean = false): Unit = {
    val hfs = fileSystem(spark, tableDir)
    recover(spark, tableDir)
    val targetDays =
      if (days.nonEmpty) days.sorted
      else hfs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
        .map(_.getPath.getName).filter(_.startsWith("window_day="))
        .map(_.stripPrefix("window_day=")).sorted.toIndexedSeq
    if (targetDays.nonEmpty) {
      val staging = stagingPath(tableDir)
      if (hfs.exists(staging)) hfs.delete(staging, true)
      val live = spark.read.parquet(tableDir)
        .filter(col("window_day").isin(targetDays: _*))
      if (sortByKey) {
        // one range-partitioned write PER DAY: a global range over
        // (day, key) would sample boundaries by row VOLUME, so a skewed
        // day could absorb every boundary and starve its neighbors of
        // the filesPerDay contract. Per-day jobs keep the guarantee
        // exact; the day loop is bounded by retention (the same
        // O(days) the swap already walks), and compaction is the
        // out-of-band path where a job per day is the normal shape.
        targetDays.foreach { d =>
          live.filter(col("window_day") === lit(d))
            .drop("window_day") // implied by the directory, as partitionBy writes it
            .repartitionByRange(filesPerDay, col("key"), col("window_start"))
            .sortWithinPartitions(col("key"), col("window_start"))
            .write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(staging, s"window_day=$d").toString)
        }
      } else {
        // deterministic salt (no rand(): retry-safe) spreads each day
        // across exactly filesPerDay writer partitions
        live.withColumn("_salt",
            pmod(hash(col("key"), col("window_start")), lit(filesPerDay)))
          .repartition(targetDays.length * filesPerDay, col("window_day"), col("_salt"))
          .drop("_salt")
          .write.mode("overwrite").partitionBy("window_day").parquet(staging.toString)
      }
      writeIntent(hfs, tableDir, targetDays)
      swapDays(hfs, tableDir, targetDays)
      hfs.delete(intentPath(tableDir), false)
      hfs.delete(staging, true)
    }
  }

  /**
   * Retention sweep: drop every `window_day=D` partition with `D < minDay`
   * (ISO `yyyy-MM-dd`; lexicographic order IS date order for that format).
   * Completes the serving-table lifecycle — [[upsertBatch]] grows it,
   * [[compact]] re-coalesces it, this bounds it: the reference keeps
   * durable full history (the declared W5 divergence,
   * `kafka-streams-pipeline` retains whatever the store holds), but at
   * 100 TB an append-forever view store IS the storage bill, and day
   * partitions are the natural expiry unit the layout already provides.
   *
   * Crash safety needs NO intent marker here, unlike the upsert's rename
   * set: deletion converges by idempotence. Each day dir vanishes
   * atomically from a reader's listing (the same per-day visibility
   * contract as upsert's rename swap); an interrupted sweep leaves a
   * subset of expired days that the next sweep removes. [[recover]] runs
   * first so a pending upsert commit lands before expiry is evaluated —
   * otherwise a staged-but-unswapped day could be resurrected by replay
   * after this sweep deleted its live twin.
   *
   * O(expired days) filesystem calls, zero data reads, zero Spark jobs —
   * the sweep never scans the table. Returns the removed day strings
   * (sorted) so an operator log can audit what expired.
   *
   * A sweep may legitimately expire EVERY remaining day (a paused
   * ingest older than the retention horizon); the table dir then holds
   * no parquet files and [[servingView]] fails with an explicit
   * no-day-partitions error (not a schema-inference one) until the next
   * upsert repopulates it. Callers that must keep serving an empty
   * window should check the returned list against the pre-sweep day set.
   */
  def retainFrom(spark: SparkSession, tableDir: String, minDay: String): Seq[String] = {
    require(minDay.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"retainFrom: minDay must be yyyy-MM-dd, got '$minDay'")
    val hfs = fileSystem(spark, tableDir)
    recover(spark, tableDir)
    val expired = hfs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .map(_.getPath.getName).filter(_.startsWith("window_day="))
      .map(_.stripPrefix("window_day=")).filter(_ < minDay).sorted.toIndexedSeq
    expired.foreach { d =>
      hfs.delete(new org.apache.hadoop.fs.Path(tableDir, s"window_day=$d"), true)
    }
    expired
  }
}
