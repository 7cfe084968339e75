package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.GraftPlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{AggCore, SeqFiles}

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
 *    partitions into new files, published by one manifest rename,
 *    idempotent across micro-batch replays.
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
   * merging with surviving rows — `foreachBatch` + [[upsertBatch]]. Replays
   * of the same batch after failure commit the same content again →
   * idempotent (SURVEY.md §7.4.1).
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
   * live stream taking over must replay the same log from the start; one
   * starting mid-log would emit partial aggregates and clobber backfilled
   * cells — replace-not-add is what keeps micro-batch replays idempotent.
   */
  def backfill(rawJson: DataFrame, tableDir: String, precision: Int = 6): Unit = {
    val (valid, _) = validate(parseReadings(rawJson))
    upsertBatch(hourlyAgg(keyed(valid, precision)), tableDir)
  }

  /*
   * Layout: never overwritten in place. Commit S writes new files under
   * `tableDir/c-S/window_day=D/` and publishes `tableDir/_manifest/m-S`
   * ([[graft.operators.SeqFiles.publish]]); that rename is the only commit
   * point. A manifest line is `F<TAB>day<TAB>bytes<TAB>path` for a live
   * file, or `R<TAB>path` for a dir the commit retired (a
   * `c-N/window_day=D`, or a whole `c-N` with no live day left); paths are
   * relative to `tableDir`. Every verb replaces whole days, so a day's
   * files always sit in one commit dir.
   */

  private type Entry = (String, String, Long) // (relative path, day, bytes)

  private final case class Manifest(seq: Long, live: Seq[Entry], retired: Seq[String])

  /** How long the files a commit retired stay on disk after it: a view
    * resolved just before the commit still reads them. A serving request
    * takes about 0.4 s at the median (perfbench `serve`) and seconds in
    * its tail; ten minutes is over a thousand medians, and holds at most
    * 60 commits of superseded day files at the reference's 10 s trigger. */
  private val RetiredGraceMs = 10 * 60 * 1000L

  private def manifestDir(tableDir: String) = new Path(tableDir, "_manifest")

  private def readManifest(hfs: FileSystem, tableDir: String, seq: Long): Manifest = {
    val rows = SeqFiles.read(hfs, new Path(manifestDir(tableDir), SeqFiles.name("m", seq)))
      .map(_.split('\t'))
    Manifest(seq, rows.collect { case Array("F", day, bytes, rel) => (rel, day, bytes.toLong) },
      rows.collect { case Array("R", rel) => rel })
  }

  /** The newest manifest: one listing of `_manifest` and one read. */
  private def latest(hfs: FileSystem, tableDir: String): Option[Manifest] =
    SeqFiles.numbered(SeqFiles.listAll(hfs, manifestDir(tableDir)), "m").lastOption
      .map { case (seq, _) => readManifest(hfs, tableDir, seq) }

  /** The cells of `entries` as a frame over exactly those files. */
  private def cells(spark: SparkSession, hfs: FileSystem, tableDir: String,
                    entries: Seq[Entry]): DataFrame = {
    val root = hfs.makeQualified(new Path(tableDir))
    GraftPlanBridge.listedTable(spark, root.toString,
      entries.map { case (rel, day, bytes) => (new Path(root, rel).toString, Seq(day), bytes) },
      cellSchema, daySchema)
  }

  /** The commit of every writer verb: sweep ([[recover]]), read the newest
    * manifest, let `rewrite(live, cellsOf, commitDir)` write the new day
    * partitions and return the days it replaces or drops, then publish the
    * next manifest (unless no day changed). Returns those days, sorted. */
  private def commit(spark: SparkSession, tableDir: String)
                    (rewrite: (Seq[Entry], Seq[String] => DataFrame, String) => Seq[String])
      : Seq[String] = {
    val hfs = SeqFiles.fs(spark, tableDir)
    recover(spark, tableDir)
    val cur = latest(hfs, tableDir)
    val live = cur.fold(Seq.empty[Entry])(_.live)
    val seq = cur.fold(0L)(_.seq) + 1
    val dir = new Path(tableDir, SeqFiles.name("c", seq))
    val replaced = rewrite(live,
      days => cells(spark, hfs, tableDir, live.filter(e => days.contains(e._2))),
      dir.toString).distinct.sorted
    if (replaced.nonEmpty) {
      val written = for {
        day <- SeqFiles.listAll(hfs, dir).map(_.getPath).filter(_.getName.startsWith("window_day="))
        f <- SeqFiles.listAll(hfs, day) if f.getPath.getName.endsWith(".parquet")
      } yield (s"${dir.getName}/${day.getName}/${f.getPath.getName}",
        day.getName.stripPrefix("window_day="), f.getLen)
      val next = live.filterNot(e => replaced.contains(e._2)) ++ written
      def unit(rel: String) = rel.substring(0, rel.lastIndexOf('/'))
      def commitOf(rel: String) = rel.takeWhile(_ != '/')
      val keptCommits = next.map(e => commitOf(e._1)).toSet
      val retired = live.map(e => unit(e._1)).distinct.filterNot(next.map(e => unit(e._1)).toSet)
        .map(u => if (keptCommits(commitOf(u))) u else commitOf(u)).distinct
      SeqFiles.publish(hfs, manifestDir(tableDir), "m", seq,
        next.map { case (rel, day, bytes) => s"F\t$day\t$bytes\t$rel" } ++
          retired.map("R\t" + _))
    }
    replaced
  }

  /**
   * Merge a micro-batch of changed cells into the serving table — keep every
   * existing cell whose (key, window_start) is NOT in the batch, union the
   * batch, replace only the touched day partitions. Cost per trigger is
   * O(changed days), not O(table); the merge input is read through the
   * manifest (no listing, no schema-inference job). Crash-atomic: a reader
   * sees the whole batch or none of it ([[commit]]).
   */
  def upsertBatch(batch: DataFrame, tableDir: String): Unit = {
    val cols = (cellSchema ++ daySchema).map(f => col(f.name))
    val changed = batch.select(cols: _*).cache()
    try {
      val days = changed.select(col("window_day").cast("string")).distinct().collect()
        .map(_.getString(0)).toSeq
      if (days.nonEmpty) commit(batch.sparkSession, tableDir) { (live, cellsOf, dir) =>
        // anti-join on the upsert key: survivors in the touched partitions
        // (none when no touched day is live yet, as in a first batch)
        val merged =
          if (!live.exists(e => days.contains(e._2))) changed
          else cellsOf(days)
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
        days
      }
    } finally changed.unpersist()
  }

  /** Sweep the serving table: delete a crashed commit's leftovers (`.tmp`
    * manifests, commit dirs above the newest manifest), then drop each
    * superseded manifest whose successor is older than [[RetiredGraceMs]],
    * with the dirs that successor retired. It reads only the manifests of
    * the commits it drops, so its cost does not grow with the commits
    * inside the grace. Idempotent; every writer verb runs it first, and
    * only the table's single writer may call it. */
  def recover(spark: SparkSession, tableDir: String): Unit = {
    val hfs = SeqFiles.fs(spark, tableDir)
    val listing = SeqFiles.listAll(hfs, manifestDir(tableDir))
    val manifests = SeqFiles.numbered(listing, "m")
    SeqFiles.stages(listing).foreach(hfs.delete(_, false))
    SeqFiles.numbered(SeqFiles.listAll(hfs, new Path(tableDir)), "c")
      .filter(_._1 > manifests.lastOption.fold(0L)(_._1))
      .foreach { case (_, d) => hfs.delete(d.getPath, true) }
    val cutoff = System.currentTimeMillis() - RetiredGraceMs
    manifests.zip(manifests.drop(1))
      .takeWhile { case (_, (_, next)) => next.getModificationTime < cutoff }
      .foreach { case ((_, old), (nextSeq, _)) =>
        readManifest(hfs, tableDir, nextSeq).retired
          .foreach(rel => hfs.delete(new Path(tableDir, rel), true))
        hfs.delete(old.getPath, false)
      }
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
    * One listing of `_manifest` and one manifest read pin the view to the
    * newest commit: it reads exactly the files named there, with the fixed
    * schema ([[upsertBatch]]'s columns plus `window_day`). No other
    * filesystem call, no Spark job, and a later commit does not change it.
    *
    * A table never committed to, or one whose every day partition was
    * expired by [[retainFrom]], has no cells to serve — fail with that
    * cause instead of serving an empty table. */
  def servingView(spark: SparkSession, tableDir: String): DataFrame = {
    val hfs = SeqFiles.fs(spark, tableDir)
    val m = latest(hfs, tableDir).getOrElse(
      throw new IllegalStateException(s"servingView: no serving table at $tableDir"))
    if (m.live.isEmpty)
      throw new IllegalStateException(
        s"servingView: $tableDir has no day partitions — every window_day " +
          "was expired by retainFrom (or nothing was ever upserted); " +
          "re-ingest or widen retention before serving")
    cells(spark, hfs, tableDir, m.live)
  }

  /**
   * Compact the serving table's day partitions: rewrite each listed live
   * day (or every day) into `filesPerDay` files, committed like an upsert.
   * Small-file pressure is the chronic failure mode of any
   * micro-batch-maintained table — every trigger's writer task count
   * becomes a file count, and the reader's footer-open cost dominates
   * scans unless something re-coalesces. Run this out-of-band.
   *
   * `sortByKey = true` additionally lays each day's rows out in
   * `(key, window_start)` range order — range-partitioned across the
   * day's `filesPerDay` files and sorted within each — so the key-prefix
   * predicates [[graft.operators.QueryBuilders]] pushes down prune whole
   * files by disjoint parquet min/max key spans, then row groups (Delta's
   * OPTIMIZE ... ZORDER, 1-D). Hash layout stays the default: it spreads
   * hot-key upsert traffic, and not every table has a range read path.
   */
  def compact(spark: SparkSession, tableDir: String,
              days: Seq[String] = Nil, filesPerDay: Int = 1,
              sortByKey: Boolean = false): Unit =
    commit(spark, tableDir) { (live, cellsOf, dir) =>
      val targetDays = live.map(_._2).distinct.filter(d => days.isEmpty || days.contains(d)).sorted
      val cur = cellsOf(targetDays)
      if (sortByKey) {
        // one range-partitioned write PER DAY: a global range over
        // (day, key) would sample boundaries by row VOLUME, so a skewed
        // day could absorb every boundary and starve its neighbors of
        // the filesPerDay contract. Per-day jobs keep the guarantee
        // exact; the day loop is bounded by retention, and compaction
        // is the out-of-band path where a job per day is the normal shape.
        targetDays.foreach { d =>
          cur.filter(col("window_day") === lit(d))
            .drop("window_day") // implied by the directory, as partitionBy writes it
            .repartitionByRange(filesPerDay, col("key"), col("window_start"))
            .sortWithinPartitions(col("key"), col("window_start"))
            .write.mode("overwrite")
            .parquet(new Path(dir, s"window_day=$d").toString)
        }
      } else if (targetDays.nonEmpty) {
        // deterministic salt (no rand(): retry-safe) spreads each day
        // across exactly filesPerDay writer partitions
        cur.withColumn("_salt",
            pmod(hash(col("key"), col("window_start")), lit(filesPerDay)))
          .repartition(targetDays.length * filesPerDay, col("window_day"), col("_salt"))
          .drop("_salt")
          .write.mode("overwrite").partitionBy("window_day").parquet(dir)
      }
      targetDays
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
    commit(spark, tableDir)((live, _, _) => live.map(_._2).filter(_ < minDay))
  }
}
