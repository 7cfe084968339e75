package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingPipeline

/**
 * Streaming semantics (SURVEY.md §5.2): drive the full pipeline with a
 * MemoryStream of JSON readings, assert window contents, late-arrival
 * update-in-place (W3), and idempotent serving-table upserts (§7.4.1).
 */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def json(tsMs: Long, gh: String, v: Double): String =
    s"""{"timestamp":$tsMs,"sensorId":"s1","geohash":"$gh","tempVal":$v,"tempUnit":"c"}"""

  private val H0 = 1704067200000L // 2024-01-01 00:00:00 UTC

  test("pipeline aggregates into hourly cells and applies late updates in place") {
    val dir = Files.createTempDirectory("serve").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    // batch 1: two readings in hour 0 of one cell, one in hour 1.
    // Data BEFORE start(): AvailableNow snapshots the available offsets when
    // the query starts, so later addData would not be seen this run.
    mem.addData(
      json(H0 + 60000, "u155mz82dv33", 10.0),
      json(H0 + 120000, "u155mz82aaaa", 30.0),
      json(H0 + 3660000, "u155mz82dv33", 50.0))
    val q = StreamingPipeline.start(mem.toDF().withColumnRenamed("value", "json"),
      dir, ckpt, precision = 6, trigger = Trigger.AvailableNow())
    q.processAllAvailable()

    val t1 = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect()
    assert(t1.length == 2)
    assert(t1(0).getAs[String]("key") == "u155mz")
    assert(t1(0).getAs[Long]("count") == 2 && t1(0).getAs[Double]("sum") == 40.0)
    assert(t1(1).getAs[Long]("count") == 1 && t1(1).getAs[Double]("avg") == 50.0)
    q.stop()

    // batch 2 (new run, same checkpoint): LATE reading for hour 0 revises the
    // existing cell (update-in-place, reference W3), plus a new key
    mem.addData(
      json(H0 + 180000, "u155mz82zzzz", 20.0), // late into hour 0
      json(H0 + 240000, "u14fzp11abcd", 7.0))  // different prefix
    val q2 = StreamingPipeline.start(mem.toDF().withColumnRenamed("value", "json"),
      dir, ckpt, precision = 6, trigger = Trigger.AvailableNow())
    q2.processAllAvailable()
    q2.stop()

    val t2 = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect()
    assert(t2.length == 3)
    val revised = t2.find(r => r.getAs[String]("key") == "u155mz"
      && r.getAs[Long]("count") == 3).get
    assert(revised.getAs[Double]("sum") == 60.0 && revised.getAs[Double]("avg") == 20.0)
    assert(t2.exists(r => r.getAs[String]("key") == "u14fzp" && r.getAs[Long]("count") == 1))
  }

  test("a batch replayed after its checkpoint commit was lost publishes " +
      "nothing; a fresh checkpoint over the same batch ids commits") {
    val dir = Files.createTempDirectory("serve_replay").toString
    val ckpt = Files.createTempDirectory("ckpt_replay").toString
    val fresh = Files.createTempDirectory("ckpt_fresh").toString
    try {
      // no watermark-only batch after the data batch, so the data batch is
      // the checkpoint's last commit
      val s = spark.newSession()
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      implicit val sqlCtx = s.sqlContext
      val mem = MemoryStream[String]
      mem.addData(json(H0 + 60000, "u155mz82dv33", 10.0), json(H0 + 3660000, "u14fzp11abcd", 7.0))
      def run(checkpoint: String) = {
        val q = StreamingPipeline.start(mem.toDF().withColumnRenamed("value", "json"),
          dir, checkpoint, precision = 6, trigger = Trigger.AvailableNow())
        try q.processAllAvailable() finally q.stop()
        q
      }
      def manifest() = graft.operators.SegmentStore.latest(
        graft.operators.SeqFiles.fs(spark, dir), dir).get
      def cells() = StreamingPipeline.servingView(spark, dir).collect().map(_.toString).sorted.toSeq
      val q1 = run(ckpt)
      val (seq, served) = (manifest().seq, cells())
      assert(served.length == 2)
      assert(manifest().tags.values.toSeq == Seq(s"${q1.id}-0"))
      // the output of batch 0 committed, its checkpoint commit did not
      Files.delete(java.nio.file.Path.of(ckpt, "commits", "0"))
      Files.deleteIfExists(java.nio.file.Path.of(ckpt, "commits", ".0.crc"))
      val q2 = run(ckpt)
      assert(q2.id == q1.id)
      assert(q2.recentProgress.exists(p => p.batchId == 0L && p.numInputRows == 2L),
        "batch 0 was not replayed")
      assert(manifest().seq == seq, "the replayed batch published a commit")
      assert(cells() == served)
      // a fresh checkpoint is a new query: its batch 0 commits
      val q3 = run(fresh)
      assert(q3.id != q1.id)
      assert(manifest().seq == seq + 1)
      assert(cells() == served)
    } finally Seq(dir, ckpt, fresh).foreach(Gates.deleteTree)
  }

  test("invalid readings (negative/null ts) are split out, not poison pills") {
    val raw = Seq(
      json(H0, "u155mz82dv33", 1.0),
      """{"timestamp":-5,"sensorId":"x","geohash":"u155mz82dv33","tempVal":2.0,"tempUnit":"c"}""",
      """{"sensorId":"y","geohash":"u155mz82dv33","tempVal":3.0,"tempUnit":"c"}""",
      "not json at all").toDF("json")
    val parsed = StreamingPipeline.parseReadings(raw)
    val (valid, invalid) = StreamingPipeline.validate(parsed)
    assert(valid.count() == 1)
    // negative ts + missing ts + malformed JSON (permissive parse → all-null
    // row → null timestamp) all land in the error sink, none halt the stream
    assert(invalid.count() == 3)
  }

  test("unknown JSON fields are ignored (Jackson ignore-unknown parity)") {
    val raw = Seq(
      s"""{"timestamp":$H0,"sensorId":"s","geohash":"u155mz82dv33","tempVal":9.0,"tempUnit":"c","extra":"zzz","n":5}""")
      .toDF("json")
    val parsed = StreamingPipeline.parseReadings(raw).collect()
    assert(parsed.length == 1 && parsed(0).getAs[Double]("tempVal") == 9.0)
  }

  test("upsertBatch is idempotent: replaying the same batch leaves table unchanged") {
    val dir = Files.createTempDirectory("serve2").toString
    val batch = Seq(("u155mz", "2024-01-01 00:00:00", "2024-01-01 01:00:00", 2L, 40.0, 20.0))
      .toDF("key", "ws", "we", "count", "sum", "avg")
      .select($"key", to_timestamp($"ws").as("window_start"),
        to_timestamp($"we").as("window_end"), $"count", $"sum", $"avg")
    StreamingPipeline.upsertBatch(batch, dir)
    StreamingPipeline.upsertBatch(batch, dir) // replay
    val t = StreamingPipeline.servingView(spark, dir).collect()
    assert(t.length == 1)
    assert(t(0).getAs[Long]("count") == 2L)
  }

  test("batch backfill bootstraps the table; the stream then revises it in place") {
    val dir = Files.createTempDirectory("serve_bf").toString
    val ckpt = Files.createTempDirectory("ckpt_bf").toString

    // historical dump → batch backfill through the same transform stack
    val history = Seq(
      json(H0 + 60000, "u155mz82dv33", 10.0),
      json(H0 + 120000, "u155mz82aaaa", 30.0),
      json(H0 + 3660000, "u155mz82dv33", 50.0),
      """{"timestamp":-1,"sensorId":"x","geohash":"u155mz82dv33","tempVal":9.9,"tempUnit":"c"}""")
      .toDF("json")
    StreamingPipeline.backfill(history, dir)

    val t0 = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect()
    assert(t0.length == 2) // poison row filtered, two hourly cells
    assert(t0(0).getAs[Long]("count") == 2 && t0(0).getAs[Double]("sum") == 40.0)

    // kappa handoff: the live stream REPLAYS the same log plus new data
    // (its aggregation state must see every reading of a cell it touches —
    // upsert is replace-not-add, so a partial-state stream would clobber);
    // backfill's value serves reads until the stream catches up, then the
    // stream's identical-then-revised cells overwrite idempotently
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(
      json(H0 + 60000, "u155mz82dv33", 10.0),
      json(H0 + 120000, "u155mz82aaaa", 30.0),
      json(H0 + 3660000, "u155mz82dv33", 50.0),
      json(H0 + 180000, "u155mz82zzzz", 20.0)) // the new reading
    val q = StreamingPipeline.start(mem.toDF().withColumnRenamed("value", "json"),
      dir, ckpt, precision = 6, trigger = Trigger.AvailableNow())
    q.processAllAvailable(); q.stop()

    val t1 = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect()
    assert(t1.length == 2)
    assert(t1(0).getAs[Long]("count") == 3 && t1(0).getAs[Double]("sum") == 60.0)
    assert(t1(1).getAs[Long]("count") == 1) // recomputed to the same value
  }

  private def cell(key: String, ws: String, cnt: Long, sum: Double) = {
    val we = ws // window_end value is irrelevant to these assertions
    Seq((key, ws, we, cnt, sum, sum / cnt))
      .toDF("key", "ws", "we", "count", "sum", "avg")
      .select($"key", to_timestamp($"ws").as("window_start"),
        to_timestamp($"we").as("window_end"), $"count", $"sum", $"avg")
  }

  /** A view's rows as sorted strings, for exact comparisons. */
  private def rowsOf(view: org.apache.spark.sql.DataFrame): Seq[String] =
    view.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The files the current view reads, per day. */
  private def viewFiles(dir: String): Map[String, Seq[String]] =
    StreamingPipeline.servingView(spark, dir).inputFiles.toSeq
      .groupBy(f => "window_day=([0-9-]+)".r.findFirstMatchIn(f).get.group(1))

  /** Two days of cells: a and b on 2024-01-01, c on 2024-01-02. */
  private def crashTemplate(): String = {
    val dir = Files.createTempDirectory("serve_tpl").toString
    StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", 1L, 1.0)
      .union(cell("c", "2024-01-02 03:00:00", 3L, 9.0)), dir)
    StreamingPipeline.upsertBatch(cell("b", "2024-01-01 05:00:00", 2L, 4.0), dir)
    dir
  }

  /** [[FaultFs.crashSweep]] over the serving table's views. */
  private def crashSweep(template: String)(verb: String => Unit): Int =
    FaultFs.crashSweep(spark, template, dir => {
      val view = StreamingPipeline.servingView(spark, dir)
      () => rowsOf(view)
    }, StreamingPipeline.recover(spark, _))(verb)

  test("crash-atomic upsert: a writer killed at ANY point of the commit " +
    "protocol leaves (or recovers to) a consistent table") {
    val template = crashTemplate()
    val steps = crashSweep(template) { dir =>
      StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", 5L, 10.0)
        .union(cell("d", "2024-01-03 00:00:00", 1L, 7.0)), dir)
    }
    // the Spark write (job dir, one file per day, task and job commits)
    // and the manifest publish (mkdirs, create, rename)
    assert(steps >= 6, s"only $steps write steps swept")
  }

  test("crash-atomic compact(sortByKey) and retainFrom: every crash point " +
    "leaves the old or the new table, and recover() converges") {
    val template = crashTemplate()
    val compactSteps = crashSweep(template) { dir =>
      StreamingPipeline.compact(spark, dir, filesPerDay = 2)
    }
    val retainSteps = crashSweep(template) { dir =>
      assert(StreamingPipeline.retainFrom(spark, dir, "2024-01-02") == Seq("2024-01-01"))
    }
    assert(compactSteps >= 6 && retainSteps == 3, s"$compactSteps, $retainSteps")
  }

  test("compact coalesces day partitions atomically without changing content") {
    val dir = Files.createTempDirectory("serve4").toString
    // several upserts → several files per day partition
    StreamingPipeline.upsertBatch(cell("u155mz", "2024-01-01 00:00:00", 2L, 40.0), dir)
    StreamingPipeline.upsertBatch(cell("u14fzp", "2024-01-01 01:00:00", 1L, 7.0), dir)
    StreamingPipeline.upsertBatch(cell("u15xyz", "2024-01-02 00:00:00", 3L, 9.0), dir)
    val before = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect()
    def filesIn(day: String) = viewFiles(dir)(day).length
    assert(filesIn("2024-01-01") >= 1 && filesIn("2024-01-02") >= 1)

    StreamingPipeline.compact(spark, dir)
    assert(filesIn("2024-01-01") == 1 && filesIn("2024-01-02") == 1)
    val after = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect()
    assert(after.toSeq == before.toSeq, "compaction must be content-neutral")

    // the compacted table keeps taking upserts
    StreamingPipeline.upsertBatch(cell("u155mz", "2024-01-01 00:00:00", 5L, 50.0), dir)
    val again = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect()
    assert(again.length == 3 && again(1).getAs[Long]("count") == 5L)
  }

  test("compact(sortByKey) is content-neutral and lays each day out in " +
    "disjoint per-file key ranges (the min/max pruning invariant)") {
    val dir = Files.createTempDirectory("serve6").toString
    // 26 keys across 2 days, several upserts → scrambled hash layout
    ('a' to 'z').zipWithIndex.foreach { case (k, i) =>
      val day = if (i % 2 == 0) "2024-01-01" else "2024-01-02"
      StreamingPipeline.upsertBatch(
        cell(s"${k}key", s"$day 0${i % 10}:00:00", i + 1L, i * 2.0), dir)
    }
    val before = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect().toSeq

    StreamingPipeline.compact(spark, dir, filesPerDay = 3)
    val after = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect().toSeq
    assert(after == before, "keyed compaction must be content-neutral")

    // per day: each parquet file's [min(key), max(key)] span must not
    // overlap another file's interior — that is exactly what lets the
    // key-prefix scan drop whole files on footer stats
    Seq("2024-01-01", "2024-01-02").foreach { day =>
      val files = viewFiles(dir)(day)
      assert(files.nonEmpty)
      val spans = files.map { f =>
        val r = spark.read.parquet(f).agg(min($"key"), max($"key")).head()
        (r.getString(0), r.getString(1))
      }.sortBy(_._1)
      spans.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) =>
          assert(hi1 <= lo2, s"day $day: file spans overlap ($hi1 > $lo2)")
        case _ =>
      }
    }

    // day-volume skew must not starve a day of its filesPerDay contract:
    // ranges are sampled PER DAY, not globally, so a 24x-heavier neighbor
    // cannot absorb every boundary
    val skewDir = Files.createTempDirectory("serve6s").toString
    ('a' to 'x').foreach { k => // day 1: 24 cells
      StreamingPipeline.upsertBatch(
        cell(s"${k}k", "2024-02-01 00:00:00", 1L, 1.0), skewDir)
    }
    Seq("aa", "bb", "cc").foreach { k => // day 2: 3 cells
      StreamingPipeline.upsertBatch(
        cell(k, "2024-02-02 00:00:00", 1L, 1.0), skewDir)
    }
    StreamingPipeline.compact(spark, skewDir, filesPerDay = 2)
    Seq("2024-02-01", "2024-02-02").foreach { day =>
      val n = viewFiles(skewDir)(day).length
      assert(n == 2, s"day $day must hold exactly filesPerDay files, got $n")
    }
    assert(StreamingPipeline.servingView(spark, skewDir).count() == 27L)

    // the F1 prefix predicate reaches the relaid store's parquet scan as
    // sargable key ranges — the pushdown that consumes those footer stats
    val scanned = graft.operators.QueryBuilders.history(
      StreamingPipeline.servingView(spark, dir), "count", Seq("m"),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime,
      java.sql.Timestamp.valueOf("2024-01-03 00:00:00").getTime)
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(key,m") && plan.contains("LessThan(key,n"),
      s"prefix range must push into the store scan:\n$plan")
  }

  test("retainFrom drops exactly the expired day partitions and survives replay") {
    val dir = Files.createTempDirectory("serve5").toString
    StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", 1L, 1.0), dir)
    StreamingPipeline.upsertBatch(cell("b", "2024-01-02 00:00:00", 2L, 4.0), dir)
    StreamingPipeline.upsertBatch(cell("c", "2024-01-03 00:00:00", 3L, 9.0), dir)

    val removed = StreamingPipeline.retainFrom(spark, dir, "2024-01-03")
    assert(removed == Seq("2024-01-01", "2024-01-02"))
    val kept = StreamingPipeline.servingView(spark, dir).collect()
    assert(kept.length == 1 && kept(0).getAs[String]("key") == "c")
    assert(viewFiles(dir).keySet == Set("2024-01-03"))

    // replay converges: second sweep finds nothing, removes nothing
    assert(StreamingPipeline.retainFrom(spark, dir, "2024-01-03").isEmpty)
    assert(StreamingPipeline.servingView(spark, dir).count() == 1)

    // malformed cutoff is rejected loudly
    intercept[IllegalArgumentException] {
      StreamingPipeline.retainFrom(spark, dir, "Jan 3, 2024")
    }
  }

  test("a fully-expired table fails servingView with the retention cause, " +
    "not a schema-inference error, and recovers on the next upsert") {
    val dir = Files.createTempDirectory("serve6").toString
    StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", 1L, 1.0), dir)
    StreamingPipeline.upsertBatch(cell("b", "2024-01-02 00:00:00", 2L, 4.0), dir)
    val removed = StreamingPipeline.retainFrom(spark, dir, "2025-01-01")
    assert(removed == Seq("2024-01-01", "2024-01-02"))
    val e = intercept[IllegalStateException] {
      StreamingPipeline.servingView(spark, dir)
    }
    assert(e.getMessage.contains("no day partitions"))
    // the table dir is still a live upsert target: the next trigger repopulates
    StreamingPipeline.upsertBatch(cell("c", "2025-06-01 00:00:00", 3L, 9.0), dir)
    assert(StreamingPipeline.servingView(spark, dir).count() == 1)
  }

  test("upsertBatch writes one file per day and revises cells in place") {
    val wide = (0 until 40).map { i =>
      (s"k$i", "2024-01-01 00:00:00", "2024-01-01 01:00:00", 1L, i.toDouble, i.toDouble)
    }.toDF("key", "ws", "we", "count", "sum", "avg")
      .select($"key", to_timestamp($"ws").as("window_start"),
        to_timestamp($"we").as("window_end"), $"count", $"sum", $"avg")
    val d1 = Files.createTempDirectory("serve7a").toString
    StreamingPipeline.upsertBatch(wide, d1)
    def parquets(d: String) = viewFiles(d)("2024-01-01").length
    assert(parquets(d1) == 1)
    assert(StreamingPipeline.servingView(spark, d1).count() == 40)
    StreamingPipeline.upsertBatch(cell("k3", "2024-01-01 00:00:00", 9L, 90.0), d1)
    val revised = StreamingPipeline.servingView(spark, d1)
      .filter($"key" === "k3").collect()
    assert(revised.length == 1 && revised(0).getAs[Long]("count") == 9L)
    assert(parquets(d1) == 1)
  }

  test("servingView resolves with no Spark job and a listing private to the frame") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = Files.createTempDirectory("serve_view").toString
    Seq("2024-01-01", "2024-01-02").foreach { day =>
      val cells = (0 until 200).map(i => (s"k$i", s"$day 00:00:00")).toDF("key", "ws")
        .select($"key", to_timestamp($"ws").as("window_start"),
          to_timestamp($"ws").as("window_end"), lit(1L).as("count"), lit(1.0).as("sum"),
          lit(1.0).as("avg"))
      StreamingPipeline.upsertBatch(cells, dir)
    }
    // more files than spark.sql.sources.parallelPartitionDiscovery.threshold
    // (32), where a listing index would launch a listing job
    StreamingPipeline.compact(spark, dir, filesPerDay = 20)
    FaultFs.install(spark)
    val sc = spark.sparkContext
    val group = s"serving-view-${System.nanoTime()}"
    sc.setJobGroup(group, "servingView job probe")
    val (view, reads) =
      try {
        val v = FaultFs.reads(StreamingPipeline.servingView(spark, FaultFs.uri(dir)))
        sc.parallelize(Seq(1)).count() // marker: listener events arrive in order
        v
      } finally sc.clearJobGroup()
    // once the marker job is visible, any job the resolution ran is too
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(group).length == 1,
      "resolving the serving view must not launch a Spark job")
    // one listing of the manifest dir and one manifest read: no day dir
    // is listed and no data file is touched
    assert(reads.length == 2 && reads(0) == "listStatus _manifest" &&
      reads(1).startsWith("open m-"), reads)

    val index = view.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation].location
    }.get
    val files = index.inputFiles.toSeq
    assert(files.length > 32, s"${files.length} files")
    // the file list is the frame's own: a later commit changes what a
    // fresh view reads, not what this one reads
    StreamingPipeline.upsertBatch(cell("k1", "2024-01-01 00:00:00", 2L, 2.0), dir)
    assert(index.inputFiles.toSeq == files)
    assert(StreamingPipeline.servingView(spark, dir).inputFiles.toSet != files.toSet)
    assert(view.schema.map(f => f.name -> f.dataType.typeName) == Seq(
      "key" -> "string", "window_start" -> "timestamp", "window_end" -> "timestamp",
      "count" -> "long", "sum" -> "double", "avg" -> "double", "window_day" -> "date"))
    assert(view.count() == 400 && view.filter($"key" === "k1").count() == 2)
  }

  test("history and snapshot prune day partitions, keeping every cell " +
    "across midnight and across reader/writer time zones") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import graft.operators.QueryBuilders

    val H = 3600000L
    val jan2 = 1704153600000L // 2024-01-02 00:00:00 UTC
    val jan3 = jan2 + 24 * H
    // 23:00 and 00:00 on each side of two midnights, plus far days the
    // pruned reads must skip
    val hours = Seq(jan2 - H, jan2, jan3 - H, jan3, jan2 + 7 * 24 * H, jan2 - 7 * 24 * H)
    def write(writer: SparkSession, dir: String): Unit = {
      val cells = hours.zipWithIndex.map { case (ms, i) =>
        writer.range(1).select(lit(s"u155m$i").as("key"),
          timestamp_millis(lit(ms)).as("window_start"),
          timestamp_millis(lit(ms + H)).as("window_end"),
          lit(i + 1L).as("count"), lit(10.0 * i).as("sum"), lit(10.0 * i / (i + 1)).as("avg"))
      }.reduce(_ union _)
      StreamingPipeline.upsertBatch(cells, dir)
    }
    def inZone(tz: String): SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", tz)
      s
    }
    def answers(reader: SparkSession, dir: String, pruned: Boolean): Seq[Seq[String]] = {
      val v = StreamingPipeline.servingView(reader, dir)
      val view = if (pruned) v else v.drop("window_day") // no partition column, no pruning
      val histories = Seq((jan2 - H, jan2), (jan2, jan3), (jan2, jan3 - H), (jan2 - 24 * H, jan2),
          (jan3 - H, jan3), (jan2 - 8 * 24 * H, jan3 + 8 * 24 * H))
        .map { case (from, to) => QueryBuilders.history(view, "count", Seq("u155"), from, to) }
      val snapshots = hours.map(QueryBuilders.snapshotByPrefixes(view, "sum", Seq("u155"), _))
      (histories ++ snapshots).map(_.collect().toSeq.map { r =>
        val k = r.get(0) match {
          case t: java.sql.Timestamp => t.getTime.toString
          case other => other.toString
        }
        s"$k=${r.get(1)}"
      })
    }

    val utcDir = Files.createTempDirectory("serve_prune").toString
    write(spark, utcDir)
    val reference = answers(spark, utcDir, pruned = false)
    assert(reference.forall(_.nonEmpty) && reference(5).length == hours.length)
    assert(answers(spark, utcDir, pruned = true) == reference)

    // the partition predicate reaches the scan, and a snapshot reads only
    // its hour's day file
    val snap = QueryBuilders.snapshotByPrefixes(
      StreamingPipeline.servingView(spark, utcDir), "sum", Seq("u155"), jan2)
    snap.collect()
    val scans = new AdaptiveSparkPlanHelper {}.collect(snap.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.length == 1)
    assert(scans.head.toString.contains("PartitionFilters: [") &&
      scans.head.partitionFilters.exists(_.references.exists(_.name == "window_day")),
      scans.head.toString)
    assert(scans.head.metrics("numFiles").value == 1) // 2024-01-02 only
    // a view resolved for the hour selects that day's file in the manifest
    assert(StreamingPipeline.servingView(spark, utcDir, jan2, jan2).inputFiles.length == 1)

    // a writer in another zone files every instant under its UTC day
    // (23:00 UTC would be the next day at +14, 00:00 UTC the previous day
    // at -12), so a reader in any zone finds every cell in exactly the
    // days of its range
    val zones = Seq("UTC", "Pacific/Kiritimati", "Etc/GMT+12")
    def days(dir: String) = StreamingPipeline.servingView(spark, dir).inputFiles.toSeq
      .map("window_day=([0-9-]+)".r.findFirstMatchIn(_).get.group(1)).sorted
    zones.foreach { writer =>
      val dir =
        if (writer == "UTC") utcDir
        else { val d = Files.createTempDirectory("serve_prune_tz").toString; write(inZone(writer), d); d }
      assert(days(dir) == days(utcDir), writer)
      zones.foreach { reader =>
        assert(answers(inZone(reader), dir, pruned = true) == reference, s"$writer -> $reader")
      }
    }
  }

  test("a view resolved before an upsert keeps reading the old cell; " +
    "a fresh view reads the new one") {
    val dir = Files.createTempDirectory("serve_race").toString
    StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", 1L, 1.0), dir)
    val resolved = StreamingPipeline.servingView(spark, dir)
    StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", 2L, 2.0), dir)
    assert(resolved.collect().map(_.getAs[Long]("count")).toSeq == Seq(1L))
    assert(StreamingPipeline.servingView(spark, dir).collect()
      .map(_.getAs[Long]("count")).toSeq == Seq(2L))
  }

  test("concurrent readers over fresh views never fail and never see a " +
    "counter go back while upserts, a compact and a retainFrom commit") {
    val dir = Files.createTempDirectory("serve_loop").toString
    StreamingPipeline.upsertBatch(cell("ctr", "2024-01-02 00:00:00", 1L, 1.0)
      .union(cell("old", "2024-01-01 00:00:00", 1L, 1.0)), dir)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val readers = (1 to 3).map { _ =>
      val t = new Thread(() => {
        var last = 0L
        while (!stop.get) {
          try {
            val ctr = StreamingPipeline.servingView(spark, dir).filter($"key" === "ctr")
              .collect().map(_.getAs[Long]("count"))
            if (ctr.length != 1 || ctr(0) < last) failures.add(s"read ${ctr.toSeq} after $last")
            else last = ctr(0)
            reads.incrementAndGet()
          } catch { case e: Exception => failures.add(e.toString) }
        }
      })
      t.start()
      t
    }
    try {
      (2 to 21).foreach { i =>
        StreamingPipeline.upsertBatch(cell("ctr", "2024-01-02 00:00:00", i.toLong, i.toDouble), dir)
      }
      StreamingPipeline.compact(spark, dir)
      assert(StreamingPipeline.retainFrom(spark, dir, "2024-01-02") == Seq("2024-01-01"))
      Thread.sleep(200) // let the readers see the last commit too
    } finally {
      stop.set(true)
      readers.foreach(_.join(60000))
    }
    assert(failures.isEmpty, failures.toArray.take(3).mkString("; "))
    assert(reads.get > 3, s"only ${reads.get} reads")
    assert(rowsOf(StreamingPipeline.servingView(spark, dir).select($"key", $"count")) ==
      Seq("ctr|21"))
  }

  test("a sweep keeps retired files through the grace, then leaves exactly " +
    "the files the newest manifest names, at every crash point") {
    val dir = Files.createTempDirectory("serve_sweep").toString
    (1 to 3).foreach { i =>
      StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", i.toLong, i.toDouble), dir)
    }
    StreamingPipeline.upsertBatch(cell("b", "2024-01-02 00:00:00", 2L, 4.0)
      .union(cell("c", "2024-01-03 00:00:00", 3L, 9.0)), dir)
    StreamingPipeline.compact(spark, dir, days = Seq("2024-01-02"))
    StreamingPipeline.retainFrom(spark, dir, "2024-01-02")
    val expected = rowsOf(StreamingPipeline.servingView(spark, dir))
    def onDisk(d: String): Set[String] = {
      val it = Files.walk(java.nio.file.Paths.get(d))
      try it.iterator().asScala.map(_.toFile).filter(_.getName.endsWith(".parquet"))
        .map(_.getCanonicalPath).toSet
      finally it.close()
    }
    def named(d: String): Set[String] = StreamingPipeline.servingView(spark, d).inputFiles
      .map(u => new java.io.File(new java.net.URI(u)).getCanonicalPath).toSet
    val held = onDisk(dir)
    StreamingPipeline.recover(spark, dir)
    assert(onDisk(dir) == held && held.size > named(dir).size,
      "inside the grace a sweep must keep every retired file")

    // past the grace (manifests backdated an hour), crash the sweep at each
    // of its deletes: readers are unaffected, and the next sweep finishes
    FaultFs.install(spark)
    var n = 0
    var completed = false
    while (!completed) {
      n += 1
      val local = FaultFs.copyOf(dir)
      val manifests = new java.io.File(local, "_manifest")
      manifests.listFiles().foreach(_.setLastModified(System.currentTimeMillis() - 3600000L))
      completed = FaultFs.crashAt(spark, n)(StreamingPipeline.recover(spark, FaultFs.uri(local)))
      assert(rowsOf(StreamingPipeline.servingView(spark, local)) == expected, s"step $n")
      if (!completed) StreamingPipeline.recover(spark, local)
      assert(onDisk(local) == named(local), s"step $n")
      assert(manifests.list().filterNot(_.startsWith(".")).length == 1)
      assert(new java.io.File(local).list().filter(_.startsWith("c-")).toSet ==
        named(local).map(f => new java.io.File(f).getParentFile.getParentFile.getName))
      assert(rowsOf(StreamingPipeline.servingView(spark, local)) == expected)
      Gates.deleteTree(local)
    }
    assert(n > 5, s"only ${n - 1} delete steps swept")
  }
}
