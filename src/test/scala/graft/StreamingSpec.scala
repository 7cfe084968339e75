package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

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
        to_timestamp($"we").as("window_end"), $"count", $"sum", $"avg",
        to_date(to_timestamp($"ws")).as("window_day"))
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
        to_timestamp($"we").as("window_end"), $"count", $"sum", $"avg",
        to_date(to_timestamp($"ws")).as("window_day"))
  }

  test("crash-atomic upsert: a writer killed at ANY point of the commit " +
    "protocol leaves (or recovers to) a consistent table") {
    val dir = Files.createTempDirectory("serve3").toString
    val fs = new java.io.File(dir)
    StreamingPipeline.upsertBatch(cell("u155mz", "2024-01-01 00:00:00", 2L, 40.0), dir)

    // --- crash BEFORE the intent marker: staged files exist, live table
    // untouched; the orphan staging dir is dropped by the next upsert ---
    val staged = cell("u155mz", "2024-01-01 00:00:00", 99L, 999.0)
    staged.write.mode("overwrite").partitionBy("window_day")
      .parquet(s"$dir/_staging")
    val pre = StreamingPipeline.servingView(spark, dir).collect()
    assert(pre.length == 1 && pre(0).getAs[Long]("count") == 2L) // old value visible
    StreamingPipeline.upsertBatch(cell("u14fzp", "2024-01-02 00:00:00", 1L, 7.0), dir)
    assert(!new java.io.File(fs, "_staging").exists())
    val t1 = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key").collect()
    assert(t1.length == 2)
    assert(t1(0).getAs[Long]("count") == 1L)  // u14fzp applied
    assert(t1(1).getAs[Long]("count") == 2L)  // u155mz NOT clobbered by orphan

    // --- crash AFTER the intent marker, before any swap: recover() must
    // complete the staged commit (updated u155mz day + new u15xyz day) ---
    val merged = cell("u155mz", "2024-01-01 00:00:00", 3L, 60.0)
      .union(cell("u15xyz", "2024-01-03 00:00:00", 5L, 50.0))
    merged.write.mode("overwrite").partitionBy("window_day")
      .parquet(s"$dir/_staging")
    val intent = new java.io.File(fs, "_upsert_intent")
    java.nio.file.Files.write(intent.toPath,
      "2024-01-01\n2024-01-03\n".getBytes("UTF-8"))
    StreamingPipeline.recover(spark, dir)
    assert(!intent.exists() && !new java.io.File(fs, "_staging").exists())
    val t2 = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key").collect()
    assert(t2.length == 3)
    assert(t2(1).getAs[Long]("count") == 3L && t2(1).getAs[Double]("sum") == 60.0)
    assert(t2(2).getAs[String]("key") == "u15xyz")

    // --- crash MID-swap: one staged day already renamed in, the other still
    // in staging; replaying recover() must converge (idempotent renames) ---
    val merged2 = cell("u155mz", "2024-01-01 00:00:00", 4L, 80.0)
      .union(cell("u15xyz", "2024-01-03 00:00:00", 6L, 60.0))
    merged2.write.mode("overwrite").partitionBy("window_day")
      .parquet(s"$dir/_staging")
    java.nio.file.Files.write(intent.toPath,
      "2024-01-01\n2024-01-03\n".getBytes("UTF-8"))
    // simulate the first day's swap having completed before the crash
    val d1live = new java.io.File(fs, "window_day=2024-01-01")
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmr); f.delete()
    }
    rmr(d1live)
    assert(new java.io.File(fs, "_staging/window_day=2024-01-01")
      .renameTo(d1live))
    StreamingPipeline.recover(spark, dir)
    StreamingPipeline.recover(spark, dir) // second replay: no-op, no failure
    val t3 = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key").collect()
    assert(t3.length == 3)
    assert(t3(1).getAs[Long]("count") == 4L)
    assert(t3(2).getAs[Long]("count") == 6L)
  }

  test("compact coalesces day partitions atomically without changing content") {
    val dir = Files.createTempDirectory("serve4").toString
    // several upserts → several files per day partition
    StreamingPipeline.upsertBatch(cell("u155mz", "2024-01-01 00:00:00", 2L, 40.0), dir)
    StreamingPipeline.upsertBatch(cell("u14fzp", "2024-01-01 01:00:00", 1L, 7.0), dir)
    StreamingPipeline.upsertBatch(cell("u15xyz", "2024-01-02 00:00:00", 3L, 9.0), dir)
    val before = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect()
    def filesIn(day: String) =
      new java.io.File(dir, s"window_day=$day").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    assert(filesIn("2024-01-01") >= 1 && filesIn("2024-01-02") >= 1)

    StreamingPipeline.compact(spark, dir)
    assert(filesIn("2024-01-01") == 1 && filesIn("2024-01-02") == 1)
    val after = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect()
    assert(after.toSeq == before.toSeq, "compaction must be content-neutral")
    // protocol artifacts are gone
    assert(!new java.io.File(dir, "_staging").exists())
    assert(!new java.io.File(dir, "_upsert_intent").exists())

    // crash window: intent present but swap unfinished → recover() completes
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

    StreamingPipeline.compact(spark, dir, filesPerDay = 3, sortByKey = true)
    val after = StreamingPipeline.servingView(spark, dir)
      .orderBy($"key", $"window_start").collect().toSeq
    assert(after == before, "keyed compaction must be content-neutral")

    // per day: each parquet file's [min(key), max(key)] span must not
    // overlap another file's interior — that is exactly what lets the
    // key-prefix scan drop whole files on footer stats
    Seq("2024-01-01", "2024-01-02").foreach { day =>
      val files = new java.io.File(dir, s"window_day=$day").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
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
    StreamingPipeline.compact(spark, skewDir, filesPerDay = 2, sortByKey = true)
    Seq("2024-02-01", "2024-02-02").foreach { day =>
      val n = new java.io.File(skewDir, s"window_day=$day").listFiles()
        .count(_.getName.endsWith(".parquet"))
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

  test("retainFrom drops exactly the expired day partitions, survives " +
    "replay, and completes a pending upsert commit first") {
    val dir = Files.createTempDirectory("serve5").toString
    StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", 1L, 1.0), dir)
    StreamingPipeline.upsertBatch(cell("b", "2024-01-02 00:00:00", 2L, 4.0), dir)
    StreamingPipeline.upsertBatch(cell("c", "2024-01-03 00:00:00", 3L, 9.0), dir)

    val removed = StreamingPipeline.retainFrom(spark, dir, "2024-01-03")
    assert(removed == Seq("2024-01-01", "2024-01-02"))
    val kept = StreamingPipeline.servingView(spark, dir).collect()
    assert(kept.length == 1 && kept(0).getAs[String]("key") == "c")
    assert(!new java.io.File(dir, "window_day=2024-01-01").exists())
    assert(!new java.io.File(dir, "window_day=2024-01-02").exists())

    // replay converges: second sweep finds nothing, removes nothing
    assert(StreamingPipeline.retainFrom(spark, dir, "2024-01-03").isEmpty)
    assert(StreamingPipeline.servingView(spark, dir).count() == 1)

    // a pending upsert commit (intent published, day not yet swapped) for
    // an EXPIRED day must land before expiry is evaluated — the replayed
    // rename must not resurrect a day the sweep already judged
    StreamingPipeline.upsertBatch(cell("d", "2024-01-02 05:00:00", 7L, 7.0), dir)
    val fs = new java.io.File(dir)
    val live = new java.io.File(fs, "window_day=2024-01-02")
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmr); f.delete()
    }
    // reconstruct the mid-commit state: staged day present, live day gone,
    // intent marker published
    val staged = new java.io.File(fs, "_staging/window_day=2024-01-02")
    staged.getParentFile.mkdirs()
    assert(live.renameTo(staged))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_upsert_intent"), "2024-01-02\n")
    val removed2 = StreamingPipeline.retainFrom(spark, dir, "2024-01-03")
    assert(removed2 == Seq("2024-01-02"),
      "recover() must complete the swap, then the sweep expires the day")
    assert(!live.exists() && !new java.io.File(fs, "_staging").exists())
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

  test("upsertBatch(writersPerDay > 1) spreads each day over that many " +
    "files and stays content-identical to the default") {
    val wide = (0 until 40).map { i =>
      (s"k$i", "2024-01-01 00:00:00", "2024-01-01 01:00:00", 1L, i.toDouble, i.toDouble)
    }.toDF("key", "ws", "we", "count", "sum", "avg")
      .select($"key", to_timestamp($"ws").as("window_start"),
        to_timestamp($"we").as("window_end"), $"count", $"sum", $"avg",
        to_date(to_timestamp($"ws")).as("window_day"))
    val d1 = Files.createTempDirectory("serve7a").toString
    val d4 = Files.createTempDirectory("serve7b").toString
    StreamingPipeline.upsertBatch(wide, d1)
    StreamingPipeline.upsertBatch(wide, d4, writersPerDay = 4)
    def rows(d: String) = StreamingPipeline.servingView(spark, d)
      .orderBy($"key").collect().map(_.toString).toSeq
    assert(rows(d1) == rows(d4))
    def parquets(d: String) = new java.io.File(d, "window_day=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquets(d1) == 1)
    // hash partitioning on (day, salt) can collide combos into one
    // partition — the contract is "spread across UP TO writersPerDay
    // writers", not an exact file count
    assert(parquets(d4) >= 2 && parquets(d4) <= 4)
    // a revision through the salted path still replaces in place
    StreamingPipeline.upsertBatch(cell("k3", "2024-01-01 00:00:00", 9L, 90.0),
      d4, writersPerDay = 4)
    val revised = StreamingPipeline.servingView(spark, d4)
      .filter($"key" === "k3").collect()
    assert(revised.length == 1 && revised(0).getAs[Long]("count") == 9L)
    intercept[IllegalArgumentException] {
      StreamingPipeline.upsertBatch(wide, d4, writersPerDay = 0)
    }
  }

  test("servingView resolves with no Spark job and a listing private to the frame") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, NoopCache}
    val dir = Files.createTempDirectory("serve_view").toString
    StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", 1L, 1.0), dir)
    StreamingPipeline.upsertBatch(cell("b", "2024-01-02 00:00:00", 2L, 4.0), dir)
    val sc = spark.sparkContext
    val group = s"serving-view-${System.nanoTime()}"
    sc.setJobGroup(group, "servingView job probe")
    val view =
      try {
        val v = StreamingPipeline.servingView(spark, dir)
        sc.parallelize(Seq(1)).count() // marker: listener events arrive in order
        v
      } finally sc.clearJobGroup()
    // once the marker job is visible, any job the resolution ran is too
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(group).length == 1,
      "resolving the serving view must not launch a Spark job")

    val index = view.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation].location
    }.get
    val cache = index.getClass.getDeclaredField("fileStatusCache")
    cache.setAccessible(true)
    assert(cache.get(index) eq NoopCache,
      "the view's listing must not enter the session-shared FileStatusCache")
    assert(view.schema.map(f => f.name -> f.dataType.typeName) == Seq(
      "key" -> "string", "window_start" -> "timestamp", "window_end" -> "timestamp",
      "count" -> "long", "sum" -> "double", "avg" -> "double", "window_day" -> "date"))
    assert(view.orderBy($"key").collect().map(_.getAs[Long]("count")).toSeq == Seq(1L, 2L))
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
      }.reduce(_ union _).withColumn("window_day", to_date($"window_start"))
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
    // the day files within one day of its hour
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
    assert(scans.head.metrics("numFiles").value == 3) // 2024-01-01..03, not the far days

    // a reader in another zone: the day bounds do not depend on its zone
    Seq("Pacific/Kiritimati", "Etc/GMT+12").foreach { tz =>
      assert(answers(inZone(tz), utcDir, pruned = true) == reference, tz)
    }
    // a writer in another zone files the same instants under other days
    // (23:00 UTC is the next day at +14, 00:00 UTC the previous day at -12);
    // the one-day margin still finds every cell
    Seq("Pacific/Kiritimati", "Etc/GMT+12").foreach { tz =>
      val dir = Files.createTempDirectory("serve_prune_tz").toString
      write(inZone(tz), dir)
      assert(answers(spark, dir, pruned = true) == reference, tz)
    }
  }

  test("KNOWN DEFECT: a view resolved before an upsert swaps its day fails to read") {
    // upsertBatch replaces a day by deleting its directory and renaming the
    // staged one in; a view listed before the swap still names the deleted
    // files, so collecting it fails (FAILED_READ_FILE.FILE_NOT_EXIST)
    // instead of serving the old or the new cell
    val dir = Files.createTempDirectory("serve_race").toString
    StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", 1L, 1.0), dir)
    val resolved = StreamingPipeline.servingView(spark, dir)
    StreamingPipeline.upsertBatch(cell("a", "2024-01-01 00:00:00", 2L, 2.0), dir)
    pendingUntilFixed {
      val rows = resolved.collect()
      assert(rows.length == 1 && Set(1L, 2L).contains(rows(0).getAs[Long]("count")))
    }
  }
}
