package graft.perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.serving.RestServer
import graft.streaming.StreamingPipeline

/**
 * `ingest`: a backfilled table, then `StreamingPipeline.start` on a
 * MemoryStream fed by an open-loop generator at a fixed rate, with one
 * REST reader over the live hours that reads after each commit, ending with
 * catch-up bursts.
 *
 * A reading's freshness is the commit time of the micro-batch that holds it
 * minus the time it was due to be sent. A share of readings arrives late
 * into the previous day, so those batches rewrite two day partitions.
 */
object Ingest {
  val TriggerMs = 3000L
  val TickMs = 20L
  val LateShare = 0.05
  /** open-loop time before the measured window: the loop of batches and
    * reads settles from the stream's cold first batch */
  val WarmLoopMs = 8000L
  val Bursts = 3

  /** One committed micro-batch: the memory-source offsets it covered, and
    * the readings added but not yet committed right after it (the next
    * batch's input). */
  final case class Commit(p: StreamingQueryProgress, startOffset: Long, endOffset: Long,
                          pendingAfter: Long) {
    def commitMs: Long = java.time.Instant.parse(p.timestamp).toEpochMilli + dur("triggerExecution")
    def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    def startMs: Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  }

  /** A live read and what had been committed (and added) around it. */
  final case class LiveRead(req: TempReq, sendNs: Long, recvNs: Long, committedAtSend: Int,
                            addedAtRecv: Int, code: Int, body: String) {
    def ms: Double = (recvNs - sendNs) / 1e6
  }

  private def offsetOf(json: String): Long =
    if (json == null) -1L else json.trim.stripPrefix("\"").stripSuffix("\"").toLong

  def run(ctx: Ctx): Report = {
    val r = new Report
    val spark = ctx.spark
    val net = new SensorNet(ctx.seed, ctx.scaled(2000))
    val hist = net.history(ctx.scaled(50000), ctx.rnd(1))
    val oracle = new Oracle
    oracle.addAll(net, hist)
    val raw = ctx.jsonFrame(hist.toSeq.map(h => net.json(h.sensor, h.ts, h.cents)))
    val table = ctx.setup(r) { i =>
      val dir = ctx.dir(s"table-$i")
      StreamingPipeline.backfill(raw, dir)
      dir
    }

    // the stream's readings, fixed by the seed: a first batch, the open loop
    // (warm-up, then the measured steady window), then the catch-up bursts
    val rate = ctx.scaled(ctx.rate.getOrElse(1000))
    val steadyMs = ctx.seconds * 1000L
    val warmN = rate / 2
    val measureFrom = warmN + (rate * WarmLoopMs / 1000).toInt
    val loopEnd = measureFrom + (rate * steadyMs / 1000).toInt
    val burstN = ctx.scaled(10000)
    val total = loopEnd + Bursts * burstN
    val rs = ctx.rnd(2)
    val stream: Array[Reading] = Array.tabulate(total) { i =>
      val s = rs.nextInt(net.nSensors)
      val ts =
        if (rs.nextDouble() < LateShare) net.lateHour + rs.nextLong(SensorNet.HourMs)
        else net.t0 + i * 1000L / rate
      Reading(s, ts, net.cents(s, ts, rs))
    }
    oracle.addAll(net, stream)
    if (ctx.corrupt) oracle.corruptOne()
    val json = stream.map(x => net.json(x.sensor, x.ts, x.cents))
    val key = stream.map(x => net.geohash(x.sensor).substring(0, 6))
    val hour = stream.map(x => x.ts - Math.floorMod(x.ts, SensorNet.HourMs))

    // chunk j = the j-th addData call = memory-source offset j
    val chunkEnd = mutable.ArrayBuffer[Int]()
    val added = new AtomicLong(0)
    val committed = new AtomicLong(0)
    val commits = new ConcurrentLinkedQueue[Commit]()
    val commitSignal = new Semaphore(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val src = e.progress.sources.head
        val (s, t) = (offsetOf(src.startOffset), offsetOf(src.endOffset))
        if (t > s) {
          val n = chunkEnd.synchronized(chunkEnd(t.toInt))
          committed.accumulateAndGet(n, math.max)
          commits.add(Commit(e.progress, s, t, added.get - n))
          commitSignal.release()
        }
      }
    }
    spark.streams.addListener(listener)
    implicit val sqlCtx: SQLContext = spark.sqlContext
    // a fixed number of input partitions, as from a topic with one partition
    // per core; by default the memory source makes one per addData call, so
    // a batch's task count would follow the generator's tick
    val mem = MemoryStream[String](spark.sparkContext.defaultParallelism)(Encoders.STRING, sqlCtx)
    def addChunk(from: Int, until: Int): Unit = chunkEnd.synchronized {
      added.set(until)
      val off = offsetOf(mem.addData(json.slice(from, until).toSeq).json)
      require(off == chunkEnd.length, s"memory stream offset $off, expected ${chunkEnd.length}")
      chunkEnd += until
    }
    def awaitCommitted(n: Int, what: String): Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (committed.get < n && System.nanoTime() < deadline) Thread.sleep(5)
      if (committed.get < n) throw new IllegalStateException(s"$what: not committed in time")
    }

    val counters = new SparkCounters
    if (ctx.trace) counters.attach(spark)
    val source = mem.toDF().withColumnRenamed("value", "json")
    val ckpt = ctx.dir("checkpoint")
    val query: StreamingQuery =
      if (ctx.trace) tracedStart(source, table, ckpt, counters)
      else StreamingPipeline.start(source, table, ckpt, trigger = Trigger.ProcessingTime(TriggerMs))
    val server = RestServer.live(spark, table, port = 0)
    val base = s"http://localhost:${server.start()}"
    val reads = new ConcurrentLinkedQueue[LiveRead]()
    var lateMax = 0.0
    var backlog = 0L
    var loopStartMs = 0L
    var loopEndMs = 0L
    var toggleMs = Long.MaxValue
    try {
      addChunk(0, warmN)
      awaitCommitted(warmN, "warm-up")
      // the live reader sends one read as soon as a batch has committed
      // (or, if its last read outlasted that, at the next commit), so reads
      // meet the micro-batch cycle at the same point in every run
      val loopDone = new AtomicBoolean(false)
      val reader = new Thread(() => {
        val rnd = ctx.rnd(3)
        while (!loopDone.get) {
          if (commitSignal.tryAcquire(20, TimeUnit.MILLISECONDS) && !loopDone.get) {
            commitSignal.drainPermits()
            val q = liveReq(net, rnd, reads.size)
            val c0 = committed.get.toInt
            val t0 = System.nanoTime()
            val (code, body) = Http.get(base, q.path)
            val t1 = System.nanoTime()
            reads.add(LiveRead(q, t0, t1, c0, added.get.toInt, code, body))
          }
        }
      }, "perfbench-live-reader")
      reader.setDaemon(true)
      commitSignal.drainPermits()
      // open loop: one chunk per tick, due times fixed in advance
      val startNs = System.nanoTime()
      loopStartMs = System.currentTimeMillis()
      reader.start()
      var next = warmN
      var tick = 1L
      while (next < loopEnd) {
        val dueNs = startNs + tick * TickMs * 1000000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        if (ctx.trace && toggleMs == Long.MaxValue && tick * TickMs >= WarmLoopMs + steadyMs / 2) {
          toggleMs = System.currentTimeMillis()
          counters.enabled = true
          Trace.on = true
        }
        lateMax = math.max(lateMax, (System.nanoTime() - dueNs) / 1e6)
        val upto = math.min(loopEnd, warmN + ((tick * TickMs * rate) / 1000).toInt)
        if (upto > next) { addChunk(next, upto); next = upto }
        tick += 1
      }
      // the backlog as the steady phase ends, before the stream can drain
      backlog = added.get - committed.get
      loopEndMs = System.currentTimeMillis()
      loopDone.set(true)
      reader.join()
      awaitCommitted(loopEnd, "open loop")
      // the traced numbers cover the steady phase only, not the bursts
      counters.enabled = false
      Trace.on = false
      // catch-up bursts: each, once the stream is idle, a fixed backlog added at once
      (0 until Bursts).foreach { b =>
        val from = loopEnd + b * burstN
        awaitCommitted(from, "open loop")
        addChunk(from, from + burstN)
      }
      awaitCommitted(total, "catch-up bursts")
    } finally {
      server.stop()
      query.stop()
      spark.streams.removeListener(listener)
      counters.enabled = false
      Trace.on = false
    }

    // --- correctness ---
    // the open loop kept up: what is pending right after a commit stays
    // level through the steady phase; past saturation each batch is larger
    // than the last, so the backlog of the last third of the batches
    // outgrows the first third's
    val cs = commits.asScala.toVector.sortBy(_.endOffset)
    val steady = cs.filter(c => c.startMs >= loopStartMs + WarmLoopMs && chunkEnd(c.endOffset.toInt) <= loopEnd)
    val pending = steady.filter(_.commitMs < loopEndMs).map(_.pendingAfter.toDouble)
    val third = math.max(1, pending.size / 3)
    val (early, late) = (Stats.median(pending.take(third)), Stats.median(pending.takeRight(third)))
    val backlogOk = pending.size >= 3 && late <= 1.25 * early + rate * TriggerMs / 1000.0
    if (!backlogOk)
      r.fail(f"the backlog grew in the steady phase: $early%.0f pending after the first batches, $late%.0f after the last")
    // each live read is one op; an error, a stale read or an over-count fails it
    val liveReads = reads.asScala.toVector
    liveReads.foreach { lr =>
      r.check(lr.code == 200 && liveReadOk(lr, key, hour),
        s"live read ${lr.code} ${lr.req.path} (committed ${lr.committedAtSend}, added ${lr.addedAtRecv}) -> ${lr.body.take(200)}")
    }
    // after the drain the serving table equals the oracle, cell for cell
    val served = StreamingPipeline.servingView(spark, table)
      .select(col("key"), col("window_start"), col("count"), col("sum")).collect()
      .map(x => (x.getString(0), x.getTimestamp(1).getTime) -> (x.getLong(2), x.getDouble(3))).toMap
    val want = oracle.cells
    val wrong = want.filter { case (k, (c, s)) =>
      !served.get(k).exists { case (gc, gs) => gc == c && Oracle.close(gs, s / 100.0) }
    }.keys ++ served.keys.filterNot(want.contains)
    // the drained table is one op: it fails if any cell is wrong
    r.check(wrong.isEmpty,
      s"${wrong.size} of ${want.size} cells differ from the oracle, e.g. " +
        wrong.take(3).map(k => s"$k: served ${served.get(k)}, expected ${want.get(k)}").mkString("; "))

    // --- metrics ---
    val commitMsOfChunk = new Array[Long](chunkEnd.length)
    cs.foreach(c => ((c.startOffset + 1) to c.endOffset).foreach(j => commitMsOfChunk(j.toInt) = c.commitMs))
    val freshness = chunkEnd.indices.filter(j => j > 0 && chunkEnd(j) <= loopEnd).flatMap { j =>
      (math.max(chunkEnd(j - 1), measureFrom) until chunkEnd(j)).map { i =>
        val dueMs = loopStartMs + (i - warmN) * 1000.0 / rate
        commitMsOfChunk(j) - dueMs
      }
    }
    if (backlogOk) {
      r.put("op_p50_ms", Stats.median(freshness), "ms")
      r.put("streaming.freshness_p95_ms", Stats.p95(freshness), "ms")
    }
    // a burst's batch holds the burst alone: its records over its trigger time
    val bursts = (chunkEnd.length - Bursts until chunkEnd.length)
      .flatMap(j => cs.find(c => c.endOffset == j && c.startOffset == j - 1))
    r.put("ops_per_s", Stats.median(bursts.map(b => burstN / (b.dur("triggerExecution") / 1000.0))), "1/s")
    r.put("requests.history_p50_ms", Stats.median(liveReads.filter(_.req.kind == "history").map(_.ms)), "ms")
    r.put("requests.snapshot_p50_ms", Stats.median(liveReads.filter(_.req.kind == "snapshot").map(_.ms)), "ms")
    r.put("host.generator_late_ms_max", lateMax, "ms")
    r.put("streaming.backlog_rows_end", backlog.toDouble, "rows")
    if (ctx.trace) layers(ctx, r, table, steady, toggleMs, counters)
    Layers.finish(ctx, r)
    r
  }

  /**
   * The traced composition of the pipeline's public stages: the same
   * parse → validate → keyed → hourlyAgg as `StreamingPipeline.start`, and a
   * foreachBatch that, while tracing is on, persists and counts the batch
   * (the aggregate, from the start of the addBatch execution) before handing
   * it to `upsertBatch` (the upsert).
   */
  private def tracedStart(source: DataFrame, table: String, ckpt: String,
                          counters: SparkCounters): StreamingQuery = {
    val (valid, _) = StreamingPipeline.validate(StreamingPipeline.parseReadings(source))
    StreamingPipeline.hourlyAgg(StreamingPipeline.keyed(valid))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!Trace.on) StreamingPipeline.upsertBatch(batch, table)
        else Trace.op(id) {
          // addBatch runs as one SQL execution, and the sink plans the
          // micro-batch before it calls this function: the aggregate's span
          // starts where that execution started
          val exec = Option(batch.sparkSession.sparkContext.getLocalProperty("spark.sql.execution.id"))
          def since(t0: Long) = exec.flatMap(e => counters.executionStartNs(e.toLong)).fold(t0)(math.min(t0, _))
          val cached = Trace.spanFrom("streaming.aggregate", since) {
            val c = batch.persist()
            Trace.record("streaming.upsert_days", c.groupBy(col("window_day")).count().collect().length)
            c
          }
          try Trace.span("streaming.upsert")(StreamingPipeline.upsertBatch(cached, table))
          finally cached.unpersist()
        }
      }
      .start()
  }

  /** Live reads: counts over the live and late hours. History (one 4- or
    * 5-char prefix) and snapshot (the live or the late hour, bbox size band)
    * follow a fixed cycle; the seed draws the prefix and the bbox. */
  private def liveReq(net: SensorNet, r: java.util.SplittableRandom, turn: Int): TempReq = {
    val cls = turn / 2
    if (turn % 2 == 0)
      HistoryReq("count", Seq(net.geohash(r.nextInt(net.nSensors)).substring(0, 4 + cls % 2)),
        net.lateHour, net.t0 + SensorNet.HourMs - 1, None)
    else SnapshotReq("count", (if (cls % 2 == 0) net.t0 else net.lateHour) + 1,
      TempApi.bbox(net, r, (cls % 4 + r.nextDouble()) / 4))
  }

  /** A live count must lie between what was committed when the request was
    * sent and what had been added when the response arrived: a stale read
    * (below the committed count) or an over-count fails. */
  private def liveReadOk(lr: LiveRead, key: Array[String], hour: Array[Long]): Boolean = {
    def counts(n: Int, keep: Int => Boolean, group: Int => Any): Map[Any, Int] =
      (0 until n).filter(keep).groupBy(group).map { case (g, is) => g -> is.size }
    val rows = Json.dataRows(lr.body).map(x => (x(0) match {
      case b: BigDecimal => b.toLong: Any
      case s => s: Any
    }) -> Json.toDouble(x(1)).toLong).toMap
    val (keep, group): (Int => Boolean, Int => Any) = lr.req match {
      case h: HistoryReq => (i => h.prefixes.exists(key(i).startsWith) && hour(i) >= h.from && hour(i) <= h.to, hour(_))
      case s: SnapshotReq =>
        val cover = s.cover
        (i => hour(i) == s.hour && cover.exists(key(i).startsWith), key(_))
    }
    val lo = counts(lr.committedAtSend, keep, group)
    val hi = counts(lr.addedAtRecv, keep, group)
    rows.forall { case (g, c) => c >= lo.getOrElse(g, 0) && c <= hi.getOrElse(g, 0) } &&
      lo.keys.forall(rows.contains)
  }

  private def layers(ctx: Ctx, r: Report, table: String, all: Vector[Commit], toggleMs: Long,
                     counters: SparkCounters): Unit = {
    // the traced half of the steady phase: the batches freshness is made of
    val cs = all.filter(c => c.startMs >= toggleMs && c.p.numInputRows > 0)
    def p50(f: Commit => Double) = Stats.median(cs.map(f))
    r.put("streaming.batches", cs.size, "count")
    r.put("streaming.batch_input_rows_p50", p50(_.p.numInputRows.toDouble), "rows")
    r.put("streaming.trigger_ms_p50", p50(_.dur("triggerExecution")), "ms")
    r.put("streaming.trigger_ms_p95", Stats.quantile(cs.map(_.dur("triggerExecution").toDouble), 0.95), "ms")
    val phases = Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
      "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
      "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")
    phases.foreach { case (k, n) => r.put(s"streaming.${n}_ms_p50", p50(_.dur(k)), "ms") }
    val phaseShare = p50(c => phases.map(x => c.dur(x._1)).sum.toDouble / c.dur("triggerExecution"))
    r.put("streaming.phase_share_p50", phaseShare, "ratio")
    val spans = Trace.all.groupBy(s => (s.op, s.name))
    def spanMs(c: Commit, n: String) = spans.get((c.p.batchId, n)).map(_.map(_.ms).sum).getOrElse(0.0)
    r.put("streaming.aggregate_ms_p50", p50(spanMs(_, "streaming.aggregate")), "ms")
    r.put("streaming.upsert_ms_p50", p50(spanMs(_, "streaming.upsert")), "ms")
    val split = p50(c => (spanMs(c, "streaming.aggregate") + spanMs(c, "streaming.upsert")) / c.dur("addBatch"))
    r.put("streaming.add_batch_split_share_p50", split, "ratio")
    r.put("streaming.upsert_days_p50", Stats.median(Trace.recorded("streaming.upsert_days")), "count")
    r.put("streaming.upsert_rows_written_p50",
      p50(c => Option(counters.writtenPerBatch.get(c.p.batchId)).map(_.get.toDouble).getOrElse(0.0)), "rows")
    cs.lastOption.flatMap(_.p.stateOperators.headOption).foreach { s =>
      r.put("streaming.state_rows", s.numRowsTotal.toDouble, "rows")
      r.put("streaming.state_memory_bytes", s.memoryUsedBytes.toDouble, "bytes")
    }
    PerOp.metrics(Map.empty[String, Long].withDefaultValue(0L), counters.stream.snapshot, cs.size, r)
    val untraced = all.filter(c => c.startMs < toggleMs && c.p.numInputRows > 0 && c.endOffset > 0)
    r.put("tracing.overhead_share",
      p50(_.dur("triggerExecution")) / Stats.median(untraced.map(_.dur("triggerExecution").toDouble)) - 1, "ratio")
    // the two instrumentation checks: the phases cover the trigger, and the
    // traced aggregate + upsert cover addBatch, each within 10%
    if (math.abs(phaseShare - 1) > 0.1) r.fail(f"streaming phases cover $phaseShare%.3f of triggerExecution")
    if (math.abs(split - 1) > 0.1) r.fail(f"aggregate + upsert cover $split%.3f of addBatch")
    TempApi.sourceMetrics(ctx.spark, table, r)
  }
}
