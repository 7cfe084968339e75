package graft

import org.apache.spark.sql.functions._

import graft.operators.EntityResolution
import graft.streaming.StreamingEntity

/** Streaming entity-resolution flagging: two-micro-batch flow against a
  * stored blocked dictionary, exactly-once emission for pairs caught by
  * both blocking keys, zero state-store rows, exact-hit lookups. */
class StreamingEntitySpec extends SparkSpec {
  import spark.implicits._

  private val dictRows = Seq(
    (1L, "cold anvil"), (2L, "old anvil"), (3L, "warm plate"),
    (4L, "zzz unrelated"))

  private def index = EntityResolution.blockedDictionary(
    dictRows.toDF("id", "name"), "id", "name")

  private def run(batches: Seq[Seq[(Long, String)]]): Array[(Long, String, String, Int, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = StreamingEntity.flagAgainstIndex(
      mem.toDF().toDF("id", "name"), index)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("entity_flag_out").start()
    batches.foreach { b => mem.addData(b.toIndexedSeq); q.processAllAvailable() }
    assert(q.recentProgress.flatMap(_.stateOperators).forall(_.numRowsTotal == 0))
    q.stop()
    val got = spark.table("entity_flag_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3),
        r.getLong(4)))
    spark.catalog.dropTempView("entity_flag_out")
    got
  }

  test("two epochs: prefix hits, suffix hits, exact lookups, no state") {
    val got = run(Seq(
      Seq((10L, "  Cold   Anvil ")),        // exact hit after normalization
      Seq((11L, "bold anvil"),              // suffix block only (dist 1/2)
          (12L, "qqq nothing here"))))      // no match
    val byId = got.groupBy(_._1)
    // sorted seq, not set: a double emission must fail the comparison
    assert(byId(10L).map(t => (t._3, t._4)).sorted.toSeq ===
      Seq(("cold anvil", 0), ("old anvil", 1)))
    assert(byId(11L).map(t => (t._3, t._4)).sorted.toSeq ===
      Seq(("cold anvil", 1), ("old anvil", 1)))
    assert(!byId.contains(12L))
  }

  test("pair caught by BOTH keys emits exactly once") {
    // exact hit: prefix "war" AND suffix "ate" both block against
    // "warm plate" — the prefix-mismatch filter must drop the suffix copy
    val got = run(Seq(Seq((20L, "warm plate"))))
    assert(got.count(t => t._3 == "warm plate") === 1)
    assert(got.find(t => t._3 == "warm plate").get._4 === 0)
  }

  test("persisted dictionary epochs: save, delta-append, reload, flag") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ent_spec").toString
    try {
      // epoch 1: base dictionary only
      StreamingEntity.saveDictionary(
        EntityResolution.spaceBlocked(dictRows.toDF("id", "name"), "id", "name"),
        tmp)
      def flagEpoch(idx: org.apache.spark.sql.DataFrame, qname: String) = {
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val q = StreamingEntity.flagAgainstIndex(
            mem.toDF().toDF("id", "name"), idx)
          .writeStream.outputMode("append").format("memory")
          .queryName(qname).start()
        mem.addData(Seq((30L, "qold anvil"))); q.processAllAvailable()
        q.stop()
        val got = spark.table(qname).collect()
          .map(r => (r.getString(2), r.getInt(3), r.getLong(4))).sorted.toSeq
        spark.catalog.dropTempView(qname)
        got
      }
      val e1 = flagEpoch(StreamingEntity.loadDictionary(spark, tmp), "ent_e1")
      // suffix-space hits on the base names only
      assert(e1 === Seq(("cold anvil", 1, 1L), ("old anvil", 1, 2L)))
      // epoch 2: the ingest batch adds "qold anvil" itself (rep 100) and a
      // duplicate "old anvil" row (rep 200) — reload must surface the new
      // name at dist 0 and keep the MIN rep for the duplicate
      StreamingEntity.appendDictionary(
        EntityResolution.spaceBlocked(
          Seq((100L, "qold anvil"), (200L, "old anvil")).toDF("id", "name"),
          "id", "name"),
        tmp)
      val e2 = flagEpoch(StreamingEntity.loadDictionary(spark, tmp), "ent_e2")
      assert(e2 === Seq(("cold anvil", 1, 1L), ("old anvil", 1, 2L),
        ("qold anvil", 0, 100L)))
      // COMPACTION: fold the base + delta pile into one merged commit in
      // place — flagging through an index built from it must be
      // row-identical (duplicate (nm, bk, space) rows merged with summed
      // counts and the MIN rep, exactly what loadDictionary does to the pile)
      StreamingEntity.compactDictionary(spark, tmp)
      val e3 = flagEpoch(StreamingEntity.loadDictionary(spark, tmp), "ent_e3")
      assert(e3 === e2, "compacted dictionary diverged from the pile")
      // merged on disk: the duplicate name collapses to one row per space
      val dupRows = graft.operators.SegmentStore.load(spark, tmp, "dictionary")
        .filter(col("nm") === "old anvil").collect()
      assert(dupRows.length === 2) // one per block space
      assert(dupRows.forall(_.getAs[Long]("rep") === 2L),
        "merge must keep the minimum representative")
      intercept[IllegalStateException] {
        StreamingEntity.compactDictionary(spark, s"$tmp-none")
      }
    } finally Gates.deleteTree(tmp)
  }
}
