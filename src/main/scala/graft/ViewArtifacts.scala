package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.AggCore
import graft.sources.Tables
import graft.streaming.StreamingPipeline

/**
 * Per-JVM cache of the key-sorted serving-table artifact — the
 * serve-vs-build split ([[AnnArtifacts]] / [[PcaArtifacts]] discipline)
 * applied to the view store: a deployment compacts once per maintenance
 * window and serves many reads, so the gated read-path entry
 * (`view_keyed_history`) times the PRUNED READ against a store that
 * already exists. The build/upsert/compact cost stays visible in
 * `view_retention`, which rebuilds its store honestly every run.
 */
private[graft] object ViewArtifacts {
  private lazy val root: String =
    Files.createTempDirectory("graft_view_artifacts").toString

  private val keyedMemo = scala.collection.mutable.Map[String, String]()

  /** The hourly serving table for `dir`, upserted once and key-sorted
    * compacted (filesPerDay = 2) — built on first touch, reused after. */
  def keyedStoreDir(s: SparkSession, dir: String): String = synchronized {
    keyedMemo.getOrElseUpdate(dir, {
      val p = s"$root/${DirKeys.key(dir)}_keyed"
      StreamingPipeline.upsertBatch(
        AggCore.hourlyView(Tables.readings(s, dir))
          .withColumn("window_day", to_date(col("window_start"))), p)
      StreamingPipeline.compact(s, p, filesPerDay = 2)
      p
    })
  }
}
