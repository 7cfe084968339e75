package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SegmentStore

/**
 * Streaming entity resolution: fuzzy-match incoming (id, name) records
 * against a STORED name dictionary — the serving path of
 * [[graft.operators.EntityResolution]] (new vendor/customer/source
 * records flagged against the master list at ingest, the
 * StreamingPhashDedup deployment shape).
 *
 * Stateless by construction: the dictionary index is a static frame
 * (built once per corpus epoch via
 * [[graft.operators.EntityResolution.blockedDictionary]], cached by the
 * caller), and each micro-batch runs two stream-static EQUI-joins — the
 * prefix-key space and the suffix-key space — so there is no streaming
 * state store, no watermark, and exactly-once emission per
 * (record, dictionary name) pair. A candidate caught by BOTH keys is
 * emitted once by arithmetic, not by a stateful distinct: the suffix
 * join excludes pairs whose prefix keys already agree (the
 * StreamingWinnow minimum-shared-fingerprint idiom).
 *
 * Scale shape: per batch O(|batch| + matches) after the equi-joins; the
 * dictionary side is |V|·2 rows (vocab-bounded) and broadcast-eligible.
 */
object StreamingEntity {

  /**
   * Persist a blocked name dictionary as the on-disk master-list
   * artifact: (nm, cnt, rep, bk, space) rows — the UNCAPPED
   * [[graft.operators.EntityResolution.spaceBlocked]] output —
   * range-partitioned and sorted by (space, bk), so a flag join's probe
   * prunes row groups via parquet min/max stats on the block key. |V|·2
   * rows regardless of corpus size; corpus text/ids are never needed
   * again at flag time.
   */
  def saveDictionary(blockedRows: DataFrame, path: String): Unit =
    SegmentStore.write(dictLayout(blockedRows), path, replace = true)

  /** Append an ingest batch's blocked dictionary rows as a
    * [[SegmentStore]] append commit with the same per-file sort (the BM25
    * segment-append discipline — no rewrite of existing files). A name
    * present in both the stored set and an append yields duplicate rows
    * on disk; [[loadDictionary]]
    * merges them (sum counts, min rep) and applies the block cap over
    * the WHOLE merged set, so appends compose exactly as a rebuild. */
  def appendDictionary(blockedRows: DataFrame, path: String): Unit =
    SegmentStore.write(dictLayout(blockedRows), path, replace = false)

  private def dictLayout(rows: DataFrame): DataFrame =
    rows.select(col("nm"), col("cnt"), col("rep"), col("bk"), col("space"))
      .repartitionByRange(col("space"), col("bk"))
      .sortWithinPartitions(col("space"), col("bk"), col("nm"))

  /** Duplicate (nm, bk, space) rows merged: counts are additive, the
    * representative is the minimum id — the same aggregation a
    * from-scratch [[graft.operators.EntityResolution.nameDictionary]]
    * build performs. */
  private def merged(rows: DataFrame): DataFrame =
    rows.groupBy(col("nm"), col("bk"), col("space"))
      .agg(sum(col("cnt")).as("cnt"), min(col("rep")).as("rep"))
      .select(col("nm"), col("cnt"), col("rep"), col("bk"), col("space"))

  /**
   * Load a stored dictionary back into the [[flagAgainstIndex]] index
   * shape: [[merged]] across base + appends, then the whole-block cap.
   * `localCheckpoint`ed: in a stream-static join the static subplan
   * re-executes per micro-batch, so without severing it each batch would
   * re-pay the merge aggregation.
   */
  def loadDictionary(spark: org.apache.spark.sql.SparkSession,
                     path: String, maxBlockSize: Int = 1000): DataFrame =
    graft.operators.EntityResolution.capBlocks(
        merged(SegmentStore.load(spark, path, "dictionary")), maxBlockSize)
      .select(col("nm"), col("cnt"), col("rep"), col("bk"), col("space"))
      .localCheckpoint()

  /**
   * Compact a dictionary artifact in place: fold the base
   * [[saveDictionary]] plus its [[appendDictionary]] commits into ONE
   * merged commit —
   * the fold IS the duplicate-(nm, bk, space) merge [[loadDictionary]]
   * performs (counts sum, representative = minimum id), written back
   * UNCAPPED with the standard (space, bk) range layout, so the artifact
   * stays |V|·2 rows forever after no matter how many ingest batches were
   * appended. The whole-block cap still applies at load time over the
   * merged set, so an index built after the fold equals one built from
   * the pile by construction. Audited on the merged row set by
   * [[SegmentStore.compact]].
   */
  def compactDictionary(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    SegmentStore.compact(spark, path, "dictionary", Nil, merged)(
      pile => dictLayout(merged(pile)))

  /**
   * Flag a stream of (idCol, nameCol) rows against a blocked dictionary
   * index (columns nm/cnt/rep/bk/space from `blockedDictionary` with the
   * same `blockLen`). Emits (id, nm_in, match_nm, dist, rep) for every
   * dictionary name within `maxDist` edits of the normalized incoming
   * name — dist 0 is an exact hit, so the flagger doubles as the
   * known-entity lookup.
   */
  def flagAgainstIndex(stream: DataFrame, idx: DataFrame,
                       maxDist: Int = 3, blockLen: Int = 3,
                       idCol: String = "id",
                       nameCol: String = "name"): DataFrame = {
    require(maxDist >= 0,
      s"flagAgainstIndex: maxDist must be >= 0, got $maxDist")
    val q = stream.select(col(idCol).cast("long").as("id"),
        regexp_replace(trim(lower(col(nameCol))), "\\s+", " ").as("nm_in"))
      .filter(col("nm_in") =!= "")
      .withColumn("pk", substring(col("nm_in"), 1, blockLen))
      .withColumn("sk", substring(col("nm_in"), -blockLen, blockLen))
    val dict = idx.select(col("bk"), col("space"),
      col("nm").as("match_nm"), col("rep"))
    val j1 = q.join(dict.filter(col("space") === "p"),
      col("pk") === col("bk"))
    // prefix-mismatch filter = the arithmetic dedup: anything the prefix
    // join already emitted is excluded here
    val j2 = q.join(dict.filter(col("space") === "s"),
        col("sk") === col("bk"))
      .filter(substring(col("nm_in"), 1, blockLen)
        =!= substring(col("match_nm"), 1, blockLen))
    j1.unionByName(j2)
      .withColumn("dist", levenshtein(col("nm_in"), col("match_nm")))
      .filter(col("dist") <= maxDist)
      .select(col("id"), col("nm_in"), col("match_nm"), col("dist"),
        col("rep"))
  }
}
