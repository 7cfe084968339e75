package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Atomic SERVING-GENERATION pointer — the artifact-lifecycle primitive
 * every compaction family defers to "the deployment" ([[Dedup.compactBandIndex]],
 * [[graft.streaming.StreamingWinnow.compactFingerprints]],
 * [[TextAnalysis.compactLexicalIndex]], [[Similarity.maintainIvfPq]],
 * [[JoinPlanner.compactTableProfile]]): compaction writes a FRESH
 * generation and the serving pointer flips to it. Without an engine
 * mechanism the flip is a manual path swap — racy against readers and
 * lost on a crash. This object makes it a crash-atomic engine operation.
 * Within a generation, every artifact family — the lexical index, the
 * eight append-grown families (band, trigram, winnow, benchmark, bloom,
 * moments, sketch, entity), the table profile and the ANN indexes —
 * commits through [[SegmentStore]]: a generation dir is a store root,
 * and a compaction or a re-cluster into it is that store's first commit.
 *
 * Layout under one artifact ROOT:
 * {{{
 *   root/
 *     _ptr/ptr-00000007     # pointer files; content = a generation dir name
 *     gen-00000006/...      # a full artifact of any family
 *     gen-00000007/...
 * }}}
 *
 * COMMIT PROTOCOL: build the new generation completely under
 * `root/gen-N` (readers only follow the pointer), then publish pointer
 * `_ptr/ptr-S`, S = highest + 1, through [[SeqFiles.publish]] — the same
 * tmp→rename commit step as the serving table's manifest
 * ([[graft.streaming.StreamingPipeline.upsertBatch]]). Old pointers and
 * generations stay readable until [[pruneSuperseded]]; [[resolve]]
 * answers from the HIGHEST pointer. A crash before the rename keeps the
 * old generation serving; no reader can observe an intermediate state
 * (the GenerationsSpec crash test pins this).
 *
 * Single-writer contract (the same as every compaction in this repo):
 * one maintenance process advances a root at a time; concurrent READERS
 * are always safe.
 *
 * At 100 TB: pointer files are bytes, generations are the artifacts the
 * families already write; [[resolve]] is two driver-side filesystem
 * calls (one listing, one short read) — never a Spark job.
 */
object Generations {

  private val PtrDir = "_ptr"
  private val GenRe = "^gen-(\\d{8})$".r

  private def ptrPath(root: String) = new Path(root, PtrDir)

  /** The (sequence, name) entries `prefix-NNNNNNNN` of `dir`, ascending. */
  private def listSeqs(hfs: FileSystem, dir: Path, prefix: String): Seq[(Long, String)] =
    SeqFiles.numbered(SeqFiles.listAll(hfs, dir), prefix)
      .map { case (n, s) => (n, s.getPath.getName) }

  private def lastSeq(hfs: FileSystem, dir: Path, prefix: String): Long =
    listSeqs(hfs, dir, prefix).lastOption.fold(0L)(_._1)

  /** The committed current generation NAME (e.g. `gen-00000007`), or None
    * when nothing was ever published. Reads the HIGHEST-sequence pointer
    * file — `.tmp` staging files and any half-built generation dirs are
    * invisible by construction. */
  def current(spark: SparkSession, root: String): Option[String] =
    readCurrent(SeqFiles.fs(spark, root), root)

  private def readCurrent(hfs: FileSystem, root: String): Option[String] =
    listSeqs(hfs, ptrPath(root), "ptr").lastOption.map { case (_, name) =>
      val gen = SeqFiles.read(hfs, new Path(ptrPath(root), name)).headOption.getOrElse("")
      require(gen.nonEmpty, s"Generations: pointer $name at $root is empty — " +
        "the pointer dir was tampered with; republish")
      gen
    }

  /** The full path of the generation currently SERVING — what every
    * load/serve call takes in place of a raw artifact path
    * (`Dedup.loadBandIndex(s, Generations.resolve(s, root))` and its
    * siblings). Fails loudly when nothing was published, or when the
    * pointed-to generation dir was deleted out from under the pointer. */
  def resolve(spark: SparkSession, root: String): String =
    resolveIfPublished(spark, root).getOrElse(throw new IllegalStateException(
      s"Generations: no generation published at $root — " +
        "advance() (or publish()) one before serving"))

  /** The serve-path entry point for a path that MAY be a generations root:
    * `Some(servingGenerationPath)` when a pointer is published, `None` for
    * a raw artifact path (serve it as-is). One pointer-dir listing, one
    * short read and one existence check — what the Plan/Retrieval servers
    * and the streamed scorers call per request / per micro-batch. Fails
    * loudly on a DANGLING pointer (its generation dir is gone). */
  def resolveIfPublished(spark: SparkSession, root: String): Option[String] = {
    val hfs = SeqFiles.fs(spark, root)
    readCurrent(hfs, root).map { gen =>
      val p = new Path(root, gen)
      if (!hfs.exists(p))
        throw new IllegalStateException(
          s"Generations: pointer at $root names $gen but the directory is " +
            "gone — a prune deleted the serving generation; republish")
      p.toString
    }
  }

  /** Allocate the next unused generation name (`gen-%08d`, one above the
    * highest existing dir OR pointer sequence — a crash-orphaned dir must
    * not be re-allocated while a pointer could still flip to it). */
  def nextGenerationName(spark: SparkSession, root: String): String = {
    val hfs = SeqFiles.fs(spark, root)
    SeqFiles.name("gen",
      math.max(lastSeq(hfs, new Path(root), "gen"), lastSeq(hfs, ptrPath(root), "ptr")) + 1)
  }

  /** COMMIT an already-built generation dir (it must exist under `root`)
    * as the serving one: publish pointer `ptr-S`, S monotone. */
  def publish(spark: SparkSession, root: String, generation: String): Unit = {
    require(GenRe.matches(generation),
      s"Generations: publish expects a gen-XXXXXXXX name, got '$generation'")
    val hfs = SeqFiles.fs(spark, root)
    require(hfs.exists(new Path(root, generation)),
      s"Generations: cannot publish $generation at $root — the directory " +
        "does not exist; build it first")
    val seq = lastSeq(hfs, ptrPath(root), "ptr") + 1
    SeqFiles.publish(hfs, ptrPath(root), "ptr", seq, Seq(generation))
  }

  /**
   * Build-and-flip in one call — the maintenance verb every family's
   * compaction composes with: allocates the next generation dir, runs
   * `build` against its path (e.g. `dst => Dedup.compactBandIndex(s,
   * resolve(s, root), dst)`), then [[publish]]es it. Returns the new
   * generation's full path (already serving). A crash inside `build`
   * leaves the pointer untouched on the old generation.
   */
  def advance(spark: SparkSession, root: String)(build: String => Unit): String = {
    val gen = nextGenerationName(spark, root)
    val path = new Path(root, gen).toString
    build(path)
    publish(spark, root, gen)
    path
  }

  /**
   * A per-generation ARTIFACT MEMO — the serve-path discipline every
   * generation-aware reader shares (REST servers per request, streamed
   * scorers per micro-batch): resolve the serving generation
   * ([[resolveIfPublished]]) and rebuild the driver-held artifact exactly
   * when the resolved path changes. [[GenerationMemo.current]] returns
   * `(resolvedPath, artifact)` from ONE resolution, so a caller never mixes
   * two generations within an epoch. One volatile pair, no lock: two
   * concurrent threads may load the same generation once each, and no
   * caller serves a generation older than the one it resolved.
   * Construction WARMS the memo, so an unreadable initial generation
   * fails the deployment at construction, not in epoch 0.
   */
  final class GenerationMemo[A] private[Generations] (
      spark: SparkSession, root: String, load: String => A) {
    @volatile private var memo: (String, A) = _
    def current(): (String, A) = {
      val p = resolveIfPublished(spark, root).getOrElse(root)
      val m = memo
      if (m != null && m._1 == p) (p, m._2)
      else { val a = load(p); memo = (p, a); (p, a) }
    }
    def artifact(): A = current()._2
    current()
  }

  /** Build (and warm) a [[GenerationMemo]] over `root`. */
  def artifactMemo[A](spark: SparkSession, root: String)
                     (load: String => A): GenerationMemo[A] =
    new GenerationMemo(spark, root, load)

  /** Bounded-storage observables for gates/monitors: committed
    * generation-dir count and committed pointer-file count under `root`
    * — so callers assert retention without re-stating the `gen-`/`ptr-`
    * layout literals this object owns. */
  private[graft] def storageCounts(spark: SparkSession,
                                   root: String): (Int, Int) = {
    val hfs = SeqFiles.fs(spark, root)
    (listSeqs(hfs, new Path(root), "gen").size,
      listSeqs(hfs, ptrPath(root), "ptr").size)
  }

  /**
   * Retention sweep: delete every generation dir EXCEPT the serving one
   * and every pointer file below the highest — the bounded-storage half
   * of the lifecycle ([[graft.streaming.StreamingPipeline.retainFrom]]'s
   * role for day partitions). Also sweeps crash-orphaned half-built
   * generation dirs and stale `.tmp` pointer stages. Idempotent and
   * crash-safe by deletion convergence (no intent marker needed); the
   * serving generation is re-resolved first, so a sweep can never delete
   * what the pointer names. Returns the removed generation names. Run
   * out-of-band, only once no reader still holds the old generation's
   * file handles (the deployment's grace-period concern).
   */
  def pruneSuperseded(spark: SparkSession, root: String): Seq[String] = {
    val hfs = SeqFiles.fs(spark, root)
    val cur = current(spark, root).getOrElse(throw new IllegalStateException(
      s"Generations: nothing published at $root — nothing to prune against"))
    val gens = listSeqs(hfs, new Path(root), "gen").map(_._2).filter(_ != cur)
    gens.foreach(g => hfs.delete(new Path(root, g), true))
    listSeqs(hfs, ptrPath(root), "ptr").dropRight(1)
      .foreach { case (_, name) => hfs.delete(new Path(ptrPath(root), name), false) }
    SeqFiles.stages(SeqFiles.listAll(hfs, ptrPath(root))).foreach(hfs.delete(_, false))
    gens
  }
}
