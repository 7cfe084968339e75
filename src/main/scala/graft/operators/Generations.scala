package graft.operators

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
 *
 * Layout under one artifact ROOT:
 * {{{
 *   root/
 *     _ptr/ptr-00000007     # pointer files; content = a generation dir name
 *     gen-00000006/...      # a full artifact of any family
 *     gen-00000007/...
 * }}}
 *
 * COMMIT PROTOCOL (monotone pointer sequence — stronger than the
 * delete-then-rename marker swap of
 * [[graft.streaming.StreamingPipeline.upsertBatch]], because a serving
 * pointer must NEVER be absent mid-flip):
 *   1. build the new generation completely under `root/gen-N` (readers
 *      only ever follow the pointer, so a half-built dir is invisible);
 *   2. write `_ptr/.ptr-S.tmp`, then RENAME it to `_ptr/ptr-S` where
 *      `S` = highest existing sequence + 1 — the rename is the commit
 *      point (atomic on HDFS/local, and it never replaces a file);
 *   3. old pointer files and superseded generations stay on disk until
 *      [[pruneSuperseded]] — the old generation remains readable
 *      throughout, and [[resolve]] always answers from the HIGHEST
 *      committed pointer.
 * A crash anywhere before (2) leaves the pointer on the old generation
 * (the half-built gen dir is swept by the next [[pruneSuperseded]]); a
 * crash after (2) has already flipped. There is no intermediate state a
 * reader can observe — the GenerationsSpec crash test pins exactly this.
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
  private val PtrRe = "^ptr-(\\d{8})$".r
  private val GenRe = "^gen-(\\d{8})$".r

  private def fs(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def ptrPath(root: String) = new org.apache.hadoop.fs.Path(root, PtrDir)

  private def listSeqs(hfs: org.apache.hadoop.fs.FileSystem,
                       dir: org.apache.hadoop.fs.Path,
                       re: scala.util.matching.Regex): Seq[(Long, String)] =
    // one round-trip: a missing dir surfaces as FileNotFoundException from
    // the listing itself — probing exists() first would double the FS calls
    // on every serve-path resolution
    try hfs.listStatus(dir).toIndexedSeq.map(_.getPath.getName).collect {
      case n @ re(d) => (d.toLong, n)
    }.sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The committed current generation NAME (e.g. `gen-00000007`), or None
    * when nothing was ever published. Reads the HIGHEST-sequence pointer
    * file — `.tmp` staging files and any half-built generation dirs are
    * invisible by construction. */
  def current(spark: SparkSession, root: String): Option[String] =
    readCurrent(fs(spark, root), root)

  private def readCurrent(hfs: org.apache.hadoop.fs.FileSystem,
                          root: String): Option[String] =
    listSeqs(hfs, ptrPath(root), PtrRe).lastOption.map { case (_, name) =>
      val in = hfs.open(new org.apache.hadoop.fs.Path(ptrPath(root), name))
      val gen =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .find(_.nonEmpty).getOrElse("")
        finally in.close()
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
    * `Some(servingGenerationPath)` when a pointer is published, `None` when
    * the path was never published under (a raw artifact path — serve it
    * as-is). One pointer-dir listing + one short read + one existence
    * check for the published case, a single listing for the raw case —
    * cheaper per request than `current()` + `resolve()` (which re-reads
    * the pointer), and what [[graft.serving.PlanServer]] /
    * [[graft.serving.RetrievalServer]] and the generation-aware streamed
    * scorers call per request / per micro-batch. Still fails loudly on a
    * DANGLING pointer (file names a generation whose dir is gone): that is
    * a broken root, not a raw path. */
  def resolveIfPublished(spark: SparkSession, root: String): Option[String] = {
    val hfs = fs(spark, root)
    readCurrent(hfs, root).map { gen =>
      val p = new org.apache.hadoop.fs.Path(root, gen)
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
    val hfs = fs(spark, root)
    val genMax = listSeqs(hfs, new org.apache.hadoop.fs.Path(root), GenRe)
      .lastOption.map(_._1).getOrElse(0L)
    val ptrMax = listSeqs(hfs, ptrPath(root), PtrRe)
      .lastOption.map(_._1).getOrElse(0L)
    f"gen-${math.max(genMax, ptrMax) + 1}%08d"
  }

  /** COMMIT an already-built generation dir as the serving one: stage the
    * pointer content to `.ptr-S.tmp`, rename to `ptr-S` (the atomic commit
    * point, S monotone). The generation must exist under `root`. */
  def publish(spark: SparkSession, root: String, generation: String): Unit = {
    require(GenRe.matches(generation),
      s"Generations: publish expects a gen-XXXXXXXX name, got '$generation'")
    val hfs = fs(spark, root)
    require(hfs.exists(new org.apache.hadoop.fs.Path(root, generation)),
      s"Generations: cannot publish $generation at $root — the directory " +
        "does not exist; build it first")
    val seq = listSeqs(hfs, ptrPath(root), PtrRe).lastOption.map(_._1).getOrElse(0L) + 1
    hfs.mkdirs(ptrPath(root))
    val tmp = new org.apache.hadoop.fs.Path(ptrPath(root), f".ptr-$seq%08d.tmp")
    val out = hfs.create(tmp, true)
    try out.write((generation + "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(ptrPath(root), f"ptr-$seq%08d")
    if (!hfs.rename(tmp, dst))
      throw new java.io.IOException(
        s"Generations: committing $dst failed — concurrent publisher? " +
          "(single-writer contract)")
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
    val path = new org.apache.hadoop.fs.Path(root, gen).toString
    build(path)
    publish(spark, root, gen)
    path
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
  /**
   * A per-generation ARTIFACT MEMO — the serve-path discipline every
   * generation-aware reader shares (REST servers per request, streamed
   * scorers per micro-batch): resolve the serving generation
   * ([[resolveIfPublished]]; a pointer-less root serves as-is) and
   * rebuild the driver-held artifact exactly when the resolved path
   * changes. [[GenerationMemo.current]] returns `(resolvedPath,
   * artifact)` from ONE resolution, so a caller that also reads tables
   * by path can never mix two generations within an epoch. A single
   * volatile pair is the whole state, with no lock: the REST servers call
   * it from concurrent request threads, where the worst case is two
   * threads loading the same generation at once (one load is wasted);
   * a caller never serves a generation older than the one it resolved.
   * Construction WARMS the memo — an unpublished root or unreadable
   * initial generation fails the deployment at construction, not in
   * epoch 0 (the fail-fast contract all four call sites had hand-rolled
   * before this helper).
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
    val hfs = fs(spark, root)
    (listSeqs(hfs, new org.apache.hadoop.fs.Path(root), GenRe).size,
      listSeqs(hfs, ptrPath(root), PtrRe).size)
  }

  def pruneSuperseded(spark: SparkSession, root: String): Seq[String] = {
    val hfs = fs(spark, root)
    val cur = current(spark, root).getOrElse(throw new IllegalStateException(
      s"Generations: nothing published at $root — nothing to prune against"))
    val gens = listSeqs(hfs, new org.apache.hadoop.fs.Path(root), GenRe)
      .map(_._2).filter(_ != cur)
    gens.foreach { g =>
      hfs.delete(new org.apache.hadoop.fs.Path(root, g), true)
    }
    val ptrs = listSeqs(hfs, ptrPath(root), PtrRe)
    ptrs.dropRight(1).foreach { case (_, name) =>
      hfs.delete(new org.apache.hadoop.fs.Path(ptrPath(root), name), false)
    }
    if (hfs.exists(ptrPath(root)))
      hfs.listStatus(ptrPath(root)).map(_.getPath)
        .filter(_.getName.endsWith(".tmp"))
        .foreach(p => hfs.delete(p, false))
    gens
  }
}
