package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{call_function, coalesce, col, count, lit, xxhash64}
import org.apache.spark.sql.graftshim.GraftPlanBridge
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * A partitioned parquet table that is never overwritten in place: the
 * commit step of every persisted artifact family.
 * Its clients are the serving table ([[graft.streaming.StreamingPipeline]])
 * and, through [[write]], [[load]] and [[compact]], the lexical index
 * ([[TextAnalysis.saveLexicalIndex]]), the band index
 * ([[Dedup.saveBandIndex]]), the trigram index
 * ([[Retrieval.saveTrigramIndex]]), winnow fingerprints
 * ([[graft.streaming.StreamingWinnow.saveFingerprints]]), the entity
 * dictionary ([[graft.streaming.StreamingEntity.saveDictionary]]), bloom
 * words ([[Bloom.saveWords]]), PCA moments ([[Pca.saveMoments]]), the HLL
 * sketch table ([[Sketches.saveSketchTable]]), the benchmark index
 * ([[TextAnalysis.saveBenchmarkIndex]]), the join planner's table
 * profile ([[JoinPlanner.saveTableProfile]]), the ANN indexes
 * ([[Similarity.saveIvfPq]], [[Similarity.saveIvfIndex]],
 * [[Quantization.savePq]], [[Quantization.saveQuantized]]), the BPE
 * and quality models ([[Bpe.saveBpeModel]], [[Learn.saveModel]]) and the
 * perceptual-hash table ([[graft.streaming.StreamingPhashDedup]]). A store
 * root is the whole artifact: a save, an append and a compaction are each
 * one commit of it, and there is no second version layer above it.
 *
 * Commit S writes new files under `root/c-S/`, one directory level per
 * partition column as `partitionBy` writes them
 * (`c-S/window_day=D/part-*.parquet`, `c-S/component=C/bucket=B/…`), and
 * publishes `root/_manifest/m-S` ([[SeqFiles.publish]]); that rename is
 * the only commit point. A reader resolves the newest manifest and reads
 * exactly the files it names, so it sees a whole commit or none of it,
 * and a later commit does not change what it reads.
 *
 * Manifest lines, tab-separated, paths relative to `root`:
 * {{{
 *   F  v1 … vk  bytes  path    a live file: its k partition values (as
 *                              its directory names spell them), its length
 *   R  path                    a dir the commit retired: a partition dir
 *                              left with no live file, or a whole `c-N`
 *   S  k  json                 the table's schema (Spark's JSON form):
 *                              the data columns, then the k partition
 *                              columns; written by [[write]], carried by
 *                              every later commit
 *   T  c-N  tag                the tag commit N was made under, kept while
 *                              a file of `c-N` is live
 * }}}
 * A manifest without an `S` line (the serving table's) is read with the
 * schema its client passes to [[frame]].
 * A tagged commit whose tag the newest manifest already names publishes
 * nothing: a replayed micro-batch or slice is a no-op, found in the
 * manifest the commit reads anyway. A save drops the tags with the files.
 * Retired dirs stay on disk for [[RetiredGraceMs]] after the commit that
 * retired them, then [[recover]] deletes them. One writer per store.
 */
private[graft] object SegmentStore {

  /** A live file: path relative to the root, partition values, bytes. */
  final case class Entry(path: String, values: Seq[String], bytes: Long)

  /** A published commit. `mtime` is the manifest file's modification time:
    * with `seq` it tells two stores apart that reused one path. `schema`
    * is the (data, partition) schema of its `S` line. */
  final case class Manifest(seq: Long, mtime: Long, live: Seq[Entry], retired: Seq[String],
                            schema: Option[(StructType, StructType)], tags: Map[String, String])

  /** How long the files a commit retired stay on disk after it: a reader
    * resolved just before the commit still reads them. A serving request
    * takes about a quarter second at the median (perfbench `serve`, three
    * clients) and seconds in its tail; ten minutes is over two thousand
    * medians, and holds at most 60 commits of superseded day files at the
    * reference's 10 s trigger. */
  private val RetiredGraceMs = 10 * 60 * 1000L

  private def manifestDir(root: String) = new Path(root, "_manifest")

  private def parse(hfs: FileSystem, seq: Long, file: FileStatus): Manifest = {
    val rows = SeqFiles.read(hfs, file.getPath).map(_.split('\t').toSeq)
    Manifest(seq, file.getModificationTime,
      rows.collect { case "F" +: rest if rest.length >= 2 =>
        Entry(rest.last, rest.dropRight(2), rest(rest.length - 2).toLong)
      },
      rows.collect { case Seq("R", rel) => rel },
      rows.collectFirst { case Seq("S", k, json) =>
        val all = DataType.fromJson(json).asInstanceOf[StructType]
        (StructType(all.dropRight(k.toInt)), StructType(all.takeRight(k.toInt)))
      },
      rows.collect { case Seq("T", commit, tag) => commit -> tag }.toMap)
  }

  private def newest(hfs: FileSystem, root: String): Option[(Long, FileStatus)] =
    SeqFiles.numbered(SeqFiles.listAll(hfs, manifestDir(root)), "m").lastOption

  /** The newest manifest: one listing of `_manifest` and one read. */
  def latest(hfs: FileSystem, root: String): Option[Manifest] =
    newest(hfs, root).map { case (seq, st) => parse(hfs, seq, st) }

  /** A frame over exactly the files of `entries`, with a fixed schema. No
    * filesystem call, no Spark job. */
  def frame(spark: SparkSession, root: String, entries: Seq[Entry],
            dataSchema: StructType, partitionSchema: StructType): DataFrame = {
    val qualified = SeqFiles.fs(spark, root).makeQualified(new Path(root))
    GraftPlanBridge.listedTable(spark, qualified.toString,
      entries.map(e => (new Path(qualified, e.path).toString, e.values, e.bytes)),
      dataSchema, partitionSchema)
  }

  /** The newest commit of the store at `root` as a frame over exactly its
    * files, in the schema [[write]] recorded; None when nothing was
    * committed. One listing of `_manifest`, one read, no Spark job. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    latest(SeqFiles.fs(spark, root), root).map(m => pinned(spark, root, m))

  /** [[read]], failing loudly when nothing was committed. */
  def load(spark: SparkSession, root: String, artifact: String): DataFrame =
    read(spark, root).getOrElse(
      throw new IllegalStateException(s"no $artifact at $root — save first"))

  private def pinned(spark: SparkSession, root: String, m: Manifest): DataFrame = {
    val (data, part) = m.schema.getOrElse(
      throw new IllegalStateException(s"the manifest of $root records no schema"))
    frame(spark, root, m.live, data, part)
  }

  /** The parquet files under `dir`, whose partition dirs are `names`. */
  private def written(hfs: FileSystem, dir: Path, rel: String, names: Seq[String],
                      values: Seq[String]): Seq[Entry] = names match {
    case Seq() =>
      SeqFiles.listAll(hfs, dir).filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => Entry(s"$rel/${f.getPath.getName}", values, f.getLen))
    case name +: rest =>
      SeqFiles.listAll(hfs, dir).map(_.getPath).filter(_.getName.startsWith(s"$name="))
        .flatMap(d => written(hfs, d, s"$rel/${d.getName}", rest,
          values :+ ExternalCatalogUtils.unescapePathName(d.getName.drop(name.length + 1))))
  }

  /** The commit of every writer verb: sweep ([[recover]]), read the newest
    * manifest, let `rewrite(live, commitDir)` write new files under
    * `commitDir` (partitioned by `partitionSchema`) and return the live
    * entries they supersede, then publish the next manifest: the live
    * entries minus those, plus the new files. Publishes nothing when
    * nothing was superseded or written, or when the newest manifest
    * already names `tag` (a replay: `rewrite` does not run). Returns the
    * superseded entries. */
  def commit(spark: SparkSession, root: String, partitionSchema: StructType, tag: String = "")
            (rewrite: (Seq[Entry], String) => Seq[Entry]): Seq[Entry] =
    commitWith(spark, root, partitionSchema, None, tag)(
      (cur, dir) => rewrite(cur.fold(Seq.empty[Entry])(_.live), dir))(_ => ()).getOrElse(Nil)

  /** [[commit]] with the manifest `rewrite` starts from, a `schema` for
    * the `S` line (else the current one is carried), and a `check` of the
    * new files that runs before the publish. With a schema it always
    * publishes. None when `tag` was already committed. */
  private def commitWith(spark: SparkSession, root: String, partitionSchema: StructType,
                         schema: Option[(StructType, StructType)], tag: String)
                        (rewrite: (Option[Manifest], String) => Seq[Entry])
                        (check: Seq[Entry] => Unit): Option[Seq[Entry]] = {
    require(!tag.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"a commit tag is one manifest field: no tab or line break, got '$tag'")
    val hfs = SeqFiles.fs(spark, root)
    recover(spark, root)
    val cur = latest(hfs, root)
    if (tag.nonEmpty && cur.exists(_.tags.valuesIterator.contains(tag))) return None
    val live = cur.fold(Seq.empty[Entry])(_.live)
    val seq = cur.fold(0L)(_.seq) + 1
    val dir = new Path(root, SeqFiles.name("c", seq))
    def files() = written(hfs, dir, dir.getName, partitionSchema.fieldNames.toSeq, Nil)
    try {
      val dropped = rewrite(cur, dir.toString)
      val added = files()
      if (schema.nonEmpty || dropped.nonEmpty || added.nonEmpty) {
        check(added)
        val next = live.filterNot(dropped.toSet) ++ added
        def unit(rel: String) = rel.substring(0, rel.lastIndexOf('/'))
        def commitOf(rel: String) = rel.takeWhile(_ != '/')
        val keptCommits = next.map(e => commitOf(e.path)).toSet
        val retired = live.map(e => unit(e.path)).distinct
          .filterNot(next.map(e => unit(e.path)).toSet)
          .map(u => if (keptCommits(commitOf(u))) u else commitOf(u)).distinct
        val schemaLine = schema.orElse(cur.flatMap(_.schema)).map { case (data, part) =>
          s"S\t${part.length}\t${StructType(data ++ part).json}"
        }
        val tags = (cur.fold(Map.empty[String, String])(_.tags) + (dir.getName -> tag))
          .filter { case (c, t) => t.nonEmpty && keptCommits(c) }
        SeqFiles.publish(hfs, manifestDir(root), "m", seq,
          next.map(e => ("F" +: e.values :+ e.bytes.toString :+ e.path).mkString("\t")) ++
            retired.map("R\t" + _) ++ schemaLine ++
            tags.toSeq.sorted.map { case (c, t) => s"T\t$c\t$t" })
      }
      Some(dropped)
    } catch { case e: Exception =>
      try dropUnnamed(hfs, root, seq, files()) catch { case c: Exception => e.addSuppressed(c) }
      throw e
    }
  }

  /** After commit `seq` failed: if another commit took its number meanwhile
    * (a second writer), `c-seq` is that commit's live dir, which neither
    * [[recover]] nor a later commit drops whole; delete the files of
    * `inDir` (the failed commit's and that one's) that its manifest does
    * not name. Without such a manifest `c-seq` is a crash leftover, which
    * [[recover]] deletes. */
  private def dropUnnamed(hfs: FileSystem, root: String, seq: Long, inDir: => Seq[Entry]): Unit =
    SeqFiles.numbered(SeqFiles.listAll(hfs, manifestDir(root)), "m").find(_._1 == seq)
      .foreach { case (_, st) =>
        val named = parse(hfs, seq, st).live.map(_.path).toSet
        inDir.filterNot(f => named(f.path)).foreach(f => hfs.delete(new Path(root, f.path), false))
      }

  /** Commit the laid-out frame `df` as the next commit of `root`,
    * partitioned by `partitionBy`: a save (`replace`) supersedes every
    * live file, an append adds its files to them. It publishes, so a save
    * of an empty frame loads empty, unless the newest manifest already
    * names `tag`: then it writes nothing and returns false. An append must
    * match the stored column names and types. */
  def write(df: DataFrame, root: String, replace: Boolean, partitionBy: Seq[String] = Nil,
            tag: String = ""): Boolean =
    commitFrame(df, root, replace, partitionBy, tag)(_ => ())

  /** [[write]], running `check` on a frame over the new files before the
    * publish. */
  private def commitFrame(df: DataFrame, root: String, replace: Boolean,
                          partitionBy: Seq[String], tag: String)
                         (check: DataFrame => Unit): Boolean = {
    val part = StructType(partitionBy.map(df.schema(_)))
    val data = StructType(df.schema.filterNot(f => partitionBy.contains(f.name)))
    def shape(s: StructType) = s.map(f => (f.name, f.dataType.catalogString))
    commitWith(df.sparkSession, root, part, Some((data, part)), tag) { (cur, dir) =>
      cur.flatMap(_.schema).filterNot(_ => replace).foreach { case (d, p) =>
        require(shape(d) ++ shape(p) == shape(data) ++ shape(part),
          s"appending ${data ++ part} to the store at $root of ${d ++ p}")
      }
      df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dir)
      cur.filter(_ => replace).fold(Seq.empty[Entry])(_.live)
    }(added => check(frame(df.sparkSession, root, added, data, part))).nonEmpty
  }

  /**
   * Compact the store at `root` in place: pin its newest manifest P, write
   * `fold(frame over P)` (laid out, partitioned by `partitionBy`) as the
   * next commit, and publish a manifest whose live files are only the
   * folded ones, so P's commit dirs retire under [[RetiredGraceMs]] and a
   * reader pinned to P keeps its files meanwhile. It publishes only if
   * (1) the newest manifest is still P, one listing and no Spark job, and
   * (2) the written files checksum-match the pinned pile under `view`
   * (the family's load-time merge onto its audit columns: row count plus
   * the xor of per-row hashes, order-free). Compaction is a writer verb:
   * a commit that lands while the fold runs (another writer, which the
   * single-writer contract rules out) fails it loudly — by (1), or by the
   * publish, which cannot take a number already published — and the
   * store keeps that commit. The fold is not rebased onto it: commit dirs
   * are numbered by manifest, so its files could sit in the fold's dir,
   * from which the failed fold deletes its own files ([[commitWith]]).
   */
  def compact(spark: SparkSession, root: String, artifact: String,
              partitionBy: Seq[String], view: DataFrame => DataFrame)
             (fold: DataFrame => DataFrame): Unit = {
    val hfs = SeqFiles.fs(spark, root)
    val pin = latest(hfs, root).getOrElse(
      throw new IllegalStateException(s"no $artifact at $root — save first"))
    val pile = pinned(spark, root, pin)
    commitFrame(fold(pile), root, replace = true, partitionBy, tag = "") { done =>
      require(newest(hfs, root).map { case (s, st) => (s, st.getModificationTime) } ==
        Some((pin.seq, pin.mtime)),
        s"compacting a $artifact at $root: the store changed mid-compaction; re-run")
      def sums(df: DataFrame) = df.select(xxhash64(df.columns.map(df(_)): _*).as("h"))
        .agg(count(lit(1)), coalesce(call_function("bit_xor", col("h")), lit(0L)))
      val r = sums(view(pile)).crossJoin(sums(view(done))).head()
      require(r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(3),
        s"compacting a $artifact at $root: the fold wrote (${r.getLong(2)} rows, " +
          s"${r.getLong(3)}), the pile holds (${r.getLong(0)} rows, ${r.getLong(1)}) — re-run")
    }
  }

  /** The store's base commit in `m`: the first live file of the oldest
    * commit still live, i.e. of the last save or compaction, which
    * replaced every live file. An append keeps it, a save or compaction
    * moves it; the file name carries its write job's id, so a store
    * deleted and rebuilt at the same path does not repeat it. */
  def base(m: Manifest): String = m.live.map(_.path).minOption.getOrElse(s"empty-${m.seq}")

  /**
   * A driver-side artifact built from the store at `root` and rebuilt
   * only when its [[base]] commit moves: the serve-path memo of a
   * quantizer, an index or a banded table that appends do not change.
   * [[current]] resolves the newest manifest once and returns a frame over
   * exactly its files with the artifact built from that commit's base,
   * so a caller never mixes two saves. One volatile pair, no lock: two
   * threads may build the same base once each. Construction builds it,
   * so a missing or unreadable store fails there.
   */
  final class BaseMemo[A](spark: SparkSession, root: String, artifact: String,
                          build: DataFrame => A) {
    @volatile private var memo: (String, A) = _
    def current(): (DataFrame, A) = {
      val m = latest(SeqFiles.fs(spark, root), root).getOrElse(
        throw new IllegalStateException(s"no $artifact at $root — save first"))
      val rows = pinned(spark, root, m)
      val held = memo
      if (held != null && held._1 == base(m)) (rows, held._2)
      else { val a = build(rows); memo = (base(m), a); (rows, a) }
    }
    current()
  }

  /** Sweep the store: delete a crashed commit's leftovers (`.tmp`
    * manifests, commit dirs above the newest manifest), then drop each
    * superseded manifest whose successor is older than [[RetiredGraceMs]],
    * with the dirs that successor retired. It reads only the manifests of
    * the commits it drops, so its cost does not grow with the commits
    * inside the grace. Idempotent; [[commit]] runs it first, and only the
    * store's single writer may call it. */
  def recover(spark: SparkSession, root: String): Unit = {
    val hfs = SeqFiles.fs(spark, root)
    val listing = SeqFiles.listAll(hfs, manifestDir(root))
    val manifests = SeqFiles.numbered(listing, "m")
    SeqFiles.stages(listing).foreach(hfs.delete(_, false))
    SeqFiles.numbered(SeqFiles.listAll(hfs, new Path(root)), "c")
      .filter(_._1 > manifests.lastOption.fold(0L)(_._1))
      .foreach { case (_, d) => hfs.delete(d.getPath, true) }
    val cutoff = System.currentTimeMillis() - RetiredGraceMs
    manifests.zip(manifests.drop(1))
      .takeWhile { case (_, (_, next)) => next.getModificationTime < cutoff }
      .foreach { case ((_, old), (nextSeq, next)) =>
        parse(hfs, nextSeq, next).retired.foreach(rel => hfs.delete(new Path(root, rel), true))
        hfs.delete(old.getPath, false)
      }
  }
}
