package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.graftshim.GraftPlanBridge
import org.apache.spark.sql.types.StructType

/**
 * A partitioned parquet table that is never overwritten in place: the
 * commit step of the serving table ([[graft.streaming.StreamingPipeline]])
 * and of the lexical index ([[TextAnalysis.saveLexicalIndex]]).
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
 * }}}
 * Retired dirs stay on disk for [[RetiredGraceMs]] after the commit that
 * retired them, then [[recover]] deletes them. One writer per store.
 */
private[graft] object SegmentStore {

  /** A live file: path relative to the root, partition values, bytes. */
  final case class Entry(path: String, values: Seq[String], bytes: Long)

  /** A published commit. `mtime` is the manifest file's modification time:
    * with `seq` it tells two stores apart that reused one path. */
  final case class Manifest(seq: Long, mtime: Long, live: Seq[Entry], retired: Seq[String])

  /** How long the files a commit retired stay on disk after it: a reader
    * resolved just before the commit still reads them. A serving request
    * takes about 0.4 s at the median (perfbench `serve`) and seconds in
    * its tail; ten minutes is over a thousand medians, and holds at most
    * 60 commits of superseded day files at the reference's 10 s trigger. */
  private val RetiredGraceMs = 10 * 60 * 1000L

  private def manifestDir(root: String) = new Path(root, "_manifest")

  private def read(hfs: FileSystem, seq: Long, file: FileStatus): Manifest = {
    val rows = SeqFiles.read(hfs, file.getPath).map(_.split('\t').toSeq)
    Manifest(seq, file.getModificationTime,
      rows.collect { case "F" +: rest if rest.length >= 2 =>
        Entry(rest.last, rest.dropRight(2), rest(rest.length - 2).toLong)
      },
      rows.collect { case Seq("R", rel) => rel })
  }

  /** The newest manifest: one listing of `_manifest` and one read. */
  def latest(hfs: FileSystem, root: String): Option[Manifest] =
    SeqFiles.numbered(SeqFiles.listAll(hfs, manifestDir(root)), "m").lastOption
      .map { case (seq, st) => read(hfs, seq, st) }

  /** A frame over exactly the files of `entries`, with a fixed schema. No
    * filesystem call, no Spark job. */
  def frame(spark: SparkSession, root: String, entries: Seq[Entry],
            dataSchema: StructType, partitionSchema: StructType): DataFrame = {
    val qualified = SeqFiles.fs(spark, root).makeQualified(new Path(root))
    GraftPlanBridge.listedTable(spark, qualified.toString,
      entries.map(e => (new Path(qualified, e.path).toString, e.values, e.bytes)),
      dataSchema, partitionSchema)
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
    * nothing was superseded or written. Returns the superseded entries. */
  def commit(spark: SparkSession, root: String, partitionSchema: StructType)
            (rewrite: (Seq[Entry], String) => Seq[Entry]): Seq[Entry] = {
    val hfs = SeqFiles.fs(spark, root)
    recover(spark, root)
    val cur = latest(hfs, root)
    val live = cur.fold(Seq.empty[Entry])(_.live)
    val seq = cur.fold(0L)(_.seq) + 1
    val dir = new Path(root, SeqFiles.name("c", seq))
    val dropped = rewrite(live, dir.toString)
    val added = written(hfs, dir, dir.getName, partitionSchema.fieldNames.toSeq, Nil)
    if (dropped.nonEmpty || added.nonEmpty) {
      val next = live.filterNot(dropped.toSet) ++ added
      def unit(rel: String) = rel.substring(0, rel.lastIndexOf('/'))
      def commitOf(rel: String) = rel.takeWhile(_ != '/')
      val keptCommits = next.map(e => commitOf(e.path)).toSet
      val retired = live.map(e => unit(e.path)).distinct
        .filterNot(next.map(e => unit(e.path)).toSet)
        .map(u => if (keptCommits(commitOf(u))) u else commitOf(u)).distinct
      SeqFiles.publish(hfs, manifestDir(root), "m", seq,
        next.map(e => ("F" +: e.values :+ e.bytes.toString :+ e.path).mkString("\t")) ++
          retired.map("R\t" + _))
    }
    dropped
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
        read(hfs, nextSeq, next).retired.foreach(rel => hfs.delete(new Path(root, rel), true))
        hfs.delete(old.getPath, false)
      }
  }
}
