package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A directory of numbered files, `prefix-%08d`, whose highest number is
  * the committed state: the commit step of the [[SegmentStore]] manifest.
  * [[publish]] writes `.prefix-S.tmp` and renames it to `prefix-S`, the
  * commit point (atomic on HDFS and local disks): a reader lists the old
  * highest file or the new one, and a crash leaves only a `.tmp` stage no
  * reader picks. One writer per directory: committing an existing number
  * fails loudly, by the `exists` check and, for a number published after
  * it, by the rename, which HDFS and the checksummed `file:` filesystem
  * refuse onto an existing file. */
private[graft] object SeqFiles {

  def name(prefix: String, seq: Long): String = f"$prefix-$seq%08d"

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Everything in `dir`, in one listing; a missing dir is empty. */
  def listAll(hfs: FileSystem, dir: Path): Seq[FileStatus] =
    try hfs.listStatus(dir).toIndexedSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The `prefix-NNNNNNNN` entries of a listing, ascending by number. */
  def numbered(listing: Seq[FileStatus], prefix: String): Seq[(Long, FileStatus)] = {
    val re = s"^$prefix-(\\d{8})$$".r
    listing.flatMap(s => s.getPath.getName match {
      case re(d) => Some(d.toLong -> s)
      case _ => None
    }).sortBy(_._1)
  }

  /** The interrupted commit stages of a listing. */
  def stages(listing: Seq[FileStatus]): Seq[Path] =
    listing.map(_.getPath).filter(p => p.getName.startsWith(".") && p.getName.endsWith(".tmp"))

  /** The non-empty lines of a committed file. */
  def read(hfs: FileSystem, file: Path): Seq[String] = {
    val in = hfs.open(file)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toIndexedSeq
    finally in.close()
  }

  /** Commit `lines` as `dir/prefix-seq`. */
  def publish(hfs: FileSystem, dir: Path, prefix: String, seq: Long,
              lines: Seq[String]): Unit = {
    val dst = new Path(dir, name(prefix, seq))
    def collision = new java.io.IOException(
      s"committing $dst failed — concurrent writer? (single-writer contract)")
    if (hfs.exists(dst)) throw collision
    hfs.mkdirs(dir)
    val tmp = new Path(dir, s".${dst.getName}.tmp")
    val out = hfs.create(tmp, true)
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
    if (!hfs.rename(tmp, dst)) throw collision
  }
}
