package graft

import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus,
  FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/**
 * The local filesystem under the `faultfs` scheme, for tests. Armed with
 * N, it fails the Nth `create`, `rename`, `delete` or `mkdirs` and every
 * one after it, as a process killed at that step would never issue them;
 * a crash-point sweep runs a verb with N = 1, 2, ... until it completes.
 * It can also log the reads (`listStatus`, `open`, `getFileStatus`), so a
 * test can count what a reader touches, and run an action at the first
 * write step, so a test can land a change while a verb runs. Instances
 * are not cached (every
 * `getFileSystem` makes a new one), so the state lives in the companion.
 */
class FaultFs extends FilterFileSystem(new FaultFs.Local) {
  import FaultFs._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    write("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable,
                      checksumOpt: org.apache.hadoop.fs.Options.ChecksumOpt): FSDataOutputStream = {
    write("create", f)
    super.create(f, permission, flags, bufferSize, replication, blockSize, progress, checksumOpt)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    write("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    write("rename", src); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    write("delete", f); super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    write("mkdirs", f); super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    write("mkdirs", f); super.mkdirs(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    read("listStatus", f); super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    read("open", f); super.open(f, bufferSize)
  }

  override def getFileStatus(f: Path): FileStatus = {
    read("getFileStatus", f); super.getFileStatus(f)
  }
}

object FaultFs {
  val Scheme = "faultfs"

  /** The raw local filesystem, answering to [[Scheme]]. */
  class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }

  private val writes = new AtomicInteger
  @volatile private var failAt = Int.MaxValue
  @volatile private var log: java.util.Queue[String] = _
  private val interjection = new AtomicReference[() => Unit]

  private def write(op: String, p: Path): Unit = {
    Option(interjection.getAndSet(null)).foreach(_())
    if (writes.incrementAndGet() >= failAt)
      throw new java.io.IOException(s"injected crash at $op $p")
  }

  /** Run `f`, running `action` once, in the thread of the first write
    * step `f` makes through this scheme, before that step. */
  def interjecting[A](action: => Unit)(f: => A): A = {
    interjection.set(() => action)
    try f finally interjection.set(null)
  }

  private def read(op: String, p: Path): Unit = {
    val l = log
    if (l != null) l.add(s"$op ${p.getName}")
  }

  /** Register the scheme on the session's Hadoop configuration. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)
    conf.set(s"fs.$Scheme.impl.disable.cache", "true")
  }

  /** `dir` (a local path) under the fault scheme. */
  def uri(dir: String): String = s"$Scheme://${new java.io.File(dir).getAbsolutePath}"

  /** Run `f` with the Nth write step failing; returns whether `f` completed.
    * A failure before the Nth step is rethrown: it is not the injected
    * crash. Waits for every running task to stop before disarming, so no
    * task of a failed job writes after the crash. */
  def crashAt(spark: SparkSession, n: Int)(f: => Unit): Boolean = {
    writes.set(0)
    failAt = n
    try { f; true }
    catch { case _: Exception if writes.get >= n => false }
    finally {
      val sc = spark.sparkContext
      val deadline = System.nanoTime() + 60000000000L
      while (sc.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
        System.nanoTime() < deadline) Thread.sleep(10)
      failAt = Int.MaxValue
    }
  }

  /** A fresh temp copy of the local directory `dir`. */
  def copyOf(dir: String): String = {
    val d = java.nio.file.Files.createTempDirectory("faultfs_copy").toFile
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir), d)
    d.getAbsolutePath
  }

  /**
   * Crash `verb` at each of its filesystem write steps in turn (the Nth
   * create/rename/delete/mkdirs fails, and every later one), each time on
   * a fresh copy of the local directory `template` under this scheme.
   * `open(dir)` resolves a reader over `dir` and returns what collecting
   * it reads. After each crash, a reader resolved before the verb still
   * reads the old state, a fresh reader reads exactly the old or the new
   * state, and `recover` plus a rerun reads exactly the new state.
   * Returns the number of crash points swept.
   */
  def crashSweep(spark: SparkSession, template: String, open: String => () => Seq[String],
                 recover: String => Unit)(verb: String => Unit): Int = {
    install(spark)
    val before = open(template)()
    val after = {
      val d = copyOf(template)
      try { verb(d); open(d)() } finally Gates.deleteTree(d)
    }
    var n = 0
    var completed = false
    while (!completed) {
      n += 1
      val local = copyOf(template)
      val dir = uri(local)
      val pinned = open(dir)
      completed = crashAt(spark, n)(verb(dir))
      assert(pinned() == before, s"step $n: a reader resolved before the verb changed")
      val fresh = open(dir)()
      assert(fresh == before || fresh == after, s"step $n: a fresh reader reads $fresh")
      if (!completed) {
        recover(dir)
        verb(dir)
      }
      assert(open(dir)() == after, s"step $n: recover and a rerun did not converge")
      Gates.deleteTree(local)
    }
    n - 1
  }

  /** The reads `f` makes through this scheme, as "op name" lines. */
  def reads[A](f: => A): (A, Seq[String]) = {
    val l = new java.util.concurrent.ConcurrentLinkedQueue[String]
    log = l
    val a = try f finally log = null
    (a, l.toArray(Array.empty[String]).toSeq)
  }

  /** [[reads]], plus the (SQL execution id, description) of every Spark
    * job `f` starts. A file-listing or footer-inference job runs outside
    * any SQL execution (id "null"). */
  def readsAndJobs[A](spark: SparkSession)(f: => A): (A, Seq[String], Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((
        String.valueOf(e.properties.getProperty("spark.sql.execution.id")),
        String.valueOf(e.properties.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    try {
      val (a, rs) = reads(f)
      // marker: listener events arrive in order, so once the marker's
      // start is seen, every job `f` started is too
      val marker = s"marker-${System.nanoTime()}"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      def seen = jobs.toArray(Array.empty[(String, String)]).toSeq
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.exists(_._2 == marker) && System.nanoTime() < deadline) Thread.sleep(20)
      (a, rs, seen.filter(_._2 != marker))
    } finally sc.removeSparkListener(listener)
  }
}
