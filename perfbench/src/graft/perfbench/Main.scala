package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Everything a workload needs from the command line and the session. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Int,
                val trace: Boolean, val scale: Double, val corrupt: Boolean,
                val rate: Option[Int]) {
  /** closed-loop clients: K <= nproc - 1 */
  val clients: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors() - 1))
  def dir(name: String): String = work.resolve(name).toString
  def rnd(stream: Long): SplittableRandom = new SplittableRandom(seed * 1000003L + stream)
  def scaled(n: Int): Int = math.max(1, (n * scale).toInt)
  def jsonFrame(lines: Seq[String]): DataFrame =
    spark.createDataset(lines)(Encoders.STRING).toDF("json")

  /** Untraced, run `setup` three times and report the median as `setup_s`;
    * the last result is the one the run measures. A traced run reports no
    * set-up time and sets up once. */
  def setup[A](r: Report)(build: Int => A): A =
    if (trace) build(0)
    else {
      var last: Option[A] = None
      val times = (0 until 3).map { i =>
        val t0 = System.nanoTime()
        last = Some(build(i))
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(s"[perfbench] set-up times (s): ${times.map(t => f"$t%.2f").mkString(" ")}")
      r.put("setup_s", Stats.median(times), "s")
      last.get
    }
}

/**
 * End-to-end benchmark of the paper's path (JSON readings → hourly geohash
 * cells → REST answers) and of retrieval serving. One run = one workload:
 *
 *   PerfBench --workload ingest|serve --seed N --seconds S --trace 0|1
 *             --work DIR [--scale X] [--corrupt-oracle] [--rate R]
 *
 * The last stdout line is the run's JSON result; `--trace 1` reports the
 * per-layer metrics instead of the end-to-end ones and writes the spans to
 * DIR/trace.jsonl.
 */
object PerfBench {
  def main(args: Array[String]): Unit =
    try {
      println(run(args).toJson)
      System.out.flush()
      sys.exit(0)
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Array[String]): Report = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    // one core stays free for the driver side: generator, reader, HTTP and GC
    val threads = math.max(2, math.min(3, Runtime.getRuntime.availableProcessors() - 1))
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, opts("seed").toLong, opts("seconds").toInt,
      opts.get("trace").contains("1"), opts.get("scale").map(_.toDouble).getOrElse(1.0),
      flags("corrupt-oracle"), opts.get("rate").map(_.toInt))
    val report =
      try workload match {
        case "ingest" => Ingest.run(ctx)
        case "serve" => Serve.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      } finally {
        if (ctx.trace) Trace.write(work.resolve("trace.jsonl"))
      }
    report.notes.foreach(n => System.err.println(s"[perfbench] $n"))
    spark.stop()
    report
  }
}
