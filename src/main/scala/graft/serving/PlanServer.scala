package graft.serving

import com.sun.net.httpserver.HttpExchange

import org.apache.spark.sql.SparkSession

import graft.operators.QueryBuilders.QueryError
import graft.operators.{Capacity, JoinPlanner}
import graft.serving.HttpEndpoint.{parseQuery, respond}

/**
 * REST planning over persisted table-profile bundles — the serving face
 * of [[JoinPlanner.joinDecisionFromProfiles]]: a deployment registers
 * each table's bundle path (ingest maintains the bundles via
 * [[JoinPlanner.appendTableProfile]]; compaction via
 * [[JoinPlanner.compactTableProfile]]), and any client — a query
 * planner, a scheduler, a CI check — asks planning questions over HTTP
 * with ZERO corpus passes behind any endpoint. Same JDK `HttpServer`,
 * `Message` envelope and `ErrorMessage` contract as [[RestServer]] /
 * [[RetrievalServer]].
 *
 *   GET /api/plan/join?fact=t1&dim=t2[&broadcastMaxDimRows=..]
 *       [&skewShareMin=..][&bloomSelectivityMax=..][&targetPartitionBytes=..]
 *     → the full sized decision row (`fact_rows, dim_rows, top_share,
 *       est_join_size, est_selectivity, strategy, fact_bytes, dim_bytes,
 *       advised_shuffle_partitions, top_share_exact`) — row-identical to
 *       [[JoinPlanner.joinDecisionFromProfiles]] (spec-pinned).
 *   GET /api/plan/distinct?table=t1
 *     → [[JoinPlanner.profileDistinctAdvice]]'s row (`rows, bytes, k, n,
 *       hk, estimate`) — groupBy output-cardinality advice.
 *   GET /api/plan/overlap?a=t1&b=t2
 *     → [[JoinPlanner.profileOverlapAdvice]]'s row (`k, n_union,
 *       hk_union, shared, union_est, jaccard, inter_est`) — the
 *       referential-health check.
 *   GET /api/plan/size?table=t1[&targetPartitionBytes=..][&targetFileBytes=..]
 *     → [[JoinPlanner.profileSizeAdvice]]'s row (`rows, bytes,
 *       advised_shuffle_partitions, advised_files`) — exchange/write
 *       sizing, the fourth planner question the bundle answers.
 *
 * Malformed input is a 400 with the `ErrorMessage` shape, never a 500:
 * unknown table names (the registry IS the deployment contract),
 * missing parameters, non-positive or non-numeric thresholds. Mixed
 * sketch shapes between two bundles surface as the library's
 * IllegalArgumentException → 400 (a deployment error, not a server
 * fault). True 500s return a GENERIC body — exception text can carry
 * filesystem paths and class names, which a server bound on all
 * interfaces must not leak; the throwable is logged server-side instead.
 *
 * Bundles are KB-sized, but the decision is re-derived per request from
 * the CURRENT pile (one tiny Spark job over artifact files) — so a
 * bundle delta appended by ingest between two requests is visible
 * immediately, the same growing-artifact contract as the lexical
 * server. Nothing corpus-sized is ever read or cached.
 *
 * A save or a compaction of a registered bundle is one more commit of
 * its store, so it too is served by the next request with no restart.
 */
class PlanServer(spark: SparkSession, profiles: Map[String, String],
                 port: Int = 0) {
  require(profiles.nonEmpty, "PlanServer: register at least one profile path")

  private val endpoint = new HttpEndpoint(port, "/api/plan", handle)

  /** Start serving; returns the bound port. */
  def start(): Int = endpoint.start()

  /** Stop accepting requests and wait for the handler threads to exit. */
  def stop(): Unit = endpoint.stop()

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
      val params = parseQuery(ex)
      if (path.length != 3) respond(ex, 404, Json.error("not found", 404))
      else path(2) match {
        case "join"     => respond(ex, 200, join(params))
        case "distinct" => respond(ex, 200, distinct(params))
        case "overlap"  => respond(ex, 200, overlap(params))
        case "size"     => respond(ex, 200, size(params))
        case _          => respond(ex, 404, Json.error("not found", 404))
      }
    } catch {
      case QueryError(msg, code) => respond(ex, code, Json.error(msg, code))
      // library-level shape/registry violations are caller errors
      case e: IllegalArgumentException => respond(ex, 400, Json.error(e.getMessage, 400))
      case t: Throwable =>
        // log server-side, answer generically: exception text carries
        // paths/class names a public-facing 500 must not leak
        System.err.println(s"[planserver] 500 on ${ex.getRequestURI}: $t")
        respond(ex, 500, Json.error("internal error", 500))
    }
  }

  private def profilePath(params: Map[String, String], name: String): String = {
    val t = params.getOrElse(name,
      throw QueryError(s"Missing parameter: $name"))
    profiles.getOrElse(t,
      throw QueryError(s"Unknown table '$t'; registered: " +
        profiles.keys.toSeq.sorted.mkString(", ")))
  }

  private def positiveDouble(params: Map[String, String], name: String,
                             default: Double): Double =
    params.get(name) match {
      case None => default
      case Some(s) => s.toDoubleOption.filter(_ > 0.0)
        .getOrElse(throw QueryError(s"Invalid $name: $s"))
    }

  private def positiveLong(params: Map[String, String], name: String,
                           default: Long): Long =
    params.get(name) match {
      case None => default
      case Some(s) => s.toLongOption.filter(_ >= 0L)
        .getOrElse(throw QueryError(s"Invalid $name: $s"))
    }

  private def join(params: Map[String, String]): String = {
    val factPath = profilePath(params, "fact")
    val dimPath = profilePath(params, "dim")
    val th = JoinPlanner.JoinThresholds(
      broadcastMaxDimRows = positiveLong(params, "broadcastMaxDimRows", 100000L),
      skewShareMin = positiveDouble(params, "skewShareMin", 0.05),
      bloomSelectivityMax = positiveDouble(params, "bloomSelectivityMax", 0.25))
    val t = Capacity.SizingTargets(
      targetPartitionBytes = positiveLong(params, "targetPartitionBytes", 128L << 20)
        .max(1L))
    val r = JoinPlanner.joinDecisionFromProfiles(spark, factPath, dimPath, th, t)
      .collect()(0)
    Json.message(
      Seq("fact_rows", "dim_rows", "top_share", "est_join_size",
        "est_selectivity", "strategy", "fact_bytes", "dim_bytes",
        "advised_shuffle_partitions", "top_share_exact"),
      Seq(s"[${r.getLong(0)},${r.getLong(1)},${Json.number(r.get(2))}," +
        s"${r.getLong(3)},${Json.number(r.get(4))},${"\"" + r.getString(5) + "\""}," +
        s"${r.getLong(6)},${r.getLong(7)},${r.getLong(8)},${r.getBoolean(9)}]"), "plan")
  }

  private def size(params: Map[String, String]): String = {
    val path = profilePath(params, "table")
    val t = Capacity.SizingTargets(
      targetPartitionBytes = positiveLong(params, "targetPartitionBytes", 128L << 20)
        .max(1L),
      targetFileBytes = positiveLong(params, "targetFileBytes", 512L << 20)
        .max(1L))
    val r = JoinPlanner.profileSizeAdvice(spark, path, t).collect()(0)
    Json.message(
      Seq("rows", "bytes", "advised_shuffle_partitions", "advised_files"),
      Seq(s"[${r.getLong(0)},${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}]"), "plan")
  }

  private def distinct(params: Map[String, String]): String = {
    val path = profilePath(params, "table")
    val r = JoinPlanner.profileDistinctAdvice(spark, path).collect()(0)
    Json.message(Seq("rows", "bytes", "k", "n", "hk", "estimate"),
      Seq(s"[${r.getLong(0)},${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}," +
        s"${r.getLong(4)},${Json.number(r.get(5))}]"), "plan")
  }

  private def overlap(params: Map[String, String]): String = {
    val a = profilePath(params, "a")
    val b = profilePath(params, "b")
    val r = JoinPlanner.profileOverlapAdvice(spark, a, b).collect()(0)
    Json.message(
      Seq("k", "n_union", "hk_union", "shared", "union_est", "jaccard",
        "inter_est"),
      Seq(s"[${r.getLong(0)},${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}," +
        s"${Json.number(r.get(4))},${Json.number(r.get(5))},${Json.number(r.get(6))}]"), "plan")
  }
}
