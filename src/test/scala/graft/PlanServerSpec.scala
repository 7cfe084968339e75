package graft

import scala.io.Source

import org.apache.spark.sql.functions._

import graft.operators.{Capacity, JoinPlanner}
import graft.serving.PlanServer
import graft.sources.Tables

/** The `/api/plan` endpoints must answer from the registered persisted
  * bundles ROW-IDENTICALLY to the library calls they wrap (decision,
  * distinct advice, overlap), wear the reference `Message` envelope, and
  * turn malformed input — unknown tables, bad thresholds, mixed sketch
  * shapes — into 400 `ErrorMessage`s, never 500s. Every answer derives
  * from KB-sized artifacts: no endpoint touches a corpus. */
class PlanServerSpec extends SparkSpec {

  private def get(url: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(is, "UTF-8").mkString
    (code, body)
  }

  private def withServer(f: (Int, String, String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_planserve").toString
    val factPath = s"$root/lineitem"
    val dimPath = s"$root/supplier"
    try {
      val p = JoinPlanner.ProfileParams(depth = 4, width = 1024,
        topK = 2048, kmvK = 64)
      val fact = Tables.lineitem(spark, Sf)
        .select(col("l_orderkey"), col("l_suppkey"))
      JoinPlanner.saveTableProfile(
        fact.filter(col("l_orderkey") % 2 === 0), "l_suppkey", factPath, p)
      JoinPlanner.appendTableProfile(
        fact.filter(col("l_orderkey") % 2 =!= 0), "l_suppkey", factPath, p)
      JoinPlanner.saveTableProfile(
        Tables.supplier(spark, Sf).select(col("s_suppkey"), col("s_acctbal")),
        "s_suppkey", dimPath, p)
      val srv = new PlanServer(spark,
        Map("lineitem" -> factPath, "supplier" -> dimPath))
      val port = srv.start()
      try f(port, factPath, dimPath) finally srv.stop()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("join/distinct/overlap endpoints answer row-identically to the " +
    "library calls, from artifacts only") {
    withServer { (port, factPath, dimPath) =>
      val th = JoinPlanner.JoinThresholds(broadcastMaxDimRows = 2000,
        skewShareMin = 0.9, bloomSelectivityMax = 0.001)
      val t = Capacity.SizingTargets(targetPartitionBytes = 65536L)
      val want = JoinPlanner
        .joinDecisionFromProfiles(spark, factPath, dimPath, th, t).collect()(0)
      val (c1, b1) = get(s"http://localhost:$port/api/plan/join?" +
        "fact=lineitem&dim=supplier&broadcastMaxDimRows=2000&" +
        "skewShareMin=0.9&bloomSelectivityMax=0.001&targetPartitionBytes=65536")
      assert(c1 == 200, b1)
      assert(b1.contains("\"columns\":[\"fact_rows\",\"dim_rows\",\"top_share\"," +
        "\"est_join_size\",\"est_selectivity\",\"strategy\",\"fact_bytes\"," +
        "\"dim_bytes\",\"advised_shuffle_partitions\",\"top_share_exact\"]"))
      assert(b1.contains(s""""${want.getString(5)}""""), s"strategy missing: $b1")
      assert(b1.contains(s"[${want.getLong(0)},${want.getLong(1)},"),
        s"counts mismatch: $b1 vs $want")
      assert(b1.contains(s",${want.getLong(8)},${want.getBoolean(9)}]"),
        s"sizing/exactness mismatch: $b1")
      assert(b1.contains("\"metadata\":{\"metric\":\"plan\"}"))

      // the fourth planner question: write/exchange sizing from the stats
      // component alone, row-identical to profileSizeAdvice
      val tS = Capacity.SizingTargets(targetPartitionBytes = 65536L,
        targetFileBytes = 262144L)
      val wantS = JoinPlanner.profileSizeAdvice(spark, factPath, tS).collect()(0)
      val (c4, b4) = get(s"http://localhost:$port/api/plan/size?table=lineitem&" +
        "targetPartitionBytes=65536&targetFileBytes=262144")
      assert(c4 == 200, b4)
      assert(b4.contains("\"columns\":[\"rows\",\"bytes\"," +
        "\"advised_shuffle_partitions\",\"advised_files\"]"))
      assert(b4.contains(s"[${wantS.getLong(0)},${wantS.getLong(1)}," +
        s"${wantS.getLong(2)},${wantS.getLong(3)}]"), s"size mismatch: $b4 vs $wantS")

      val wantD = JoinPlanner.profileDistinctAdvice(spark, factPath).collect()(0)
      val (c2, b2) = get(s"http://localhost:$port/api/plan/distinct?table=lineitem")
      assert(c2 == 200)
      assert(b2.contains(s"[${wantD.getLong(0)},${wantD.getLong(1)},${wantD.getLong(2)}," +
        s"${wantD.getLong(3)},${wantD.getLong(4)},"), s"distinct mismatch: $b2 vs $wantD")

      val wantO = JoinPlanner.profileOverlapAdvice(spark, factPath, dimPath)
        .collect()(0)
      val (c3, b3) = get(s"http://localhost:$port/api/plan/overlap?a=lineitem&b=supplier")
      assert(c3 == 200)
      assert(b3.contains(s"[${wantO.getLong(0)},${wantO.getLong(1)}," +
        s"${wantO.getLong(2)},${wantO.getLong(3)},"), s"overlap mismatch: $b3 vs $wantO")
    }
  }

  test("malformed input is a 400 ErrorMessage, never a 500") {
    withServer { (port, _, _) =>
      val cases = Seq(
        s"http://localhost:$port/api/plan/join?fact=lineitem&dim=nope",
        s"http://localhost:$port/api/plan/join?fact=lineitem",
        s"http://localhost:$port/api/plan/join?fact=lineitem&dim=supplier&skewShareMin=zero",
        s"http://localhost:$port/api/plan/join?fact=lineitem&dim=supplier&broadcastMaxDimRows=-3",
        s"http://localhost:$port/api/plan/distinct?table=unknown",
        s"http://localhost:$port/api/plan/size?table=unknown",
        s"http://localhost:$port/api/plan/size?table=lineitem&targetFileBytes=-1",
        s"http://localhost:$port/api/plan/overlap?a=lineitem")
      cases.foreach { u =>
        val (code, body) = get(u)
        assert(code == 400, s"$u -> $code $body")
        assert(body.contains("\"errorMessage\""), body)
      }
      val (nf, _) = get(s"http://localhost:$port/api/plan/nosuch?x=1")
      assert(nf == 404)
    }
  }

  test("a registered Generations root is resolved PER REQUEST: a pointer " +
    "flip under the running server changes what serves, no restart") {
    // the name predates in-place saves: the registered path is one store
    // root, and a save into it under the running server is the flip
    val root = java.nio.file.Files.createTempDirectory("graft_planserveg").toString
    try {
      val p = JoinPlanner.ProfileParams(depth = 4, width = 1024,
        topK = 2048, kmvK = 64)
      val dim = Tables.supplier(spark, Sf)
        .select(col("s_suppkey"), col("s_acctbal"))
      // the half-corpus bundle
      JoinPlanner.saveTableProfile(
        dim.filter(col("s_suppkey") % 2 === 0), "s_suppkey", s"$root/dimgen", p)
      val srv = new PlanServer(spark, Map("supplier" -> s"$root/dimgen"))
      val port = srv.start()
      try {
        def servedRows(): Long = {
          val (code, body) = get(
            s"http://localhost:$port/api/plan/distinct?table=supplier")
          assert(code == 200, body)
          body.split("\"data\":\\[\\[")(1).split(",")(0).toLong
        }
        val half = servedRows()
        // maintenance saves the FULL bundle into the same root while the
        // server runs — the next request must serve it
        JoinPlanner.saveTableProfile(dim, "s_suppkey", s"$root/dimgen", p)
        val full = servedRows()
        assert(full > half, s"save not picked up: $half -> $full")
        assert(full == dim.count())
      } finally srv.stop()
    } finally Gates.deleteTree(root)
  }

  test("a true 500 answers generically — no exception text, class names or " +
    "filesystem paths leak to the client") {
    // a committed bundle whose every live file is overwritten with
    // garbage: the loader's stats read fails at runtime, the 500 shape
    // (a caller error such as a sketch-shape mix is a 400)
    val root = java.nio.file.Files.createTempDirectory("graft_planserve5").toString
    try {
      JoinPlanner.saveTableProfile(
        Tables.supplier(spark, Sf).select(col("s_suppkey")), "s_suppkey", s"$root/bundle")
      graft.operators.SegmentStore.read(spark, s"$root/bundle").get.inputFiles.foreach { f =>
        java.nio.file.Files.writeString(
          java.nio.file.Path.of(new java.net.URI(f)), "not parquet at all")
      }
      val srv = new PlanServer(spark, Map("broken" -> s"$root/bundle"))
      val port = srv.start()
      try {
        val (code, body) = get(
          s"http://localhost:$port/api/plan/distinct?table=broken")
        assert(code == 500, s"$code $body")
        assert(body == """{"errorMessage":"internal error","errorCode":500}""",
          s"500 body must be generic: $body")
        assert(!body.contains(root), "filesystem path leaked")
      } finally srv.stop()
    } finally Gates.deleteTree(root)
  }
}
