package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.operators.{Capacity, Dedup, Graph, JoinPlanner, Jobs}
import graft.serving.PlanServer

/** The engine sizes its shuffles in the plan or in a private clone of the
  * session, never by changing the shared session's conf: a request planned
  * on that session at any moment sees the conf it was built with. */
class SessionConfSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")

  private def profiles(root: String): (String, String) = {
    val p = JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 64, kmvK = 64)
    val fact = (1L to 2000L).map(i => (i, i % 37)).toDF("id", "fk")
    val dim = (0L until 37L).map(i => (i, s"d$i")).toDF("dk", "name")
    JoinPlanner.saveTableProfile(fact.filter($"id" % 2 === 0), "fk", s"$root/fact", p)
    JoinPlanner.appendTableProfile(fact.filter($"id" % 2 =!= 0), "fk", s"$root/fact", p)
    JoinPlanner.saveTableProfile(dim, "dk", s"$root/dim", p)
    (s"$root/fact", s"$root/dim")
  }

  private val th = JoinPlanner.JoinThresholds(broadcastMaxDimRows = 10,
    skewShareMin = 0.9, bloomSelectivityMax = 0.001)

  test("no sized family changes the session's shuffle or AQE conf, even while it runs") {
    val root = Files.createTempDirectory("graft_confscope").toString
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L))
      .toDF("src", "dst")
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val before = Keys.map(k => k -> spark.conf.get(k)).toMap
    val changed = scala.collection.mutable.Set.empty[(String, String)]
    var samples = 0L
    val failure = new AtomicReference[Throwable]()
    @volatile var stateParts = -1L
    @volatile var results = Map.empty[String, Any]
    val families = new Thread(() => try {
      // one streaming gate started through the sized clone
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val name = "conf_scope_" + System.nanoTime()
      val q = Gates.startSized(3L, mem.toDF().groupBy($"value").count())(
        _.writeStream.outputMode("complete").format("memory").queryName(name).start())
      try {
        mem.addData(1L, 2L, 2L)
        q.processAllAvailable()
        stateParts = q.lastProgress.stateOperators.head.numShufflePartitions
      } finally q.stop()
      val streamed = q.sparkSession.table(name).orderBy("value").as[(Long, Long)].collect().toSeq
      q.sparkSession.catalog.dropTempView(name)
      // one profile decision, the query PlanServer answers /api/plan/join with
      val (f, d) = profiles(root)
      val decision = JoinPlanner.joinDecisionFromProfiles(spark, f, d, th,
        Capacity.SizingTargets()).collect().toSeq
      // the node-sized graph loop and a forced-distributed one
      def ranks(limit: Long) = Graph.pageRank(edges, iters = 5, broadcastNodeLimit = limit)
        .orderBy("node").as[(Long, Double)].collect().toSeq
      val small = ranks(1000000L)
      val dist = ranks(0L)
      // a forced-distributed dupClusters
      val clusters = Dedup.dupClusters(pairs, driverEdgeLimit = 0)
        .as[(Long, Long)].collect().toMap
      results = Map("streamed" -> streamed, "decision" -> decision,
        "small" -> small, "dist" -> dist, "clusters" -> clusters)
    } catch { case t: Throwable => failure.set(t) })
    try {
      families.start()
      while (families.isAlive) {
        Keys.foreach { k =>
          val v = spark.conf.get(k)
          if (v != before(k)) changed += k -> v
        }
        samples += 1
        Thread.`yield`()
      }
      families.join()
    } finally Gates.deleteTree(root)
    Option(failure.get).foreach(throw _)

    assert(changed.isEmpty, s"session conf changed while the families ran: $changed")
    assert(Keys.map(k => k -> spark.conf.get(k)).toMap == before)
    assert(samples > 2, "the sampler never overlapped the families")
    // the families still ran sized, and right
    assert(stateParts == 1L, "the streaming gate's state must be sized from its feed")
    assert(results("streamed") == Seq((1L, 1L), (2L, 2L)))
    assert(results("decision").asInstanceOf[Seq[_]].length == 1)
    assert(results("small") == results("dist"))
    assert(results("clusters").asInstanceOf[Map[Long, Long]].values.toSet == Set(1L))
  }

  test("a PlanServer join decision plans with no shuffle exchange") {
    val root = Files.createTempDirectory("graft_decisionplan").toString
    try {
      val (f, d) = profiles(root)
      val df = JoinPlanner.joinDecisionFromProfiles(spark, f, d, th, Capacity.SizingTargets())
      df.collect()
      val plan = df.queryExecution.executedPlan
      val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty, shuffles.map(_.nodeName).mkString(", ") + "\n" + plan)
      // and the server answers the same row from the same bundles
      val srv = new PlanServer(spark, Map("fact" -> f, "dim" -> d))
      val port = srv.start()
      try {
        val body = scala.io.Source.fromURL(s"http://localhost:$port/api/plan/join?" +
          "fact=fact&dim=dim&broadcastMaxDimRows=10&skewShareMin=0.9&" +
          "bloomSelectivityMax=0.001").mkString
        assert(body.contains(s""""${df.collect()(0).getString(5)}""""), body)
      } finally srv.stop()
    } finally Gates.deleteTree(root)
  }

  test("Jobs.concurrently awaits every job, then rethrows the first failure") {
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Jobs.concurrently(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(200); done.incrementAndGet() },
        () => throw new IllegalArgumentException("second"))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(done.get == 1, "a sibling was still running when the failure surfaced")
  }

  test("no main source sets or unsets the shuffle-partition or AQE conf") {
    // any set of these keys outside the sized clone, on any session, is a
    // mutation of shared state; session builders' `.config(..)` is not a set
    val keyRefs = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "SHUFFLE_PARTITIONS", "ADAPTIVE_EXECUTION_ENABLED")
    val setCall = raw"(conf\.(set|unset)\(|setConf(String)?\(|unsetConf\()".r
    val walk = Files.walk(Paths.get("src/main"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, "src/main not found from the test's working directory")
    val offending = for {
      file <- sources
      (line, no) <- Files.readAllLines(file).asScala.zipWithIndex
      if setCall.findFirstIn(line).isDefined && keyRefs.exists(line.contains)
      // the sized clone's own conf, set in GraftPlanBridge.sizedClone
      if !(file.getFileName.toString == "PlanUtils.scala" &&
        line.contains("conf.setConf(SQLConf."))
    } yield s"$file:${no + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n"))
    // and every plain conf.set/unset left in src/main is the events
    // reader's set-once nanosAsLong switch
    val plain = for {
      file <- sources
      line <- Files.readAllLines(file).asScala
      if raw"conf\.(set|unset)\(".r.findFirstIn(line).isDefined
    } yield line
    assert(plain.forall(_.contains("nanosAsLong")), plain.mkString("\n"))
  }
}
