package graft

import org.apache.spark.sql.functions._

import graft.operators.JoinPlanner
import graft.operators.JoinPlanner.JoinThresholds

/** The chooser must pick the intended strategy per data shape AND return
  * exactly the plain join's rows under every strategy (structural result
  * identity — the chooser changes costs, never answers). */
class JoinPlannerSpec extends SparkSpec {
  import spark.implicits._

  // thresholds tuned so each fixture lands in a distinct branch
  private val th = JoinThresholds(broadcastMaxDimRows = 10,
    skewShareMin = 0.3, bloomSelectivityMax = 0.2, salt = 4,
    bloomMBits = 62 * 64, bloomNumHashes = 3)

  private def plainRows(fact: org.apache.spark.sql.DataFrame,
                        dim: org.apache.spark.sql.DataFrame) =
    fact.join(dim, fact("fk") === dim("dk"))
      .select(col("fk"), col("payload"), col("name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq

  private def chosenRows(p: JoinPlanner.JoinPlan) =
    p.result.select(col("fk"), col("payload"), col("name"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq

  test("skewed fact key selects salted; result == plain join, duplicates kept") {
    // key 1 carries 60% of the fact — the reducer-pinning shape
    val fact = ((1 to 60).map(i => (1L, i.toLong)) ++
      (1 to 40).map(i => (i.toLong + 1, 1000L + i))).toDF("fk", "payload")
    val dim = (1L to 200L).map(k => (k, s"n$k")).toDF("dk", "name")
    val plan = JoinPlanner.chooseJoin(fact, dim, "fk", "dk", th)
    assert(plan.strategy === "salted")
    assert(plan.topShare === 0.6)
    assert(plan.factRows === 100L && plan.dimRows === 200L)
    assert(chosenRows(plan) === plainRows(fact, dim))
  }

  test("selective dim selects bloom_pruned; result == plain join") {
    val fact = (1L to 1000L).map(k => (k, k * 10)).toDF("fk", "payload")
    val dim = (1L to 50L).map(k => (k, s"n$k")).toDF("dk", "name")
    val plan = JoinPlanner.chooseJoin(fact, dim, "fk", "dk", th)
    assert(plan.strategy === "bloom_pruned")
    // CMS inner product never undercounts the true join size (50)
    assert(plan.estJoinSize >= 50L)
    assert(plan.estSelectivity <= th.bloomSelectivityMax)
    assert(chosenRows(plan) === plainRows(fact, dim))
  }

  test("tiny dim selects broadcast; dense balanced join selects plain") {
    val fact = (1L to 500L).map(k => (k, k)).toDF("fk", "payload")
    val tiny = (1L to 5L).map(k => (k, s"n$k")).toDF("dk", "name")
    val pb = JoinPlanner.chooseJoin(fact, tiny, "fk", "dk", th)
    assert(pb.strategy === "broadcast")
    assert(chosenRows(pb) === plainRows(fact, tiny))

    val dense = (1L to 500L).map(k => (k, s"n$k")).toDF("dk", "name")
    val pp = JoinPlanner.chooseJoin(fact, dense, "fk", "dk", th)
    assert(pp.strategy === "plain")
    assert(pp.estSelectivity >= 1.0) // every fact row matches
    assert(chosenRows(pp) === plainRows(fact, dense))
  }

  test("decision row arithmetic: exact counts, round-6 ratios, " +
    "precedence order (broadcast beats salted beats bloom)") {
    val fact = ((1 to 9).map(_ => (1L, 0L)) :+ ((2L, 0L))).toDF("fk", "payload")
    val tiny = Seq((1L, "x")).toDF("dk", "name")
    // top share 0.9 AND dim of 1 row: broadcast must win by precedence
    val p = JoinPlanner.chooseJoin(fact, tiny, "fk", "dk", th)
    assert(p.strategy === "broadcast")
    assert(p.topShare === 0.9)
    val d = JoinPlanner.joinDecision(fact, tiny, "fk", "dk", th).collect()(0)
    assert(d.getAs[Long]("fact_rows") === 10L)
    assert(d.getAs[Long]("dim_rows") === 1L)
    assert(d.getAs[String]("strategy") === "broadcast")
  }

  test("sizedJoinDecision: exact byte accounting and clamped ceildiv sizing " +
    "on top of the same decision row") {
    import graft.operators.Capacity.SizingTargets
    // fact rows: 8 (fk) + 8 (payload) = 16 bytes × 100 = 1600
    val fact = (1L to 100L).map(k => (k, k * 10)).toDF("fk", "payload")
    // dim rows: 8 (dk) + strlen + 4 = variable; "n1".."n20"
    val dim = (1L to 20L).map(k => (k, s"n$k")).toDF("dk", "name")
    val dimBytes = (1L to 20L).map(k => 8L + s"n$k".length + 4L).sum
    val t = SizingTargets(targetPartitionBytes = 512L, targetFileBytes = 1024L,
      minPartitions = 1, maxPartitions = 3)
    val r = JoinPlanner.sizedJoinDecision(fact, dim, "fk", "dk", th, t).collect()(0)
    assert(r.getAs[Long]("fact_bytes") === 1600L)
    assert(r.getAs[Long]("dim_bytes") === dimBytes)
    // ceil((1600 + 291) / 512) = 4, clamped to maxPartitions 3
    assert(dimBytes === 291L)
    assert(r.getAs[Long]("advised_shuffle_partitions") === 3L)
    // the decision half is unchanged
    assert(r.getAs[Long]("fact_rows") === 100L)
    assert(r.getAs[String]("strategy") ===
      JoinPlanner.joinDecision(fact, dim, "fk", "dk", th)
        .collect()(0).getAs[String]("strategy"))
  }

  test("guards: same-named keys rejected, empty fact fails loudly") {
    val f = Seq((1L, 2L)).toDF("k", "payload")
    val d = Seq((1L, "x")).toDF("k", "name")
    intercept[IllegalArgumentException] {
      JoinPlanner.chooseJoin(f, d, "k", "k", th)
    }
    intercept[IllegalArgumentException] {
      JoinPlanner.chooseJoin(f.filter(col("k") < 0),
        d.withColumnRenamed("k", "dk"), "k", "dk", th)
    }
  }

  test("schema identity guards: a cross-side key-name collision is rejected " +
    "loudly instead of letting the picked strategy decide the schema") {
    // fact carries a column named like the dim key → the bloom branch's
    // name-based drop would take it; dim carrying the fact key name would
    // make the salted rename ambiguous
    val f = Seq((1L, 2L, 3L)).toDF("fk", "payload", "dk")
    val d = Seq((1L, "x")).toDF("dk", "name")
    val ex = intercept[IllegalArgumentException] {
      JoinPlanner.chooseJoin(f, d, "fk", "dk", th)
    }
    assert(ex.getMessage.contains("diverge in schema"))
    val d2 = Seq((1L, "x", 9L)).toDF("dk2", "name", "fk")
    val ex2 = intercept[IllegalArgumentException] {
      JoinPlanner.chooseJoin(f.drop("dk"), d2, "fk", "dk2", th)
    }
    assert(ex2.getMessage.contains("diverge in schema"))
  }

  test("string join keys: the CMS bound stays an upper bound (keys hashed, " +
    "never cast to NULL) and a dense string join is NOT mis-picked as bloom") {
    // 1:1 dense join on string keys — before the sketchKey hash, the cast
    // to long nulled every key, collapsed the bound to 0 and force-picked
    // bloom_pruned for exactly this shape
    val fact = (1 to 300).map(i => (s"url$i", i.toLong)).toDF("fk", "payload")
    val dim = (1 to 300).map(i => (s"url$i", s"n$i")).toDF("dk", "name")
    val dense = th.copy(broadcastMaxDimRows = 10, skewShareMin = 0.3,
      bloomSelectivityMax = 0.2)
    val row = JoinPlanner.joinDecision(fact, dim, "fk", "dk", dense).collect()(0)
    assert(row.getAs[Long]("est_join_size") >= 300L,
      "CMS bound must never undercount the true join size")
    assert(row.getAs[String]("strategy") === "plain")
    // and the chosen join still returns exactly the plain join's rows
    val plan = JoinPlanner.chooseJoin(fact, dim, "fk", "dk", dense)
    assert(chosenRows2(plan) === fact.join(dim, fact("fk") === dim("dk"))
      .select(col("fk"), col("payload"), col("name"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq)
  }

  private def chosenRows2(p: JoinPlanner.JoinPlan) =
    p.result.select(col("fk"), col("payload"), col("name"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq

  test("law sweep: on seeded irregular corpora every pick preserves result " +
    "identity and the join-size bound never undercounts") {
    val rnd = new scala.util.Random(20260816L)
    (1 to 5).foreach { trial =>
      val nFact = 200 + rnd.nextInt(800)
      val nDim = 5 + rnd.nextInt(400)
      val hotShare = rnd.nextDouble() * 0.8
      val nHot = (nFact * hotShare).toInt
      val fact = ((1 to nHot).map(i => (1L, i.toLong)) ++
        (1 to (nFact - nHot)).map(i =>
          (1L + rnd.nextInt(nDim * 2).toLong, 10000L + i)))
        .toDF("fk", "payload")
      val dim = (1L to nDim.toLong).map(k => (k, s"n$k")).toDF("dk", "name")
      val thr = JoinThresholds(
        broadcastMaxDimRows = rnd.nextInt(50).toLong,
        skewShareMin = 0.05 + rnd.nextDouble() * 0.5,
        bloomSelectivityMax = rnd.nextDouble(),
        salt = 2 + rnd.nextInt(6), bloomMBits = 62 * 32, bloomNumHashes = 3)
      val plan = JoinPlanner.chooseJoin(fact, dim, "fk", "dk", thr)
      val plain = fact.join(dim, fact("fk") === dim("dk"))
        .select(col("fk"), col("payload"), col("name"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sorted.toSeq
      val chosen = plan.result.select(col("fk"), col("payload"), col("name"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sorted.toSeq
      assert(chosen === plain,
        s"trial $trial (${plan.strategy}): result identity broken")
      assert(plan.estJoinSize >= plain.size,
        s"trial $trial: CMS bound ${plan.estJoinSize} < true ${plain.size}")
    }
  }

  // ---------------------------------------------- persisted profile bundles

  private def withTmp[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_profile").toString
    try f(tmp) finally Gates.deleteTree(tmp)
  }

  test("merge law: decision from save + delta-appended profiles equals the " +
    "one-shot sizedJoinDecision row exactly") {
    withTmp { tmp =>
      val rnd = new scala.util.Random(42L)
      val fact = (1 to 600).map { i =>
        (1L + rnd.nextInt(30).toLong, i.toLong) }.toDF("fk", "payload")
      val dim = (1L to 40L).map(k => (k, s"n$k")).toDF("dk", "name")
      // topK = 64 >= 30 distinct fact keys per slice -> exact merge always
      val p = JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 64)
      JoinPlanner.saveTableProfile(fact.filter($"payload" % 3 === 0), "fk",
        s"$tmp/fact", p)
      JoinPlanner.appendTableProfile(fact.filter($"payload" % 3 === 1), "fk",
        s"$tmp/fact", p)
      JoinPlanner.appendTableProfile(fact.filter($"payload" % 3 === 2), "fk",
        s"$tmp/fact", p)
      JoinPlanner.saveTableProfile(dim.filter($"dk" % 2 === 0), "dk",
        s"$tmp/dim", p)
      JoinPlanner.appendTableProfile(dim.filter($"dk" % 2 === 1), "dk",
        s"$tmp/dim", p)
      val thr = JoinThresholds(broadcastMaxDimRows = 10, skewShareMin = 0.04,
        bloomSelectivityMax = 0.2, cmsDepth = 4, cmsWidth = 256)
      val full = JoinPlanner.joinDecisionFromProfiles(spark,
        s"$tmp/fact", s"$tmp/dim", thr).collect()
      val fromArtifacts = JoinPlanner.joinDecisionFromProfiles(spark,
        s"$tmp/fact", s"$tmp/dim", thr).drop("top_share_exact").collect()
      val oneShot = JoinPlanner.sizedJoinDecision(fact, dim, "fk", "dk", thr)
        .collect()
      assert(fromArtifacts.length == 1 && oneShot.length == 1)
      assert(fromArtifacts(0).toSeq === oneShot(0).toSeq,
        s"merge law broken: artifact row ${fromArtifacts(0)} vs one-shot ${oneShot(0)}")
      // topK covered every slice's key set -> the exactness bit is recorded
      assert(full(0).getAs[Boolean]("top_share_exact"))
      // and the KMV component folds exactly too: distinct advice from the
      // merged deltas == the one-shot sketch over the whole fact
      val advice = graft.operators.JoinPlanner
        .profileDistinctAdvice(spark, s"$tmp/fact").collect()(0)
      val direct = graft.operators.Sketches.kmvEstimate(
        graft.operators.Sketches.kmvSketch(
          fact.select($"fk".as("k")), col("k"), 256), 256).collect()(0)
      assert(advice.getAs[Long]("rows") == 600L)
      Seq("k", "n", "hk", "estimate").foreach { c =>
        assert(advice.getAs[Any](c) == direct.getAs[Any](c),
          s"kmv component diverged on $c")
      }
    }
  }

  test("the artifact decision path launches no scan of fact or dim — every " +
    "relation it reads lives under the profile roots") {
    withTmp { tmp =>
      val factDir = s"$tmp/data/fact"
      val dimDir = s"$tmp/data/dim"
      (1 to 200).map(i => (1L + i % 20, i.toLong)).toDF("fk", "payload")
        .write.parquet(factDir)
      (1L to 40L).map(k => (k, s"n$k")).toDF("dk", "name")
        .write.parquet(dimDir)
      val fact = spark.read.parquet(factDir)
      val dim = spark.read.parquet(dimDir)
      val p = JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 64)
      JoinPlanner.saveTableProfile(fact, "fk", s"$tmp/prof/fact", p)
      JoinPlanner.saveTableProfile(dim, "dk", s"$tmp/prof/dim", p)
      val decision = JoinPlanner.joinDecisionFromProfiles(spark,
        s"$tmp/prof/fact", s"$tmp/prof/dim", th)
      val scanned = decision.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
      assert(scanned.nonEmpty)
      assert(scanned.forall(_.contains("/prof/")),
        s"decision plan reads outside the profile roots: $scanned")
      assert(!scanned.exists(s => s.contains("/data/fact") || s.contains("/data/dim")),
        s"decision plan scans fact/dim: $scanned")
      // and the decision itself is the inline one
      val inline = JoinPlanner.joinDecision(fact, dim, "fk", "dk", th).collect()(0)
      val art = decision.collect()(0)
      Seq("fact_rows", "dim_rows", "top_share", "est_join_size",
        "est_selectivity", "strategy").foreach { c =>
        assert(art.getAs[Any](c) == inline.getAs[Any](c), s"column $c diverged")
      }
    }
  }

  test("topK undercoverage degrades toward plain (never toward salted) and " +
    "a sketch-shape mix aborts loudly") {
    withTmp { tmp =>
      // slice A's hot key is 1, slice B's is 2; with topK = 1 each slice
      // records only its own hot key, so the merged top count undercounts
      // the true global top — share sinks, the salted pick degrades away
      val sliceA = ((1 to 50).map(i => (1L, i.toLong)) ++
        (1 to 30).map(i => (2L, 100L + i))).toDF("fk", "payload")
      val sliceB = ((1 to 50).map(i => (2L, 200L + i)) ++
        (1 to 30).map(i => (1L, 300L + i))).toDF("fk", "payload")
      val dim = (1L to 40L).map(k => (k, s"n$k")).toDF("dk", "name")
      val p1 = JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 1)
      JoinPlanner.saveTableProfile(sliceA, "fk", s"$tmp/fact", p1)
      JoinPlanner.appendTableProfile(sliceB, "fk", s"$tmp/fact", p1)
      JoinPlanner.saveTableProfile(dim, "dk", s"$tmp/dim", p1)
      val thr = JoinThresholds(broadcastMaxDimRows = 10, skewShareMin = 0.5,
        bloomSelectivityMax = 0.001, cmsDepth = 4, cmsWidth = 256)
      // truth: key 1 and key 2 each hold 80/160 = 0.5 -> one-shot salts
      val oneShot = JoinPlanner.joinDecision(
        sliceA.union(sliceB), dim, "fk", "dk", thr).collect()(0)
      assert(oneShot.getAs[String]("strategy") == "salted")
      val merged = JoinPlanner.joinDecisionFromProfiles(spark,
        s"$tmp/fact", s"$tmp/dim", thr).collect()(0)
      assert(merged.getAs[Double]("top_share") <
        oneShot.getAs[Double]("top_share"))
      assert(merged.getAs[String]("strategy") == "plain")
      // ... and the decision row RECORDS that its top_share is a lower
      // bound: each slice holds 2 distinct keys > topK = 1, so the
      // coverage bit is off exactly when the documented degrade happens
      assert(!merged.getAs[Boolean]("top_share_exact"))
      // appending under a different sketch shape cannot merge
      JoinPlanner.appendTableProfile(sliceB, "fk", s"$tmp/fact",
        JoinPlanner.ProfileParams(depth = 2, width = 64, topK = 1))
      val ex = intercept[IllegalArgumentException] {
        JoinPlanner.loadTableProfile(spark, s"$tmp/fact")
      }
      assert(ex.getMessage.contains("mixes sketch shapes"))
    }
  }

  test("compactTableProfile: one merged generation, decision-identical to " +
    "the pile, fewer files; guards fire") {
    withTmp { tmp =>
      val rnd = new scala.util.Random(7L)
      val fact = (1 to 400).map { i =>
        (1L + rnd.nextInt(25).toLong, i.toLong) }.toDF("fk", "payload")
      val dim = (1L to 40L).map(k => (k, s"n$k")).toDF("dk", "name")
      val p = JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 64,
        kmvK = 32)
      JoinPlanner.saveTableProfile(fact.filter($"payload" % 3 === 0), "fk",
        s"$tmp/fact", p)
      JoinPlanner.appendTableProfile(fact.filter($"payload" % 3 === 1), "fk",
        s"$tmp/fact", p)
      JoinPlanner.appendTableProfile(fact.filter($"payload" % 3 === 2), "fk",
        s"$tmp/fact", p)
      JoinPlanner.saveTableProfile(dim, "dk", s"$tmp/dim", p)
      val thr = JoinThresholds(broadcastMaxDimRows = 10, skewShareMin = 0.04,
        bloomSelectivityMax = 0.2, cmsDepth = 4, cmsWidth = 256)
      def dcs() = JoinPlanner
        .joinDecisionFromProfiles(spark, s"$tmp/fact", s"$tmp/dim", thr).collect()(0).toSeq
      def advice() = JoinPlanner.profileDistinctAdvice(spark, s"$tmp/fact").collect()(0).toSeq
      // the live files of the bundle's newest manifest
      def parquets() = graft.operators.SegmentStore.latest(
        graft.operators.SeqFiles.fs(spark, s"$tmp/fact"), s"$tmp/fact").get.live.length
      val (pileDcs, pileAdvice, pileFiles) = (dcs(), advice(), parquets())
      JoinPlanner.compactTableProfile(spark, s"$tmp/fact")
      assert(dcs() === pileDcs)
      // and the distinct/overlap advice survive the fold too
      assert(advice() === pileAdvice)
      assert(parquets() < pileFiles, "the fold must shrink the file pile")
      intercept[IllegalStateException] {
        JoinPlanner.compactTableProfile(spark, s"$tmp/none")
      }
      // coverage degrade under fold: two slices each COVERED (15 and 15
      // distinct keys, disjoint, topK = 16) merge to 30 > topK — the fold
      // keeps every decision number but must mark its topk truncated
      // (a future append's hot key could have been cut), so the recorded
      // exactness flips true -> false, never the reverse
      val sliceA2 = (1 to 60).map(i => (1L + i % 15, i.toLong)).toDF("fk", "payload")
      val sliceB2 = (1 to 60).map(i => (100L + i % 15, 900L + i)).toDF("fk", "payload")
      val p16 = JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 16,
        kmvK = 32)
      JoinPlanner.saveTableProfile(sliceA2, "fk", s"$tmp/fcov", p16)
      JoinPlanner.appendTableProfile(sliceB2, "fk", s"$tmp/fcov", p16)
      JoinPlanner.saveTableProfile(dim, "dk", s"$tmp/dcov", p16)
      assert(JoinPlanner.loadTableProfile(spark, s"$tmp/fcov").topCovered)
      val thc = JoinThresholds(broadcastMaxDimRows = 10, skewShareMin = 0.9,
        bloomSelectivityMax = 0.001, cmsDepth = 4, cmsWidth = 256)
      def covDcs() = JoinPlanner.joinDecisionFromProfiles(spark, s"$tmp/fcov",
        s"$tmp/dcov", thc).drop("top_share_exact").collect()(0).toSeq
      val covPile = covDcs()
      JoinPlanner.compactTableProfile(spark, s"$tmp/fcov")
      assert(!JoinPlanner.loadTableProfile(spark, s"$tmp/fcov").topCovered,
        "a fold that truncated the merged key set must degrade coverage")
      assert(covDcs() === covPile,
        "the coverage degrade must not move any decision number")
      // kmvK mismatch across bundles aborts the overlap advice
      JoinPlanner.saveTableProfile(dim, "dk", s"$tmp/dim8",
        JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 64, kmvK = 8))
      val ex = intercept[IllegalArgumentException] {
        JoinPlanner.profileOverlapAdvice(spark, s"$tmp/fact", s"$tmp/dim8")
      }
      assert(ex.getMessage.contains("kmvK differs"))
    }
  }

  test("profile law sweep: on seeded irregular corpora and slice counts, " +
    "save+append (+compact) decisions and advice equal the one-shot forms") {
    val rnd = new scala.util.Random(20260817L)
    (1 to 4).foreach { trial =>
      withTmp { tmp =>
        val nKeys = 5 + rnd.nextInt(40)
        val nFact = 200 + rnd.nextInt(600)
        val slices = 2 + rnd.nextInt(3)
        val hot = (1 to (50 + rnd.nextInt(200))).map(i => (1L, 100000L + i))
        val fact = (hot ++ (1 to nFact).map(i =>
          (1L + rnd.nextInt(nKeys).toLong, i.toLong))).toDF("fk", "payload")
        val dim = (1L to (2L + rnd.nextInt(60))).map(k => (k, s"n$k"))
          .toDF("dk", "name")
        // topK >= per-slice distinct keys -> the merge law holds exactly
        val p = JoinPlanner.ProfileParams(depth = 4, width = 128,
          topK = 64, kmvK = 16)
        (0 until slices).foreach { i =>
          val sl = fact.filter($"payload" % slices === i)
          if (i == 0) JoinPlanner.saveTableProfile(sl, "fk", s"$tmp/fact", p)
          else JoinPlanner.appendTableProfile(sl, "fk", s"$tmp/fact", p)
        }
        JoinPlanner.saveTableProfile(dim, "dk", s"$tmp/dim", p)
        val thr = JoinThresholds(
          broadcastMaxDimRows = rnd.nextInt(50).toLong,
          skewShareMin = 0.05 + rnd.nextDouble() * 0.5,
          bloomSelectivityMax = rnd.nextDouble(),
          cmsDepth = 4, cmsWidth = 128)
        val fromArtifacts = JoinPlanner.joinDecisionFromProfiles(spark,
          s"$tmp/fact", s"$tmp/dim", thr).drop("top_share_exact").collect()(0)
        val oneShot = JoinPlanner.sizedJoinDecision(fact, dim, "fk", "dk", thr)
          .collect()(0)
        assert(fromArtifacts.toSeq === oneShot.toSeq,
          s"trial $trial ($slices slices): merge law broken")
        // compaction preserves the decision and both advice forms
        JoinPlanner.compactTableProfile(spark, s"$tmp/fact")
        assert(JoinPlanner.joinDecisionFromProfiles(spark, s"$tmp/fact",
          s"$tmp/dim", thr).drop("top_share_exact").collect()(0).toSeq ===
          fromArtifacts.toSeq,
          s"trial $trial: compaction changed the decision")
        val direct = graft.operators.Sketches.kmvEstimate(
          graft.operators.Sketches.kmvSketch(
            fact.select($"fk".as("k")), col("k"), 16), 16).collect()(0)
        val advice = JoinPlanner.profileDistinctAdvice(spark, s"$tmp/fact")
          .collect()(0)
        Seq("k", "n", "hk", "estimate").foreach { c =>
          assert(advice.getAs[Any](c) == direct.getAs[Any](c),
            s"trial $trial: distinct advice diverged on $c")
        }
      }
    }
  }

  test("advisedExchangeJoin: the advised width IS the join's partitioning, " +
    "rows identical to the plain join") {
    withTmp { tmp =>
      val fact = (1 to 300).map(i => (1L + i % 20, i.toLong)).toDF("fk", "payload")
      val dim = (1L to 40L).map(k => (k, s"n$k")).toDF("dk", "name")
      val p = JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 64,
        kmvK = 16)
      JoinPlanner.saveTableProfile(fact, "fk", s"$tmp/fact", p)
      JoinPlanner.saveTableProfile(dim, "dk", s"$tmp/dim", p)
      // tiny target -> an advised count the static conf would never pick
      val t = graft.operators.Capacity.SizingTargets(targetPartitionBytes = 512L,
        targetFileBytes = 4096L, minPartitions = 1, maxPartitions = 64)
      val advised = JoinPlanner.joinDecisionFromProfiles(spark,
          s"$tmp/fact", s"$tmp/dim", th, t)
        .collect()(0).getAs[Long]("advised_shuffle_partitions").toInt
      assert(advised > 4, s"fixture should advise above the test conf, got $advised")
      val joined = JoinPlanner.advisedExchangeJoin(fact, dim, "fk", "dk", advised)
      assert(joined.rdd.getNumPartitions == advised,
        "the advised width must survive into the join's output partitioning")
      val got = joined.select(col("fk"), col("payload"), col("name"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sorted.toSeq
      assert(got === plainRows(fact, dim))
      intercept[IllegalArgumentException] {
        JoinPlanner.advisedExchangeJoin(fact, dim, "fk", "dk", 0)
      }
    }
  }

  test("a replayed sliceId is a committed no-op: the bundle does not " +
    "double-count and publishes nothing") {
    withTmp { tmp =>
      val fact = (1 to 200).map(i => (1L + i % 10, i.toLong)).toDF("fk", "payload")
      val p = JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 64,
        kmvK = 16)
      JoinPlanner.saveTableProfile(fact.filter($"payload" % 2 === 0), "fk",
        s"$tmp/fact", p)
      JoinPlanner.appendTableProfile(fact.filter($"payload" % 2 === 1), "fk",
        s"$tmp/fact", p, sliceId = "batch-1")
      val before = JoinPlanner.profileDistinctAdvice(spark, s"$tmp/fact")
        .collect()(0).toSeq
      def seq() = graft.operators.SegmentStore.latest(
        graft.operators.SeqFiles.fs(spark, s"$tmp/fact"), s"$tmp/fact").get.seq
      val committed = seq()
      // replaying an already-committed sliceId must not double-count —
      // the exactly-once contract a foreachBatch maintainer leans on
      JoinPlanner.appendTableProfile(fact.filter($"payload" % 2 === 1), "fk",
        s"$tmp/fact", p, sliceId = "batch-1")
      assert(JoinPlanner.profileDistinctAdvice(spark, s"$tmp/fact")
        .collect()(0).toSeq === before,
        "an at-least-once replay double-counted a slice")
      assert(seq() == committed, "a replayed sliceId published a commit")
      assert(before.head == 200L)
    }
  }

  test("sliceId hygiene: a tag that is not a plain id is rejected before " +
    "anything is written; re-save replaces only the bundle's own commits") {
    withTmp { tmp =>
      val fact = (1 to 100).map(i => (1L + i % 5, i.toLong)).toDF("fk", "payload")
      val p = JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 64,
        kmvK = 16)
      JoinPlanner.saveTableProfile(fact, "fk", s"$tmp/fact", p)
      val before = JoinPlanner.profileDistinctAdvice(spark, s"$tmp/fact")
        .collect()(0).toSeq
      // the sliceId is one field of a tab-separated manifest line: a tab
      // or a line break would split it, and a dot-, dash- or
      // underscore-led or path-like name is a caller mistake — all must
      // fail the append loudly BEFORE anything is written
      for (bad <- Seq(".foo", "_foo", ".", "..", "a/b", "-x", "a\tb", "a\nb"))
        intercept[IllegalArgumentException] {
          JoinPlanner.appendTableProfile(fact, "fk", s"$tmp/fact", p,
            sliceId = bad)
        }
      assert(JoinPlanner.profileDistinctAdvice(spark, s"$tmp/fact")
        .collect()(0).toSeq === before,
        "a rejected sliceId changed the bundle")
      // re-save touches only the store's c-N/ and _manifest/: a neighbor
      // file and a neighbor dir at the same path survive it
      val foreign = java.nio.file.Path.of(s"$tmp/fact/keepme.txt")
      java.nio.file.Files.writeString(foreign, "not a bundle component")
      java.nio.file.Files.createDirectories(
        java.nio.file.Path.of(s"$tmp/fact/other"))
      JoinPlanner.saveTableProfile(fact.filter($"payload" % 2 === 0), "fk",
        s"$tmp/fact", p)
      assert(java.nio.file.Files.exists(foreign),
        "saveTableProfile wiped a non-bundle neighbor file")
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Path.of(s"$tmp/fact/other")),
        "saveTableProfile wiped a non-bundle neighbor dir")
      // and the reset bundle reflects only the new base slice
      val m = graft.operators.SegmentStore.latest(
        graft.operators.SeqFiles.fs(spark, s"$tmp/fact"), s"$tmp/fact").get
      assert(m.live.map(_.path.takeWhile(_ != '/')).distinct == Seq("c-00000002"))
      assert(JoinPlanner.profileDistinctAdvice(spark, s"$tmp/fact")
        .collect()(0).getAs[Long]("rows") == 50L)
    }
  }

  test("the dispatch APPLIES the advised exchange width: plain and salted " +
    "picks run at advised_shuffle_partitions, rows identical to plain") {
    withTmp { tmp =>
      val dim = (1L to 40L).map(k => (k, s"n$k")).toDF("dk", "name")
      val p = JoinPlanner.ProfileParams(depth = 4, width = 256, topK = 256)
      // tiny target -> an advised count the 4-partition test conf would
      // never produce on its own
      val t = graft.operators.Capacity.SizingTargets(targetPartitionBytes = 512L,
        targetFileBytes = 4096L, minPartitions = 1, maxPartitions = 64)
      // plain pick
      val balanced = (1 to 300).map(i => (1L + i % 20, i.toLong)).toDF("fk", "payload")
      JoinPlanner.saveTableProfile(balanced, "fk", s"$tmp/fact", p)
      JoinPlanner.saveTableProfile(dim, "dk", s"$tmp/dim", p)
      val thPlain = JoinThresholds(broadcastMaxDimRows = 10, skewShareMin = 0.9,
        bloomSelectivityMax = 0.001)
      val plan = JoinPlanner.chooseJoinFromProfiles(balanced, dim, "fk", "dk",
        s"$tmp/fact", s"$tmp/dim", thPlain, t = t)
      assert(plan.strategy === "plain")
      assert(plan.advisedShufflePartitions > 4,
        s"fixture must advise above the test conf, got ${plan.advisedShufflePartitions}")
      assert(plan.result.rdd.getNumPartitions === plan.advisedShufflePartitions,
        "the plain branch must run at the advised width")
      assert(chosenRows(plan) === plainRows(balanced, dim))
      // salted pick (inline chooser — same dispatch)
      val skewed = ((1 to 200).map(i => (1L, i.toLong)) ++
        (1 to 100).map(i => (i.toLong + 1, 1000L + i))).toDF("fk", "payload")
      val thSalt = JoinThresholds(broadcastMaxDimRows = 10, skewShareMin = 0.3,
        bloomSelectivityMax = 0.001, salt = 4)
      val sp = JoinPlanner.chooseJoin(skewed, dim, "fk", "dk", thSalt,
        factSaltCols = Seq("fk", "payload"), t = t)
      assert(sp.strategy === "salted")
      assert(sp.advisedShufflePartitions > 4)
      assert(sp.result.rdd.getNumPartitions === sp.advisedShufflePartitions,
        "the salted branch must run at the advised width")
      assert(chosenRows(sp) === plainRows(skewed, dim))
    }
  }

  test("chooseJoinFromProfiles: decision from artifacts, execution on the " +
    "frames, result identical to the plain join") {
    withTmp { tmp =>
      val fact = ((1 to 60).map(i => (1L, i.toLong)) ++
        (1 to 40).map(i => (i.toLong + 1, 1000L + i))).toDF("fk", "payload")
      val dim = (1L to 200L).map(k => (k, s"n$k")).toDF("dk", "name")
      val p = JoinPlanner.ProfileParams(depth = 4, width = 4096, topK = 256)
      JoinPlanner.saveTableProfile(fact, "fk", s"$tmp/fact", p)
      JoinPlanner.saveTableProfile(dim, "dk", s"$tmp/dim", p)
      val plan = JoinPlanner.chooseJoinFromProfiles(fact, dim, "fk", "dk",
        s"$tmp/fact", s"$tmp/dim", th, factSaltCols = Seq("fk", "payload"))
      assert(plan.strategy == "salted" && plan.topShare == 0.6)
      assert(chosenRows(plan) === plainRows(fact, dim))
    }
  }
}
