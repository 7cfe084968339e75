package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // near-dup of 1
    (3L, "completely different content about spark distributed query engines"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (5L, "yet another unrelated document mentioning embeddings and vectors"))
    .toDF("doc_id", "text")

  test("exactDedup groups exact duplicates, keeps min id") {
    val d = Dedup.exactDedup(docs).collect()
    assert(d.length == 4) // 1&4 collapse
    val dup = d.find(_.getLong(2) == 2).get
    assert(dup.getLong(1) == 1L) // keep_id = min(1,4)
  }

  test("minHashLsh finds planted near-dup and exact-dup pairs") {
    val pairs = Dedup.minHashLsh(docs, shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists { case (a, b, j) => a == 1 && b == 4 && j == 1.0 })
    assert(pairs.exists { case (a, b, _) => a == 1 && b == 2 })
    assert(!pairs.exists { case (a, b, _) => b == 3 || a == 3 })
  }

  test("simHashDedup: identical docs at hamming 0; near-dups small hamming") {
    val pairs = Dedup.simHashDedup(docs, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val exact = pairs.find { case (a, b, _) => a == 1 && b == 4 }
    assert(exact.exists(_._3 == 0))
  }

  test("simHashDedup maxBucketSize drops flooded buckets, keeps normal ones") {
    // 20 identical docs: every (band, chunk) bucket holds all 20, so a cap
    // of 10 kills every candidate; the default cap reports all 190 pairs
    val flood = (1L to 20L).map(i => (i, "same boilerplate text repeated"))
      .toDF("doc_id", "text")
    assert(Dedup.simHashDedup(flood, maxHamming = 0).count() == 190)
    assert(Dedup.simHashDedup(flood, maxHamming = 0, maxBucketSize = 10).count() == 0)
  }

  test("ngramJaccardPairs computes exact jaccard") {
    val pairs = Dedup.ngramJaccardPairs(docs, shingleN = 2, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(1L -> 4L) == 1.0)
    // doc1 has 12 2-shingles (13 tokens), doc2 has 11 (12 tokens), all shared
    val j12 = pairs(1L -> 2L)
    assert(math.abs(j12 - 11.0 / 12.0) < 1e-6, s"j12=$j12")
  }

  test("containmentPairs: a quoted subset is flagged by containment where jaccard misses it") {
    import spark.implicits._
    val big = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val cd = Seq(
      (1L, big),                              // host document
      (2L, "alpha beta gamma delta epsilon"), // fully contained 5-token quote
      (3L, "totally unrelated words about another topic entirely here now")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(cd, shingleN = 3, threshold = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3)))).toMap
    // doc2's 3 shingles all appear in doc1 (12 shingles): C(2→1)=1.0, C(1→2)=0.25
    assert(got.keySet == Set(1L -> 2L))
    val (ca, cb) = got(1L -> 2L)
    assert(cb == 1.0 && math.abs(ca - 3.0 / 12.0) < 1e-6, s"ca=$ca cb=$cb")
    // symmetric jaccard on the same pair is 0.25 — below any near-dup threshold
    val j = Dedup.ngramJaccardPairs(cd, shingleN = 3, threshold = 0.01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j(1L -> 2L) < 0.3)
  }

  test("containmentPairs df-cut: a boilerplate shingle shared by all docs pairs nothing") {
    import spark.implicits._
    // every doc shares one boilerplate sentence (the same 5 tokens) but is
    // otherwise unique; with maxDf=2 the boilerplate shingles are excluded
    // from pairing, so no pair reaches the threshold
    val boiler = "subscribe to our newsletter today"
    val cd = (1L to 4L).map(i =>
      (i, s"$boiler unique$i content$i words$i body$i text$i")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(cd, shingleN = 3, threshold = 0.3, maxDf = 2)
    assert(got.count() == 0)
    // without the cut the boilerplate DOES pair them — the cut is load-bearing
    val uncut = Dedup.containmentPairs(cd, shingleN = 3, threshold = 0.3, maxDf = 100)
    assert(uncut.count() > 0)
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(cd, threshold = 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(cd, maxDf = 0)
    }
  }

  test("embeddingNearDup finds identical vectors via SRP buckets") {
    val embs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, -0.2f)),
      (2L, Array(1.0f, 0.0f, 0.5f, -0.2f)),   // dup of 1
      (3L, Array(-1.0f, 0.3f, -0.5f, 0.9f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(embs, dim = 4, nBits = 4, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("sourceOverlapMatrix counts shared distinct shingles per source pair") {
    import spark.implicits._
    val d = Seq(
      (1L, "one two three four", "a"),   // shingles: {one two three, two three four}
      (2L, "one two three", "b"),        // {one two three}
      (3L, "five six seven eight", "b"), // {five six seven, six seven eight}
      (4L, "nine ten eleven", "c")       // {nine ten eleven}
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlapMatrix(d)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // a∩b share exactly "one two three"; a has 2 distinct shingles, b has 3
    assert(got(("a", "b")) == ((1L, 2L, 3L, 0.25)))
    // c shares nothing — pairs with zero overlap simply don't appear
    assert(!got.contains(("a", "c")) && !got.contains(("b", "c")))
  }

  test("mmrSelect: diversity demotes near-copies that pure relevance ranks high") {
    import spark.implicits._
    val pool = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // orthogonal-ish to top pick
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // exact duplicate of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // most relevant
      (4L, Array(0.01f, 0.999f, 0.0f, 0.0f)) // near-copy of 3
    ).toDF("vec_id", "embedding")
    val q = Array(0.6f, 0.8f, 0.0f, 0.0f)
    val got = Similarity.mmrSelect(pool, q, k = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // pure relevance orders 4, 3, 1, 2 (4's small x-component aligns with
    // the query); MMR promotes the orthogonal vector over 4's near-copy at
    // step 2, and the exact duplicate lands last
    assert(got == Seq((1, 4L), (2, 1L), (3, 3L), (4, 2L)), got.toString)
    // pool smaller than k: stops early instead of looping
    val short = Similarity.mmrSelect(pool.filter($"vec_id" <= 2), q, k = 10)
    assert(short.count() == 2)
    intercept[IllegalArgumentException](Similarity.mmrSelect(pool, q, k = 0))
    intercept[IllegalArgumentException](Similarity.mmrSelect(pool, q, k = 1, lambda = 0.0))
    intercept[IllegalArgumentException](
      Similarity.mmrSelect(pool, Array(Float.NaN, 1f, 0f, 0f), k = 1))
    // bounded-k contract: the greedy plan inlines k vectors per step, so
    // k past maxK fails loudly instead of blowing up codegen/analysis
    intercept[IllegalArgumentException](Similarity.mmrSelect(pool, q, k = 129))
    // ...and raising maxK deliberately is allowed (pool exhausts at 4)
    assert(Similarity.mmrSelect(pool, q, k = 129, maxK = 200).count() == 4)
  }

  test("bruteForceTopK: nearest neighbor is the most-aligned vector") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(embs, embs.filter($"vec_id" === 0), k = 2)
      .orderBy($"rnk").collect()
    assert(top.map(_.getLong(2)).toSeq == Seq(1L, 2L)) // cos order: 0.993, 0, -1
  }

  test("cosine/dot/norm column math matches hand computation") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot($"a", $"b").as("d"),
      VectorFunctions.norm2($"a").as("na"),
      VectorFunctions.cosine($"a", $"b").as("c")).head()
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))) < 1e-12)
  }

  test("lshTopK returns a subset of brute-force ranking with exact scores") {
    val embs = embTable
    val brute = Similarity.bruteForceTopK(embs, embs.filter($"vec_id" < 3), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = Similarity.lshTopK(embs, embs.filter($"vec_id" < 3), k = 5, dim = 64)
      .collect()
    assert(lsh.nonEmpty)
    // every LSH hit's cosine must equal the brute-force cosine for that pair
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      brute.get(key).foreach(c => assert(c == r.getDouble(3)))
    }
  }

  private lazy val embTable = graft.sources.Tables.embeddings(spark, Sf)

  test("minhash signature has numHashes entries and respects similarity") {
    val sig = docs.select(TextFunctions.minHashSignature(
      TextFunctions.shingles($"text", 3), 16).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(sig.forall(_.length == 16))
    // identical docs (1,4) → identical signatures
    assert(sig(0) == sig(3))
  }

  test("incremental near-dup: new batch vs stored band index, corpus text untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different content about spark shuffles and joins"),
      (3L, "yet another unrelated document describing window functions"))
      .toDF("doc_id", "text")
    // build once, roundtrip through parquet (the storable artifact)
    val dir = java.nio.file.Files.createTempDirectory("bandidx").toString
    graft.operators.Dedup.saveBandIndex(graft.operators.Dedup.buildBandIndex(corpus), dir)
    // stored layout is hive-partitioned by band → probe joins prune partitions
    // (the band values of the newest manifest's live files)
    val bandDirs = graft.operators.SegmentStore.latest(graft.operators.SeqFiles.fs(spark, dir),
      dir).get.live.map(_.values.head).distinct
    assert(bandDirs.length == 8, s"expected 8 band partitions, got ${bandDirs.length}")
    val index = graft.operators.Dedup.loadBandIndex(spark, dir)

    val newBatch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 1
      (11L, "entirely fresh text with no relatives in the corpus at all"))
      .toDF("doc_id", "text")
    val hits = graft.operators.Dedup.nearDupsAgainstIndex(
      newBatch, index, corpus, threshold = 0.5).collect()
    assert(hits.length == 1)
    assert(hits(0).getAs[Long]("new_id") == 10L && hits(0).getAs[Long]("corpus_id") == 1L)
    assert(hits(0).getAs[Double]("jaccard") >= 0.5)

    // batch-internal result parity: indexing a batch against itself finds
    // the same pairs the one-shot operator does
    val oneShot = graft.operators.Dedup.minHashLsh(corpus.union(newBatch), threshold = 0.5)
      .filter(col("a") === 1L && col("b") === 10L).count()
    assert(oneShot == 1L)
  }

  test("dupClusters: transitive chains collapse to the min id") {
    import org.apache.spark.sql.functions.col
    // chain 1-2-3-4 (diameter 3), pair 10-11, star 20-{21,22}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("a", "b")
    val out = graft.operators.Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("keepRepresentatives: longest wins, ties to min id, singletons pass") {
    import org.apache.spark.sql.functions.col
    val d = Seq(
      (1L, "short"), (2L, "the longest text in this cluster"), (3L, "mid text"),
      (10L, "same length"), (11L, "Same length"), // tie -> min id wins
      (30L, "a singleton document"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = graft.operators.Dedup.keepRepresentatives(d, pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      2L -> ((1L, 3L)),   // longest of cluster {1,2,3}, rep label = min id 1
      10L -> ((10L, 2L)), // length tie with 11 -> min id
      30L -> ((30L, 1L)))) // singleton keeps itself
  }

  test("dupClusters: pointer doubling converges on a 64-node chain within maxIter") {
    import org.apache.spark.sql.functions.col
    // diameter 63 — plain min-label propagation needs 63 rounds and would
    // blow the default maxIter = 20; shortcutting converges in O(log n).
    // driverEdgeLimit = 0 forces the DISTRIBUTED loop (the small path
    // would short-circuit it and leave the doubling untested)
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val out = graft.operators.Dedup.dupClusters(pairs, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 64)
    assert(out.values.forall(_ == 1L), out.toString)
  }

  test("dupClusters: driver union-find small path ≡ distributed doubling") {
    import org.apache.spark.sql.functions.col
    // mixed shapes: long chain, star, triangle with a cross edge,
    // self-pair, duplicate edges in both orientations
    val pairs = ((1L until 64L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L),
        (200L, 201L), (201L, 202L), (202L, 200L), (202L, 150L),
        (300L, 300L), (101L, 100L)))
      .toDF("a", "b")
    val small = graft.operators.Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = graft.operators.Dedup.dupClusters(pairs, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(small == dist, s"small=$small dist=$dist")
  }

  test("dupClusters: a null id in the probe falls through to the distributed loop") {
    // nullable ids: decoding the null into the primitive probe tuple fails,
    // and the distributed loop (whose groupBy semantics define the
    // behavior) answers instead of the small path crashing
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(5L)))
      .toDF("a", "b")
    val viaProbe = Dedup.dupClusters(pairs).collect().map(_.toString).toSet
    val dist = Dedup.dupClusters(pairs, driverEdgeLimit = 0).collect().map(_.toString).toSet
    assert(viaProbe == dist)
    assert(Set("[1,1]", "[2,1]", "[3,1]", "[5,5]").subsetOf(viaProbe), viaProbe)
  }

  test("dupClusters: any other probe failure surfaces from the probe, and no " +
    "distributed-loop job starts") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // a boxed result keeps the id column nullable
    val boom = udf((a: Long) => {
      if (a == 3L) throw new IllegalStateException("boom on pair 3")
      java.lang.Long.valueOf(a)
    })
    // a range, not a local relation: the optimizer would fold the UDF over
    // local rows on the driver, and the probe would start no job at all
    val pairs = spark.range(1L, 10L).select(boom($"id").as("a"), ($"id" + 1L).as("b"))
    assert(pairs.schema.exists(_.nullable), "the case the old broad catch swallowed")
    val sc = spark.sparkContext
    val group = s"dup-probe-${System.nanoTime()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          sites.add(e.stageInfos.map(_.name).mkString(" | "))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "dupClusters probe failure")
      val err =
        try intercept[Exception](Dedup.dupClusters(pairs))
        finally {
          sc.parallelize(Seq(1)).map(identity).collect() // marker: events arrive in order
          sc.clearJobGroup()
        }
      val chain = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("boom on pair 3")), err)
      val deadline = System.nanoTime() + 30000000000L
      while (!sites.asScala.exists(_.contains("DedupSimilaritySpec")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val jobs = sites.asScala.filterNot(_.contains("DedupSimilaritySpec")).toSeq
    assert(jobs.nonEmpty && jobs.forall(_.startsWith("collect at Dedup.scala")) &&
      !jobs.exists(_.contains("localCheckpoint")), s"jobs started by the failing call: $jobs")
  }

  test("semanticDedup: planted dups found in-cluster; cap drops oversized clusters") {
    import graft.sources.Tables
    val e = Tables.embeddings(spark, Sf).filter(col("vec_id") < 100)
    val fixture = e.select(col("vec_id"), col("embedding"))
      .union(e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val pairs = Dedup.semanticDedup(fixture, nlist = 8, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // every planted copy shares its source's cluster (identical vector ->
    // identical argmax) and must surface at cos 1.0
    assert(pairs.count { case (a, b, c) => b == a + 1000000L && c == 1.0 } == 100)
    // near-orthogonal random vectors produce no spurious pairs at 0.95
    assert(pairs.length == 100)
    // refinement keeps the planted pairs (identical vectors stay co-assigned
    // under any centroids)
    val refined = Dedup.semanticDedup(fixture, nlist = 8, threshold = 0.95,
      kmeansIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(refined.count { case (a, b, c) => b == a + 1000000L && c == 1.0 } == 100)
    // a cap below every cluster's size empties the pair set (documented trade)
    assert(Dedup.semanticDedup(fixture, nlist = 1, threshold = 0.95,
      maxClusterSize = 10).count() == 0)
  }

  test("minHashLshWithReport names every bucket the size cap dropped") {
    // 12 identical docs flood one bucket per band (size 12); 3 copies of a
    // second text stay under the cap. With maxBucketSize = 10 the flood's
    // pairs vanish SILENTLY from the pair set — the report must name all 8
    // dropped (band, bh) buckets at size 12, and nothing else.
    val flood = (1L to 12L).map(i => (i, "same boilerplate flood text repeated over and over"))
    val small = (21L to 23L).map(i => (i, "a different small duplicate group of documents here"))
    val fixture = (flood ++ small).toDF("doc_id", "text")
    val (pairs, report) = Dedup.minHashLshWithReport(fixture,
      shingleN = 3, threshold = 0.5, maxBucketSize = 10)
    val p = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // flood pairs dropped, small-group pairs intact
    assert(!p.exists { case (a, b) => a <= 12 && b <= 12 })
    assert(p == Set((21L, 22L), (21L, 23L), (22L, 23L)))
    val rep = report.collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(rep.length == 8 && rep.forall(_._2 == 12L), rep.mkString(","))
    assert(rep.map(_._1).sorted.sameElements(0 until 8))
    // an uncapped run reports nothing dropped
    val (_, clean) = Dedup.minHashLshWithReport(fixture, shingleN = 3, threshold = 0.5)
    assert(clean.count() == 0)
  }

  test("semanticDedupWithReport names every cluster the size cap dropped") {
    import graft.sources.Tables
    val e = Tables.embeddings(spark, Sf).filter(col("vec_id") < 40)
    val fixture = e.select(col("vec_id"), col("embedding"))
      .union(e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    // nlist = 1: one 80-member cluster, over a cap of 10 — pair set empties
    // and the report names the cluster at its true size
    val (pairs, dropped) = Dedup.semanticDedupWithReport(fixture, nlist = 1,
      threshold = 0.95, maxClusterSize = 10)
    assert(pairs.count() == 0)
    val rep = dropped.collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(rep.toSeq == Seq((0, 80L)), rep.mkString(","))
    // under a generous cap nothing is dropped and the planted pairs return
    val (pairs2, dropped2) = Dedup.semanticDedupWithReport(fixture, nlist = 1,
      threshold = 0.95, maxClusterSize = 1000)
    assert(dropped2.count() == 0 && pairs2.count() == 40)
  }

  test("keepMinIdRepresentatives: empty pair set keeps everything (no dups found)") {
    val all = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("vec_id", "t")
    val noPairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val kept = Dedup.keepMinIdRepresentatives(all, noPairs)
      .collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Seq(1L, 2L, 3L)))
    // and with pairs: min id per cluster survives, singleton untouched
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val kept2 = Dedup.keepMinIdRepresentatives(all, pairs)
      .collect().map(_.getLong(0)).sorted
    assert(kept2.sameElements(Seq(1L, 3L)))
  }

  test("ivfPqQuery excludeSelf=false serves corpus rows whose id collides with the query id") {
    import graft.sources.Tables
    import graft.operators.Quantization
    val e = Tables.embeddings(spark, Sf).filter(col("vec_id") < 100)
    val idx = Similarity.buildIvfIndex(e, nlist = 8)
    val books = Quantization.buildPqCodebooks(e, m = 8, ksub = 16)
    val enc = Similarity.ivfPqEncode(e, idx.centroids, books)
    // the query IS corpus vector 7, arriving under the SAME id (client
    // collision): with excludeSelf=false its true top-1 (itself, cos 1.0)
    // must be served; the default silently hides it
    val q = e.filter(col("vec_id") === 7)
    val served = Similarity.ivfPqQuery(enc, idx.centroids, books, e, q,
      k = 1, nprobe = 8, shortlist = 10, excludeSelf = false).collect()
    assert(served.length == 1 && served(0).getLong(2) == 7L && served(0).getDouble(3) == 1.0)
    val hidden = Similarity.ivfPqQuery(enc, idx.centroids, books, e, q,
      k = 1, nprobe = 8, shortlist = 10).collect()
    assert(hidden.forall(_.getLong(2) != 7L))
  }

  test("null/NaN/Inf embeddings: index paths skip them, bucket paths never emit them") {
    import graft.sources.Tables
    import graft.operators.Quantization
    val e = Tables.embeddings(spark, Sf).filter(col("vec_id") < 50)
    // NaN is the nastier case: Spark orders NaN above every value, so an
    // unfiltered NaN vector ranks top-1 for every query and passes every
    // `cos >= threshold` predicate
    val nanVec = Seq.fill(64)(Float.NaN)
    val infVec = Float.PositiveInfinity +: Seq.fill(63)(1.0f)
    val withNulls = e.select(col("vec_id"), col("embedding"))
      .union(Seq((9999L, null.asInstanceOf[Seq[Float]]),
        (9998L, nanVec), (9997L, infVec)).toDF("vec_id", "embedding"))
    // builders must not NPE even when null rows sort into the seed pick,
    // and null ids must never reach an index or a result
    val idx = Similarity.buildIvfIndex(withNulls, nlist = 8, kmeansIters = 1)
    assert(idx.assigned.filter(col("cid") >= 9000L).count() == 0)
    val books = Quantization.buildPqCodebooks(withNulls, m = 8, ksub = 8, kmeansIters = 1)
    assert(Quantization.encodePq(withNulls, books)
      .filter(col("vec_id") >= 9000L).count() == 0)
    assert(Similarity.ivfPqEncode(withNulls, idx.centroids, books)
      .filter(col("cid") >= 9000L).count() == 0)
    // bucket-join dedup drops null rows naturally (null keys never match)
    val pairs = Dedup.embeddingNearDup(withNulls, dim = 64, threshold = 0.95).collect()
    assert(pairs.forall(r => r.getLong(0) < 9000L && r.getLong(1) < 9000L))
    val sem = Dedup.semanticDedup(withNulls, nlist = 8, threshold = 0.95).collect()
    assert(sem.forall(r => r.getLong(0) < 9000L && r.getLong(1) < 9000L))
  }

  test("IVF index lifecycle: build -> save -> load -> query == direct ivfTopK") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, Sf)
    val q = e.filter(col("vec_id") < 5)

    val direct = graft.operators.Similarity.ivfTopK(e, q, k = 3, nlist = 8, nprobe = 4)
      .orderBy(col("qid"), col("rnk")).collect().map(_.toSeq).toSeq

    val idx = graft.operators.Similarity.buildIvfIndex(e, nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf").toString
    graft.operators.Similarity.saveIvfIndex(idx, path)
    val loaded = graft.operators.Similarity.loadIvfIndex(spark, path)

    // persisted artifact: assignment table partitioned by list_id on disk
    assert(new java.io.File(s"$path/assigned").listFiles()
      .exists(_.getName.startsWith("list_id=")))
    assert(loaded.centroids.map(_._1).toSeq == idx.centroids.map(_._1).toSeq)

    val viaLoaded = graft.operators.Similarity.ivfQuery(loaded, q, k = 3, nprobe = 4)
      .orderBy(col("qid"), col("rnk")).collect().map(_.toSeq).toSeq
    assert(viaLoaded == direct && direct.nonEmpty)
  }

  test("clusterAssignments: total single-assignment partition; duplicates co-cluster; " +
      "summary is consistent") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, Sf)
    val n = e.count()
    val fixture = Fixtures.embsWithDups(e)
    val assign = graft.operators.Similarity.clusterAssignments(fixture, nlist = 8)

    // every finite vector appears exactly once, with a valid cluster id
    assert(assign.count() == fixture.count())
    assert(assign.select(col("vec_id")).distinct().count() == fixture.count())
    assert(assign.filter(col("list_id") < 0 || col("list_id") >= 8).count() == 0)

    // a planted exact copy has the same cosine profile ⇒ the same cluster
    val pairs = assign.select(col("vec_id"), col("list_id"))
    val mism = pairs.filter(col("vec_id") >= 1000000)
      .select((col("vec_id") - 1000000).as("vec_id"), col("list_id").as("copy_list"))
      .join(pairs, "vec_id")
      .filter(col("copy_list") =!= col("list_id"))
    assert(mism.count() == 0)

    // summary counts roll up exactly; mean tightness is a valid cosine
    val summ = graft.operators.Similarity.clusterSummary(assign)
    assert(summ.agg(org.apache.spark.sql.functions.sum(col("n"))).head().getLong(0)
      == fixture.count())
    assert(summ.filter(col("mean_cos") > 1.000001 || col("mean_cos") < -1.000001).count() == 0)

    // Lloyd refinement keeps the partition total and valid
    val refined = graft.operators.Similarity.clusterAssignments(fixture, nlist = 8,
      kmeansIters = 2)
    assert(refined.count() == fixture.count())
    assert(n > 0)
  }

  test("labelOutliers: planted far point ranks first, exact unit distances") {
    // label 0: three vectors at the origin corner, one planted far away;
    // label 1: two identical vectors (all distances 0 — ties break by id)
    val rows = Seq(
      (1L, 0, Array(0f, 0f)), (2L, 0, Array(0.5f, 0f)),
      (3L, 0, Array(0f, 0.5f)), (4L, 0, Array(10f, 10f)),
      (5L, 1, Array(1f, 1f)), (6L, 1, Array(1f, 1f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val out = Similarity.labelOutliers(df, dim = 2, topK = 2)
      .orderBy(col("label"), col("rnk")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // label-0 centroid (units): mean of (0, .5e6, 0, 10e6)=2.625e6 per axis
    // → planted point distance (10e6-2.625e6)^2 * 2
    val m = 2625000L
    val d4 = 2 * (10000000L - m) * (10000000L - m)
    assert(out.take(2).map(t => (t._3, t._4)).toSeq ===
      Seq((4L, d4), (1L, 2 * m * m)))
    // label 1: both at the centroid → distance 0, min id first
    assert(out.drop(2).map(t => (t._3, t._4)).toSeq ===
      Seq((5L, 0L), (6L, 0L)))
  }

  test("labelOutliers: idCol parameter works on a non-vec_id frame") {
    val df = Seq(
      (1L, 0, Array(0f, 0f)), (2L, 0, Array(0.5f, 0f)),
      (3L, 0, Array(0f, 0.5f)), (4L, 0, Array(10f, 10f)))
      .toDF("doc_id", "label", "embedding")
    val out = Similarity.labelOutliers(df, dim = 2, topK = 1, idCol = "doc_id")
    assert(out.columns.contains("doc_id"))
    assert(out.select("doc_id").head().getLong(0) === 4L)
  }
}
