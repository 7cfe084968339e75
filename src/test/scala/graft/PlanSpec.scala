package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.operators.{AggCore, QueryBuilders}
import graft.sources.Tables

/**
 * Plan-shape assertions (the 100 TB discipline, SURVEY.md §4.2): these fail
 * if a refactor silently turns a pruned scan into a full scan or a broadcast
 * join into a shuffle join.
 */
class PlanSpec extends SparkSpec {

  private def formattedPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def explainFormatted(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8")
  }

  test("prefix range predicate pushes to the parquet scan as range filters") {
    val df = Tables.documents(spark, Sf)
      .filter(GeoFunctions.prefixPredicate(col("source"), Seq("src1")))
      .select(col("doc_id"))
    val plan = explainFormatted(df)
    assert(plan.contains("PushedFilters"), plan)
    // the sargable rewrite must reach parquet as >= / < range filters
    assert(plan.contains("GreaterThanOrEqual(source,src1)"), plan)
    assert(plan.contains("LessThan(source,src2)"), plan)
  }

  test("history query pushes the time-range filter into the events scan") {
    val view = AggCore.hourlyView(Tables.readings(spark, Sf))
    val q = QueryBuilders.history(view, "avg", Seq("click"),
      1704412800000L, 1705017600000L)
    val plan = explainFormatted(q)
    // ts range must appear among pushed parquet filters (events.ts is a long
    // of epoch-nanos at scan time; Catalyst pushes the derived bounds or at
    // minimum the IsNotNull + the post-scan filter must exist)
    assert(plan.contains("PushedFilters"), plan)
    assert(!plan.toLowerCase.contains("cartesianproduct"))
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    val df = Tables.lineitem(spark, Sf).select(col("l_orderkey"), col("l_quantity"))
    val plan = explainFormatted(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("small-dim joins broadcast (no shuffle exchange on the dim side)") {
    val q = SparkEntry.queries("join3_nation_revenue")(spark, Sf)
    val plan = formattedPlan(q)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("hourly aggregation plans a partial/final hash aggregate split") {
    val view = AggCore.hourlyView(Tables.readings(spark, Sf))
    val plan = formattedPlan(view)
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial"), plan) // map-side combine before the shuffle
  }

  test("whole-stage codegen spans the aggregation pipeline") {
    // AQE wraps the plan and hides codegen spans until runtime; disable it
    // just to inspect the static physical plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val view = AggCore.hourlyView(Tables.readings(spark, Sf))
      // "*(n)" prefixes mark WholeStageCodegen stages in the plan string;
      // both the partial and final aggregate must sit inside codegen stages
      val plan = formattedPlan(view)
      assert(plan.contains("*(1)") && plan.contains("*(2)"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("snapshot prunes on both window_start equality and key ranges") {
    val view = AggCore.hourlyView(Tables.readings(spark, Sf))
    val q = QueryBuilders.snapshotByPrefixes(view, "sum", Seq("click"), 1704872700000L)
    val plan = q.queryExecution.optimizedPlan.toString
    // hour-truncated point filter and sargable key range both reach the
    // single Filter directly above the parquet relation
    assert(plan.contains("2024-01-10 07:00:00"), plan)
    assert(plan.contains(">= click") && plan.contains("< clicl"), plan)
  }

  test("contamination broadcasts the benchmark shingle side") {
    val d = Tables.documents(spark, Sf)
    val plan = formattedPlan(graft.operators.TextAnalysis.contamination(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
      shingleN = 5))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("heavy-hitter sketch plans a partial/final aggregate split (map-side merge)") {
    val keyed = Tables.events(spark, Sf).select(col("event_type").as("k"))
    val plan = formattedPlan(
      graft.operators.Sketches.heavyHitterCandidates(keyed, col("k"), capacity = 8))
    // TypedImperativeAggregate → ObjectHashAggregate with partial_ prefix on
    // the map side: fixed-size sketches merge at the exchange
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_space_saving_topk"), plan)
  }

  test("stratified exact sample plans exactly one shuffle (on the stratum key)") {
    val plan = formattedPlan(graft.operators.Curation.stratifiedSampleExact(
      Tables.documents(spark, Sf), "source", Map("src0" -> 0.5), 0.125))
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") == 1, plan)
  }

  test("document chunking is shuffle-free (narrow map + explode)") {
    val plan = formattedPlan(graft.operators.Curation.chunkDocuments(
      Tables.documents(spark, Sf), chunkTokens = 64, overlapTokens = 16))
    assert(!plan.contains("Exchange"), plan)
  }

  test("SQ8 quantization is shuffle-free and UDF-free (codegen'd HOFs)") {
    val plan = formattedPlan(graft.operators.Quantization.quantizeSQ8(
      Tables.embeddings(spark, Sf)))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("source mixing ranks inside hash buckets — no bare-source window anywhere") {
    // the 100 TB discipline for the mixing operators: a Window partitioned by
    // the source column alone funnels a 40%-weight source through ONE task;
    // the bucketed two-pass rank must partition by (source, bucket)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def windows(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    val mixed = graft.operators.Curation.mixToWeights(
      Tables.documents(spark, Sf), "source", Map("src0" -> 0.5, "src1" -> 0.5))
    val w1 = windows(mixed)
    assert(w1.nonEmpty, "expected the bucketed rank window")
    w1.foreach(w => assert(w.partitionSpec.size >= 2,
      s"single-column window partition: ${w.partitionSpec}"))
    val mixed2 = graft.operators.Curation.mixToTargetCounts(
      Tables.documents(spark, Sf), "source", Map("src0" -> 50L, "src1" -> 30L))
    val w2 = windows(mixed2)
    assert(w2.nonEmpty)
    w2.foreach(w => assert(w.partitionSpec.size >= 2,
      s"single-column window partition: ${w.partitionSpec}"))
  }

  test("Bloom decontamination never shuffles the training corpus") {
    val docs = Tables.documents(spark, Sf)
    val plan = formattedPlan(graft.operators.TextAnalysis.decontaminateBloom(
      docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0),
      shingleN = 5))
    // the filter applies inside the scan stage: no Exchange anywhere in the
    // kept-side plan (the benchmark grams were collapsed into the broadcast
    // Bloom filter before this plan exists)
    assert(!plan.contains("Exchange"), plan)
  }

  test("incremental IVF-PQ encode is one narrow pass: no shuffle, no UDF") {
    import graft.operators.{Quantization, Similarity}
    val e = Tables.embeddings(spark, Sf)
    val index = Similarity.buildIvfIndex(e, nlist = 8)
    val books = Quantization.buildPqCodebooks(e, m = 8, ksub = 16)
    val plan = formattedPlan(Similarity.ivfPqEncode(e, index.centroids, books))
    assert(!plan.contains("Exchange"), plan) // assignment+encode never shuffles
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("Lloyd refinement cell aggregate plans a partial/final split (map-side combine)") {
    // the per-iteration aggregate must combine map-side: its reduced size is
    // the codebook shape (nlist·dim cells), never corpus-proportional
    import graft.operators.Similarity
    import graft.functions.VectorFunctions
    val e = Tables.embeddings(spark, Sf)
    val index = Similarity.buildIvfIndex(e, nlist = 8)
    val cents = typedLit(index.centroids.sortBy(_._1).map(_._2.toSeq).toSeq)
    val agg = e.select(col("embedding").as("_v"))
      .select(
        element_at(VectorFunctions.topCentroids(col("_v"), cents, 1), 1).as("_list"),
        posexplode(col("_v")).as(Seq("_d", "_x")))
      .groupBy(col("_list"), col("_d"))
      .agg(sum(col("_x").cast("decimal(18,12)")).as("_s"), count(lit(1)).as("_n"))
    val plan = formattedPlan(agg)
    assert(plan.contains("HashAggregate"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan) // partial + final
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("semantic dedup pair generation joins on the cluster key (no cartesian)") {
    import graft.operators.Dedup
    val plan = formattedPlan(Dedup.semanticDedup(
      Tables.embeddings(spark, Sf), nlist = 8, threshold = 0.95))
    assert(!plan.contains("Cartesian"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("persisted IVF-PQ serving scan carries a partition filter on list_id") {
    // the 100 TB serving claim: a probe reads nprobe/nlist of the stored
    // code-table partitions, not all of them. The probe lists are dynamic
    // (they come from the query batch), so the pruning arrives as Spark's
    // dynamic partition pruning on the list_id join — assert the code-table
    // scan plans a list_id partition filter with a dynamic pruning
    // expression rather than an unfiltered full scan.
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, Sf)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_dpp").toString
    try {
      Similarity.saveIvfPq(e, dir, nlist = 8, m = 8, ksub = 16)
      val idx = Similarity.loadIvfPq(spark, dir)
      val served = Similarity.ivfPqQuery(idx.encoded, idx.centroids, idx.books,
        e, e.filter(col("vec_id") < 4), k = 3, nprobe = 2, shortlist = 10)
      val plan = explainFormatted(served)
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no dynamic partition pruning on the encoded scan:\n$plan")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("every ann_/embedding_ query plans with zero ScalaUDF nodes") {
    // locks in the native vector/SRP kernels: a regression that reintroduces
    // a per-row UDF into any ANN or embedding-dedup scan fails structurally
    val targets = SparkEntry.queries.keys
      .filter(n => n.startsWith("ann_") || n.startsWith("embedding_")).toSeq.sorted ++
      // the whole dedup family + span/quality scans: pure expressions too.
      // (decontaminate_bloom is deliberately absent: its broadcast-Bloom
      // membership probe is a documented UDF-by-necessity.)
      Seq("exact_dedup", "minhash_lsh_dedup", "simhash_dedup", "semantic_dedup",
        "dup_clusters",
        "dedup_representatives", "line_dedup", "ngram_jaccard_pairs",
        "span_dedup", "gopher_rules", "cluster_sizes", "bpe_roundtrip")
    assert(targets.nonEmpty)
    targets.foreach { name =>
      val plan = formattedPlan(SparkEntry.queries(name)(spark, Sf))
      assert(!plan.contains("ScalaUDF"), s"$name plans a ScalaUDF:\n$plan")
    }
  }

  test("cluster assignment joins the centroid table by broadcast (no shuffle join)") {
    // the clustering claim: one narrow assignment scan + a broadcast join to
    // an nlist-row centroid table — a sort-merge join here would shuffle the
    // corpus for a 16-row dim
    val plan = formattedPlan(SparkEntry.queries("embedding_clusters")(spark, Sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("BM25 top-k: TakeOrdered (never a full sort), broadcast stats/df sides, no UDF") {
    val plan = formattedPlan(SparkEntry.queries("bm25_topk")(spark, Sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastExchange"), plan) // dfreq + corpus scalars
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("persisted BM25 index serving scan prunes postings partitions on bucket") {
    // the lexical serving claim: a query reads ≤ |terms| of the nBuckets
    // postings directories — the bucket isin must land in PartitionFilters
    // (static pruning; the bucket ids are literals at plan time)
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, Sf)
    val dir = java.nio.file.Files.createTempDirectory("lex_prune").toString
    try {
      TextAnalysis.saveLexicalIndex(docs, dir, nBuckets = 16)
      val served = TextAnalysis.bm25QueryIndex(spark, dir, Seq("vector"), k = 5)
      val plan = explainFormatted(served)
      val partFilter = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(partFilter.contains("bucket"), s"no bucket partition filter:\n$plan")
      // the summed dfq sidecar is a plan literal: no join, so no shuffle
      assert(!formattedPlan(served).contains("Join"), formattedPlan(served))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("batch BM25 serving: ONE pruned postings scan, heap top-k (no full sort)") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, Sf)
    val dir = java.nio.file.Files.createTempDirectory("lex_batch_prune").toString
    try {
      TextAnalysis.saveLexicalIndex(docs, dir, nBuckets = 16)
      val qs = Seq((1L, Seq("vector", "stream")), (2L, Seq("hash", "stream")))
      val served = TextAnalysis.bm25QueryIndexBatch(spark, dir, qs, k = 5)
      val plan = explainFormatted(served)
      // the whole batch reads the index store exactly once — the
      // postings scan; the pruned-dfq side rides the per-JVM memo as a
      // local relation, so no second parquet location appears at all
      val indexScans = plan.linesIterator
        .count(l => l.contains("Location") && l.contains(dir))
      assert(indexScans == 1, s"expected 1 index scan, got $indexScans:\n$plan")
      // ...with static bucket pruning (≤ |union terms| of the 16 buckets)
      val partFilter = plan.linesIterator.filter(_.contains("PartitionFilters"))
        .find(_.contains("bucket")).getOrElse("")
      assert(partFilter.nonEmpty, s"no bucket partition filter:\n$plan")
      // and the per-query top-k is the heap operator, not a global sort
      val exec = formattedPlan(served)
      assert(exec.contains("TopKPerKey"), exec)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("quality-classifier scoring is one narrow scan: no shuffle, no UDF") {
    val plan = formattedPlan(graft.operators.Learn.scoreWith(
      Tables.documents(spark, Sf), Array(0.1, 0.2, -0.3, 0.4)))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("quality-classifier gradient aggregate plans a partial/final split") {
    val feats = graft.operators.Learn.qualityFeatures(Tables.documents(spark, Sf))
    val err = graft.operators.Learn.predictor(Array(0.0, 0.0, 0.0, 0.0),
      Seq("x1", "x2", "x3")) - col("y")
    val agg = feats.agg(
      sum(round(err, 12).cast(org.apache.spark.sql.types.DecimalType(30, 12))).cast("double"))
    val plan = formattedPlan(agg)
    assert(plan.contains("partial"), plan) // map-side combine before the 1-row exchange
  }

  test("PCA projection is a zero-shuffle HOF fold over the corpus scan") {
    val comp = Array.fill(64)(0.125)
    val plan = formattedPlan(graft.operators.Pca.project(
      Tables.embeddings(spark, Sf), comp))
    // the only Exchange allowed is the final orderBy's range partitioning
    val body = plan.linesIterator.filterNot(_.contains("rangepartitioning")).mkString("\n")
    assert(!body.contains("ScalaUDF"), plan)
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") <= 1, plan)
  }

  test("MMR per-step argmax is a TakeOrdered, never a global sort") {
    import spark.implicits._
    val pool = Tables.embeddings(spark, Sf).filter(col("vec_id") > 0)
    val q = Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding")).as[Seq[Float]].head().toArray
    val base = pool.select(col("vec_id").as("id"),
      round(graft.functions.VectorFunctions.cosine(col("embedding"),
        typedLit(q.toSeq)), 6).as("rel"))
    val step = base.orderBy(col("rel").desc, col("id")).limit(1)
    val plan = formattedPlan(step)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort "), plan)
  }

  test("snapshot diff joins narrow fingerprint projections, not payloads") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val plan = explainFormatted(graft.operators.Curation.snapshotDiff(docs, docs))
    // the parquet scans must read only (doc_id, text) — the md5 projection
    // happens before the join, so no full-width rows cross the shuffle
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty &&
      readSchemas.forall(l => l.contains("doc_id") && !l.contains("n_chars")), plan)
  }

  test("LPA relabel round: broadcast label join + partial/final count aggregate, no UDF") {
    // the per-round plan claim: one edge scan joined against the node-sized
    // label table by BROADCAST (under the budget), counts aggregated with a
    // map-side partial split; a sort-merge join here would shuffle the edge
    // table once per round
    import spark.implicits._
    val edges = Seq((1L,2L),(2L,3L),(3L,1L)).toDF("src", "dst")
    val plan = formattedPlan(
      graft.operators.Graph.labelPropagation(edges, iters = 1,
        broadcastNodeLimit = 1000000L))
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("triangle enumeration joins oriented edge lists, never a cartesian") {
    import spark.implicits._
    val edges = Seq((1L,2L),(1L,3L),(2L,3L),(3L,4L)).toDF("src", "dst")
    val plan = formattedPlan(graft.operators.Graph.triangleCounts(edges))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("divergence outlier ranking is a TakeOrdered over narrow scoring, no UDF") {
    val plan = formattedPlan(SparkEntry.queries("divergence_outliers")(spark, Sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("as-of enrichment joins by broadcast HASH join on the key (range is residual)") {
    import spark.implicits._
    import java.sql.Timestamp
    val dim = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 5.0))
      .toDF("key", "ots", "price")
    val stream = Seq((10L, 1L, Timestamp.valueOf("2024-06-01 00:00:00")))
      .toDF("event_id", "key", "ts")
    val plan = formattedPlan(graft.streaming.StreamJoins.enrichAsOfStatic(
      stream, dim, key = "key", dimTs = "ots", tieBreak = "price",
      payload = Seq("price")))
    // the key equality must drive a hash join — a nested-loop join would
    // scan every interval per event
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sorted-neighborhood pair generation: no corpus-sized single-partition window") {
    import spark.implicits._
    val d = ('a' to 'z').map(c => (c.toLong, s"$c$c word")).toDF("id", "name")
    val out = graft.operators.EntityResolution.sortedNeighborhoodPairs(
      d, "id", "name", numPartitions = Some(4))
    val plan = formattedPlan(out)
    // the final stage joins two localCheckpointed |V|-row index scans on
    // the global index — an equi-join, never a partition-less Window sort
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.toLowerCase.contains("windowspecdefinition"), plan)
  }
}
