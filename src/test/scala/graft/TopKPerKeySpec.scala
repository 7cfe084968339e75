package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.TopK
import graft.sources.Tables

class TopKPerKeySpec extends SparkSpec {

  test("heap-based top-k equals the row_number formulation exactly") {
    val orders = Tables.orders(spark, Sf)
    val viaTopK = TopK.perKey(orders, k = 3,
      partitionCols = Seq(col("o_orderpriority")),
      orderCols = Seq(col("o_totalprice").desc, col("o_orderkey").asc))
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rnk"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val viaWindow = orders
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rnk"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

    assert(viaTopK == viaWindow)
  }

  test("physical plan uses TopKPerKeyExec with a single exchange and NO sort") {
    val df = TopK.perKey(Tables.orders(spark, Sf), k = 2,
      Seq(col("o_orderpriority")), Seq(col("o_totalprice").desc))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Sort "), plan) // the whole point: no per-partition sort
  }

  test("outputPartitioning claims only attributes that exist in the output") {
    // AQE wraps the plan; inspect the static physical plan directly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = TopK.perKey(Tables.orders(spark, Sf), k = 2,
        Seq(col("o_orderpriority")), Seq(col("o_totalprice").desc))
      val execs = df.queryExecution.executedPlan.collect {
        case t: graft.plans.TopKPerKeyExec => t
      }
      assert(execs.nonEmpty)
      execs.foreach { t =>
        t.outputPartitioning match {
          case p: org.apache.spark.sql.catalyst.expressions.Expression =>
            assert(p.references.subsetOf(t.outputSet), p.toString)
            assert(!p.references.contains(t.rankAttr), p.toString)
          case _ => // non-expression partitionings (Unknown etc.) claim nothing
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("spills past maxKeysInMemory and still matches row_number exactly") {
    import spark.implicits._
    // high-cardinality partition key (one per customer) with a spill
    // threshold far below the key count → every task spills repeatedly
    spark.conf.set("spark.graft.topk.maxKeysInMemory", "7")
    try {
      val orders = Tables.orders(spark, Sf)
      val key = expr("o_custkey % 500").as("grp")
      val df = orders.select(key, col("o_orderkey"), col("o_totalprice"))
      val viaTopK = TopK.perKey(df, k = 2,
        Seq(col("grp")), Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select(col("grp"), col("rnk"), col("o_orderkey"))
        .orderBy(col("grp"), col("rnk"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val w = Window.partitionBy(col("grp"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val viaWindow = df.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(col("grp"), col("rnk"), col("o_orderkey"))
        .orderBy(col("grp"), col("rnk"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      assert(viaTopK.nonEmpty && viaTopK == viaWindow)
    } finally spark.conf.unset("spark.graft.topk.maxKeysInMemory")
  }

  test("non-positive rank bounds rewrite to empty, not a heap crash") {
    val orders = Tables.orders(spark, Sf)
    // k <= 0 must never reach TopKPerKeyExec, where heap.head on an empty
    // queue would throw NoSuchElementException: the answer is no rows
    // with the k > 0 answer's schema
    val empty = TopK.perKey(orders, k = 0,
      Seq(col("o_orderpriority")), Seq(col("o_totalprice").desc))
    assert(empty.collect().isEmpty)
    assert(empty.schema == TopK.perKey(orders, k = 1,
      Seq(col("o_orderpriority")), Seq(col("o_totalprice").desc)).schema)
  }

  test("float/double partition keys stay on stock Window (-0.0/NaN normalization)") {
    import spark.implicits._
    val df = Seq((0.0, 1), (-0.0, 2), (Double.NaN, 3), (Double.NaN, 4)).toDF("g", "v")
    val q = TopK.perKey(df, k = 1, Seq(col("g")), Seq(col("v").desc))
    // TopKPerKeyExec's raw UnsafeRow grouping would split 0.0/-0.0 (and NaN
    // payloads) into distinct keys; the stock window normalizes them
    assert(!q.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    assert(q.count() == 2) // {0.0,-0.0} one key, {NaN,NaN} one key
  }

  test("works with k larger than group size and with multiple keys") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 5)).toDF("g", "v")
    val got = TopK.perKey(df, k = 10, Seq(col("g")), Seq(col("v").desc))
      .orderBy(col("g"), col("rnk"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq // (g, v, rnk)
    assert(got == Seq(("a", 2, 1), ("a", 1, 2), ("b", 5, 1)))
  }
}
