package graft

import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions
import graft.geo.Geohash
import graft.plans.GraftFunctions

class GeohashExprSpec extends SparkSpec {
  import spark.implicits._

  test("native geohash_encode matches the kernel and the UDF, in DSL and SQL") {
    GraftFunctions.register(spark)
    val df = Seq((51.2194, 4.4025, 6), (-33.8688, 151.2093, 8), (0.0, 0.0, 1))
      .toDF("lat", "lon", "len")
    val rows = df.select(
      GeoFunctions.geohash_encode($"lat", $"lon", $"len").as("native"),
      Baselines.geohash_encode_udf($"lat", $"lon", $"len").as("viaUdf"),
      $"lat", $"lon", $"len").collect()
    rows.foreach { r =>
      val expect = Geohash.encode(r.getDouble(2), r.getDouble(3), r.getInt(4))
      assert(r.getString(0) == expect)
      assert(r.getString(1) == expect)
    }
    df.createOrReplaceTempView("pts")
    val sqlRow = spark.sql("SELECT geohash_encode(lat, lon, 6) g FROM pts WHERE len = 6").head()
    assert(sqlRow.getString(0) == Geohash.encode(51.2194, 4.4025, 6))
  }

  test("native expression evaluates inside whole-stage codegen (no UDF node)") {
    GraftFunctions.register(spark)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Tables(spark).select(
        GeoFunctions.geohash_encode(lit(10.0) + col("user_id"), lit(20.0), lit(6)).as("g"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), plan)           // codegen stage
      assert(!plan.contains("ScalaUDF"), plan)      // no UDF boundary
      assert(plan.contains("geohash_encode"), plan) // the native expr itself
      assert(df.head().getString(0).length == 6)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("null inputs yield null, not an exception") {
    GraftFunctions.register(spark)
    val r = Seq((Option.empty[Double], 4.0)).toDF("lat", "lon")
      .select(GeoFunctions.geohash_encode($"lat", $"lon", lit(6))).head()
    assert(r.isNullAt(0))
  }

  private def Tables(s: org.apache.spark.sql.SparkSession) =
    graft.sources.Tables.events(s, Sf).limit(100)
}
