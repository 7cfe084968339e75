package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.Geohash

/**
 * Native Catalyst expression for geohash encoding — the per-row ingest hot
 * path (reference re-keys EVERY record by geohash prefix,
 * `ingestion/KafkaStreamsAggregator.java:94`; at 100 TB that is trillions of
 * evaluations). A codegen'd expression stays inside whole-stage codegen:
 * the generated Java calls [[GeohashEncode.encodeUtf8]] directly with
 * primitive doubles — no UDF serialization boundary, no boxing, null checks
 * handled by the standard nullSafeCodeGen scaffolding.
 *
 * SQL name: `geohash_encode(lat, lon, length)` (register via
 * [[GraftExtensions]] or [[GraftFunctions.register]]).
 */
case class GeohashEncode(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "geohash_encode"

  // manual check (ExpectsInputTypes' AbstractDataType is private[sql] in 4.x)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    val expected = Seq(DoubleType, DoubleType, IntegerType)
    val actual = children.map(_.dataType)
    if (actual == expected) TypeCheckSuccess
    else TypeCheckFailure(
      s"geohash_encode expects (double, double, int), got (${actual.mkString(", ")})")
  }

  override def nullSafeEval(lat: Any, lon: Any, len: Any): Any =
    GeohashEncode.encodeUtf8(
      lat.asInstanceOf[Double], lon.asInstanceOf[Double], len.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lon, len) =>
      s"graft.plans.GeohashEncode.encodeUtf8($lat, $lon, $len)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object GeohashEncode {
  /** Static entry point referenced by the generated Java code. */
  def encodeUtf8(lat: Double, lon: Double, len: Int): UTF8String =
    UTF8String.fromString(Geohash.encode(lat, lon, len))
}

/** Session-level registration of the engine's SQL functions. */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "geohash_encode" -> (exprs => GeohashEncode(exprs(0), exprs(1), exprs(2))),
    "space_saving_topk" -> (exprs => SpaceSavingTopK(exprs(0), exprs(1))),
    "kmv_kmin" -> (exprs => KmvKMin(exprs(0), exprs(1))),
    "cms_grid" -> (exprs => CmsGrid(exprs(0), exprs(1), exprs(2))),
    "moment_grid" -> (exprs => MomentGrid(exprs(0), exprs(1))),
    "bloom_agg" -> (exprs => BloomWordsAgg(exprs(0), exprs(1), exprs(2))),
    "vec_dot" -> (exprs => VecDot(exprs(0), exprs(1))),
    "vec_norm2sq" -> (exprs => VecNorm2Sq(exprs(0))),
    "vec_cosine" -> (exprs => VecCosine(exprs(0), exprs(1))),
    "vec_top_centroids" -> (exprs => VecTopCentroids(exprs(0), exprs(1), exprs(2))),
    "vec_srp_bucket" -> (exprs => VecSrpBucket(exprs(0), exprs(1))),
    "vec_pq_encode" -> (exprs => VecPqEncode(exprs(0), exprs(1))),
    "vec_pq_cosine" -> (exprs => VecPqCosine(exprs(0), exprs(1), exprs(2))),
    "word_shingles" -> (exprs => WordShingles(exprs(0), exprs(1))),
    "char_grams" -> (exprs => CharGrams(exprs(0), exprs(1))),
    "minhash_signature" -> (exprs => MinHashSignature(exprs(0), exprs(1))),
    "simhash64" -> (exprs => SimHash64(exprs(0))),
    "image_dims" -> (exprs => ImageDims(exprs(0))),
    // form must be a foldable string literal — it is a plan-time constant
    "text_normalize" -> (exprs => {
      require(exprs.length == 2 && exprs(1).foldable && exprs(1).eval(null) != null,
        "text_normalize: form must be a non-null string literal (NFC/NFD/NFKC/NFKD)")
      TextNormalize(exprs(0),
        exprs(1).eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
    }))

  /** Imperative registration for an existing session (tests, Verify). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}

/**
 * `SparkSessionExtensions` hook so deployments can enable the functions via
 * `spark.sql.extensions=graft.plans.GraftExtensions` — the idiomatic way to
 * ship engine extensions to a cluster (no code changes at call sites). It
 * also registers the [[TopKStrategy]] planner strategy, which
 * [[TopK.perKey]] registers in its own session anyway, so no ranked
 * operator plans differently without it.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.GeohashEncode", name),
        builder))
    }
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}
