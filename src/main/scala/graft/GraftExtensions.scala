package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._
import graft.multimodal.{ByteHistogram, FrameSample}

/** SQL registration of the engine's custom expressions, both as a
  * [[SparkSessionExtensions]] injector for cluster deployment
  * (`spark.sql.extensions=graft.GraftExtensions`) and as an in-session
  * installer for an already-running session. After registration the
  * whole function library is reachable from `spark.sql(...)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registry.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
    // conf-gated (spark.graft.interval.join.bin.seconds > 0): rewrites
    // naive interval-containment joins into binned equi-joins
    ext.injectOptimizerRule(_ => graft.plans.IntervalJoinRewrite)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  // geo functions are JTS-backed Scala lambdas (sanctioned UDFs per
  // SURVEY §7.4); for the SQL surface they register as catalyst
  // ScalaUDF expressions directly — the legacy no-encoder path converts
  // arguments via CatalystTypeConverters from the children's types
  private def geoUdf(fn: AnyRef, dt: org.apache.spark.sql.types.DataType,
      name: String)(es: Seq[Expression]): Expression =
    org.apache.spark.sql.catalyst.expressions.ScalaUDF(
      fn, dt, es, Nil, None, Some(name))

  val registry: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "uuid5" -> (es => Uuid5(es.head)),
    "unaccent" -> (es => Unaccent(es.head)),
    "normalize_nfc" -> (es => NormalizeUnicode(es.head, "NFC")),
    "normalize_nfkc" -> (es => NormalizeUnicode(es.head, "NFKC")),
    "compression_ratio" -> (es => CompressionRatio(es.head)),
    "fuzz_ratio" -> (es => FuzzRatio(es(0), es(1))),
    "fuzz_partial_ratio" -> (es => PartialRatio(es(0), es(1))),
    "wratio" -> (es => WRatioScore(es(0), es(1))),
    "simhash64" -> (es => SimHash(es.head)),
    "rolling_hash" -> (es => RollingHash(es.head)),
    "jaccard_sim" -> (es => JaccardSim(es(0), es(1))),
    "cosine_sim" -> (es => CosineSim(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))),
    "l2_norm" -> (es => L2Norm(es.head)),
    "l2_dist2" -> (es => L2Dist2(es(0), es(1))),
    "srp_signature" -> (es => SrpSignature(es(0), intArg(es(1), "bits"))),
    "word_shingles" -> (es => WordShingles(es(0), intArg(es(1), "n"))),
    "char_shingles" -> (es => CharShingles(es(0), intArg(es(1), "n"))),
    "minhash_sig" -> (es => MinHashSig(es(0), intArg(es(1), "k"))),
    "char_ngram_minhash" -> (es =>
      NgramMinHash(es(0), intArg(es(1), "n"), intArg(es(2), "k"), word = false)),
    "word_ngram_minhash" -> (es =>
      NgramMinHash(es(0), intArg(es(1), "n"), intArg(es(2), "k"), word = true)),
    "char_ngram_jaccard" -> (es =>
      NgramJaccard(es(0), es(1), intArg(es(2), "n"), word = false)),
    "word_ngram_jaccard" -> (es =>
      NgramJaccard(es(0), es(1), intArg(es(2), "n"), word = true)),
    "byte_histogram" -> (es => ByteHistogram(es.head)),
    "frame_sample" -> (es =>
      FrameSample(es(0), intArg(es(1), "stride"), intArg(es(2), "frameLen"))),
    "topk_by_score" -> (es =>
      TopKByScore(es(0), es(1), intArg(es(2), "k")).toAggregateExpression()),
    "heavy_hitters" -> (es =>
      HeavyHitters(es(0), intArg(es(1), "m")).toAggregateExpression()),
    "cms_heavy_hitters" -> (es =>
      CmsHeavyHitters(es(0), intArg(es(1), "k")).toAggregateExpression()),
    "auc_micro" -> (es =>
      AucMicroAgg(es(0), es(1)).toAggregateExpression()),
    "kaplan_meier" -> (es =>
      KaplanMeierAgg(es(0), es(1)).toAggregateExpression()),
    "st_geomfromgeojson" -> geoUdf(graft.geo.GeoFunctions.geomFromGeoJsonFn,
      org.apache.spark.sql.types.BinaryType, "st_geomfromgeojson") _,
    // st_point/st_centroid/st_area register their *SqlFn null-guarded
    // boxed variants: the no-encoder ScalaUDF path has no analyzer
    // null checks (see GeoFunctions — null doubles unbox to 0.0,
    // null geometries NPE)
    "st_point" -> geoUdf(graft.geo.GeoFunctions.pointSqlFn,
      org.apache.spark.sql.types.BinaryType, "st_point") _,
    "st_intersects" -> geoUdf(graft.geo.GeoFunctions.intersectsFn,
      org.apache.spark.sql.types.BooleanType, "st_intersects") _,
    "st_contains" -> geoUdf(graft.geo.GeoFunctions.containsFn,
      org.apache.spark.sql.types.BooleanType, "st_contains") _,
    "st_centroid" -> geoUdf(graft.geo.GeoFunctions.centroidSqlFn,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false),
      "st_centroid") _,
    "st_area" -> geoUdf(graft.geo.GeoFunctions.areaSqlFn,
      org.apache.spark.sql.types.DoubleType, "st_area") _)

  /** Register every function into an existing session's catalog.
    * Idempotent: a name whose registered builder is already this
    * registry's own is skipped, so repeated installs (and installs on a
    * session built with the extension) replace nothing. A Spark
    * built-in of the same name is still replaced. */
  def install(spark: SparkSession): Unit = {
    val functions = spark.sessionState.functionRegistry
    registry.foreach { case (name, builder) =>
      if (!functions.lookupFunctionBuilder(FunctionIdentifier(name))
          .exists(_ eq builder))
        functions.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
