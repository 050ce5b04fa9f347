package graft.core

import graft.functions.{StProjectUtm, StUnprojectUtm}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo, IntegerLiteral}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.{DoubleType, LongType}

/** SQL surface for the engine's custom Catalyst expressions:
  * `st_project_utm(lon, lat[, zone])` / `st_unproject_utm(e, n[, zone])`.
  * Installed into every session [[GraftSession.builder]] builds, through
  * [[GraftExtensions]].
  */
object GraftFunctions {

  private val zoneDefault = 18 // the reference's EPSG:32618 (NYC)

  // SQL numeric literals arrive as DECIMAL; the expressions take raw doubles
  // (ExpectsInputTypes is private[sql]), so coercion is explicit here.
  private def d(e: Expression): Expression =
    if (e.dataType == DoubleType) e else Cast(e, DoubleType)

  private def buildProject(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(lon, lat) => StProjectUtm(d(lon), d(lat), zoneDefault)
    case Seq(lon, lat, IntegerLiteral(z)) => StProjectUtm(d(lon), d(lat), z)
    case _ => throw new IllegalArgumentException(
      "st_project_utm(lon, lat[, zone literal]) expects 2 or 3 arguments")
  }

  private def buildUnproject(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(e, n) => StUnprojectUtm(d(e), d(n), zoneDefault)
    case Seq(e, n, IntegerLiteral(z)) => StUnprojectUtm(d(e), d(n), z)
    case _ => throw new IllegalArgumentException(
      "st_unproject_utm(easting, northing[, zone literal]) expects 2 or 3 arguments")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  private def buildVecCosine(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(a, b) => graft.functions.VecCosine(a, b)
    case _ => throw new IllegalArgumentException(
      "vec_cosine(a, b) expects 2 array<float> arguments")
  }

  private def buildVecHyperplaneDots(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(emb, IntegerLiteral(planes)) => graft.functions.VecHyperplaneDots(emb, planes)
    case _ => throw new IllegalArgumentException(
      "vec_hyperplane_dots(emb, planes literal) expects 2 arguments")
  }

  private def buildVecSeqSum(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(a) => graft.functions.VecSeqSumD(a)
    case _ => throw new IllegalArgumentException(
      "vec_seq_sum(a) expects 1 array<double> argument")
  }

  // Spark's own runtime-filter machinery (InjectRuntimeFilter) keeps its
  // bloom expressions out of the public SQL surface; re-exposing them lets
  // the engine build an EXPLICIT broadcast bloom pre-filter (build over the
  // dim side's join-key hashes, probe before the fact side's shuffle) —
  // the semi-join reduction that decides whether 100 TB of fact rows reach
  // the exchange. Yardstick: same TypedImperativeAggregate Spark plans for
  // its own runtime filters, so the sketch format and probe cost match the
  // optimizer's.
  private def buildBloomAgg(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(child, items, bits) =>
      new BloomFilterAggregate(child, Cast(items, LongType), Cast(bits, LongType))
    case _ => throw new IllegalArgumentException(
      "bloom_build(xxhash64_col, est_items, num_bits) expects 3 arguments")
  }

  private def buildBloomMightContain(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(bloom, value) => BloomFilterMightContain(bloom, value)
    case _ => throw new IllegalArgumentException(
      "bloom_might_contain(bloom, xxhash64_value) expects 2 arguments")
  }

  private def buildWordShingles(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(toks, IntegerLiteral(n)) => graft.functions.WordShingles(toks, n)
    case _ => throw new IllegalArgumentException(
      "word_shingles(toks, n literal) expects 2 arguments")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("st_project_utm"),
      info("st_project_utm", "WGS84 lon/lat degrees -> UTM [easting, northing] meters"),
      buildProject),
    (FunctionIdentifier("st_unproject_utm"),
      info("st_unproject_utm", "UTM easting/northing meters -> [lon, lat] degrees"),
      buildUnproject),
    (FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "cosine similarity of two array<float> embeddings (native loop)"),
      buildVecCosine),
    (FunctionIdentifier("vec_hyperplane_dots"),
      info("vec_hyperplane_dots", "deterministic LSH hyperplane projections of an embedding"),
      buildVecHyperplaneDots),
    (FunctionIdentifier("vec_seq_sum"),
      info("vec_seq_sum", "sequential left-to-right sum of an array<double> (native loop)"),
      buildVecSeqSum),
    (FunctionIdentifier("word_shingles"),
      info("word_shingles", "word n-gram shingles of a token array (native loop)"),
      buildWordShingles),
    (FunctionIdentifier("bloom_build"),
      info("bloom_build", "bloom filter sketch over xxhash64 join keys (binary)"),
      buildBloomAgg),
    (FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain", "probe a bloom_build sketch with an xxhash64 key"),
      buildBloomMightContain))
}

/** The engine's one session plug point, installed by [[GraftSession.builder]]
  * as `spark.sql.extensions`: the SQL functions above and the
  * [[SingleTaskSort]] AQE runtime rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectRuntimeOptimizerRule(_ => SingleTaskSort)
  }
}
