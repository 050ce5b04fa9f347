package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** WGS84 → UTM projection as a native Catalyst expression with codegen
  * (SURVEY.md §4 "custom Catalyst artifacts": `st_project_utm`; reference
  * projects via pyproj EPSG:32618 — 实习二/…ipynb:476-492 — and
  * `to_crs(32618)` — 实习一/实习一代码/test.py:161).
  *
  * Closed-form Karney/Krüger series (4th order), the standard public
  * formulation of the transverse-Mercator projection. Accuracy vs a full
  * geodesic library is sub-millimeter within a UTM zone — validated in
  * UtmProjectSpec by round-trip and by Euclidean-vs-haversine distance
  * agreement.
  *
  * Implementation note: `eval` does the math in plain Scala; `doGenCode`
  * emits a static call to [[UtmMath]], so the expression stays inside
  * whole-stage codegen instead of falling back to interpreted projection.
  */
object UtmMath {
  private val a = 6378137.0              // WGS84 semi-major axis (m)
  private val f = 1.0 / 298.257223563    // flattening
  private val k0 = 0.9996                // UTM scale factor
  private val E0 = 500000.0              // false easting

  private val n = f / (2 - f)
  private val n2 = n * n; private val n3 = n2 * n; private val n4 = n3 * n
  // Rectifying radius and Krüger alpha/beta series (4th order).
  // A/alpha/e/k0/E0 are exposed (read-only) so the f8 oracle can interpolate
  // the IDENTICAL double constants into its SQL-expanded series.
  val A = a / (1 + n) * (1 + n2 / 4 + n4 / 64)
  val eccentricity: Double = math.sqrt(f * (2 - f))
  val scaleK0: Double = k0
  val falseEasting: Double = E0
  val alpha = Array(
    n / 2 - 2.0 / 3 * n2 + 5.0 / 16 * n3 + 41.0 / 180 * n4,
    13.0 / 48 * n2 - 3.0 / 5 * n3 + 557.0 / 1440 * n4,
    61.0 / 240 * n3 - 103.0 / 140 * n4,
    49561.0 / 161280 * n4)
  private val beta = Array(
    n / 2 - 2.0 / 3 * n2 + 37.0 / 96 * n3 - 1.0 / 360 * n4,
    1.0 / 48 * n2 + 1.0 / 15 * n3 - 437.0 / 1440 * n4,
    17.0 / 480 * n3 - 37.0 / 840 * n4,
    4397.0 / 161280 * n4)

  def centralMeridianDeg(zone: Int): Double = zone * 6.0 - 183.0

  /** (lonDeg, latDeg, zone) → Array(easting, northing) in meters
    * (northern-hemisphere northing). */
  def forward(lonDeg: Double, latDeg: Double, zone: Int): Array[Double] = {
    val phi = math.toRadians(latDeg)
    val lam = math.toRadians(lonDeg - centralMeridianDeg(zone))
    val e = math.sqrt(f * (2 - f))
    val sinPhi = math.sin(phi)
    val t = math.sinh(atanh(sinPhi) - e * atanh(e * sinPhi))
    val xiP = math.atan2(t, math.cos(lam))
    val etaP = atanh(math.sin(lam) / math.sqrt(1 + t * t))
    var xi = xiP; var eta = etaP
    var j = 1
    while (j <= 4) {
      xi += alpha(j - 1) * math.sin(2 * j * xiP) * math.cosh(2 * j * etaP)
      eta += alpha(j - 1) * math.cos(2 * j * xiP) * math.sinh(2 * j * etaP)
      j += 1
    }
    Array(E0 + k0 * A * eta, k0 * A * xi)
  }

  /** (easting, northing, zone) → Array(lon, lat) in degrees. */
  def inverse(easting: Double, northing: Double, zone: Int): Array[Double] = {
    val xi = northing / (k0 * A)
    val eta = (easting - E0) / (k0 * A)
    var xiP = xi; var etaP = eta
    var j = 1
    while (j <= 4) {
      xiP -= beta(j - 1) * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
      etaP -= beta(j - 1) * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
      j += 1
    }
    val e = math.sqrt(f * (2 - f))
    val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
    // Conformal → geodetic latitude by fixed point of
    // sin φ = tanh(atanh(sin χ) + e·atanh(e·sin φ)); 7 rounds ≈ double
    // precision (the forward map used atanh(sin φ) − e·atanh(e·sin φ)).
    val psi0 = atanh(math.sin(chi))
    var phi = chi
    var i = 0
    while (i < 7) {
      phi = math.asin(math.tanh(psi0 + e * atanh(e * math.sin(phi))))
      i += 1
    }
    val lam = math.atan2(math.sinh(etaP), math.cos(xiP))
    Array(math.toDegrees(lam) + centralMeridianDeg(zone), math.toDegrees(phi))
  }

  private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))
}

/** `st_project_utm(lon, lat)` for a fixed zone → array(easting, northing). */
@ExpressionDescription(
  usage = "st_project_utm(lon, lat) - WGS84 to UTM meters for the configured zone.")
case class StProjectUtm(left: Expression, right: Expression, zone: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    new GenericArrayData(
      UtmMath.forward(lon.asInstanceOf[Double], lat.asInstanceOf[Double], zone))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lonT, latT) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.UtmMath.forward($lonT, $latT, $zone));""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): StProjectUtm =
    copy(left = l, right = r)
}

/** `st_unproject_utm(easting, northing)` → array(lon, lat). */
case class StUnprojectUtm(left: Expression, right: Expression, zone: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(e: Any, n: Any): Any =
    new GenericArrayData(
      UtmMath.inverse(e.asInstanceOf[Double], n.asInstanceOf[Double], zone))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (eT, nT) =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.UtmMath.inverse($eT, $nT, $zone));""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): StUnprojectUtm =
    copy(left = l, right = r)
}

object UtmProject {
  /** Column API: `utm(lon, lat, 18)` → array(easting, northing) meters. */
  def utm(lon: Column, lat: Column, zone: Int = 18): Column =
    ColumnBridge.column(StProjectUtm(
      ColumnBridge.expression(lon.cast("double")),
      ColumnBridge.expression(lat.cast("double")), zone))
}
