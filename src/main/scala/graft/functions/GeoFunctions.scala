package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geodesic scalar functions as composed native column expressions
  * (SURVEY.md §2.8 F4). All stay inside whole-stage codegen — no UDFs.
  *
  * Formulas follow the reference exactly:
  *  - haversine: 实习二/…taxi_travel_time_prediction.ipynb:434-440 (R=6371 km)
  *  - bearing:   实习二/实习二代码/lx_lightgbmTest.py:37-43
  *  - manhattan (cos-lat-scaled): lx_lightgbmTest.py:31-34
  */
object GeoFunctions {

  val EarthRadiusKm = 6371.0

  /** Great-circle distance in km between (lat1,lon1) and (lat2,lon2), all
    * in degrees. */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = sin(dLat / 2) * sin(dLat / 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLon / 2) * sin(dLon / 2)
    lit(2 * EarthRadiusKm) * asin(sqrt(a))
  }

  /** Initial bearing in degrees [0, 360) from point 1 to point 2. */
  def bearingDeg(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLon = radians(lon2 - lon1)
    val y = sin(dLon) * cos(radians(lat2))
    val x = cos(radians(lat1)) * sin(radians(lat2)) -
      sin(radians(lat1)) * cos(radians(lat2)) * cos(dLon)
    pmod(degrees(atan2(y, x)), lit(360.0))
  }

  /** L1 distance in km with cos(mean-lat) longitude scaling — the
    * reference's cheap city-grid approximation. */
  def manhattanKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val meanLat = radians((lat1 + lat2) / 2)
    val kmPerDegLat = lit(111.0)
    abs(lat2 - lat1) * kmPerDegLat + abs(lon2 - lon1) * kmPerDegLat * cos(meanLat)
  }

  /** WGS84 semi-major axis used by Web Mercator (EPSG:3857). */
  val WebMercatorR = 6378137.0

  /** Web-Mercator (EPSG:3857) easting in meters: R·λ. */
  def webMercatorX(lon: Column): Column = lit(WebMercatorR) * radians(lon)

  /** Web-Mercator (EPSG:3857) northing in meters: R·ln(tan(π/4 + φ/2)). */
  def webMercatorY(lat: Column): Column =
    lit(WebMercatorR) * log(tan(lit(math.Pi / 4) + radians(lat) / 2))

  /** The same haversine as SQL text for DuckDB oracles (engines must evaluate
    * the identical arithmetic so rounded outputs hash-match). */
  def haversineSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""2 * 6371.0 * asin(sqrt(
       |  sin(radians(($lat2) - ($lat1)) / 2) * sin(radians(($lat2) - ($lat1)) / 2) +
       |  cos(radians($lat1)) * cos(radians($lat2)) *
       |  sin(radians(($lon2) - ($lon1)) / 2) * sin(radians(($lon2) - ($lon1)) / 2)))""".stripMargin

  def bearingSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""((degrees(atan2(
       |  sin(radians(($lon2) - ($lon1))) * cos(radians($lat2)),
       |  cos(radians($lat1)) * sin(radians($lat2)) -
       |  sin(radians($lat1)) * cos(radians($lat2)) * cos(radians(($lon2) - ($lon1)))))
       |  % 360.0) + 360.0) % 360.0""".stripMargin
}
