package graft

import graft.functions.{GeoFunctions, UtmMath, UtmProject}
import org.apache.spark.sql.functions._

class UtmProjectSpec extends SparkSpec {
  import spark.implicits._

  test("round-trip lon/lat -> UTM -> lon/lat is sub-millimeter (< 1e-8 deg)") {
    val pts = Seq((-74.3, 40.5), (-74.0060, 40.7128), (-73.7, 41.0), (-75.0, 39.9))
    pts.foreach { case (lon, lat) =>
      val Array(e, n) = UtmMath.forward(lon, lat, 18)
      val Array(lon2, lat2) = UtmMath.inverse(e, n, 18)
      assert(math.abs(lon2 - lon) < 1e-8 && math.abs(lat2 - lat) < 1e-8,
        s"($lon,$lat) -> ($e,$n) -> ($lon2,$lat2)")
    }
  }

  test("projected Euclidean distance agrees with haversine within 0.1% (in-zone)") {
    val a = (-74.0060, 40.7128) // NYC
    val b = (-73.9000, 40.8000)
    val Array(e1, n1) = UtmMath.forward(a._1, a._2, 18)
    val Array(e2, n2) = UtmMath.forward(b._1, b._2, 18)
    val utmDistKm = math.hypot(e2 - e1, n2 - n1) / 1000.0
    val havKm = Seq(a).toDF("lon", "lat")
      .select(GeoFunctions.haversineKm(col("lat"), col("lon"), lit(b._2), lit(b._1)))
      .head().getDouble(0)
    assert(math.abs(utmDistKm - havKm) / havKm < 0.001, s"utm $utmDistKm vs hav $havKm")
  }

  test("projection basics: central meridian -> easting 500000; north increases with lat") {
    val Array(e, _) = UtmMath.forward(-75.0, 40.0, 18) // zone 18 central meridian
    assert(math.abs(e - 500000.0) < 1e-6)
    val n1 = UtmMath.forward(-74.0, 40.0, 18)(1)
    val n2 = UtmMath.forward(-74.0, 41.0, 18)(1)
    assert(n2 - n1 > 100000 && n2 - n1 < 120000, "1 deg latitude ≈ 111 km")
  }

  test("codegen'd column expression matches the Scala math") {
    val df = Seq((-74.0060, 40.7128)).toDF("lon", "lat")
      .select(UtmProject.utm(col("lon"), col("lat")).as("en"))
      .select(col("en").getItem(0), col("en").getItem(1))
    val row = df.head()
    val Array(e, n) = UtmMath.forward(-74.0060, 40.7128, 18)
    assert(row.getDouble(0) === e && row.getDouble(1) === n)
  }

  test("SQL registration: st_project_utm / st_unproject_utm round-trip in SQL") {
    val row = spark.sql(
      """SELECT st_unproject_utm(en[0], en[1])[0] AS lon, st_unproject_utm(en[0], en[1])[1] AS lat
        |FROM (SELECT st_project_utm(-74.0060, 40.7128) AS en)""".stripMargin).head()
    assert(math.abs(row.getDouble(0) - -74.0060) < 1e-8)
    assert(math.abs(row.getDouble(1) - 40.7128) < 1e-8)
  }

  test("extensions class injects without error") {
    new graft.core.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions())
  }
}
