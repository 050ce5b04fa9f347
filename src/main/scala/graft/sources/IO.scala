package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest/export surface (SURVEY.md §2.1 S1–S6, S12–S13).
  *
  * Engine-native storage is Parquet; CSV / JSON-lines / GeoJSON exist as
  * explicit boundary converters, mirroring the reference's readers
  * (pd.read_csv with nrows/parse_dates — 实习一/实习一代码/test.py:25-33,
  * 实习二/…ipynb:106; line-tolerant JSON scan — 实习四/…ipynb:127-141;
  * polymorphic extension dispatch — 实习一/实习一代码/visualize_noise.py:26-55).
  */
object IO {

  /** Columnar XML/HTML escape: a value containing markup must not produce a
    * malformed (or script-injecting) document. `&` first, then the brackets
    * and the quote (covers attribute contexts). Runs as codegen'd
    * regexp_replace — still a per-row projection, no UDF. */
  private def xmlEscape(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      c.cast("string"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;"), "\"", "&quot;")

  /** Driver-side twin of [[xmlEscape]] for titles/headers. */
  private def xmlEscapeStr(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** CSV scan with header + schema inference, optional row limit pushdown
    * (S1) and timestamp parsing format (S2). */
  def readCsv(spark: SparkSession, path: String, limit: Option[Int] = None,
      timestampFormat: Option[String] = None): DataFrame = {
    var r = spark.read.option("header", "true").option("inferSchema", "true")
    timestampFormat.foreach(f => r = r.option("timestampFormat", f))
    val df = r.csv(path)
    limit.map(df.limit).getOrElse(df)
  }

  /** JSON-lines scan with per-line error tolerance (S3): PERMISSIVE mode
    * captures malformed lines in `_corrupt_record` instead of failing the
    * scan — the distributed equivalent of the reference's try/except
    * json.loads loop. */
  def readJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Polymorphic reader (S5): dispatch on extension; lat/lon columns
    * auto-detected case-insensitively and normalized to `lat`/`lon`. */
  def readPoints(spark: SparkSession, path: String): DataFrame = {
    val base =
      if (path.endsWith(".csv")) readCsv(spark, path)
      else if (path.endsWith(".json") || path.endsWith(".jsonl")) readJsonLines(spark, path)
      else if (path.endsWith(".orc")) readOrc(spark, path)
      else graft.core.Tables.parquet(spark, path)
    val latCol = base.columns.find(c => c.toLowerCase.matches("lat(itude)?"))
    val lonCol = base.columns.find(c => c.toLowerCase.matches("lon(gitude)?|lng"))
    (latCol, lonCol) match {
      case (Some(la), Some(lo)) =>
        base.withColumnRenamed(la, "lat").withColumnRenamed(lo, "lon")
      case _ => base
    }
  }

  /** CSV sink (S12; reference to_csv(index=False)). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** ORC scan/sink — a second columnar exchange format beside parquet,
    * served by Spark's native reader, so predicate pushdown and column
    * pruning reach the ORC stripes exactly as they do parquet row-groups. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** GeoJSON FeatureCollection export for point tables (S6 write side):
    * each row becomes a Feature with a Point geometry from (lon, lat) and
    * all remaining columns as properties. Emitted as JSON-lines of features
    * plus a driver-side wrapper — the standard distributed-GeoJSON shape. */
  def pointsToGeoJsonFeatures(df: DataFrame, lonCol: String = "lon",
      latCol: String = "lat"): DataFrame = {
    val props = df.columns.filterNot(c => c == lonCol || c == latCol)
    df.select(to_json(struct(
      lit("Feature").as("type"),
      struct(lit("Point").as("type"), array(col(lonCol), col(latCol)).as("coordinates"))
        .as("geometry"),
      struct(props.map(col): _*).as("properties"))).as("feature"))
  }

  /** Standard single-document GeoJSON FeatureCollection EXPORT: feature
    * lines render distributed ([[pointsToGeoJsonFeatures]], comma-joined),
    * the collection wrapper lands in sidecar head/tail parts — same
    * parts+wrapper shape as the GraphML/HTML sinks; `cat` assembles the
    * single-file form outside the cluster. */
  def writeGeoJson(df: DataFrame, path: String,
                   lonCol: String = "lon", latCol: String = "lat"): Unit = {
    val features = pointsToGeoJsonFeatures(df, lonCol, latCol)
    // Feature JSON renders distributed (projection above); the single-part
    // text join separates elements with a LEADING comma on every line but the
    // first, so the assembled document is strict RFC 7946 — no sentinel
    // element for external readers (geopandas/fiona) to trip on.
    features.select(col("feature")).as(org.apache.spark.sql.Encoders.STRING)
      .coalesce(1)
      .mapPartitions { it =>
        var first = true
        it.map { f => if (first) { first = false; f } else "," + f }
      }(org.apache.spark.sql.Encoders.STRING)
      .write.mode(SaveMode.Overwrite).text(s"$path/features")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/wrapper.head"),
      """{"type": "FeatureCollection", "features": [""" + "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/wrapper.tail"), "]}\n")
  }

  /** Standard single-document GeoJSON file import (S6 read side; reference
    * gpd.read_file on a .geojson FeatureCollection): the whole document
    * parses as ONE multiline JSON record, features explode to rows. A
    * single .geojson file is one parse task by format nature (like GPKG);
    * bulk vector data lives in parquet once inside the engine. */
  def readGeoJson(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("type", StringType),
      StructField("features", ArrayType(StructType(Seq(
        StructField("type", StringType),
        StructField("geometry", StructType(Seq(
          StructField("type", StringType),
          StructField("coordinates", ArrayType(DoubleType))))),
        StructField("properties", MapType(StringType, StringType))))))))
    spark.read.option("multiLine", "true").schema(schema).json(path)
      .select(explode(col("features")).as("f"))
      .filter(col("f.geometry.type") === "Point")
      .select(
        col("f.geometry.coordinates").getItem(0).as("lon"),
        col("f.geometry.coordinates").getItem(1).as("lat"),
        col("f.properties").as("properties"))
  }

  /** GeoJSON FeatureCollection import for point features (S6 read side). */
  def geoJsonFeaturesToPoints(features: DataFrame): DataFrame = {
    val parsed = features.select(from_json(col("feature"),
      org.apache.spark.sql.types.StructType.fromDDL(
        "type STRING, geometry STRUCT<type: STRING, coordinates: ARRAY<DOUBLE>>, " +
          "properties MAP<STRING, STRING>")).as("f"))
    parsed.select(
      col("f.geometry.coordinates").getItem(0).as("lon"),
      col("f.geometry.coordinates").getItem(1).as("lat"),
      col("f.properties").as("properties"))
  }

  /** Report-rows sink (S13): aggregates exported as a single JSON-lines
    * partition — the engine-side half of the reference's HTML/JSON panels. */
  def writeReportJson(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(path)

  /** GraphML sink (S11; reference ox.save_graphml at
    * 实习三/实习三代码/urban_road_network_analysis.ipynb): node and edge
    * elements are rendered to XML fragments DISTRIBUTED (string building is
    * a per-row projection — no driver-side iteration over the graph), then
    * written as text parts; the enclosing `<graphml>` document header/footer
    * land in a sidecar wrapper, the same parts+wrapper shape as the GeoJSON
    * sink. `cat wrapper.head fragments/part-... wrapper.tail > g.graphml`
    * assembles the single-file form outside the cluster.
    *
    * `nodes`: (id, lon, lat); `edges`: (src, dst, w). */
  def writeGraphMl(nodes: DataFrame, edges: DataFrame, path: String): Unit = {
    val nodeXml = nodes.select(concat(
      lit("""    <node id="n"""), xmlEscape(col("id")), lit("""">"""),
      lit("""<data key="lon">"""), xmlEscape(col("lon")), lit("</data>"),
      lit("""<data key="lat">"""), xmlEscape(col("lat")), lit("</data>"),
      lit("</node>")).as("xml"))
    val edgeXml = edges.select(concat(
      lit("""    <edge source="n"""), xmlEscape(col("src")),
      lit("""" target="n"""), xmlEscape(col("dst")), lit("""">"""),
      lit("""<data key="w">"""), xmlEscape(col("w")), lit("</data>"),
      lit("</edge>")).as("xml"))
    nodeXml.unionByName(edgeXml).write.mode(SaveMode.Overwrite).text(s"$path/fragments")
    val head =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<graphml xmlns="http://graphml.graphdrawing.org/xmlns">
        |  <key id="lon" for="node" attr.name="lon" attr.type="double"/>
        |  <key id="lat" for="node" attr.name="lat" attr.type="double"/>
        |  <key id="w" for="edge" attr.name="w" attr.type="double"/>
        |  <graph id="G" edgedefault="directed">
        |""".stripMargin
    val tail = "  </graph>\n</graphml>\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/wrapper.head"), head)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/wrapper.tail"), tail)
  }

  /** HTML report sink (S13 beyond JSON; the reference renders folium/
    * matplotlib HTML panels): table rows render distributed as `<tr>`
    * fragments; the page shell is the driver-side wrapper. */
  def writeReportHtml(df: DataFrame, path: String, title: String): Unit = {
    val cols = df.columns
    val rowXml = df.select(concat(
      lit("<tr>") +:
        cols.flatMap(c => Seq(lit("<td>"), coalesce(xmlEscape(col(c)), lit("")), lit("</td>"))) :+
        lit("</tr>"): _*).as("html"))
    rowXml.coalesce(1).write.mode(SaveMode.Overwrite).text(s"$path/rows")
    val header = cols.map(c => s"<th>${xmlEscapeStr(c)}</th>").mkString
    val safeTitle = xmlEscapeStr(title)
    val head = s"<!DOCTYPE html><html><head><title>$safeTitle</title></head>" +
      s"<body><h1>$safeTitle</h1><table><thead><tr>$header</tr></thead><tbody>\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/wrapper.head"), head)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/wrapper.tail"),
      "</tbody></table></body></html>\n")
  }

  /** Geo-table sink (S6 write side) — the cluster-native layer format.
    *
    * READING real GPKG is covered by [[Gpkg]] (from-scratch SQLite b-tree +
    * GPB parser). The WRITE side stays text-based: a GPKG is a single-file
    * SQLite container, which is not a shape a distributed job can produce in
    * parallel (one writer, one file). The layer instead ships as CSV parts
    * with a `wkt` geometry column plus a `<layer>.meta.json` sidecar
    * carrying what the GPKG `gpkg_contents`/`gpkg_geometry_columns` rows
    * would: layer name, geometry type, srs id. One
    * `ogr2ogr -f GPKG out.gpkg <layer dir>` (or `-f 'ESRI Shapefile'`)
    * converts losslessly outside the cluster. Reference round-trips GPKG at
    * 实习三/实习三代码/urban_road_struct_analysis.ipynb:198-202 and writes it
    * at …bounds_analysis.ipynb:367-371. */
  def writeGeoTable(df: DataFrame, path: String, layer: String,
      lonCol: String = "lon", latCol: String = "lat"): Unit = {
    val out = df
      .withColumn("wkt", concat(lit("POINT ("),
        col(lonCol).cast("string"), lit(" "), col(latCol).cast("string"), lit(")")))
      .drop(lonCol, latCol)
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$path/$layer")
    val meta = s"""{"layer": "$layer", "geometry_type": "POINT", "srs_id": 4326, """ +
      s""""geometry_column": "wkt", "format": "wkt-csv"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/$layer.meta.json"), meta)
  }

  /** Report ZIP bundle sink (S13; VERDICT r11 item 6 — the reference's
    * lab-4 zips its report outputs for download,
    * 实习四/实习四代码/yelp_analysis.ipynb:6734-6777). Bundles every regular
    * file under `reportDir` into one archive at `zipPath`. Deterministic:
    * entries in sorted relative-path order with a fixed timestamp, so the
    * same report bytes always produce byte-identical archives (re-runs
    * diff clean). java.util.zip — no new dependency. Driver-side by
    * design: report directories are bounded sink outputs (panel HTML,
    * chart PNGs, coalesced JSON rows), never data-proportional. */
  def writeReportZip(reportDir: String, zipPath: String): Unit = {
    import java.nio.file.{Files, Paths, Path}
    val root = Paths.get(reportDir)
    require(Files.isDirectory(root), s"not a directory: $reportDir")
    val files: Seq[Path] = {
      val s = Files.walk(root)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer[Path]()
        while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) buf += p }
        buf.toSeq.sortBy(p => root.relativize(p).toString)
      } finally s.close()
    }
    val zp = Paths.get(zipPath)
    if (zp.getParent != null) Files.createDirectories(zp.getParent): Unit
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zp))
    try files.foreach { p =>
      val e = new java.util.zip.ZipEntry(
        root.relativize(p).toString.replace(java.io.File.separatorChar, '/'))
      // Fixed stamp via setTimeLocal: setTime(millis) converts to DOS time
      // through the JVM default timezone, so the byte-identical guarantee
      // would only hold between machines sharing a timezone (ADVICE r12).
      // A LocalDateTime is written into the DOS field verbatim.
      e.setTimeLocal(java.time.LocalDateTime.of(2026, 1, 1, 0, 0))
      zos.putNextEntry(e)
      zos.write(Files.readAllBytes(p))
      zos.closeEntry()
    } finally zos.close()
  }

  /** Geo-table source (S6 read side): parses the WKT POINT column written by
    * [[writeGeoTable]] back to (lon, lat) doubles; all other columns pass
    * through. The regexp runs columnar inside codegen — no geometry runtime. */
  def readGeoTable(spark: SparkSession, path: String, layer: String): DataFrame = {
    val raw = readCsv(spark, s"$path/$layer")
    raw
      .withColumn("lon",
        regexp_extract(col("wkt"), """POINT \(([-0-9.eE]+) ([-0-9.eE]+)\)""", 1)
          .cast("double"))
      .withColumn("lat",
        regexp_extract(col("wkt"), """POINT \(([-0-9.eE]+) ([-0-9.eE]+)\)""", 2)
          .cast("double"))
      .drop("wkt")
  }
}
