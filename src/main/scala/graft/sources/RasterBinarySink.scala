package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** K1: binary raster export — the engine-native stand-in for the
  * reference's GeoTIFF conversion (`gdal_translate`/`gdalwarp`,
  * src/file-conversions.js:57-74,174-195), with no GDAL dependency: each
  * (variable, time) layer lands as a raw Float32 little-endian row-major
  * grid (`.bin`), an ENVI `.hdr` sidecar (public ENVI header spec — GDAL
  * and QGIS open the pair directly, so a GSKY-style downstream can consume
  * these without any extra tooling), and a `metadata.json` mirroring the
  * reference's shared grid metadata (width/height/bbox/nodata,
  * era5monthly.js:27-34 + `-dstnodata -9999`,
  * file-conversions.js:183-184).
  *
  * Scale shape: one task per layer — `groupByKey` on (variable, time)
  * shuffles each layer's cells to one executor, which materializes the
  * dense W×H Float32 array (a 0.25° global ERA5 grid is 1440×721×4 B ≈
  * 4 MB — executor-trivial) and writes the three files straight to the
  * shared store, temp-file + atomic-move like every engine sink (K3).
  * Layers export in parallel; nothing funnels through the driver.
  */
object RasterBinarySink {

  val DefaultNodata: Float = -9999f // file-conversions.js:183-184

  /** Grid georeferencing: cell centers run lonMin..lonMax west→east and
    * latMin..latMax with rows stored north→south (the GDAL convention).
    */
  final case class Layout(latMin: Double, latMax: Double,
                          lonMin: Double, lonMax: Double, cell: Double = 1.0) {
    def width: Int = math.round((lonMax - lonMin) / cell).toInt + 1
    def height: Int = math.round((latMax - latMin) / cell).toInt + 1
    /** [N, W, S, E] as the reference's aoi_bbox (era5monthly.js:34). */
    def bboxNWSE: Seq[Double] = Seq(latMax, lonMin, latMin, lonMax)
  }

  /** Export every (variable, time) layer of a long-format grid. Returns the
    * manifest (variable, time, path, width, height, n_cells) as a
    * DataFrame; the action is the manifest's evaluation (call `.collect()`
    * or let the caller aggregate it).
    */
  def write(grid: DataFrame, outDir: String, layout: Layout,
            nodata: Float = DefaultNodata): DataFrame = {
    val width = layout.width
    val height = layout.height
    Files.createDirectories(Paths.get(outDir))
    val rows = grid.selectExpr("CAST(variable AS STRING) AS variable",
      "CAST(time AS STRING) AS time", "CAST(lat AS DOUBLE) AS lat",
      "CAST(lon AS DOUBLE) AS lon", "CAST(value AS DOUBLE) AS value")
    rows
      .groupByKey(r => (r.getString(0), r.getString(1)))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .mapGroups { (key: (String, String), cells: Iterator[Row]) =>
        val (variable, time) = key
        val arr = Array.fill(width * height)(nodata)
        var n = 0
        cells.foreach { r =>
          val row = math.round((layout.latMax - r.getDouble(2)) / layout.cell).toInt
          val col = math.round((r.getDouble(3) - layout.lonMin) / layout.cell).toInt
          if (row >= 0 && row < height && col >= 0 && col < width && !r.isNullAt(4)) {
            arr(row * width + col) = r.getDouble(4).toFloat
            n += 1
          }
        }
        val base = s"${variable}_${time.replaceAll("[^0-9A-Za-z]+", "-")}"
        writeLayer(outDir, base, arr, layout, nodata)
        LayerManifest(variable, time, s"$outDir/$base.bin", width, height, n.toLong)
      }(Encoders.product[LayerManifest])
      .toDF()
  }

  /** One row per exported layer. */
  final case class LayerManifest(variable: String, time: String, path: String,
                                 width: Int, height: Int, n_cells: Long)

  private def writeLayer(outDir: String, base: String, arr: Array[Float],
                         layout: Layout, nodata: Float): Unit = {
    val buf = ByteBuffer.allocate(arr.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    arr.foreach(buf.putFloat)
    graft.AtomicFile.write(Paths.get(s"$outDir/$base.bin"), buf.array())
    // ENVI header: pixel (1,1) is the top-left cell EDGE, so the map tie
    // point is the NW cell center shifted half a cell up-left
    val hdr =
      s"""ENVI
         |description = { graft binary raster export }
         |samples = ${layout.width}
         |lines = ${layout.height}
         |bands = 1
         |header offset = 0
         |file type = ENVI Standard
         |data type = 4
         |interleave = bsq
         |byte order = 0
         |data ignore value = ${nodata.toDouble}
         |map info = {Geographic Lat/Lon, 1, 1, ${layout.lonMin - layout.cell / 2}, ${layout.latMax + layout.cell / 2}, ${layout.cell}, ${layout.cell}, WGS-84}
         |""".stripMargin
    graft.AtomicFile.write(Paths.get(s"$outDir/$base.hdr"), hdr.getBytes(StandardCharsets.UTF_8))
    val meta =
      s"""{"width": ${layout.width}, "height": ${layout.height},
         | "bbox": [${layout.bboxNWSE.mkString(", ")}],
         | "cell": ${layout.cell}, "nodata": ${nodata.toDouble},
         | "dtype": "float32", "byte_order": "little-endian",
         | "layout": "row-major north-to-south"}""".stripMargin.replace("\n", "")
    graft.AtomicFile.write(Paths.get(s"$outDir/$base.metadata.json"),
      meta.getBytes(StandardCharsets.UTF_8))
    // the reference's literal downstream contract is a .tif per layer
    // (file-conversions.js:57-74) — emit a GeoTIFF (LZW + floating-point
    // predictor, as `gdal_translate -co COMPRESS=LZW -co PREDICTOR=3`)
    // alongside the ENVI pair, same grid, same nodata
    graft.AtomicFile.write(Paths.get(s"$outDir/$base.tif"), GeoTiff.encode(
      layout.width, layout.height, arr,
      layout.lonMin - layout.cell / 2, layout.latMax + layout.cell / 2,
      layout.cell, layout.cell, nodata))
  }

  /** Read one exported layer back (round-trip testing + a migration path
    * for downstreams): (width, height, row-major values with nodata→NaN).
    */
  def read(binPath: String): (Int, Int, Array[Float]) = {
    val metaPath = binPath.stripSuffix(".bin") + ".metadata.json"
    val meta = new String(Files.readAllBytes(Paths.get(metaPath)), StandardCharsets.UTF_8)
    def intField(k: String): Int =
      s""""$k":\\s*(-?\\d+)""".r.findFirstMatchIn(meta).get.group(1).toInt
    def dblField(k: String): Double =
      s""""$k":\\s*(-?[\\d.eE+-]+)""".r.findFirstMatchIn(meta).get.group(1).toDouble
    val (w, h, nodata) = (intField("width"), intField("height"), dblField("nodata"))
    val bytes = Files.readAllBytes(Paths.get(binPath))
    require(bytes.length == w * h * 4, s"expected ${w * h * 4} bytes, got ${bytes.length}")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val arr = Array.fill(w * h)(buf.getFloat)
    (w, h, arr.map(v => if (v == nodata.toFloat) Float.NaN else v))
  }
}
