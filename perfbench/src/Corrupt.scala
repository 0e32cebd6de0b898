package perfbench

import java.nio.file.{Files, Paths}

import graft.sources.GeoTiff

/** Corrupts one published GeoTIFF in place, for the checks' self-test
  * (`perfbench/selftest.py`).
  *
  * Usage: perfbench.Corrupt cell|plain|outside FILE.tif
  *   cell     adds 1 to one live cell
  *   plain    re-encodes the same cells without LZW and predictor
  *   outside  gives the first nodata cell a value
  */
object Corrupt {
  def main(args: Array[String]): Unit = {
    val Array(mode, file) = args
    val img = TiffReader.read(Files.readAllBytes(Paths.get(file)))
    val nodata = img.nodata.map(_.toFloat).getOrElse(-9999f)
    val values = img.values.clone()
    mode match {
      case "cell" =>
        val k = values.indices.find(i => values(i) != nodata).get
        values(k) += 1f
      case "outside" =>
        values(values.indexWhere(_ == nodata)) = 1f
      case "plain" => ()
      case other => throw new IllegalArgumentException(s"unknown corruption $other")
    }
    // georeferencing is not what the checks read; a unit grid keeps it simple
    Files.write(Paths.get(file), GeoTiff.encode(img.width, img.height, values,
      0.0, 0.0, 1.0, 1.0, nodata, lzw = mode != "plain"))
  }
}
