package perfbench

import java.time.LocalDateTime

/** The synthetic monthly fields the cycle workloads land, in closed form,
  * so every published cell can be checked without the program.
  *
  * The lattice is the reference's AOI [N 37, W -21.36, S -39.34, E 65.49]
  * at `stepMilli` thousandths of a degree, scanned north to south and west
  * to east (GRIB1 scan mode 0). A variable's integer-scaled value at
  * column `i`, row `j` of month (`year`, `month`) is
  *
  *   base + a * s(i, j) + c * month + k(i, j) * (year - 1990)
  *
  * with `s` and `k` small hash-like lattice patterns shifted by the seed,
  * and the physical value is that integer / 10^decimal, exactly as GRIB1
  * simple packing stores it. A normal over whole years is then the same
  * expression at the window's mean year, and an anomaly is
  * k(i, j) * (year - meanYear) / 10^decimal.
  */
final case class Lattice(stepMilli: Int) {
  val la1Milli = 37000
  val lo1Milli = -21360
  val ni: Int = (65490 - lo1Milli) / stepMilli + 1
  val nj: Int = (37000 - -39340) / stepMilli + 1
  def cells: Int = ni * nj
  def lat(j: Int): Double = (la1Milli - j.toLong * stepMilli) / 1000.0
  def lon(i: Int): Double = (lo1Milli + i.toLong * stepMilli) / 1000.0
  def col(lon: Double): Int = math.round((lon * 1000 - lo1Milli) / stepMilli).toInt
  def row(lat: Double): Int = math.round((la1Milli - lat * 1000) / stepMilli).toInt
  def layout: graft.sources.RasterBinarySink.Layout =
    graft.sources.RasterBinarySink.Layout(
      latMin = lat(nj - 1), latMax = lat(0), lonMin = lon(0), lonMax = lon(ni - 1),
      cell = stepMilli / 1000.0)
}

/** One synthetic variable: its GRIB1 parameter, decimal scale and pattern. */
final case class SynthVar(name: String, param: Int, decimal: Int, base: Int, a: Int, c: Int,
                          seed: Long) {
  private val shift = java.lang.Math.floorMod(seed, 9973L).toInt
  def s(i: Int, j: Int): Int = (i * 31 + j * 17 + shift) % 97
  def k(i: Int, j: Int): Int = 1 + (i + 2 * j + shift) % 5
  def scaled(year: Int, month: Int, i: Int, j: Int): Int =
    base + (shift % 50) + a * s(i, j) + c * month + k(i, j) * (year - 1990)
  private val pow = math.pow(10, decimal)
  def raw(year: Int, month: Int, i: Int, j: Int): Double = scaled(year, month, i, j) / pow
  /** Mean of `raw` over whole years `y0..y1` of one calendar month. */
  def normal(month: Int, y0: Int, y1: Int, i: Int, j: Int): Double =
    (y0 to y1).map(y => raw(y, month, i, j)).sum / (y1 - y0 + 1)
  def anomaly(year: Int, month: Int, y0: Int, y1: Int, i: Int, j: Int): Double =
    raw(year, month, i, j) - normal(month, y0, y1, i, j)

  def gribField(lat: Lattice, time: LocalDateTime): graft.sources.Grib1.Field =
    graft.sources.Grib1.Field(param, time, lat.ni, lat.nj,
      la1Milli = lat.la1Milli, lo1Milli = lat.lo1Milli,
      diMilli = lat.stepMilli, djMilli = lat.stepMilli, decimalScale = decimal,
      scaled = Array.tabulate(lat.cells)(n =>
        Some(scaled(time.getYear, time.getMonthValue, n % lat.ni, n / lat.ni))))
}

object Fields {
  /** 2 m temperature in K (GRIB1 parameter 11, TMP) and total precipitation
    * in m (parameter 61, PRATE), the two variables of the reference's ERA5
    * monthly source.
    */
  def variables(seed: Long): Seq[SynthVar] = Seq(
    SynthVar("TMP", 11, 1, 2500, 1, 15, seed),
    SynthVar("PRATE", 61, 5, 100, 7, 23, seed))

  /** Even-odd (crossing-parity) membership of (x, y) in a set of rings: a
    * horizontal ray from the point crosses the boundary an odd number of
    * times iff the point is inside.
    */
  def insideEvenOdd(rings: Seq[Array[(Double, Double)]], x: Double, y: Double): Boolean = {
    var crossings = 0
    rings.foreach { ring =>
      var prev = ring.length - 1
      var cur = 0
      while (cur < ring.length) {
        val (ax, ay) = ring(cur)
        val (bx, by) = ring(prev)
        if ((ay > y) != (by > y)) {
          val xCross = (bx - ax) * (y - ay) / (by - ay) + ax
          if (x < xCross) crossings += 1
        }
        prev = cur
        cur += 1
      }
    }
    crossings % 2 == 1
  }

  /** Lattice mask: true where the cell centre is inside the rings. */
  def mask(lat: Lattice, rings: Seq[Array[(Double, Double)]]): Array[Boolean] =
    Array.tabulate(lat.cells)(n => insideEvenOdd(rings, lat.lon(n % lat.ni), lat.lat(n / lat.ni)))
}
