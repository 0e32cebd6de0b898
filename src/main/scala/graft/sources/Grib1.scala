package graft.sources

import java.nio.file.Path
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Native GRIB edition-1 reader/writer (WMO FM-92 GRIB, public spec:
  * WMO Manual on Codes No.306 + NCEP Office Note 388 layout tables).
  *
  * This is the reference's actual input boundary: it shells out
  * `wgrib input -d N -grib -o out` to extract records from real GRIB1
  * bytes (reference src/file-conversions.js:114-135, Dockerfile wgrib
  * build) before any raster math happens. The engine's at-rest model is
  * the long-format grid table (SURVEY §2.1), so the missing piece was the
  * byte-level landing step: GRIB bytes → (variable, time, lat, lon,
  * value) rows. This object closes it, the same way Shapefile.scala
  * closed the .shp boundary — a direct implementation of the public spec,
  * no GDAL/wgrib dependency.
  *
  * Scope (= what the reference's datasets actually use): edition 1,
  * latitude/longitude grids (GDS data-representation type 0), simple
  * packing, optional bitmap (BMS), scanning mode 0 (+i west→east, −j
  * north→south, i fastest). Anything else is rejected loudly — silently
  * mis-decoding a rotated or complex-packed grid would corrupt every
  * downstream aggregate.
  *
  * Decode math (spec §4 / Table 11): for packed integer X,
  * `value = (R + X·2^E) / 10^D` with R the IBM-360 32-bit float reference
  * value, E the binary scale (signed 16), D the decimal scale (signed 16,
  * in the PDS).
  */
object Grib1 {

  /** One decoded record: a dense 2-D field plus its georeferencing.
    * `values` is row-major in scan order (i fastest west→east; j rows
    * north→south for scan mode 0x00, south→north for 0x40 —
    * `scanJPositive`); bitmap-masked cells are NaN.
    */
  final case class Record(
      param: Int,
      variable: String,
      levelType: Int,
      level: Int,
      time: LocalDateTime,
      ni: Int,
      nj: Int,
      la1Milli: Int,
      lo1Milli: Int,
      diMilli: Int,
      djMilli: Int,
      scanJPositive: Boolean,
      values: Array[Double])

  /** Long-format cell row (the engine's canonical grid shape). */
  final case class GridRow(variable: String, time: LocalDateTime,
                           lat: Double, lon: Double, value: Double)

  /** WMO Code Table 2 (parameter indicator) — the handful the reference's
    * datasets touch; everything else keeps a stable synthetic name.
    */
  private val paramNames = Map(
    2 -> "PRMSL", 7 -> "HGT", 11 -> "TMP", 33 -> "UGRD", 34 -> "VGRD",
    52 -> "RH", 61 -> "PRATE", 81 -> "LAND")

  def nameOf(param: Int): String = paramNames.getOrElse(param, s"param$param")

  // ---------------------------------------------------------------- parse

  /** All GRIB1 messages in a byte buffer (files concatenate messages
    * back-to-back; wgrib's record number `-d N` is the 1-based index into
    * this sequence).
    */
  def parseMessages(bytes: Array[Byte], label: String = "<bytes>"): Seq[Record] = {
    val out = Seq.newBuilder[Record]
    var pos = 0
    def u(i: Int): Int = bytes(i) & 0xff
    while (pos + 8 <= bytes.length) {
      // Indicator Section: "GRIB", 24-bit total length, edition
      require(bytes(pos) == 'G' && bytes(pos + 1) == 'R' &&
        bytes(pos + 2) == 'I' && bytes(pos + 3) == 'B',
        s"not a GRIB message at offset $pos in $label")
      val total = (u(pos + 4) << 16) | (u(pos + 5) << 8) | u(pos + 6)
      val edition = u(pos + 7)
      require(edition == 1, s"GRIB edition $edition unsupported (only 1) in $label")
      // a zero/absurd total would loop forever re-parsing the same offset;
      // a total past EOF means a truncated file — both are corrupt input
      require(total > 8 && pos + total <= bytes.length,
        s"corrupt GRIB total-length $total at offset $pos in $label " +
          s"(file has ${bytes.length} bytes)")
      out += parseMessage(bytes, pos, label)
      pos += total
      // tolerate trailing padding some producers append between messages
      while (pos < bytes.length && bytes(pos) == 0) pos += 1
    }
    out.result()
  }

  private def parseMessage(b: Array[Byte], start: Int, label: String): Record = {
    def u(i: Int): Int = b(i) & 0xff
    def u16(i: Int): Int = (u(i) << 8) | u(i + 1)
    def u24(i: Int): Int = (u(i) << 16) | (u(i + 1) << 8) | u(i + 2)
    // signed-magnitude fields: top bit = sign, remaining bits = magnitude
    def s16(i: Int): Int = { val v = u16(i); if ((v & 0x8000) != 0) -(v & 0x7fff) else v }
    def s24(i: Int): Int = {
      val v = u24(i); if ((v & 0x800000) != 0) -(v & 0x7fffff) else v
    }

    val pds = start + 8
    val pdsLen = u24(pds)
    require(pdsLen >= 28, s"PDS too short ($pdsLen) in $label")
    val flags = u(pds + 7)
    val hasGds = (flags & 0x80) != 0
    val hasBms = (flags & 0x40) != 0
    require(hasGds, s"GDS-less message (predefined grid ${u(pds + 6)}) unsupported in $label")
    val param = u(pds + 8)
    val levelType = u(pds + 9)
    val level = u16(pds + 10)
    val yoc = u(pds + 12); val mo = u(pds + 13); val dy = u(pds + 14)
    val hr = u(pds + 15); val mi = u(pds + 16)
    val century = u(pds + 24)
    val year = (century - 1) * 100 + yoc // 1998 → century 20, yoc 98
    val time = LocalDateTime.of(year, mo, dy, hr, mi)
    val dScale = s16(pds + 26)

    val gds = pds + pdsLen
    val gdsLen = u24(gds)
    val dataType = u(gds + 5)
    require(dataType == 0,
      s"GDS data representation type $dataType unsupported (only 0 = lat/lon) in $label")
    val ni = u16(gds + 6)
    val nj = u16(gds + 8)
    val la1 = s24(gds + 10)
    val lo1 = s24(gds + 13)
    val la2 = s24(gds + 17)
    val lo2 = s24(gds + 20)
    val di = u16(gds + 23)
    val dj = u16(gds + 25)
    val scan = u(gds + 27)
    // 0x00: +i −j (rows north→south); 0x40: +i +j (south→north). Anything
    // else (−i, j-fastest) would silently transpose/mirror the grid.
    require(scan == 0 || scan == 0x40,
      f"scanning mode 0x$scan%02x unsupported (only 0x00 / 0x40) in $label")
    val jPositive = scan == 0x40
    require(ni > 1 && nj > 1, s"degenerate grid ${ni}x$nj in $label")
    // sanity: increments must agree with the corner coordinates
    val laEnd = if (jPositive) la1 + (nj - 1) * dj else la1 - (nj - 1) * dj
    require(lo1 + (ni - 1) * di == lo2 && laEnd == la2,
      s"GDS corners disagree with increments in $label")

    var cursor = gds + gdsLen
    val bitmap: Array[Boolean] =
      if (!hasBms) null
      else {
        val bmsLen = u24(cursor)
        require(u16(cursor + 4) == 0,
          s"predefined (catalogued) bitmap unsupported in $label")
        // a BMS shorter than the grid would silently read BDS bytes as
        // bitmap bits and misalign every value against its cell
        require(bmsLen >= 6 + (ni * nj + 7) / 8,
          s"BMS length $bmsLen too short for ${ni}x$nj grid in $label")
        val bits = Array.ofDim[Boolean](ni * nj)
        var k = 0
        while (k < bits.length) {
          bits(k) = (u(cursor + 6 + (k >> 3)) & (0x80 >> (k & 7))) != 0
          k += 1
        }
        cursor += bmsLen
        bits
      }

    val bds = cursor
    val bdsLen = u24(bds)
    val bdsFlags = u(bds + 3) >> 4
    // bit 8: spherical harmonics; bit 4: complex packing; bit 1: octet-14
    // extension flags (second-order packing etc.) — with any of these the
    // packed data does NOT start at octet 12, so decoding would produce
    // garbage, not an error. Bit 2 (integer original type) decodes fine.
    require((bdsFlags & 0xd) == 0,
      f"BDS flags 0x$bdsFlags%x unsupported (only grid-point simple packing, no octet-14 extensions) in $label")
    val eScale = s16(bds + 4)
    val ref = ibmFloat(u(bds + 6), u(bds + 7), u(bds + 8), u(bds + 9))
    val nbits = u(bds + 10)
    val nPresent = if (bitmap == null) ni * nj else bitmap.count(identity)

    val twoE = math.pow(2.0, eScale)
    val tenD = math.pow(10.0, dScale)
    val packed = new Array[Double](nPresent)
    if (nbits == 0) {
      // constant field: every present point equals the reference value
      java.util.Arrays.fill(packed, ref / tenD)
    } else {
      var k = 0
      var bitPos = (bds + 11) * 8 // absolute bit offset of the packed data
      while (k < nPresent) {
        var x = 0L
        var t = 0
        while (t < nbits) {
          val byte = u(bitPos >> 3)
          val bit = (byte >> (7 - (bitPos & 7))) & 1
          x = (x << 1) | bit
          bitPos += 1
          t += 1
        }
        packed(k) = (ref + x * twoE) / tenD
        k += 1
      }
    }

    val values = new Array[Double](ni * nj)
    if (bitmap == null) System.arraycopy(packed, 0, values, 0, values.length)
    else {
      var k = 0; var p = 0
      while (k < values.length) {
        values(k) = if (bitmap(k)) { val v = packed(p); p += 1; v } else Double.NaN
        k += 1
      }
    }
    Record(param, nameOf(param), levelType, level, time,
      ni, nj, la1, lo1, di, dj, jPositive, values)
  }

  /** IBM System/360 32-bit hexadecimal float (the GRIB1 reference-value
    * format): sign(1) · excess-64 exponent(7) of SIXTEEN · 24-bit
    * fraction. value = (−1)^s · m/2^24 · 16^(e−64).
    */
  def ibmFloat(b0: Int, b1: Int, b2: Int, b3: Int): Double = {
    val sign = if ((b0 & 0x80) != 0) -1.0 else 1.0
    val exp = b0 & 0x7f
    val mant = (b1 << 16) | (b2 << 8) | b3
    if (mant == 0) 0.0
    else sign * mant.toDouble / (1 << 24).toDouble * math.pow(16.0, (exp - 64).toDouble)
  }

  /** Encode a double into IBM-360 float bytes (exact for the integer
    * reference values the writer produces; general case rounds the
    * 24-bit fraction).
    */
  def ibmFloatBytes(v: Double): Array[Byte] = {
    if (v == 0.0) return Array(0, 0, 0, 0)
    val sign = if (v < 0) 0x80 else 0x00
    var abs = math.abs(v)
    // normalize: abs = f * 16^(e-64) with f in [1/16, 1)
    var exp = 64
    while (abs >= 1.0) { abs /= 16.0; exp += 1 }
    while (abs < 1.0 / 16.0) { abs *= 16.0; exp -= 1 }
    val mant = math.round(abs * (1 << 24)).toInt
    require(exp >= 0 && exp <= 127, s"IBM float exponent overflow for $v")
    Array((sign | exp).toByte, ((mant >> 16) & 0xff).toByte,
      ((mant >> 8) & 0xff).toByte, (mant & 0xff).toByte)
  }

  // ----------------------------------------------------------- distribute

  /** The Spark boundary: GRIB file paths → long-format grid DataFrame
    * `(variable, time, lat, lon, value)` (timestamp_ntz; masked cells
    * dropped — wgrib's "undefined" points never become rows).
    *
    * Scale shape: files are read through the `binaryFile` source, so the
    * bytes come via the Hadoop filesystem layer — local paths here,
    * s3a/hdfs/gs on a cluster — with Spark packing many small files into
    * one task (archives ship one file per month/variable, reference
    * era5monthly.js). A GRIB message must be decoded whole (the packed
    * bitstream has no intra-record split points), so per-file decode is
    * the atom; it is ~O(bytes) integer work, and the output columns are
    * the same long format every other raster operator consumes, so the
    * landing write partitions by (variable, year, month) exactly like
    * Raster.writePartitioned.
    */
  def readRecords(spark: SparkSession, paths: Seq[String]): DataFrame =
    decodeBinaryFiles(spark.read.format("binaryFile").load(paths: _*))

  /** Decode a `binaryFile`-schema DataFrame (path, content, ...). */
  private def decodeBinaryFiles(bin: DataFrame): DataFrame = {
    val spark = bin.sparkSession
    import org.apache.spark.sql.functions.col
    spark.createDataset(
      bin.select(col("path"), col("content"))
        .as[(String, Array[Byte])](Encoders.tuple(Encoders.STRING, Encoders.BINARY))
        .rdd
        .flatMap { case (p, bytes) => parseMessages(bytes, p).iterator.flatMap(cells) }
    )(Encoders.product[GridRow]).toDF()
  }

  /** Flatten one record to present cells (NaN-masked cells dropped). */
  def cells(r: Record): Iterator[GridRow] = {
    val latStep = if (r.scanJPositive) r.djMilli.toLong else -r.djMilli.toLong
    val rows = Iterator.tabulate(r.nj * r.ni) { k =>
      val j = k / r.ni; val i = k % r.ni
      GridRow(r.variable, r.time,
        (r.la1Milli + j * latStep) / 1000.0,
        (r.lo1Milli + i.toLong * r.diMilli) / 1000.0,
        r.values(k))
    }
    rows.filterNot(c => c.value.isNaN)
  }

  /** End-to-end landing: every GRIB1 file under `inDir` decoded
    * distributed and written to the at-scale grid layout — partitioned by
    * (variable, year, month) with dynamic overwrite, so re-landing a month
    * is idempotent and the monthly cursor's scan prunes to one partition
    * (the engine-native form of the reference's download→wgrib→convert
    * step, era5monthly.js:46-77 + file-conversions.js:114-135). Listing
    * and reading both go through the Hadoop filesystem layer
    * (`binaryFile` + recursive glob), so `inDir` can be a local dir here
    * or an s3a/hdfs prefix on a cluster — no driver-side directory walk.
    * Returns the number of files landed.
    */
  def landToGrid(spark: SparkSession, inDir: String, gridDir: String): Int = {
    def src = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.{grib,grb,grib1}")
      .load(inDir)
    // path-only projection: the count never reads file contents
    val nFiles = src.select("path").count().toInt
    if (nFiles > 0)
      graft.operators.Raster.writePartitioned(decodeBinaryFiles(src), gridDir)
    nFiles
  }

  // ---------------------------------------------------------------- write

  /** One message to encode: integer-scaled values (`value = scaled/10^D`),
    * `None` = bitmap-masked cell. Keeping the input integer-scaled makes
    * the round trip exact: the writer packs `x − min(x)` with binary
    * scale 0 and reference `min(x)`, so decode returns precisely
    * `x / 10^D` with no quantization.
    */
  final case class Field(param: Int, time: LocalDateTime,
                         ni: Int, nj: Int,
                         la1Milli: Int, lo1Milli: Int, diMilli: Int, djMilli: Int,
                         decimalScale: Int,
                         scaled: Array[Option[Int]],
                         scanMode: Int = 0x00) {
    require(scaled.length == ni * nj, "scaled length must be ni*nj")
    require(scanMode == 0x00 || scanMode == 0x40, "scan mode must be 0x00 or 0x40")
  }

  /** Serialize messages to spec-compliant GRIB1 bytes (IS+PDS+GDS[+BMS]+
    * BDS+7777 per message, sections padded to even length).
    */
  def write(fields: Seq[Field]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    fields.foreach(f => buf.write(writeMessage(f)))
    buf.toByteArray
  }

  private def writeMessage(f: Field): Array[Byte] = {
    def u24(v: Int) = Array(((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def u16(v: Int) = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def s16b(v: Int) = { val m = math.abs(v) | (if (v < 0) 0x8000 else 0); u16(m) }
    def s24b(v: Int) = { val m = math.abs(v) | (if (v < 0) 0x800000 else 0); u24(m) }

    val hasBms = f.scaled.exists(_.isEmpty)
    val present = f.scaled.flatten
    require(present.nonEmpty, "all-masked field")
    val minV = present.min
    val span = present.max - minV
    val nbits = if (span == 0) 0 else 32 - Integer.numberOfLeadingZeros(span)

    val pds = Array.concat(
      u24(28), Array[Byte](2, 98, 0, (255 & 0xff).toByte,
        ((if (hasBms) 0xc0 else 0x80) & 0xff).toByte,
        f.param.toByte, 1.toByte), u16(0),
      Array[Byte]((f.time.getYear % 100 match { case 0 => 100; case y => y }).toByte,
        f.time.getMonthValue.toByte, f.time.getDayOfMonth.toByte,
        f.time.getHour.toByte, f.time.getMinute.toByte,
        1.toByte, 0.toByte, 0.toByte, 0.toByte), u16(0),
      Array[Byte](0.toByte, ((f.time.getYear - 1) / 100 + 1).toByte, 0.toByte),
      s16b(f.decimalScale))
    require(pds.length == 28, s"PDS length ${pds.length}")

    val la2 =
      if (f.scanMode == 0x40) f.la1Milli + (f.nj - 1) * f.djMilli
      else f.la1Milli - (f.nj - 1) * f.djMilli
    val lo2 = f.lo1Milli + (f.ni - 1) * f.diMilli
    val gds = Array.concat(
      u24(32), Array[Byte](0, (255 & 0xff).toByte, 0),
      u16(f.ni), u16(f.nj), s24b(f.la1Milli), s24b(f.lo1Milli),
      Array[Byte]((0x80 & 0xff).toByte), s24b(la2), s24b(lo2),
      u16(f.diMilli), u16(f.djMilli),
      Array[Byte](f.scanMode.toByte, 0, 0, 0, 0))
    require(gds.length == 32, s"GDS length ${gds.length}")

    val bms: Array[Byte] = if (!hasBms) Array.emptyByteArray else {
      val bits = f.scaled.length
      val bytes = (bits + 7) / 8
      val padded = if ((6 + bytes) % 2 == 0) bytes else bytes + 1
      val unused = padded * 8 - bits
      val bitmap = new Array[Byte](padded)
      var k = 0
      while (k < bits) {
        if (f.scaled(k).isDefined) bitmap(k >> 3) = (bitmap(k >> 3) | (0x80 >> (k & 7))).toByte
        k += 1
      }
      Array.concat(u24(6 + padded), Array(unused.toByte), u16(0), bitmap)
    }

    val dataBits = present.length * nbits
    val dataBytes = (dataBits + 7) / 8
    val bdsBodyLen = 11 + dataBytes
    val bdsLen = if (bdsBodyLen % 2 == 0) bdsBodyLen else bdsBodyLen + 1
    val unusedBits = bdsLen * 8 - 11 * 8 - dataBits
    val data = new Array[Byte](bdsLen - 11)
    var bitPos = 0
    present.foreach { x =>
      val v = x - minV
      var t = nbits - 1
      while (t >= 0) {
        if (((v >> t) & 1) != 0) data(bitPos >> 3) = (data(bitPos >> 3) | (0x80 >> (bitPos & 7))).toByte
        bitPos += 1
        t -= 1
      }
    }
    val bds = Array.concat(
      u24(bdsLen), Array(((0 << 4) | unusedBits).toByte), s16b(0),
      ibmFloatBytes(minV.toDouble), Array(nbits.toByte), data)

    val total = 8 + pds.length + gds.length + bms.length + bds.length + 4
    Array.concat(
      "GRIB".getBytes("US-ASCII"), u24(total), Array(1.toByte),
      pds, gds, bms, bds, "7777".getBytes("US-ASCII"))
  }

  /** Atomic write of encoded messages to a file. */
  def writeFile(path: Path, fields: Seq[Field]): Path =
    graft.AtomicFile.write(path, write(fields))
}
