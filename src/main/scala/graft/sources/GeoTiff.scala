package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Minimal GeoTIFF encoder/decoder — the last piece of K1:
  * the reference's downstream contract is literally a `.tif` per layer
  * (`gdal_translate`/`gdalwarp` outputs, src/file-conversions.js:57-74),
  * and this produces one with zero GDAL dependency from the public specs
  * (Adobe TIFF 6.0 baseline + OGC GeoTIFF 1.1).
  *
  * Scope: single-band Float32 grids, little-endian, one strip, LZW with
  * the floating-point predictor by default (uncompressed on request) —
  * the shape every GIS stack (GDAL, QGIS, rasterio) opens directly.
  * Georeferencing is the standard plate-carrée trio: ModelPixelScale +
  * ModelTiepoint (raster (0,0) edge → lon/lat) + a GeoKeyDirectory
  * declaring geographic WGS-84 (EPSG 4326), plus the de-facto
  * GDAL_NODATA ASCII tag.
  */
object GeoTiff {

  // TIFF field types
  private val ASCII = 2
  private val SHORT = 3
  private val LONG = 4
  private val RATIONAL = 5
  private val DOUBLE = 12

  private val typeSize = Map(ASCII -> 1, SHORT -> 2, LONG -> 4, RATIONAL -> 8, DOUBLE -> 8)

  /** One IFD entry; `data` is the raw little-endian value bytes (placed
    * inline when they fit in 4, else in the external value area).
    */
  private final case class Entry(tag: Int, typ: Int, count: Int, data: Array[Byte])

  /** Encode a north-up row-major Float32 grid. `lonEdge`/`latEdge` are the
    * OUTER corner of the top-left pixel (cell center − half a cell), the
    * same convention as the ENVI header's map info.
    *
    * `lzw = true` (the default) matches the reference's literal
    * `gdal_translate -co COMPRESS=LZW -co PREDICTOR=3` output shape
    * (file-conversions.js:60-66): TIFF-LZW (spec §13, MSB-first variable
    * width codes with early change) over the floating-point horizontal
    * predictor (TIFF Technical Note 3: rows split into big-endian byte
    * planes, then byte-differenced) — raster floats compress poorly raw,
    * but their exponent/high-mantissa bytes are near-constant across a
    * row, which is exactly what the plane-split exposes.
    */
  def encode(width: Int, height: Int, values: Array[Float],
             lonEdge: Double, latEdge: Double, cellX: Double, cellY: Double,
             nodata: Float, lzw: Boolean = true): Array[Byte] = {
    require(width > 0 && height > 0, s"degenerate raster ${width}x$height")
    require(values.length == width * height,
      s"expected ${width * height} values, got ${values.length}")
    val raw = {
      val b = ByteBuffer.allocate(values.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      values.foreach(b.putFloat)
      b.array()
    }
    val strip = if (lzw) Lzw.compress(predictRows(raw, width)) else raw
    val dataBytes = strip.length // StripByteCounts: the real strip length
    // the IFD must start word-aligned; an odd compressed strip gets one
    // pad byte that is NOT part of the strip
    val data = if (strip.length % 2 == 0) strip else strip :+ 0.toByte

    def shorts(vs: Int*): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(v => b.putShort(v.toShort)); b.array()
    }
    def longs(vs: Int*): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putInt); b.array()
    }
    def doubles(vs: Double*): Array[Byte] = {
      val b = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(b.putDouble); b.array()
    }

    val nodataAscii = {
      val s = (if (nodata == nodata.toLong.toFloat) nodata.toLong.toString
               else nodata.toString) + "\u0000"
      s.getBytes(StandardCharsets.US_ASCII)
    }
    val entries = Seq(
      Entry(256, LONG, 1, longs(width)),            // ImageWidth
      Entry(257, LONG, 1, longs(height)),           // ImageLength
      Entry(258, SHORT, 1, shorts(32)),             // BitsPerSample
      Entry(259, SHORT, 1, shorts(if (lzw) 5 else 1)), // Compression
      Entry(262, SHORT, 1, shorts(1)),              // Photometric: BlackIsZero
      Entry(273, LONG, 1, longs(8)),                // StripOffsets: data at 8
      Entry(277, SHORT, 1, shorts(1)),              // SamplesPerPixel
      Entry(278, LONG, 1, longs(height)),           // RowsPerStrip: one strip
      Entry(279, LONG, 1, longs(dataBytes)),        // StripByteCounts
      Entry(282, RATIONAL, 1, longs(72, 1)),        // XResolution (nominal)
      Entry(283, RATIONAL, 1, longs(72, 1)),        // YResolution
      Entry(284, SHORT, 1, shorts(1)),              // PlanarConfiguration
      Entry(296, SHORT, 1, shorts(2))) ++            // ResolutionUnit: inch
      (if (lzw) Seq(Entry(317, SHORT, 1, shorts(3))) else Nil) ++ // Predictor: FP
      Seq(
      Entry(339, SHORT, 1, shorts(3)),              // SampleFormat: IEEE float
      Entry(33550, DOUBLE, 3, doubles(cellX, cellY, 0.0)),          // ModelPixelScale
      Entry(33922, DOUBLE, 6, doubles(0, 0, 0, lonEdge, latEdge, 0)), // ModelTiepoint
      Entry(34735, SHORT, 16, shorts(                               // GeoKeyDirectory
        1, 1, 0, 3,        // version 1.1, 3 keys
        1024, 0, 1, 2,     // GTModelType: geographic
        1025, 0, 1, 1,     // GTRasterType: PixelIsArea
        2048, 0, 1, 4326)),// GeographicType: WGS-84
      Entry(42113, ASCII, nodataAscii.length, nodataAscii))          // GDAL_NODATA

    val ifdOffset = 8 + data.length
    val ifdBytes = 2 + entries.length * 12 + 4
    var extCursor = ifdOffset + ifdBytes
    val buf = ByteBuffer.allocate(extCursor +
      entries.map(e => e.data.length + 1).sum) // +1 slack per entry for even padding
      .order(ByteOrder.LITTLE_ENDIAN)

    buf.putShort(0x4949.toShort) // "II"
    buf.putShort(42.toShort)
    buf.putInt(ifdOffset)
    buf.put(data)

    buf.putShort(entries.length.toShort)
    val external = Seq.newBuilder[Array[Byte]]
    entries.foreach { e =>
      buf.putShort(e.tag.toShort)
      buf.putShort(e.typ.toShort)
      buf.putInt(e.count)
      require(e.data.length == e.count * typeSize(e.typ), s"tag ${e.tag} size")
      if (e.data.length <= 4) {
        buf.put(e.data)
        var pad = 4 - e.data.length
        while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      } else {
        buf.putInt(extCursor)
        val padded = if (e.data.length % 2 == 0) e.data else e.data :+ 0.toByte
        external += padded
        extCursor += padded.length
      }
    }
    buf.putInt(0) // no next IFD
    external.result().foreach(buf.put)
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  /** Decoded view: grid + georeferencing, for round-trip tests and as a
    * migration read path for existing `.tif` layers of this shape.
    */
  final case class Tiff(width: Int, height: Int, values: Array[Float],
                        cellX: Double, cellY: Double,
                        lonEdge: Double, latEdge: Double,
                        epsg: Int, nodata: Option[Float])

  /** Parse the single-band Float32 layout [[encode]] produces (and any
    * baseline-conformant equivalent: inline or external strip tables,
    * multiple strips, either byte order).
    */
  def decode(bytes: Array[Byte]): Tiff = {
    val order = (bytes(0).toChar, bytes(1).toChar) match {
      case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
      case ('M', 'M') => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException("not a TIFF (bad byte-order mark)")
    }
    val b = ByteBuffer.wrap(bytes).order(order)
    require(b.getShort(2) == 42, "not a TIFF (magic != 42)")
    val ifd = b.getInt(4)
    val n = b.getShort(ifd) & 0xffff
    var tags = Map.empty[Int, (Int, Int, Long, Int)] // tag -> (type, count, inlineOrOffset, entryPos)
    for (k <- 0 until n) {
      val at = ifd + 2 + k * 12
      val tag = b.getShort(at) & 0xffff
      val typ = b.getShort(at + 2) & 0xffff
      val count = b.getInt(at + 4)
      tags += tag -> (typ, count, b.getInt(at + 8).toLong & 0xffffffffL, at + 8)
    }
    def valueArea(tag: Int): (Int, Int, Int) = { // (type, count, absolute offset)
      val (typ, count, raw, entryPos) = tags(tag)
      val size = count * typeSize(typ)
      if (size <= 4) (typ, count, entryPos) else (typ, count, raw.toInt)
    }
    def intAt(typ: Int, off: Int): Long = typ match {
      case SHORT => (b.getShort(off) & 0xffff).toLong
      case LONG => b.getInt(off).toLong & 0xffffffffL
      case _ => throw new IllegalArgumentException(s"unexpected type $typ")
    }
    def ints(tag: Int): Seq[Long] = {
      val (typ, count, off) = valueArea(tag)
      (0 until count).map(k => intAt(typ, off + k * typeSize(typ)))
    }
    def dbls(tag: Int): Seq[Double] = {
      val (typ, count, off) = valueArea(tag)
      require(typ == DOUBLE, s"tag $tag: expected DOUBLE")
      (0 until count).map(k => b.getDouble(off + k * 8))
    }

    val width = ints(256).head.toInt
    val height = ints(257).head.toInt
    require(ints(258).head == 32 && ints(339).head == 3,
      "only Float32 sample format supported")
    val comp = ints(259).head.toInt
    require(comp == 1 || comp == 5, s"compression $comp unsupported (none/LZW only)")
    val predictor = if (tags.contains(317)) ints(317).head.toInt else 1
    require(predictor == 1 || predictor == 3,
      s"predictor $predictor unsupported (none / floating-point only)")
    val offsets = ints(273)
    val counts = ints(279)
    val values = new Array[Float](width * height)
    var v = 0
    offsets.zip(counts).foreach { case (off, len) =>
      if (comp == 1 && predictor == 1) {
        var p = off.toInt
        val end = off.toInt + len.toInt
        while (p < end) { values(v) = b.getFloat(p); v += 1; p += 4 }
      } else {
        val packed = java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len.toInt)
        val plain = if (comp == 5) Lzw.decompress(packed) else packed
        // predictor-space bytes are endian-independent (big-endian byte
        // planes); without the predictor they are in file byte order
        // bound-check BEFORE writing: an oversized or ragged strip must
        // surface as a clear error, not an index crash mid-copy
        require(plain.length % 4 == 0 &&
          v + plain.length / 4 <= values.length,
          s"strip decodes to ${plain.length} bytes — exceeds the " +
            s"${width}x$height Float32 grid (have $v of ${values.length} samples)")
        val le = if (predictor == 3) unpredictRows(plain, width)
                 else if (order == ByteOrder.LITTLE_ENDIAN) plain
                 else { val r = plain.clone(); var i = 0
                        while (i < r.length) { val t = r(i); r(i) = r(i + 3); r(i + 3) = t
                          val u = r(i + 1); r(i + 1) = r(i + 2); r(i + 2) = u; i += 4 }; r }
        val fb = ByteBuffer.wrap(le).order(ByteOrder.LITTLE_ENDIAN)
        var p = 0
        while (p < le.length) { values(v) = fb.getFloat(p); v += 1; p += 4 }
      }
    }
    require(v == values.length, s"strip data holds $v of ${values.length} samples")

    val scale = dbls(33550)
    val tie = dbls(33922)
    val geoKeys = ints(34735)
    val epsg = geoKeys.grouped(4).collectFirst {
      case Seq(2048, 0, 1, code) => code.toInt
    }.getOrElse(0)
    val nodata = tags.get(42113).map { _ =>
      val (_, count, off) = valueArea(42113)
      new String(bytes, off, count, StandardCharsets.US_ASCII).trim
        .takeWhile(_ != '\u0000').trim.toFloat
    }
    Tiff(width, height, values, scale(0), scale(1), tie(3), tie(4), epsg, nodata)
  }

  // ------------------------------------------- floating-point predictor 3

  /** TIFF Technical Note 3 floating-point horizontal predictor, encode
    * direction: each row's floats are split into BIG-ENDIAN byte planes
    * (all sign/exponent bytes first, …, all low-mantissa bytes last), then
    * byte-differenced horizontally. Exponents are near-constant across a
    * raster row, so the plane split turns them into runs of zeros — which
    * is what makes LZW effective on float grids. Input/output length is
    * preserved; input is little-endian float bytes, output is
    * endian-independent predictor space.
    */
  private[graft] def predictRows(leFloats: Array[Byte], width: Int): Array[Byte] = {
    val rowLen = width * 4
    require(leFloats.length % rowLen == 0, "not whole rows")
    val out = new Array[Byte](leFloats.length)
    var r = 0
    while (r < leFloats.length) {
      var x = 0
      while (x < width) {
        var p = 0
        while (p < 4) { out(r + p * width + x) = leFloats(r + x * 4 + (3 - p)); p += 1 }
        x += 1
      }
      var i = rowLen - 1
      while (i > 0) { out(r + i) = (out(r + i) - out(r + i - 1)).toByte; i -= 1 }
      r += rowLen
    }
    out
  }

  /** Inverse of [[predictRows]]: cumulative byte sums per row, then merge
    * the byte planes back into little-endian float bytes.
    */
  private[graft] def unpredictRows(pred: Array[Byte], width: Int): Array[Byte] = {
    val rowLen = width * 4
    require(pred.length % rowLen == 0, "not whole rows")
    val out = new Array[Byte](pred.length)
    val tmp = new Array[Byte](rowLen)
    var r = 0
    while (r < pred.length) {
      System.arraycopy(pred, r, tmp, 0, rowLen)
      var i = 1
      while (i < rowLen) { tmp(i) = (tmp(i) + tmp(i - 1)).toByte; i += 1 }
      var x = 0
      while (x < width) {
        var p = 0
        while (p < 4) { out(r + x * 4 + (3 - p)) = tmp(p * width + x); p += 1 }
        x += 1
      }
      r += rowLen
    }
    out
  }

  // -------------------------------------------------------------- TIFF LZW

  /** TIFF 6.0 §13 LZW: MSB-first bitstream, variable code width 9→12 with
    * "early change" (the width bump happens one code earlier than plain
    * LZW — both sides check `next >= 2^width − 1`), ClearCode 256 / EOI
    * 257, table reset at 4094 entries. This is the variant every TIFF
    * reader (libtiff, GDAL, QGIS) speaks.
    */
  private[graft] object Lzw {
    private val Clear = 256
    private val Eoi = 257

    def compress(input: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(input.length / 2 + 16)
      var acc = 0L; var nacc = 0
      var width = 9
      var next = 258
      def put(code: Int): Unit = {
        // the encoder bumps at 2^w, the decoder at 2^w − 1: the decoder's
        // table lags the encoder's by one entry at the moment a code
        // crosses the wire, and the asymmetric thresholds absorb exactly
        // that lag (validated against the JDK ImageIO TIFF codec)
        while (next >= (1 << width) && width < 12) width += 1
        acc = (acc << width) | code; nacc += width
        while (nacc >= 8) { out.write(((acc >> (nacc - 8)) & 0xff).toInt); nacc -= 8 }
      }
      val dict = new scala.collection.mutable.LongMap[Int](1 << 13)
      put(Clear)
      var omega = -1
      var i = 0
      while (i < input.length) {
        val k = input(i) & 0xff
        if (omega < 0) omega = k
        else {
          val key = (omega.toLong << 8) | k
          val hit = dict.getOrElse(key, -1)
          if (hit >= 0) omega = hit
          else {
            put(omega)
            dict.put(key, next); next += 1
            omega = k
            if (next == 4094) { // table full: flush and reset
              put(omega)
              put(Clear)
              dict.clear(); next = 258; width = 9; omega = -1
            }
          }
        }
        i += 1
      }
      if (omega >= 0) put(omega)
      put(Eoi)
      if (nacc > 0) out.write(((acc << (8 - nacc)) & 0xff).toInt)
      out.toByteArray
    }

    def decompress(input: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(input.length * 3 + 16)
      val prefix = new Array[Int](4096)
      val suffix = new Array[Byte](4096)
      val stack = new Array[Byte](4096)
      var width = 9
      var next = 258
      var bitPos = 0
      val totalBits = input.length * 8
      def read(): Int = {
        // "early change": bump at 2^w − 1 — one earlier than the
        // encoder's own 2^w, compensating the one-entry table lag
        // (validated against JDK ImageIO TIFF streams)
        while (next >= (1 << width) - 1 && width < 12) width += 1
        // a conforming stream always ends with an explicit EOI code;
        // running out of bits first means the strip was truncated
        require(bitPos + width <= totalBits,
          s"truncated LZW stream: ${totalBits - bitPos} bits left, need $width")
        var v = 0; var t = 0
        while (t < width) {
          v = (v << 1) | ((input(bitPos >> 3) >> (7 - (bitPos & 7))) & 1)
          bitPos += 1; t += 1
        }
        v
      }
      // expand `code` into `stack` (reversed walk); returns (start, first char)
      def expand(code: Int): Int = {
        var c = code
        var top = stack.length
        while (c >= 258) { top -= 1; stack(top) = suffix(c); c = prefix(c) }
        top -= 1; stack(top) = c.toByte
        top
      }
      var old = -1
      var done = false
      while (!done) {
        val code = read()
        if (code == Eoi) done = true
        else if (code == Clear) { next = 258; width = 9; old = -1 }
        else if (old < 0) {
          require(code < 256, s"first code after clear must be a literal, got $code")
          out.write(code)
          old = code
        } else {
          require(code <= next, s"corrupt LZW stream: code $code with table size $next")
          val start =
            if (code < next) expand(code)
            else { // KwKwK: ω + first(ω)
              val s = expand(old)
              System.arraycopy(stack, s, stack, s - 1, stack.length - s)
              stack(stack.length - 1) = stack(s - 1)
              s - 1
            }
          out.write(stack, start, stack.length - start)
          // a conforming encoder resets at 4094; entries past 4095 mean
          // a corrupt stream, not a bigger table
          require(next < 4096,
            "corrupt LZW stream: table overflow without a ClearCode")
          prefix(next) = old; suffix(next) = stack(start)
          next += 1
          old = code
        }
      }
      out.toByteArray
    }
  }
}
