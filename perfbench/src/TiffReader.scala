package perfbench

import java.nio.{ByteBuffer, ByteOrder}

/** A small baseline-TIFF reader for single-band Float32 rasters, written
  * from the TIFF 6.0 specification (section 13, LZW) and Adobe's TIFF
  * Technical Note 3 (floating-point predictor), so published GeoTIFFs can
  * be checked without the program's own decoder.
  */
object TiffReader {

  final case class Image(width: Int, height: Int, compression: Int, predictor: Int,
                         sampleFormat: Int, bitsPerSample: Int, nodata: Option[String],
                         values: Array[Float])

  private val typeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 8, 12 -> 8, 16 -> 8)

  def read(bytes: Array[Byte]): Image = {
    val order = (bytes(0).toChar, bytes(1).toChar) match {
      case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
      case ('M', 'M') => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException("not a TIFF")
    }
    val b = ByteBuffer.wrap(bytes).order(order)
    require(b.getShort(2) == 42, "not a classic TIFF")
    val ifd = b.getInt(4)
    val n = b.getShort(ifd) & 0xffff
    // tag -> (type, count, absolute offset of the values)
    val tags = (0 until n).map { e =>
      val at = ifd + 2 + 12 * e
      val tag = b.getShort(at) & 0xffff
      val typ = b.getShort(at + 2) & 0xffff
      val count = b.getInt(at + 4)
      val size = typeSize.getOrElse(typ, 1) * count
      tag -> (typ, count, if (size <= 4) at + 8 else b.getInt(at + 8))
    }.toMap
    def ints(tag: Int): Seq[Long] = tags.get(tag).toSeq.flatMap { case (typ, count, off) =>
      (0 until count).map { k =>
        typ match {
          case 3 => (b.getShort(off + 2 * k) & 0xffff).toLong
          case 4 => b.getInt(off + 4 * k) & 0xffffffffL
          case 1 => (bytes(off + k) & 0xff).toLong
          case t => throw new IllegalArgumentException(s"tag $tag has non-integer type $t")
        }
      }
    }
    def one(tag: Int, default: Long): Long = ints(tag).headOption.getOrElse(default)
    val width = one(256, -1).toInt
    val height = one(257, -1).toInt
    val bits = one(258, 1).toInt
    val compression = one(259, 1).toInt
    val predictor = one(317, 1).toInt
    val sampleFormat = one(339, 1).toInt
    val rowsPerStrip = one(278, height).toInt
    val nodata = tags.get(42113).map { case (_, count, off) =>
      new String(bytes, off, count, "US-ASCII").takeWhile(_ != '\u0000')
    }
    require(width > 0 && height > 0 && bits == 32 && sampleFormat == 3,
      s"expected a Float32 raster, got ${width}x$height bits=$bits format=$sampleFormat")
    val offsets = ints(273)
    val counts = ints(279)
    val rowBytes = width * 4
    val pixels = new Array[Byte](rowBytes * height)
    var filled = 0
    offsets.zip(counts).foreach { case (off, cnt) =>
      val strip = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + cnt).toInt)
      val rows = math.min(rowsPerStrip, height - filled / rowBytes)
      val data = compression match {
        case 1 => strip
        case 5 => lzwDecode(strip, rows * rowBytes)
        case c => throw new IllegalArgumentException(s"unsupported compression $c")
      }
      require(data.length >= rows * rowBytes,
        s"strip decodes to ${data.length} bytes, expected ${rows * rowBytes}")
      System.arraycopy(data, 0, pixels, filled, rows * rowBytes)
      filled += rows * rowBytes
    }
    require(filled == pixels.length, s"strips cover $filled of ${pixels.length} bytes")
    val values = new Array[Float](width * height)
    predictor match {
      case 1 =>
        val fb = ByteBuffer.wrap(pixels).order(order)
        values.indices.foreach(k => values(k) = fb.getFloat(4 * k))
      case 3 =>
        (0 until height).foreach { r =>
          val base = r * rowBytes
          var k = 1
          while (k < rowBytes) {
            pixels(base + k) = (pixels(base + k) + pixels(base + k - 1)).toByte
            k += 1
          }
          // byte planes, most significant first
          var x = 0
          while (x < width) {
            val bitsOf = ((pixels(base + x) & 0xff) << 24) |
              ((pixels(base + width + x) & 0xff) << 16) |
              ((pixels(base + 2 * width + x) & 0xff) << 8) |
              (pixels(base + 3 * width + x) & 0xff)
            values(r * width + x) = java.lang.Float.intBitsToFloat(bitsOf)
            x += 1
          }
        }
      case p => throw new IllegalArgumentException(s"unsupported predictor $p")
    }
    Image(width, height, compression, predictor, sampleFormat, bits, nodata, values)
  }

  /** TIFF LZW: MSB-first codes of 9 to 12 bits, Clear = 256, EOI = 257, and
    * the code width grows one code early (at 511, 1023 and 2047 entries).
    */
  def lzwDecode(in: Array[Byte], expected: Int): Array[Byte] = {
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val length = new Array[Int](4096)
    (0 until 256).foreach { c => prefix(c) = -1; suffix(c) = c.toByte; length(c) = 1 }
    var out = new Array[Byte](math.max(expected, 16))
    var pos = 0
    var bitPos = 0L
    val totalBits = in.length * 8L
    var width = 9
    var next = 258
    var prev = -1

    def readCode(): Int =
      if (bitPos + width > totalBits) 257
      else {
        var v = 0
        var t = 0
        while (t < width) {
          val bit = (in((bitPos >> 3).toInt) >> (7 - (bitPos & 7).toInt)) & 1
          v = (v << 1) | bit
          bitPos += 1
          t += 1
        }
        v
      }
    def ensure(extra: Int): Unit =
      if (pos + extra > out.length) out = java.util.Arrays.copyOf(out, (pos + extra) * 2)
    /** Append code's string; returns its first byte. */
    def emit(code: Int): Byte = {
      val len = length(code)
      ensure(len)
      var c = code
      var at = pos + len - 1
      while (c >= 0) { out(at) = suffix(c); at -= 1; c = prefix(c) }
      pos += len
      out(pos - len)
    }
    def firstByte(code: Int): Byte = {
      var c = code
      while (prefix(c) >= 0) c = prefix(c)
      suffix(c)
    }
    def add(p: Int, last: Byte): Unit = if (next < 4096) {
      prefix(next) = p; suffix(next) = last; length(next) = length(p) + 1
      next += 1
    }

    var code = readCode()
    var done = false
    while (!done && code != 257) {
      if (code == 256) {
        next = 258; width = 9
        code = readCode()
        if (code == 257) done = true
        else { emit(code); prev = code }
      } else {
        require(prev >= 0, "LZW stream does not start with Clear")
        if (code < next) add(prev, emit(code))
        else {
          require(code == next, s"LZW code $code beyond table size $next")
          add(prev, firstByte(prev))
          emit(code)
        }
        prev = code
      }
      if (!done) {
        if (next + 1 >= (1 << width) && width < 12) width += 1
        code = readCode()
      }
    }
    java.util.Arrays.copyOf(out, pos)
  }
}
