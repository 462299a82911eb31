package graft.sources.grib

import java.io.ByteArrayOutputStream

import Grib1.UnsupportedGrib

/** The packing decision every GRIB data-representation template shares
  * (WMO FM 92 GRIB, both editions). A template stores integers X for the
  * points its bitmap marks present; a reader decodes them as
  * Y = (R + X * 2^E) / 10^D and every other point as missing (NaN); a
  * writer quantizes X = round(v * 10^D) - R with R the minimum. So a reader
  * template only produces the X of its present points (simple packing
  * through the bit cursor, complex and second-order packing through the
  * groups, JPEG 2000, PNG and CCSDS through their codec's samples) and a
  * writer template only encodes them. */
object GribPacking {

  // ---------------------------------------------------------------- read

  /** Bits k < n of an MSB-first bitmap that starts at octet `from`. */
  def mask(template: String, bitmap: Array[Byte], from: Int, n: Int): Array[Boolean] = {
    val bits = math.max(0L, bitmap.length - from.toLong) * 8
    if (bits < n) throw UnsupportedGrib(s"$template: a bitmap of $bits bits for $n points")
    val out = new Array[Boolean](n)
    var k = 0
    while (k < n) {
      out(k) = (bitmap(from + (k >> 3)) & (0x80 >> (k & 7))) != 0
      k += 1
    }
    out
  }

  /** The points of one field: `present` from its bitmap (null when it has
    * none, every point present) and their `count`. `template` names the
    * packing in directed errors. */
  final class Points(template: String, val nPoints: Int, bitmap: Array[Byte]) {
    val present: Array[Boolean] =
      if (bitmap == null) null else mask(template, bitmap, 0, nPoints)
    val count: Int = if (present == null) nPoints else present.count(identity)

    /** The one coverage check: the payload carries a value for every
      * present point. */
    def cover(carried: Long): Unit =
      if (carried < count) throw UnsupportedGrib(
        s"$template carries $carried values for $count present of $nPoints points")

    /** Simple packing: `count` values of `bits` each from bit `startBit`. */
    def unpack(data: Array[Byte], bits: Int, startBit: Long = 0): Array[Long] = {
      cover(if (bits == 0) Long.MaxValue else math.max(0L, data.length * 8L - startBit) / bits)
      GribPacking.unpack(new BitCursor(data, startBit), bits, count)
    }

    /** Complex and second-order packing: group g covers the next
      * `lengths(g)` present points, each X = `refs(g)` plus the next
      * `widths(g)` bits at the cursor. */
    def ungroup(c: BitCursor, refs: Array[Long], widths: Array[Int],
        lengths: Array[Long]): Array[Long] = {
      var carried = 0L
      var left = c.remaining // < 0: the descriptors already overran
      var g = 0
      while (g < refs.length && left >= 0 && carried < count) {
        val fit = if (widths(g) == 0) lengths(g) else math.min(lengths(g), left / widths(g))
        carried += fit
        left = if (fit < lengths(g)) -1 else left - fit * widths(g)
        g += 1
      }
      cover(carried)
      val xs = new Array[Long](count)
      var k = 0
      g = 0
      while (k < count) {
        val end = math.min(count.toLong, k + lengths(g)).toInt
        while (k < end) { xs(k) = refs(g) + c.read(widths(g)); k += 1 }
        g += 1
      }
      xs
    }

    /** Y = (R + X * 2^E) / 10^D for the present points, NaN elsewhere.
      * Divide, not multiply by 10^-D: IEEE division is correctly rounded,
      * so integer-scaled values decode exactly. */
    def scatter(xs: Array[Long], r: Double, e: Int, d: Int): Array[Double] = {
      cover(xs.length)
      val dDiv = math.pow(10.0, d)
      val eFactor = math.pow(2.0, e)
      val ys = new Array[Double](count)
      var i = 0
      while (i < count) { ys(i) = (r + xs(i) * eFactor) / dDiv; i += 1 }
      place(ys)
    }

    /** The `count` present points' values in place, NaN elsewhere. */
    def place(ys: Array[Double]): Array[Double] = {
      if (present == null) return ys
      val out = new Array[Double](nPoints)
      var xi = 0
      var k = 0
      while (k < nPoints) {
        out(k) = if (present(k)) { xi += 1; ys(xi - 1) } else Double.NaN
        k += 1
      }
      out
    }
  }

  /** MSB-first bit cursor from bit `pos`; each step takes up to 8 bits, the
    * rest of the current octet. Octets past the end read as zeros: decoders
    * check coverage (`Points.cover`) before their values are read. */
  final class BitCursor(data: Array[Byte], private var pos: Long) {
    def remaining: Long = data.length * 8L - pos

    def read(bits: Int): Long = {
      var v = 0L
      var taken = 0
      while (taken < bits) {
        val idx = (pos >> 3).toInt
        val avail = 8 - (pos & 7).toInt
        val take = math.min(avail, bits - taken)
        val octet = if (idx < data.length) data(idx) & 0xff else 0
        v = (v << take) | ((octet >> (avail - take)) & ((1 << take) - 1))
        taken += take
        pos += take
      }
      v
    }

    /** GRIB2 signed descriptors are sign-magnitude: the top bit is the sign. */
    def readSignMagnitude(octets: Int): Long = {
      val raw = read(octets * 8)
      val signBit = 1L << (octets * 8 - 1)
      if ((raw & signBit) != 0) -(raw & (signBit - 1)) else raw
    }
  }

  /** `n` values of `bits` each at the cursor; 0 bits is a constant field
    * (every X = 0). */
  def unpack(c: BitCursor, bits: Int, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var k = 0
    while (k < n) { out(k) = c.read(bits); k += 1 }
    out
  }

  // ---------------------------------------------------------------- write

  /** MSB-first bit writer; each step puts up to 8 bits. The last octet is
    * zero-padded. */
  final class BitWriter {
    private val out = new ByteArrayOutputStream()
    private var acc = 0
    private var fill = 0

    def put(v: Long, width: Int): this.type = {
      var left = width
      while (left > 0) {
        val take = math.min(left, 8 - fill)
        acc = (acc << take) | ((v >>> (left - take)) & ((1 << take) - 1)).toInt
        fill += take
        left -= take
        if (fill == 8) { out.write(acc); acc = 0; fill = 0 }
      }
      this
    }

    def putAll(xs: Array[Long], width: Int): this.type = { xs.foreach(put(_, width)); this }

    def putSignMagnitude(v: Long, octets: Int): this.type =
      put(if (v < 0) (1L << (octets * 8 - 1)) | -v else v, octets * 8)

    /** Zero bits up to the next octet boundary. */
    def align(): this.type = put(0L, padBits)

    /** Zero bits that pad the last octet. */
    def padBits: Int = (8 - fill) % 8

    def toByteArray: Array[Byte] = {
      val b = out.toByteArray
      if (fill == 0) b else b :+ (acc << (8 - fill)).toByte
    }
  }

  /** A bitmap body: bit k set where `set(k)`. */
  def bitmap(set: Seq[Boolean]): Array[Byte] = {
    val w = new BitWriter
    set.foreach(s => w.put(if (s) 1L else 0L, 1))
    w.toByteArray
  }

  /** The present values as X = round(v * 10^D) - R, and R. */
  final case class Quantized(ref: Long, xs: Array[Long])

  /** Quantize the present (non-NaN) values: R is their minimum (0 when none
    * is present), every X must fit `bits` bits, and R must read back
    * exactly from the edition's 32-bit reference format (IBM for edition 1,
    * IEEE for edition 2). */
  def quantize(values: Seq[Double], decimalScale: Int, bits: Int, edition: Int): Quantized = {
    val dFactor = math.pow(10.0, decimalScale)
    val scaled = values.iterator.filterNot(_.isNaN).map(v => math.round(v * dFactor)).toArray
    val ref = if (scaled.isEmpty) 0L else scaled.min
    val xs = scaled.map(_ - ref)
    require(xs.forall(x => x >= 0 && (bits >= 63 || x < (1L << bits))),
      s"value range needs more than $bits bits")
    val r = ref.toDouble
    val back = if (edition == 1) Grib1.ibmFloat(Grib1.toIbmFloat(r), 0) else r.toFloat.toDouble
    require(back == r, s"reference value $ref must stay exact in the " +
      s"${if (edition == 1) "IBM" else "IEEE"} 32-bit float (reads back as $back)")
    Quantized(ref, xs)
  }

  /** Bits that hold `x` (0 for 0). */
  def bitWidth(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)

  /** One group of the fixed-size split: its reference (the minimum), the
    * bit width of its span and each X's offset from the reference. */
  final case class Group(ref: Long, width: Int, offsets: Array[Long])

  /** The group length the split uses for a requested `size`. */
  def groupLength(size: Int): Int = math.max(2, size)

  /** GRIB1 second-order and GRIB2 5.2/5.3 packing: consecutive groups of
    * [[groupLength]] values (the last one shorter); no value is one empty
    * group. */
  def groups(xs: Array[Long], size: Int): Seq[Group] = {
    val l = groupLength(size)
    (0 until math.max(1, (xs.length + l - 1) / l)).map { g =>
      val slice = xs.slice(g * l, math.min(g * l + l, xs.length))
      val ref = if (slice.isEmpty) 0L else slice.min
      Group(ref, bitWidth(if (slice.isEmpty) 0L else slice.max - ref), slice.map(_ - ref))
    }
  }
}
