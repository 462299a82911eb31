package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** The CF decode of one variable's stored elements, as xarray applies it
  * when weather-mv opens NetCDF and Zarr (`CFMaskCoder`, then
  * `CFScaleOffsetCoder`). Every gridded reader (NetCDF-3, NetCDF-4, Zarr
  * and the Kerchunk views Zarr reads) decodes through it; the attribute
  * keys are read nowhere else.
  *
  * The mask set is every value of `_FillValue` and of `missing_value`
  * (each a scalar or a list; on a Zarr v3 float array, `_FillValue` may
  * be a string, see [[CfDecode.zarrV3Float]]), the Zarr v2
  * `fill_value` when the variable has no `_FillValue` (what xarray's Zarr
  * backend does for v2; a v3 `fill_value` is mandatory and does not mask),
  * and NaN. A stored element
  * is compared against the mask set first, on its RAW value; a masked
  * element reads NaN, any other `raw * scale_factor + add_offset`.
  *
  * [[decode]] runs two tight loops per buffer: the typed raw-element loop
  * chosen by dtype code and byte order ([[CfDecode.raw]]), then mask and
  * scale in one plain loop chosen by the size of the mask set (none, one
  * value compared with one `==`, or several). */
final case class CfDecode(masks: Seq[Double], scale: Double, offset: Double) {
  private[this] val m = masks.toArray
  private[this] val m0 = if (m.isEmpty) 0.0 else m(0)

  /** One raw element: NaN when masked, else scaled. */
  def cell(raw: Double): Double =
    if (raw.isNaN || masked(raw)) Double.NaN else raw * scale + offset

  private def masked(raw: Double): Boolean = {
    var i = 0
    while (i < m.length) { if (raw == m(i)) return true; i += 1 }
    false
  }

  /** `n` elements of numpy `dtype` ("<i2", ">f8", "|u1") decoded. */
  def decode(bytes: Array[Byte], dtype: String, n: Int): Array[Double] = {
    val out = CfDecode.raw(bytes, dtype, n)
    val s = scale
    val o = offset
    var i = 0
    m.length match {
      case 0 =>
        while (i < n) { val r = out(i); out(i) = if (r.isNaN) Double.NaN else r * s + o; i += 1 }
      case 1 =>
        val mv = m0
        while (i < n) {
          val r = out(i)
          out(i) = if (r == mv || r.isNaN) Double.NaN else r * s + o
          i += 1
        }
      case _ => while (i < n) { out(i) = cell(out(i)); i += 1 }
    }
    out
  }
}

object CfDecode {

  /** The CF attribute keys, in the order a scan passes them through. */
  val Keys: Seq[String] = Seq("scale_factor", "add_offset", "_FillValue", "missing_value")

  /** The decoder of a variable with attributes `attrs` (numbers or numeric
    * lists, as the NetCDF and HDF5 parsers and json4s give them) and, for a
    * Zarr v2 array, its `fill_value`. */
  def of(attrs: Map[String, Any], zarrFill: Option[Double] = None): CfDecode = {
    val fills = nums(attrs.get("_FillValue"))
    val masks = (if (attrs.contains("_FillValue")) fills else zarrFill.toSeq) ++
      nums(attrs.get("missing_value"))
    CfDecode(masks.filterNot(_.isNaN).distinct,
      nums(attrs.get("scale_factor")).headOption.getOrElse(1.0),
      nums(attrs.get("add_offset")).headOption.getOrElse(0.0))
  }

  /** The decoder of Zarr v3 array `name` of dtype code `dt`: a string
    * `_FillValue` on a numeric array is read by [[zarrV3Float]] (xarray
    * writes a float array's as base64), then masks like any other. */
  def ofZarrV3(name: String, dt: String, attrs: Map[String, Any]): CfDecode =
    of(attrs.get("_FillValue") match {
      case Some(s: String) if dt != "O" =>
        attrs.updated("_FillValue", zarrV3Float(name, "_FillValue", dt, s))
      case _ => attrs
    })

  /** A number that Zarr v3 array `name` (dtype code `dt`) writes as a JSON
    * string in `field`: on a float array "NaN", "Infinity", "-Infinity" or
    * the dtype's hex bit pattern ("0x7fc00000" is a float32 NaN), the forms
    * the v3 spec gives, or base64 of the little-endian float64, the form
    * xarray's `FillValueCoder` writes. Any other string is a directed error
    * that names the array. */
  def zarrV3Float(name: String, field: String, dt: String, s: String): Double = {
    import scala.util.Try
    val width = Map("f2" -> 2, "f4" -> 4, "f8" -> 8).get(dt)
    def hex = width.filter(n => s.length == 2 + 2 * n && s.startsWith("0x"))
      .flatMap(_ => Try(java.lang.Long.parseUnsignedLong(s.drop(2), 16)).toOption)
      .map(b => dt match {
        case "f2" => halfToDouble(b.toInt)
        case "f4" => java.lang.Float.intBitsToFloat(b.toInt).toDouble
        case _ => java.lang.Double.longBitsToDouble(b)
      })
    def base64 = Try(java.util.Base64.getDecoder.decode(s)).toOption.filter(_.length == 8)
      .map(ByteBuffer.wrap(_).order(ByteOrder.LITTLE_ENDIAN).getDouble)
    width.flatMap(_ => s match {
      case "NaN" => Some(Double.NaN)
      case "Infinity" => Some(Double.PositiveInfinity)
      case "-Infinity" => Some(Double.NegativeInfinity)
      case _ => hex.orElse(base64)
    }).getOrElse(throw new IllegalArgumentException(
      s"zarr v3 array $name: $field \"$s\" on a $dt array (a float takes \"NaN\", " +
        "\"Infinity\", \"-Infinity\", its 0x bit pattern or base64 of the little-endian " +
        "float64; any other array a number)"))
  }

  /** The `_FillValue` a variable declares: what netCDF-C writes into an
    * element (and the HDF5 fill-value message) that was never written. */
  def fillValue(attrs: Map[String, Any]): Option[Double] =
    nums(attrs.get("_FillValue")).headOption

  private def nums(v: Option[Any]): Seq[Double] = v.toSeq.flatMap {
    case s: Iterable[_] => s.flatMap(num)
    case x => num(x)
  }

  private def num(x: Any): Option[Double] = x match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case i: Int => Some(i.toDouble)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case l: Long => Some(l.toDouble)
    case b: BigInt => Some(b.toDouble)
    case _ => None
  }

  /** numpy dtype string → bare type code (strips the `< > | =` byte-order
    * marker). */
  def codeOf(dtype: String): String =
    dtype.dropWhile(c => c == '<' || c == '>' || c == '|' || c == '=')

  /** The raw values of `n` elements of numpy `dtype`: little-endian unless
    * marked `>`; numpy bools read 0/1; datetime64/timedelta64 counts read
    * as numbers with NaT as NaN. */
  def raw(bytes: Array[Byte], dtype: String, n: Int): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes).order(
      if (dtype.startsWith(">")) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](n)
    var i = 0
    codeOf(dtype) match {
      case "f8" => while (i < n) { out(i) = bb.getDouble(i * 8); i += 1 }
      case "f4" => while (i < n) { out(i) = bb.getFloat(i * 4).toDouble; i += 1 }
      case "f2" => while (i < n) { out(i) = halfToDouble(bb.getShort(i * 2) & 0xffff); i += 1 }
      case "i8" => while (i < n) { out(i) = bb.getLong(i * 8).toDouble; i += 1 }
      case "i4" => while (i < n) { out(i) = bb.getInt(i * 4).toDouble; i += 1 }
      case "i2" => while (i < n) { out(i) = bb.getShort(i * 2).toDouble; i += 1 }
      case "i1" => while (i < n) { out(i) = bb.get(i).toDouble; i += 1 }
      case "u8" =>
        while (i < n) {
          val v = bb.getLong(i * 8)
          out(i) = if (v >= 0) v.toDouble else (v & Long.MaxValue).toDouble + 9.223372036854776e18
          i += 1
        }
      case "u4" => while (i < n) { out(i) = (bb.getInt(i * 4) & 0xffffffffL).toDouble; i += 1 }
      case "u2" => while (i < n) { out(i) = (bb.getShort(i * 2) & 0xffff).toDouble; i += 1 }
      case "u1" => while (i < n) { out(i) = (bb.get(i) & 0xff).toDouble; i += 1 }
      case "b1" => while (i < n) { out(i) = if (bb.get(i) == 0) 0.0 else 1.0; i += 1 }
      case c if c.startsWith("M8[") || c.startsWith("m8[") =>
        while (i < n) {
          val v = bb.getLong(i * 8)
          out(i) = if (v == Long.MinValue) Double.NaN else v.toDouble
          i += 1
        }
      case _ => throw new UnsupportedOperationException(s"element dtype '$dtype'")
    }
    out
  }

  /** IEEE 754 binary16 → double (sign, 5-bit exponent, 10-bit fraction). */
  def halfToDouble(h: Int): Double = {
    val sign = if ((h & 0x8000) != 0) -1.0 else 1.0
    val exp = (h >> 10) & 0x1f
    val frac = h & 0x3ff
    if (exp == 0x1f) { if (frac == 0) sign * Double.PositiveInfinity else Double.NaN }
    else if (exp == 0) sign * frac * 5.960464477539063e-8 // 2^-24 subnormals
    else sign * (1024 + frac) * math.pow(2, exp - 25)
  }
}
