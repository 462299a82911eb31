package graft.sources.netcdf

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Pure-JVM NetCDF-3 "classic" parser (public format spec: the NetCDF
  * Classic Format Specification — versions 1, 2 / 64-bit-offset, and 5 /
  * 64-bit-data, the PnetCDF large-file variant with widened counts and
  * unsigned/64-bit integer types). The
  * reference's mover opens .nc files via xarray/netcdf4
  * (weather_mv/loader_pipeline/sinks.py:345-389); this provides the same
  * capability for classic files without native libraries.
  *
  * Layout: `CDF\x01|\x02|\x05` magic, numrecs, dim list, global attributes,
  * variable list (name, dimids, attributes, type, vsize, begin offset),
  * then big-endian data — fixed-size variables as contiguous blocks, record
  * variables interleaved per record. CDL conventions honored: the CF
  * mask and scale ([[graft.sources.CfDecode]]), and
  * CF `units = "<unit> since <datetime>"` time coordinates (standard
  * calendars; see [[graft.sources.CfTime]]).
  */
object NetCDF3 {

  final case class Dim(name: String, size: Int, isRecord: Boolean)
  final case class Var(
      name: String,
      dimIds: Seq[Int],
      ncType: Int,
      vsize: Int,
      begin: Long,
      attrs: Map[String, Any]) {
    /** The CF mask and scale of the stored elements. */
    lazy val cf: graft.sources.CfDecode = graft.sources.CfDecode.of(attrs)
    /** The numpy dtype of the big-endian stored elements (NC_CHAR reads as
      * its signed byte codes). */
    def dtype: String = ">" + (ncType match {
      case NC_BYTE | NC_CHAR => "i1"
      case NC_SHORT => "i2"
      case NC_INT => "i4"
      case NC_FLOAT => "f4"
      case NC_DOUBLE => "f8"
      case NC_UBYTE => "u1"
      case NC_USHORT => "u2"
      case NC_UINT => "u4"
      case NC_INT64 => "i8"
      case NC_UINT64 => "u8"
      case other => throw new UnsupportedOperationException(s"nc_type $other")
    })
    /** CF time units ("<unit> since <datetime>", standard calendars). */
    def timeUnits: Option[graft.sources.CfTime.Units] =
      graft.sources.CfTime.parse(
        attrs.get("units").collect { case s: String => s },
        attrs.get("calendar").collect { case s: String => s })
    def epochSecondsTime: Boolean = timeUnits.isDefined
  }
  final case class Header(numRecs: Int, dims: Seq[Dim], gattrs: Map[String, Any],
      vars: Seq[Var], recSize: Long)

  // nc_type constants (7..11 are the CDF-5 / 64-bit-data additions)
  val NC_BYTE = 1; val NC_CHAR = 2; val NC_SHORT = 3
  val NC_INT = 4; val NC_FLOAT = 5; val NC_DOUBLE = 6
  val NC_UBYTE = 7; val NC_USHORT = 8; val NC_UINT = 9
  val NC_INT64 = 10; val NC_UINT64 = 11

  def typeBytes(t: Int): Int = t match {
    case NC_BYTE | NC_CHAR | NC_UBYTE => 1
    case NC_SHORT | NC_USHORT => 2
    case NC_INT | NC_FLOAT | NC_UINT => 4
    case NC_DOUBLE | NC_INT64 | NC_UINT64 => 8
    case other => throw new UnsupportedOperationException(s"nc_type $other")
  }

  def readBytes(conf: Configuration, path: String): Array[Byte] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val out = new Array[Byte](st.getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, out) finally in.close()
    out
  }

  /** Parse the header of a classic (v1), 64-bit-offset (v2), or 64-bit-data
    * (v5, the PnetCDF/CDF-5 large-file variant) file. CDF-5 widens every
    * size/count field (numrecs, list lengths, name lengths, dim sizes,
    * attribute counts, rank, vsize) to 8 bytes and adds the unsigned and
    * 64-bit integer nc_types. */
  def parseHeader(bytes: Array[Byte]): Header = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'H' &&
        bytes(2) == 'D' && bytes(3) == 'F')
      throw new UnsupportedOperationException(
        "NetCDF-4 (HDF5-backed) file handed to the classic parser: use " +
          "NetCDF4Reader (FormatRegistry.open dispatches on the signature).")
    require(bb.get() == 'C' && bb.get() == 'D' && bb.get() == 'F', "not a NetCDF classic file")
    val version = bb.get()
    require(version == 1 || version == 2 || version == 5,
      s"NetCDF version byte $version unsupported (classic/64-bit-offset/" +
        "64-bit-data, or HDF5-backed via NetCDF4Reader)")
    // every NON_NEG count is 8 bytes in CDF-5, 4 before
    def count(): Int = {
      val v = if (version == 5) bb.getLong() else bb.getInt().toLong
      require(v >= 0 && v <= Int.MaxValue, s"count $v exceeds this reader")
      v.toInt
    }
    // numrecs may be the STREAMING sentinel (all ones = indeterminate);
    // resolved from the file length after the var list is known
    val numRecsRaw = if (version == 5) bb.getLong() else bb.getInt().toLong
    val streaming = numRecsRaw == -1L || (version != 5 && numRecsRaw == 0xffffffffL)
    require(streaming || (numRecsRaw >= 0 && numRecsRaw <= Int.MaxValue),
      s"numrecs $numRecsRaw exceeds this reader")

    def readName(): String = {
      val len = count()
      val b = new Array[Byte](len)
      bb.get(b)
      skipPad(len)
      new String(b, "UTF-8")
    }
    def skipPad(len: Int): Unit = { val r = len % 4; if (r != 0) bb.position(bb.position() + (4 - r)) }

    def readTaggedList(expectedTag: Int): Int = {
      val tag = bb.getInt()
      val n = count()
      require(tag == expectedTag || (tag == 0 && n == 0), s"bad list tag $tag")
      n
    }

    val nDims = readTaggedList(0x0A)
    val dims = (0 until nDims).map { _ =>
      val name = readName()
      val size = count()
      Dim(name, size, size == 0)
    }

    def readAttrs(): Map[String, Any] = {
      val n = readTaggedList(0x0C)
      (0 until n).map { _ =>
        val name = readName()
        val t = bb.getInt()
        val ne = count()
        // unsigned types decode to their UNSIGNED numeric values — the
        // same domain the data path produces, so _FillValue/missing
        // comparisons on unsigned variables actually match
        val value: Any = t match {
          case NC_CHAR =>
            val b = new Array[Byte](ne); bb.get(b); skipPad(ne); new String(b, "UTF-8")
          case NC_BYTE =>
            val b = new Array[Byte](ne); bb.get(b); skipPad(ne)
            if (ne == 1) b(0) else b.toSeq
          case NC_UBYTE =>
            val b = new Array[Byte](ne); bb.get(b); skipPad(ne)
            val v = b.map(x => (x & 0xff): Int)
            if (ne == 1) v.head else v.toSeq
          case NC_SHORT =>
            val v = (0 until ne).map(_ => bb.getShort()); skipPad(ne * 2)
            if (ne == 1) v.head else v
          case NC_USHORT =>
            val v = (0 until ne).map(_ => (bb.getShort() & 0xffff): Int)
            skipPad(ne * 2)
            if (ne == 1) v.head else v
          case NC_INT =>
            val v = (0 until ne).map(_ => bb.getInt()); if (ne == 1) v.head else v
          case NC_UINT =>
            val v = (0 until ne).map(_ => (bb.getInt() & 0xffffffffL): Long)
            if (ne == 1) v.head else v
          case NC_FLOAT =>
            val v = (0 until ne).map(_ => bb.getFloat()); if (ne == 1) v.head else v
          case NC_DOUBLE =>
            val v = (0 until ne).map(_ => bb.getDouble()); if (ne == 1) v.head else v
          case NC_INT64 =>
            val v = (0 until ne).map(_ => bb.getLong()); if (ne == 1) v.head else v
          case NC_UINT64 =>
            val v = (0 until ne).map { _ =>
              val l = bb.getLong()
              (if (l >= 0) l.toDouble else l.toDouble + 1.8446744073709552e19): Double
            }
            if (ne == 1) v.head else v
        }
        name -> value
      }.toMap
    }

    val gattrs = readAttrs()

    val nVars = readTaggedList(0x0B)
    val vars = (0 until nVars).map { _ =>
      val name = readName()
      val nd = count()
      // dimids are NON_NEG too: 8 bytes in CDF-5 (netcdf-c/PnetCDF layout)
      val dimIds = (0 until nd).map(_ => count())
      val vattrs = readAttrs()
      val t = bb.getInt()
      val vsize = count()
      val begin = if (version == 1) bb.getInt().toLong else bb.getLong()
      Var(name, dimIds, t, vsize, begin, vattrs)
    }

    val recVars = vars.filter(v => v.dimIds.headOption.exists(dims(_).isRecord))
    val recSize = recVars.map(_.vsize.toLong).sum
    val numRecs =
      if (!streaming) numRecsRaw.toInt
      else if (recVars.isEmpty || recSize == 0) 0
      else {
        // streaming sentinel: records run from the first record-var begin
        // to end of file
        val recStart = recVars.map(_.begin).min
        ((bytes.length - recStart) / recSize).toInt
      }
    Header(numRecs, dims, gattrs, vars, recSize)
  }
}
