package graft.sources.grib

import java.nio.{ByteBuffer, ByteOrder}

/** The decode half of GRIB virtualization (`Kerchunk.scanGrib`): a zarr
  * chunk whose stored bytes are a WHOLE GRIB message. The kerchunk grib
  * convention — messages are self-describing, so the reference carries the
  * message extent and the codec re-parses it in memory (KBs of header
  * work) and selects ONE field by identity, which is constant per zarr
  * array even though packing parameters (reference value, scales, bits,
  * representation template) vary per message. Output is the little-endian
  * f8 C-order buffer the numeric chunk path expects; bitmap gaps decode
  * NaN, matching the array's declared fill. */
object GribChunkCodec {
  /** The selection is EDITION-AGNOSTIC — the cfgrib-style identity
    * (shortName, typeOfLevel, level height, stepType) resolves on both
    * editions' units, and the edition itself is sniffed from the message's
    * indicator octet — so one zarr array can draw chunks from a mixed
    * GRIB1/GRIB2 archive (mixed editions per variable are the NORM in
    * long reanalysis archives). */
  def decodeField(msg: Array[Byte], shortName: String, levelName: String,
      level: Double, stepType: String): Array[Byte] = {
    val read = (off: Long, len: Int) =>
      java.util.Arrays.copyOfRange(msg, off.toInt, off.toInt + len)
    val units: Seq[GribUnit] = Grib1.u8(msg, 7) match {
      case 1 => Seq(Grib1.parseMessage(read, 0L))
      case 2 => Grib2.parseMessage(read, 0L)._1
      case e => throw Grib1.UnsupportedGrib(s"edition $e in a grib chunk")
    }
    val matches = units.filter(u => u.shortName == shortName &&
      u.levelName == levelName && u.levelHeight == level &&
      u.stepType == stepType)
    require(matches.size == 1,
      s"grib chunk: ${matches.size} fields match ($shortName, $levelName, " +
        s"$level, $stepType) — the referenced message does not carry " +
        "exactly this field")
    val u = matches.head
    val data = read(u.dataOffset, u.dataBytes)
    val bitmap =
      if (u.bitmapOffset >= 0) read(u.bitmapOffset, u.bitmapBytes) else null
    val vals = u.decode(data, bitmap)
    val bb = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putDouble)
    bb.array()
  }

  /** Synthesized 2-D coordinate chunks (the kerchunk grib convention for
    * grids without separable lat/lon axes): the chunk's stored bytes are a
    * whole GRIB message and the decoded buffer is the grid's latitude or
    * longitude FIELD, computed from the message's own grid definition
    * (projection inverse per point) — `[y, x]` C-order, matching the data
    * arrays' scan order, no bytes stored anywhere. Off-earth points
    * (space-view corners) yield NaN → null. */
  def decodeCoord(msg: Array[Byte], which: String): Array[Byte] = {
    val read = (off: Long, len: Int) =>
      java.util.Arrays.copyOfRange(msg, off.toInt, off.toInt + len)
    val u: GribUnit = Grib1.u8(msg, 7) match {
      case 1 => Grib1.parseMessage(read, 0L)
      case 2 => Grib2.parseMessage(read, 0L)._1.head
      case e => throw Grib1.UnsupportedGrib(s"edition $e in a grib chunk")
    }
    val lonAxis = which match {
      case "latitude" => false
      case "longitude" => true
      case other => throw Grib1.UnsupportedGrib(s"grib coord '$other'")
    }
    val n = u.ni * u.nj
    val bb = ByteBuffer.allocate(n * 8).order(ByteOrder.LITTLE_ENDIAN)
    var k = 0
    while (k < n) {
      val (la, lo) = u.coordOf(k)
      bb.putDouble(if (lonAxis) lo else la)
      k += 1
    }
    bb.array()
  }
}
