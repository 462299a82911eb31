package graft.sources.netcdf

import java.io.{DataOutputStream, FileOutputStream}

/** Minimal NetCDF-3 writer for fixtures and the mover's file-emitting
  * paths — classic (version 1) or CDF-5 / 64-bit-data (version 5, every
  * count field widened to 8 bytes, unsigned/int64 nc_types allowed).
  * Supports an optional record (unlimited) first dimension, the numeric
  * nc_types, and per-variable CDL attributes (scale/offset/missing,
  * units). Layout follows the public classic spec: header, fixed-variable
  * blocks, then the record section. */
object NetCDF3Writer {

  final case class DimSpec(name: String, size: Int, record: Boolean = false)
  final case class VarSpec(
      name: String,
      dims: Seq[String],
      ncType: Int,
      data: Seq[Double],            // pre-encode (raw) values, C-order
      attrs: Seq[(String, Any)] = Nil)

  def write(path: String, dims: Seq[DimSpec], vars: Seq[VarSpec],
      version: Int = 1): Unit = {
    require(version == 1 || version == 5, s"writer emits CDF-1 or CDF-5, not $version")
    if (version == 1) {
      require(vars.forall(_.ncType <= NetCDF3.NC_DOUBLE),
        "unsigned/64-bit nc_types need a CDF-5 file (version = 5)")
      require(vars.forall(_.attrs.forall(!_._2.isInstanceOf[Long])),
        "int64 attributes need a CDF-5 file (version = 5)")
    }
    val numRecs = dims.find(_.record).map(_.size).getOrElse(0)
    val dimIdx = dims.map(_.name).zipWithIndex.toMap

    def isRecVar(v: VarSpec) = v.dims.headOption.exists(d => dims(dimIdx(d)).record)
    def fixedCount(v: VarSpec): Int =
      v.dims.filterNot(d => dims(dimIdx(d)).record).map(d => dims(dimIdx(d)).size).product
    def pad4(n: Int): Int = (n + 3) / 4 * 4
    def vsize(v: VarSpec): Int = pad4(fixedCount(v) * NetCDF3.typeBytes(v.ncType))

    // header size: compute by serializing with dummy begins, twice
    def headerBytes(begins: Map[String, Long]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      def cnt(v: Long): Unit = if (version == 5) out.writeLong(v) else out.writeInt(v.toInt)
      out.writeBytes("CDF"); out.writeByte(version)
      cnt(numRecs)
      // dim list
      out.writeInt(0x0A); cnt(dims.size)
      dims.foreach { d => writeName(out, d.name, version); cnt(if (d.record) 0 else d.size) }
      // no global attrs
      out.writeInt(0); cnt(0)
      // var list
      out.writeInt(0x0B); cnt(vars.size)
      vars.foreach { v =>
        writeName(out, v.name, version)
        cnt(v.dims.size)
        v.dims.foreach(d => cnt(dimIdx(d))) // dimids are NON_NEG: 8B in CDF-5
        writeAttrs(out, v.attrs, version)
        out.writeInt(v.ncType)
        cnt(vsize(v))
        if (version == 5) out.writeLong(begins.getOrElse(v.name, 0L))
        else out.writeInt(begins.getOrElse(v.name, 0L).toInt)
      }
      out.flush()
      bos.toByteArray
    }

    val headerLen = headerBytes(Map.empty).length
    // fixed vars first, then record section
    var offset = headerLen.toLong
    val begins = scala.collection.mutable.Map.empty[String, Long]
    vars.filterNot(isRecVar).foreach { v => begins(v.name) = offset; offset += vsize(v) }
    val recStart = offset
    var recOff = 0L
    vars.filter(isRecVar).foreach { v => begins(v.name) = recStart + recOff; recOff += vsize(v) }
    val recSize = recOff

    val fos = new FileOutputStream(path)
    val out = new DataOutputStream(fos)
    try {
      out.write(headerBytes(begins.toMap))
      vars.filterNot(isRecVar).foreach(v => writeValues(out, v, v.data))
      for (r <- 0 until numRecs)
        vars.filter(isRecVar).foreach { v =>
          val per = fixedCount(v)
          writeValues(out, v, v.data.slice(r * per, (r + 1) * per))
        }
      // recSize referenced for clarity; readers recompute it from vsizes
      require(recSize >= 0)
    } finally out.close()
  }

  private def writeName(out: DataOutputStream, s: String, version: Int = 1): Unit = {
    val b = s.getBytes("UTF-8")
    if (version == 5) out.writeLong(b.length.toLong) else out.writeInt(b.length)
    out.write(b); padTo4(out, b.length)
  }

  private def padTo4(out: DataOutputStream, written: Int): Unit = {
    val r = written % 4
    if (r != 0) (0 until 4 - r).foreach(_ => out.writeByte(0))
  }

  private def writeAttrs(out: DataOutputStream, attrs: Seq[(String, Any)],
      version: Int = 1): Unit = {
    def cnt(v: Long): Unit = if (version == 5) out.writeLong(v) else out.writeInt(v.toInt)
    if (attrs.isEmpty) { out.writeInt(0); cnt(0); return }
    out.writeInt(0x0C); cnt(attrs.size)
    attrs.foreach { case (name, value) =>
      writeName(out, name, version)
      value match {
        case s: String =>
          out.writeInt(NetCDF3.NC_CHAR); cnt(s.length)
          out.writeBytes(s); padTo4(out, s.length)
        case d: Double =>
          out.writeInt(NetCDF3.NC_DOUBLE); cnt(1); out.writeDouble(d)
        case i: Int =>
          out.writeInt(NetCDF3.NC_INT); cnt(1); out.writeInt(i)
        case s: Short =>
          out.writeInt(NetCDF3.NC_SHORT); cnt(1); out.writeShort(s); out.writeShort(0)
        case l: Long =>
          out.writeInt(NetCDF3.NC_INT64); cnt(1); out.writeLong(l)
        case xs: Seq[_] if xs.forall(_.isInstanceOf[Short]) => // NC_SHORT list
          out.writeInt(NetCDF3.NC_SHORT); cnt(xs.size)
          xs.foreach(x => out.writeShort(x.asInstanceOf[Short].toInt)); padTo4(out, 2 * xs.size)
        case other =>
          throw new UnsupportedOperationException(s"attr type ${other.getClass}")
      }
    }
  }

  private def writeValues(out: DataOutputStream, v: VarSpec, values: Seq[Double]): Unit = {
    values.foreach { x =>
      v.ncType match {
        case NetCDF3.NC_DOUBLE => out.writeDouble(x)
        case NetCDF3.NC_FLOAT => out.writeFloat(x.toFloat)
        case NetCDF3.NC_INT => out.writeInt(x.toInt)
        case NetCDF3.NC_SHORT => out.writeShort(x.toInt)
        case NetCDF3.NC_BYTE | NetCDF3.NC_CHAR => out.writeByte(x.toInt)
        case NetCDF3.NC_UBYTE => out.writeByte(x.toLong.toInt & 0xff)
        case NetCDF3.NC_USHORT => out.writeShort(x.toLong.toInt & 0xffff)
        case NetCDF3.NC_UINT => out.writeInt(x.toLong.toInt)
        case NetCDF3.NC_INT64 | NetCDF3.NC_UINT64 => out.writeLong(x.toLong)
      }
    }
    padTo4(out, values.size * NetCDF3.typeBytes(v.ncType))
  }
}
