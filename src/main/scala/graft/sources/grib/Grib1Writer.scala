package graft.sources.grib

import java.io.ByteArrayOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Minimal GRIB edition 1 writer (regular lat/lon, simple packing, optional
  * bitmap): enough of the public spec to produce real fixture files for the
  * reader and the mover pipeline — the same role NetCDF3Writer plays for the
  * NetCDF path. Binary scale is fixed at 0 and the reference value is the
  * (integer) minimum of the scaled values, so round(v * 10^D) survives the
  * pack/unpack cycle exactly; a reference the IBM float would round is
  * refused ([[GribPacking.quantize]]).
  */
object Grib1Writer {

  final case class FieldSpec(
      paramId: Int,
      levelType: Int,
      levelValue: Int,                 // PDS octets 11-12 (u16)
      refTime: java.time.LocalDateTime,
      values: Seq[Double],             // row-major (j, i); NaN = missing
      ni: Int, nj: Int,
      la1: Double, lo1: Double, la2: Double, lo2: Double,
      tableVersion: Int = 128,
      centre: Int = 98,
      timeUnit: Int = 1,               // hours
      p1: Int = 0, p2: Int = 0,
      timeRangeIndicator: Int = 0,
      decimalScale: Int = 0,
      bitsPerValue: Int = 16,
      secondOrder: Boolean = false,    // WMO second-order packing (BDS flag 2)
      groupSize: Int = 20,             // second-order group length
      gaussianN: Int = 0,              // > 0 -> grid type 4 (Gaussian)
      reducedPl: Option[Seq[Int]] = None, // reduced Gaussian: points per row
      // spectral (grid type 50): triangular truncation T; `values` are the
      // (T+1)(T+2) interleaved (re, im) coefficients, m-major
      spectralT: Int = -1,
      // rotated lat/lon (grid type 10): la1..lo2 are rotated-frame coords
      rotated: Option[GribProjection.RotatedLatLon] = None,
      // >= 0: ECMWF local definition 1 EPS perturbation number
      ensembleMember: Int = -1,
      // grid types 1/3/5: plane walk from (la1, lo1) in Di/Dj meters;
      // the figure must be the GRIB1 sphere (6367470) or IAU-65 oblate
      projection: Option[GribProjection] = None,
      dxMeters: Double = 0, dyMeters: Double = 0)

  def write(path: String, fields: Seq[FieldSpec],
      conf: Configuration = new Configuration()): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try fields.foreach(f => out.write(message(f)))
    finally out.close()
  }

  def message(f: FieldSpec): Array[Byte] = {
    require(f.values.size == f.reducedPl.map(_.sum).getOrElse(f.ni * f.nj),
      s"values size ${f.values.size} != ni*nj ${f.ni * f.nj}")
    val pds = pdsBytes(f)
    val gds = gdsBytes(f)
    val missing = f.values.exists(_.isNaN)
    val bms = if (missing) bmsBytes(f) else Array.emptyByteArray
    val bds = bdsBytes(f)
    val total = 8 + pds.length + gds.length + bms.length + bds.length + 4
    val o = new ByteArrayOutputStream(total)
    o.write('G'); o.write('R'); o.write('I'); o.write('B')
    writeU24(o, total)
    o.write(1) // edition
    o.write(pds); o.write(gds); o.write(bms); o.write(bds)
    o.write('7'); o.write('7'); o.write('7'); o.write('7')
    o.toByteArray
  }

  private def pdsBytes(f: FieldSpec): Array[Byte] = {
    val missing = f.values.exists(_.isNaN)
    val ens = f.ensembleMember >= 0
    val b = new Array[Byte](if (ens) 52 else 28)
    put24(b, 0, b.length)
    b(3) = f.tableVersion.toByte
    b(4) = f.centre.toByte
    b(5) = 1                                  // generating process
    b(6) = 255.toByte                         // grid id: non-predefined
    b(7) = ((if (missing) 0xc0 else 0x80) & 0xff).toByte // GDS [+ BMS]
    b(8) = f.paramId.toByte
    b(9) = f.levelType.toByte
    b(10) = ((f.levelValue >> 8) & 0xff).toByte
    b(11) = (f.levelValue & 0xff).toByte
    val t = f.refTime
    b(12) = (((t.getYear - 1) % 100) + 1).toByte  // year of century (1-100)
    b(13) = t.getMonthValue.toByte
    b(14) = t.getDayOfMonth.toByte
    b(15) = t.getHour.toByte
    b(16) = t.getMinute.toByte
    b(17) = f.timeUnit.toByte
    b(18) = f.p1.toByte
    b(19) = f.p2.toByte
    b(20) = f.timeRangeIndicator.toByte
    b(24) = (((t.getYear - 1) / 100) + 1).toByte  // century
    putS16(b, 26, f.decimalScale)
    if (ens) {
      // ECMWF local definition 1 (octets 41-52): class/type/stream/expver
      // + perturbation number / ensemble size
      b(40) = 1                               // local definition number
      b(41) = 1                               // class: operational
      b(42) = 11                              // type: perturbed forecast
      b(43) = 4; b(44) = 11                   // stream 1035 (enfo)
      b(45) = '0'; b(46) = '0'; b(47) = '0'; b(48) = '1' // expver "0001"
      b(49) = f.ensembleMember.toByte
      b(50) = 51                              // forecasts in the ensemble
    }
    b
  }

  private def gdsBytes(f: FieldSpec): Array[Byte] = {
    if (f.spectralT >= 0) {
      val b = new Array[Byte](32)
      put24(b, 0, b.length)
      b(3) = 0                 // NV
      b(4) = 255.toByte        // no PV/PL
      b(5) = 50                // spherical harmonic coefficients
      putU16(b, 6, f.spectralT)  // J
      putU16(b, 8, f.spectralT)  // K
      putU16(b, 10, f.spectralT) // M
      b(12) = 1                // representation type: associated Legendre
      b(13) = 1                // representation mode
      return b
    }
    require(f.rotated.isEmpty || (f.reducedPl.isEmpty && f.gaussianN == 0),
      "rotated grids are regular lat/lon only")
    f.projection.foreach { p =>
      require(f.rotated.isEmpty && f.reducedPl.isEmpty && f.gaussianN == 0 &&
        f.spectralT < 0, "projected grids compose with nothing else")
      return gdsProjected(f, p)
    }
    val rotBytes = if (f.rotated.isDefined) 10 else 0
    val listBytes = f.reducedPl.map(_.size * 2).getOrElse(0)
    val b = new Array[Byte](32 + rotBytes + listBytes)
    put24(b, 0, b.length)
    b(3) = 0                   // NV
    b(4) = (if (f.reducedPl.isDefined) 33 else 255).toByte // PV/PL octet
    b(5) = if (f.rotated.isDefined) 10
      else if (f.gaussianN > 0) 4 else 0 // rotated | Gaussian | lat/lon
    f.rotated.foreach { r =>   // octets 33-42: south pole + angle (IBM float)
      putS24(b, 32, math.round(r.southPoleLat * 1000).toInt)
      putS24(b, 35, math.round(r.southPoleLon * 1000).toInt)
      Grib1.toIbmFloat(r.angle).copyToArray(b, 38)
    }
    putU16(b, 6, if (f.reducedPl.isDefined) 65535 else f.ni)
    putU16(b, 8, f.nj)
    f.reducedPl.foreach(pl =>
      pl.zipWithIndex.foreach { case (c, r) => putU16(b, 32 + r * 2, c) })
    putS24(b, 10, math.round(f.la1 * 1000).toInt)
    putS24(b, 13, math.round(f.lo1 * 1000).toInt)
    b(16) = 0x80.toByte        // resolution flags: increments given
    putS24(b, 17, math.round(f.la2 * 1000).toInt)
    putS24(b, 20, math.round(f.lo2 * 1000).toInt)
    val di = if (f.ni > 1) math.abs(f.lo2 - f.lo1) / (f.ni - 1) else 0
    val dj = if (f.nj > 1) math.abs(f.la2 - f.la1) / (f.nj - 1) else 0
    putU16(b, 23, math.round(di * 1000).toInt) // Di: octets 24-25
    // grid type 4 stores N (parallels pole->equator) in the Dj slot
    if (f.gaussianN > 0) putU16(b, 25, f.gaussianN)
    else putU16(b, 25, math.round(dj * 1000).toInt) // Dj: octets 26-27
    b(27) = 0                  // scan mode (octet 28): +i, -j, i consecutive
    b
  }

  /** GDS for grid types 1 (Mercator), 3 (Lambert conformal), 5 (polar
    * stereographic): first point in millidegrees, steps in meters. The
    * figure flag (resolution octet 17 bit 2) encodes sphere vs IAU-65. */
  private def gdsProjected(f: FieldSpec, p: GribProjection): Array[Byte] = {
    val (gridType, oblate) = p match {
      case m: GribProjection.Mercator =>
        (1, !(m.minorAxis.isNaN || m.minorAxis == m.radius))
      case l: GribProjection.LambertConformal =>
        (3, !(l.minorAxis.isNaN || l.minorAxis == l.radius))
      case s: GribProjection.PolarStereographic =>
        (5, !(s.minorAxis.isNaN || s.minorAxis == s.radius))
      case other => throw Grib1.UnsupportedGrib(
        s"GRIB1 writer projection $other (Mercator/Lambert/polar only)")
    }
    val b = new Array[Byte](42)
    put24(b, 0, b.length)
    b(3) = 0                   // NV
    b(4) = 255.toByte          // no PV/PL
    b(5) = gridType.toByte
    putU16(b, 6, f.ni)
    putU16(b, 8, f.nj)
    putS24(b, 10, math.round(f.la1 * 1000).toInt)
    putS24(b, 13, math.round(f.lo1 * 1000).toInt)
    b(16) = (0x80 | (if (oblate) 0x40 else 0)).toByte // increments + figure
    p match {
      case m: GribProjection.Mercator =>
        putS24(b, 17, math.round(f.la2 * 1000).toInt)
        putS24(b, 20, math.round(f.lo2 * 1000).toInt)
        putS24(b, 23, math.round(m.lad * 1000).toInt) // Latin
        put24(b, 28, math.round(f.dxMeters).toInt)
        put24(b, 31, math.round(math.abs(f.dyMeters)).toInt)
      case l: GribProjection.LambertConformal =>
        putS24(b, 17, math.round(l.lov * 1000).toInt)
        put24(b, 20, math.round(f.dxMeters).toInt)
        put24(b, 23, math.round(math.abs(f.dyMeters)).toInt)
        putS24(b, 28, math.round(l.latin1 * 1000).toInt)
        putS24(b, 31, math.round(l.latin2 * 1000).toInt)
        putS24(b, 34, -90000) // south pole of the projection
      case s: GribProjection.PolarStereographic =>
        putS24(b, 17, math.round(s.lov * 1000).toInt)
        put24(b, 20, math.round(f.dxMeters).toInt)
        put24(b, 23, math.round(math.abs(f.dyMeters)).toInt)
        b(26) = (if (s.south) 0x80 else 0).toByte // projection centre
      case _ =>
    }
    b(27) = (if (f.dyMeters >= 0) 0x40 else 0).toByte // scan: +i, +-j
    b
  }

  private def bmsBytes(f: FieldSpec): Array[Byte] = {
    val body = GribPacking.bitmap(f.values.map(!_.isNaN))
    val b = new Array[Byte](6 + body.length)
    put24(b, 0, b.length)
    b(3) = (body.length * 8 - f.values.size).toByte // unused trailing bits
    putU16(b, 4, 0)                    // bitmap follows (no predefined table)
    System.arraycopy(body, 0, b, 6, body.length)
    b
  }

  private def bdsBytes(f: FieldSpec): Array[Byte] =
    if (f.spectralT >= 0) bdsSpectral(f)
    else if (f.secondOrder) bdsSecondOrder(f)
    else bdsSimple(f)

  /** BDS: length, flags (with the unused trailing bits in the low nibble),
    * binary scale E = 0, R as an IBM float and the bits per value, then
    * `body` from octet 12. */
  private def bds(flags: Int, ref: Long, bits: Int, body: Array[Byte]): Array[Byte] = {
    val b = new Array[Byte](11 + body.length)
    put24(b, 0, b.length)
    b(3) = flags.toByte
    putS16(b, 4, 0)
    System.arraycopy(Grib1.toIbmFloat(ref.toDouble), 0, b, 6, 4)
    b(10) = bits.toByte
    System.arraycopy(body, 0, b, 11, body.length)
    b
  }

  private def bdsSimple(f: FieldSpec): Array[Byte] = {
    val q = GribPacking.quantize(f.values, f.decimalScale, f.bitsPerValue, edition = 1)
    val w = new GribPacking.BitWriter().putAll(q.xs, f.bitsPerValue)
    bds(w.padBits, q.ref, f.bitsPerValue, w.toByteArray)
  }

  /** Simple spectral BDS (flag 0x80): the decimal-scaled (0,0) real part as
    * an IBM float at octets 12-15, then the remaining coefficients
    * simple-packed from octet 16. */
  private def bdsSpectral(f: FieldSpec): Array[Byte] = {
    val t = f.spectralT
    require(f.values.size == (t + 1) * (t + 2),
      s"${f.values.size} values for truncation T=$t (${(t + 1) * (t + 2)} expected)")
    require(!f.values.exists(_.isNaN), "spectral fields carry no bitmap")
    val q = GribPacking.quantize(f.values.drop(1), f.decimalScale, f.bitsPerValue, edition = 1)
    val w = new GribPacking.BitWriter().putAll(q.xs, f.bitsPerValue)
    bds(0x80 | w.padBits, q.ref, f.bitsPerValue,
      Grib1.toIbmFloat(f.values.head * math.pow(10.0, f.decimalScale)) ++ w.toByteArray)
  }

  /** WMO second-order packing, secondary-bitmap variant (mirrors
    * [[Grib1.decodeValues]]'s decoder): fixed-size groups, per-group
    * reference (first-order values) + per-group widths, one secondary-bitmap
    * bit per present point marking group starts, N1/N2 octet pointers. */
  private def bdsSecondOrder(f: FieldSpec): Array[Byte] = {
    val q = GribPacking.quantize(f.values, f.decimalScale, 64, edition = 1)
    val n = q.xs.length
    val groups = GribPacking.groups(q.xs, f.groupSize)
    val ng = groups.size
    require(groups.forall(_.width <= 255), "group deviation span too wide")
    val foBits = math.max(1, GribPacking.bitWidth(groups.map(_.ref).max))
    val n1 = 21 + ng + (n + 7) / 8 + 1        // 1-indexed octet of FO values
    val n2 = n1 + (ng * foBits + 7) / 8       // 1-indexed octet of SO values
    require(n2 <= 65535, "second-order BDS exceeds the u16 N1/N2 pointers")
    val w = new GribPacking.BitWriter()
      .put(n1, 16)
      .put(0x20 | 0x10, 8)                    // secondary bitmap + per-group widths
      .put(n2, 16)
      .put(ng, 16)                            // P1
      .put(n, 16)                             // P2
      .put(0, 8)
    groups.foreach(g => w.put(g.width, 8))
    groups.foreach(g => g.offsets.indices.foreach(i => w.put(if (i == 0) 1 else 0, 1)))
    w.align()
    groups.foreach(g => w.put(g.ref, foBits))
    w.align()
    groups.foreach(g => w.putAll(g.offsets, g.width))
    // flags: bit 2 second-order + bit 4 extended flags; low nibble = unused
    bds(0x40 | 0x10 | w.padBits, q.ref, foBits, w.toByteArray)
  }

  private def writeU24(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write((v >> 16) & 0xff); o.write((v >> 8) & 0xff); o.write(v & 0xff)
  }
  private def put24(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = ((v >> 16) & 0xff).toByte
    b(i + 1) = ((v >> 8) & 0xff).toByte
    b(i + 2) = (v & 0xff).toByte
  }
  private def putU16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = ((v >> 8) & 0xff).toByte
    b(i + 1) = (v & 0xff).toByte
  }
  private def putS16(b: Array[Byte], i: Int, v: Int): Unit =
    putU16(b, i, if (v < 0) 0x8000 | -v else v)
  private def putS24(b: Array[Byte], i: Int, v: Int): Unit =
    put24(b, i, if (v < 0) 0x800000 | -v else v)
}
