package graft.sources.grib

import java.io.ByteArrayOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Minimal GRIB edition 2 writer (grid template 3.0, product templates
  * 4.0/4.8, data template 5.0 simple packing, optional bitmap) — fixture
  * role, like [[Grib1Writer]] for edition 1. The reference value is the
  * integer minimum of the scaled values encoded as IEEE float32 (one that
  * float32 would round is refused, [[GribPacking.quantize]]), so
  * round(v * 10^D) survives the pack/unpack cycle. */
object Grib2Writer {

  final case class FieldSpec(
      discipline: Int,
      category: Int,
      number: Int,
      levelType: Int,
      levelScaledValue: Long,          // value * 10^levelScaleFactor
      refTime: java.time.LocalDateTime,
      values: Seq[Double],             // row-major (j, i); NaN = missing
      ni: Int, nj: Int,
      la1: Double, lo1: Double, la2: Double, lo2: Double,
      levelScaleFactor: Int = 0,
      timeUnit: Int = 1,               // hours
      forecastTime: Int = 0,
      statProcess: Int = -1,           // -1 -> template 4.0; else 4.8
      intervalEnd: Option[java.time.LocalDateTime] = None,
      ensembleMember: Int = -1,        // >= 0 -> 4.1/4.11; 1000+t -> 4.2
      decimalScale: Int = 0,
      bitsPerValue: Int = 16,
      packing: Int = 0,                // 0 -> 5.0 simple; 2 -> 5.2; 3 -> 5.3
      spatialOrder: Int = 2,           // 5.3 differencing order (1 | 2)
      groupSize: Int = 20,             // complex-packing group length
      gaussianN: Int = 0,              // > 0 -> grid template 3.40
      reducedPl: Option[Seq[Int]] = None, // reduced Gaussian: points per row
      projection: Option[GribProjection] = None, // 3.1/3.10/3.20/3.30
      dxMeters: Double = 0, dyMeters: Double = 0,
      // spectral (3.50 + 5.50/5.51): triangular truncation T; `values` are
      // the 2*(T+1)(T+2)/2 interleaved (re, im) coefficients in
      // m = 0..T, n = m..T order; set ni = values.size, nj = 1
      spectralT: Int = -1,
      laplacianP: Double = 0.0,        // 5.51 scaling exponent
      subTruncation: Int = -1,         // 5.51 unpacked sub-truncation
      // probability products (4.5 instant / 4.9 over an interval):
      // (probability type per code table 4.9, lower, upper); NaN = not used
      probability: Option[(Int, Double, Double)] = None,
      // template 3.90 wire parameters (projection = Geostationary):
      // camera distance in semi-major axes x 1e6, apparent disk diameter
      // in grid lengths (x, y), sub-satellite pixel in millipixels (x, y),
      // sector origin offsets
      spaceView: Option[SpaceView] = None)

  /** The raw template 3.90 integers — carried verbatim so fixtures are
    * wire-exact (per-pixel angular step derives from these on read). */
  final case class SpaceView(nrRaw: Long, dx: Int, dy: Int,
      xpMilli: Long, ypMilli: Long, xo: Int = 0, yo: Int = 0)

  def write(path: String, fields: Seq[FieldSpec],
      conf: Configuration = new Configuration()): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try fields.foreach(f => out.write(message(f)))
    finally out.close()
  }

  def message(f: FieldSpec): Array[Byte] = {
    val expect = f.reducedPl.map(_.sum).getOrElse(f.ni * f.nj)
    require(f.values.size == expect,
      s"values size ${f.values.size} != grid points $expect")
    val s1 = section1(f)
    val s3 = section3(f)
    val s4 = section4(f)
    val missing = f.values.exists(_.isNaN)
    val s6 = section6(f, missing)
    val (s5, s7) = sections57(f)
    val total = 16L + s1.length + s3.length + s4.length + s5.length +
      s6.length + s7.length + 4
    val o = new ByteArrayOutputStream(total.toInt)
    o.write('G'); o.write('R'); o.write('I'); o.write('B')
    o.write(0); o.write(0)           // reserved
    o.write(f.discipline)
    o.write(2)                       // edition
    writeU64(o, total)
    o.write(s1); o.write(s3); o.write(s4); o.write(s5); o.write(s6); o.write(s7)
    o.write('7'); o.write('7'); o.write('7'); o.write('7')
    o.toByteArray
  }

  private def section1(f: FieldSpec): Array[Byte] = {
    val b = new Array[Byte](21)
    putU32(b, 0, 21); b(4) = 1
    putU16(b, 5, 98)                 // centre: ECMWF
    putU16(b, 7, 0)                  // subcentre
    b(9) = 2; b(10) = 1              // tables versions
    b(11) = 1                        // significance: start of forecast
    val t = f.refTime
    putU16(b, 12, t.getYear)
    b(14) = t.getMonthValue.toByte; b(15) = t.getDayOfMonth.toByte
    b(16) = t.getHour.toByte; b(17) = t.getMinute.toByte; b(18) = t.getSecond.toByte
    b(19) = 0; b(20) = 1
    b
  }

  private def section3(f: FieldSpec): Array[Byte] =
    if (f.spectralT >= 0) section3Spectral(f)
    else f.projection match {
      case Some(p) => section3Projected(f, p)
      case None => section3LatLon(f)
    }

  /** Template 3.50: spherical harmonics, triangular truncation. */
  private def section3Spectral(f: FieldSpec): Array[Byte] = {
    val b = new Array[Byte](28)
    putU32(b, 0, 28); b(4) = 3
    b(5) = 0
    putU32(b, 6, f.values.size / 2)  // complex coefficients
    putU16(b, 12, 50)
    putU32(b, 14, f.spectralT); putU32(b, 18, f.spectralT)
    putU32(b, 22, f.spectralT)
    b(26) = 1                        // representation type: spherical harmonics
    b(27) = 1                        // representation mode
    b
  }

  /** Template 3.1 (rotated lat/lon): the 3.0 layout with la1..lo2 in the
    * ROTATED frame, followed by the south pole of rotation + angle. */
  private def section3Rotated(f: FieldSpec,
      r: GribProjection.RotatedLatLon): Array[Byte] = {
    require(f.reducedPl.isEmpty, "reduced rotated grids not emitted")
    val b = new Array[Byte](84)
    putU32(b, 0, b.length); b(4) = 3
    b(5) = 0                         // grid source
    putU32(b, 6, f.ni.toLong * f.nj)
    putU16(b, 12, 1)                 // template 3.1
    b(14) = 6                        // shape of earth: sphere 6371229
    putU32(b, 30, f.ni); putU32(b, 34, f.nj)
    putU32(b, 38, 0); putU32(b, 42, 0) // basic angle/subdivisions
    putS32(b, 46, math.round(f.la1 * 1e6))
    putS32(b, 50, math.round(f.lo1 * 1e6))
    b(54) = 0x30                     // resolution flags: di/dj given
    putS32(b, 55, math.round(f.la2 * 1e6))
    putS32(b, 59, math.round(f.lo2 * 1e6))
    val di = if (f.ni > 1) math.abs(f.lo2 - f.lo1) / (f.ni - 1) else 0
    val dj = if (f.nj > 1) math.abs(f.la2 - f.la1) / (f.nj - 1) else 0
    putU32(b, 63, math.round(di * 1e6))
    putU32(b, 67, math.round(dj * 1e6))
    b(71) = 0                        // scan mode: +i, -j
    putS32(b, 72, math.round(r.southPoleLat * 1e6))
    putS32(b, 76, math.round(r.southPoleLon * 1e6))
    putFloat(b, 80, r.angle)
    b
  }

  /** Templates 3.10/3.20/3.30 (Mercator / polar stereo / Lambert). */
  private def section3Projected(f: FieldSpec, proj: GribProjection): Array[Byte] = {
    proj match {
      case r: GribProjection.RotatedLatLon => return section3Rotated(f, r)
      case g: GribProjection.Geostationary =>
        // template 3.90: scan-angle grid; the raw wire integers come from
        // the FieldSpec so read-side step derivation is exact
        val sv = f.spaceView.getOrElse(throw Grib1.UnsupportedGrib(
          "geostationary fields need FieldSpec.spaceView wire parameters"))
        val b = new Array[Byte](80)
        putU32(b, 0, b.length); b(4) = 3
        putU32(b, 6, f.ni.toLong * f.nj)
        putU16(b, 12, 90)
        putShape(b, g.radius, g.minorAxis)
        putU32(b, 30, f.ni); putU32(b, 34, f.nj)
        putS32(b, 38, 0)                       // sub-satellite latitude
        putS32(b, 42, math.round(g.lon0 * 1e6))
        b(46) = 0x08
        putU32(b, 47, sv.dx); putU32(b, 51, sv.dy)
        putS32(b, 55, sv.xpMilli); putS32(b, 59, sv.ypMilli)
        b(63) = (if (f.dyMeters >= 0) 0x40 else 0).toByte // scan
        putU32(b, 64, 0)                       // orientation
        putU32(b, 68, sv.nrRaw)
        putU32(b, 72, sv.xo); putU32(b, 76, sv.yo)
        return b
      case t: GribProjection.TransverseMercator =>
        // template 3.12: reference point = the natural origin (0, lon0)
        // with XR = YR = 0 and scale factor 1 (any k0 is already folded
        // into the instance's axes and travels in the shape of earth);
        // first/last points in centimetres of the projected plane
        val b = new Array[Byte](84)
        putU32(b, 0, b.length); b(4) = 3
        putU32(b, 6, f.ni.toLong * f.nj)
        putU16(b, 12, 12)
        putShape(b, t.radius, t.minorAxis)
        putU32(b, 30, f.ni); putU32(b, 34, f.nj)
        putS32(b, 38, 0)                       // reference latitude 0
        putS32(b, 42, math.round(t.lon0 * 1e6))
        b(46) = 0x08
        putFloat(b, 47, 1.0)
        putS32(b, 51, 0); putS32(b, 55, 0)     // XR / YR
        b(59) = (if (f.dyMeters >= 0) 0x40 else 0).toByte // scan
        putU32(b, 60, math.round(f.dxMeters * 100))
        putU32(b, 64, math.round(math.abs(f.dyMeters) * 100))
        val (fx1, fy1) = t.forward(f.la1, f.lo1)
        putS32(b, 68, math.round(fx1 * 100))
        putS32(b, 72, math.round(fy1 * 100))
        putS32(b, 76, math.round((fx1 + (f.ni - 1) * f.dxMeters) * 100))
        putS32(b, 80, math.round((fy1 + (f.nj - 1) * f.dyMeters) * 100))
        return b
      case m: GribProjection.Mercator =>
        val b = new Array[Byte](72)
        putU32(b, 0, b.length); b(4) = 3
        putU32(b, 6, f.ni.toLong * f.nj)
        putU16(b, 12, 10)
        putShape(b, m.radius, m.minorAxis)
        putU32(b, 30, f.ni); putU32(b, 34, f.nj)
        putS32(b, 38, math.round(f.la1 * 1e6))
        putS32(b, 42, math.round(f.lo1 * 1e6))
        b(46) = 0x08
        putS32(b, 47, math.round(m.lad * 1e6))
        b(59) = (if (f.dyMeters >= 0) 0x40 else 0).toByte // scan
        putU32(b, 64, math.round(f.dxMeters * 1000))
        putU32(b, 68, math.round(math.abs(f.dyMeters) * 1000))
        return b
      case _ =>
    }
    proj match {
      case z: GribProjection.LambertAzimuthalEqualArea =>
        // template 3.140: first point + standard parallel + central
        // longitude + Dx/Dy millimeters
        val b = new Array[Byte](65)
        putU32(b, 0, b.length); b(4) = 3
        b(5) = 0
        putU32(b, 6, f.ni.toLong * f.nj)
        putU16(b, 12, 140)
        putShape(b, z.radius, z.minorAxis)
        putU32(b, 30, f.ni); putU32(b, 34, f.nj)
        putS32(b, 38, math.round(f.la1 * 1e6))
        putS32(b, 42, math.round(f.lo1 * 1e6))
        b(46) = 0x08
        putS32(b, 47, math.round(z.standardParallel * 1e6))
        putS32(b, 51, math.round(z.centralLon * 1e6))
        putU32(b, 55, math.round(f.dxMeters * 1000))
        putU32(b, 59, math.round(math.abs(f.dyMeters) * 1000))
        b(63) = (if (f.dyMeters >= 0) 0x40 else 0).toByte
        return b
      case _ =>
    }
    // template 31 (Albers) shares 30's (Lambert) wire layout
    val (tmpl, lad, lov, south) = proj match {
      case l: GribProjection.LambertConformal => (30, l.latin1, l.lov, false)
      case a: GribProjection.AlbersEqualArea => (31, a.latin1, a.lov, false)
      case s: GribProjection.PolarStereographic => (20, s.lad, s.lov, s.south)
      case m => throw Grib1.UnsupportedGrib(s"writer projection $m")
    }
    val isLambert = tmpl != 20
    val (radius, minorAxis) = proj match {
      case l: GribProjection.LambertConformal => (l.radius, l.minorAxis)
      case a: GribProjection.AlbersEqualArea => (a.radius, a.minorAxis)
      case s: GribProjection.PolarStereographic => (s.radius, s.minorAxis)
      case _ => (GribProjection.EarthRadius, Double.NaN)
    }
    val b = new Array[Byte](if (isLambert) 81 else 65)
    putU32(b, 0, b.length); b(4) = 3
    b(5) = 0
    putU32(b, 6, f.ni.toLong * f.nj)
    putU16(b, 12, tmpl)
    putShape(b, radius, minorAxis)   // shape of earth (code table 3.2)
    putU32(b, 30, f.ni); putU32(b, 34, f.nj)
    putS32(b, 38, math.round(f.la1 * 1e6))
    putS32(b, 42, math.round(f.lo1 * 1e6))
    b(46) = 0x08                     // resolution flags
    putS32(b, 47, math.round(lad * 1e6))
    putS32(b, 51, math.round(lov * 1e6))
    putU32(b, 55, math.round(f.dxMeters * 1000))
    putU32(b, 59, math.round(math.abs(f.dyMeters) * 1000))
    b(63) = (if (south) 0x80 else 0).toByte // projection centre flag
    b(64) = (if (f.dyMeters >= 0) 0x40 else 0).toByte // scan: +i, +-j
    if (isLambert) {
      val (latin1, latin2) = proj match {
        case l: GribProjection.LambertConformal => (l.latin1, l.latin2)
        case a: GribProjection.AlbersEqualArea => (a.latin1, a.latin2)
        case m => throw Grib1.UnsupportedGrib(s"writer projection $m")
      }
      putS32(b, 65, math.round(latin1 * 1e6))
      putS32(b, 69, math.round(latin2 * 1e6))
      putS32(b, 73, math.round(-90 * 1e6)) // southern pole of projection
      putS32(b, 77, 0)
    }
    b
  }

  private def section3LatLon(f: FieldSpec): Array[Byte] = {
    val listBytes = f.reducedPl.map(_.size * 2).getOrElse(0)
    val b = new Array[Byte](72 + listBytes)
    putU32(b, 0, b.length); b(4) = 3
    b(5) = 0                         // grid source
    putU32(b, 6, f.reducedPl.map(_.sum.toLong).getOrElse(f.ni.toLong * f.nj))
    b(10) = (if (f.reducedPl.isDefined) 2 else 0).toByte // list entry octets
    b(11) = (if (f.reducedPl.isDefined) 1 else 0).toByte // points per row
    putU16(b, 12, if (f.gaussianN > 0) 40 else 0) // template 3.0 | 3.40
    b(14) = 6                        // shape of earth: WGS84-ish sphere
    putU32(b, 30, if (f.reducedPl.isDefined) 0xffffffffL else f.ni.toLong)
    putU32(b, 34, f.nj)
    f.reducedPl.foreach(pl =>
      pl.zipWithIndex.foreach { case (c, r) => putU16(b, 72 + r * 2, c) })
    putU32(b, 38, 0); putU32(b, 42, 0) // basic angle/subdivisions
    putS32(b, 46, math.round(f.la1 * 1e6))
    putS32(b, 50, math.round(f.lo1 * 1e6))
    b(54) = 0x30                     // resolution flags: di/dj given
    putS32(b, 55, math.round(f.la2 * 1e6))
    putS32(b, 59, math.round(f.lo2 * 1e6))
    val di = if (f.ni > 1) math.abs(f.lo2 - f.lo1) / (f.ni - 1) else 0
    val dj = if (f.nj > 1) math.abs(f.la2 - f.la1) / (f.nj - 1) else 0
    putU32(b, 63, math.round(di * 1e6))
    // 3.40 stores N (parallels pole->equator) in the Dj slot
    if (f.gaussianN > 0) putU32(b, 67, f.gaussianN)
    else putU32(b, 67, math.round(dj * 1e6))
    b(71) = 0                        // scan mode: +i, -j
    b
  }

  private def section4(f: FieldSpec): Array[Byte] = {
    val template48 = f.statProcess >= 0
    val derived = f.ensembleMember >= 1000
    val ens = f.ensembleMember >= 0 && !derived
    val prob = f.probability.isDefined
    require(!(prob && (ens || derived)),
      "probability + ensemble member (4.10x) not emitted")
    val shift = if (ens) 3 else if (derived) 2 else if (prob) 13 else 0
    val b = new Array[Byte]((if (template48) 58 else 34) + shift)
    putU32(b, 0, b.length); b(4) = 4
    putU16(b, 5, 0)                  // no extra coordinate values
    putU16(b, 7,
      if (prob) { if (template48) 9 else 5 }
      else if (derived) { if (template48) 12 else 2 }
      else (template48, ens) match {
        case (false, false) => 0
        case (false, true) => 1      // individual ensemble member
        case (true, false) => 8
        case (true, true) => 11      // ensemble member over an interval
      })
    b(9) = f.category.toByte
    b(10) = f.number.toByte
    b(11) = 2                        // generating process: forecast
    putU16(b, 14, 0); b(16) = 0
    b(17) = f.timeUnit.toByte
    putS32(b, 18, f.forecastTime)
    b(22) = f.levelType.toByte
    b(23) = (if (f.levelScaleFactor < 0) 0x80 | -f.levelScaleFactor
      else f.levelScaleFactor).toByte // sign-magnitude
    putU32(b, 24, f.levelScaledValue)
    b(28) = 255.toByte; b(29) = 0    // no second surface
    if (ens) {
      b(34) = 3                      // ensemble type: perturbed forecast
      b(35) = f.ensembleMember.toByte
      b(36) = 51                     // forecasts in the ensemble
    } else if (derived) {
      b(34) = (f.ensembleMember - 1000).toByte // code table 4.7
      b(35) = 51                     // forecasts in the ensemble
    } else if (prob) {
      val (t, lo, up) = f.probability.get
      b(34) = 0                      // forecast probability number
      b(35) = 1                      // total probabilities
      b(36) = t.toByte               // probability type (code table 4.9)
      // limits at scale factor 3 (millis — exact for fixture thresholds);
      // NaN = limit not in use (255 scale + all-ones value)
      def putLimit(off: Int, v: Double): Unit =
        if (v.isNaN) { b(off) = 255.toByte; putU32(b, off + 1, 0xffffffffL) }
        else { b(off) = 3; putS32(b, off + 1, math.round(v * 1000)) }
      putLimit(37, lo); putLimit(42, up)
    }
    if (template48) {
      val e = f.intervalEnd.getOrElse(
        f.refTime.plusSeconds(f.forecastTime.toLong * Grib1.timeUnitSeconds(f.timeUnit)))
      putU16(b, 34 + shift, e.getYear)
      b(36 + shift) = e.getMonthValue.toByte; b(37 + shift) = e.getDayOfMonth.toByte
      b(38 + shift) = e.getHour.toByte; b(39 + shift) = e.getMinute.toByte
      b(40 + shift) = e.getSecond.toByte
      b(41 + shift) = 1              // one time range
      putU32(b, 42 + shift, 0)       // no missing values in interval
      b(46 + shift) = f.statProcess.toByte
      b(47 + shift) = 2              // time increment type
      b(48 + shift) = f.timeUnit.toByte
      putU32(b, 49 + shift, f.forecastTime) // length of range
      b(53 + shift) = f.timeUnit.toByte
      putU32(b, 54 + shift, 0)
    }
    b
  }

  private def sections57(f: FieldSpec): (Array[Byte], Array[Byte]) =
    f.packing match {
      case 0 => simple57(f)
      case 2 | 3 => complex57(f)
      case 4 => ieee57(f)
      case 40 => jpeg57(f)
      case 41 => png57(f)
      case 42 => ccsds57(f)
      case 50 | 51 => spectral57(f)
      case other => throw Grib1.UnsupportedGrib(
        s"writer packing $other (0 simple, 2 complex, 3 complex+spatial " +
          "diff, 4 IEEE, 40 JPEG2000, 41 PNG, 42 CCSDS, 50/51 spectral)")
    }

  /** Section 5 of `len` octets with the head every packed template 5.x
    * shares: the number of packed values, the template, R as an IEEE
    * float, binary scale E = 0, D and the bits per value. */
  private def section5(len: Int, template: Int, q: GribPacking.Quantized,
      decimalScale: Int, bits: Int): Array[Byte] = {
    val s5 = new Array[Byte](len)
    putU32(s5, 0, len); s5(4) = 5
    putU32(s5, 5, q.xs.length)       // count of values actually packed (bitmap-aware)
    putU16(s5, 9, template)
    putFloat(s5, 11, q.ref.toDouble)
    putS16(s5, 15, 0)                // binary scale E = 0
    putS16(s5, 17, decimalScale)
    s5(19) = bits.toByte
    s5
  }

  private def section7(body: Array[Byte]): Array[Byte] = {
    val s7 = new Array[Byte](5 + body.length)
    putU32(s7, 0, s7.length); s7(4) = 7
    System.arraycopy(body, 0, s7, 5, body.length)
    s7
  }

  private def quantize(f: FieldSpec, values: Seq[Double], bits: Int): GribPacking.Quantized =
    GribPacking.quantize(values, f.decimalScale, bits, edition = 2)

  /** Templates 5.50/7.50 and 5.51/7.51: spherical-harmonic coefficients.
    * 5.50 keeps the (0,0) real part in section 5 and simple-packs the rest;
    * 5.51 stores the n <= subTruncation subset as IEEE-32 and simple-packs
    * the remainder scaled by (n(n+1))^laplacianP. */
  private def spectral57(f: FieldSpec): (Array[Byte], Array[Byte]) = {
    val t = f.spectralT
    require(t >= 0, "spectral packing needs spectralT")
    val nCoeff = (t + 1) * (t + 2) / 2
    require(f.values.size == 2 * nCoeff,
      s"${f.values.size} values for truncation T=$t (${2 * nCoeff} expected)")
    require(!f.values.exists(_.isNaN), "spectral fields carry no bitmap")
    def packed(q: GribPacking.Quantized) =
      new GribPacking.BitWriter().putAll(q.xs, f.bitsPerValue).toByteArray

    if (f.packing == 50) {
      val q = quantize(f, f.values.drop(1), f.bitsPerValue)
      val s5 = section5(24, 50, q, f.decimalScale, f.bitsPerValue)
      putFloat(s5, 20, f.values.head)
      (s5, section7(packed(q)))
    } else { // 5.51
      val sub = f.subTruncation
      require(sub >= 0 && sub <= t, s"sub-truncation $sub for T=$t")
      // stream order split: n <= sub -> IEEE subset; else Laplacian-scaled
      val subVals = scala.collection.mutable.ArrayBuffer.empty[Double]
      val packVals = scala.collection.mutable.ArrayBuffer.empty[Double]
      var vi = 0
      var m = 0
      while (m <= t) {
        var n = m
        while (n <= t) {
          val scale = math.pow(n.toDouble * (n + 1), f.laplacianP)
          var c = 0
          while (c < 2) {
            if (n <= sub) subVals += f.values(vi)
            else packVals += f.values(vi) * scale
            vi += 1; c += 1
          }
          n += 1
        }
        m += 1
      }
      val q = quantize(f, packVals.toSeq, f.bitsPerValue)
      val s5 = section5(35, 51, q, f.decimalScale, f.bitsPerValue)
      putS32(s5, 20, math.round(f.laplacianP * 1e6))
      putU16(s5, 24, sub); putU16(s5, 26, sub); putU16(s5, 28, sub)
      putU32(s5, 30, subVals.size)
      s5(34) = 1                     // subset precision: IEEE-32
      val subset = new Array[Byte](subVals.size * 4)
      subVals.zipWithIndex.foreach { case (v, k) => putFloat(subset, k * 4, v) }
      (s5, section7(subset ++ packed(q)))
    }
  }

  /** The image shape of PNG and JPEG 2000 packing: the grid when nothing is
    * missing (ni x nj), else one row of the present points. */
  private def imageShape(f: FieldSpec, q: GribPacking.Quantized): (Int, Int) =
    if (q.xs.length == f.values.size) (f.ni, f.nj) else (math.max(q.xs.length, 1), 1)

  /** Template 5.40/7.40: scaled X values as a lossless JPEG 2000
    * codestream, present points in raster order. */
  private def jpeg57(f: FieldSpec): (Array[Byte], Array[Byte]) = {
    val q = quantize(f, f.values, f.bitsPerValue)
    val (w, h) = imageShape(f, q)
    val levels = { // openjpeg-style default, capped for small grids
      val m = math.min(w, h)
      if (m >= 32) 5 else math.max(0, 31 - Integer.numberOfLeadingZeros(math.max(m, 1)))
    }
    val j2k =
      if (q.xs.isEmpty) Jpeg2000.encode(1, 1, f.bitsPerValue, Array(0L), 0)
      else Jpeg2000.encode(w, h, f.bitsPerValue, q.xs, levels)
    val s5 = section5(23, 40, q, f.decimalScale, f.bitsPerValue)
    s5(20) = 0                       // floating-point values
    s5(21) = 0                       // lossless
    s5(22) = 255.toByte              // target ratio: n/a
    (s5, section7(j2k))
  }

  /** Template 5.42/7.42: AEC-coded scaled X values (eccodes-style
    * parameters: preprocess+MSB flags, block size 32, RSI 128). */
  private def ccsds57(f: FieldSpec): (Array[Byte], Array[Byte]) = {
    val q = quantize(f, f.values, f.bitsPerValue)
    val (blockSize, rsi, flags) = (32, 128, 4 | 8) // MSB + preprocess
    val coded = Ccsds.encode(
      if (q.xs.isEmpty) Array(0L) else q.xs,
      Ccsds.Params(f.bitsPerValue, blockSize, rsi, preprocess = true))
    val s5 = section5(25, 42, q, f.decimalScale, f.bitsPerValue)
    s5(20) = 0                       // original field type: floating point
    s5(21) = flags.toByte
    s5(22) = blockSize.toByte
    putU16(s5, 23, rsi)
    (s5, section7(coded))
  }

  /** Template 5.4/7.4: raw big-endian IEEE floats of the present points —
    * `bitsPerValue` 32 or 64 selects the precision code; decimalScale does
    * not apply (values are stored verbatim). */
  private def ieee57(f: FieldSpec): (Array[Byte], Array[Byte]) = {
    val prec = f.bitsPerValue match {
      case 32 => 1
      case 64 => 2
      case other => throw Grib1.UnsupportedGrib(
        s"IEEE packing bitsPerValue $other (32 or 64)")
    }
    val present = f.values.filterNot(_.isNaN)
    val s5 = new Array[Byte](12)
    putU32(s5, 0, 12); s5(4) = 5
    putU32(s5, 5, present.size)
    putU16(s5, 9, 4)                 // template 5.4
    s5(11) = prec.toByte
    val body = java.nio.ByteBuffer.allocate(present.size * f.bitsPerValue / 8)
    present.foreach(v => if (prec == 1) body.putFloat(v.toFloat) else body.putDouble(v))
    (s5, section7(body.array()))
  }

  private def simple57(f: FieldSpec): (Array[Byte], Array[Byte]) = {
    val q = quantize(f, f.values, f.bitsPerValue)
    (section5(21, 0, q, f.decimalScale, f.bitsPerValue),
      section7(new GribPacking.BitWriter().putAll(q.xs, f.bitsPerValue).toByteArray))
  }

  /** Templates 5.2/5.3 + 7.2/7.3: fixed-size groups of `groupSize`, per-group
    * reference + width, direct (unscaled-offset) group widths, and for 5.3
    * the spatial differences with their initial values + overall minimum in
    * sign-magnitude extra descriptors. Mirrors [[Grib2.decodeValues]]. */
  private def complex57(f: FieldSpec): (Array[Byte], Array[Byte]) = {
    val order = if (f.packing == 3) f.spatialOrder else 0
    require(order == 0 || order == 1 || order == 2, s"spatial order $order")
    val q = quantize(f, f.values, 64)
    val xs = q.xs
    val n = xs.length

    // 5.3: difference the X sequence, keep the first `order` values verbatim
    // as extra descriptors, shift the rest by the overall minimum
    val initial = xs.take(math.min(order, n))
    var gmin = 0L
    val work: Array[Long] =
      if (order == 0 || n <= order) xs
      else {
        val d = new Array[Long](n)
        var k = order
        while (k < n) {
          d(k) = if (order == 1) xs(k) - xs(k - 1)
            else xs(k) - 2 * xs(k - 1) + xs(k - 2)
          k += 1
        }
        gmin = (order until n).map(d).min
        (0 until n).map(k => if (k < order) 0L else d(k) - gmin).toArray
      }

    val groups = GribPacking.groups(work, f.groupSize)
    val refBits = math.max(1, GribPacking.bitWidth(groups.map(_.ref).max))
    require(groups.forall(_.width <= 255) && refBits <= 255, "group span too wide")

    val extraOctets = 4
    val s5 = section5(if (order > 0) 49 else 47, if (order > 0) 3 else 2, q,
      f.decimalScale, refBits)       // bits per group reference
    s5(20) = 0                       // floating-point original values
    s5(21) = 1                       // general group splitting
    s5(22) = 0                       // no missing-value management (bitmap)
    putU32(s5, 23, 0); putU32(s5, 27, 0) // missing substitutes unused
    putU32(s5, 31, groups.size)
    s5(35) = 0                       // group width reference
    s5(36) = 8                       // bits per group width (stored direct)
    putU32(s5, 37, GribPacking.groupLength(f.groupSize)) // group length reference
    s5(41) = 1                       // length increment
    putU32(s5, 42, groups.last.offsets.length) // true length of last group
    s5(46) = 8                       // bits per scaled group length
    if (order > 0) { s5(47) = order.toByte; s5(48) = extraOctets.toByte }

    val w = new GribPacking.BitWriter
    if (order > 0) {
      initial.foreach(w.putSignMagnitude(_, extraOctets))
      w.putSignMagnitude(gmin, extraOctets)
    }
    groups.foreach(g => w.put(g.ref, refBits))
    groups.foreach(g => w.put(g.width, 8))
    groups.foreach(_ => w.put(0L, 8)) // scaled lengths: all = reference
    groups.foreach(g => w.putAll(g.offsets, g.width))
    (s5, section7(w.toByteArray))
  }

  /** Template 5.41/7.41: scaled X values PNG-encoded, present points in
    * raster order ([[imageShape]]); [[Grib2.decodeValues]] consumes pixels
    * in raster order. */
  private def png57(f: FieldSpec): (Array[Byte], Array[Byte]) = {
    val q = quantize(f, f.values, f.bitsPerValue)
    val (w, h) = imageShape(f, q)
    val png =
      if (q.xs.isEmpty) Png.encode(1, 1, f.bitsPerValue, Array(0L))
      else Png.encode(w, h, f.bitsPerValue, q.xs)
    (section5(21, 41, q, f.decimalScale, f.bitsPerValue), section7(png))
  }

  private def section6(f: FieldSpec, missing: Boolean): Array[Byte] = {
    val body =
      if (missing) GribPacking.bitmap(f.values.map(!_.isNaN)) else Array.emptyByteArray
    val b = new Array[Byte](6 + body.length)
    putU32(b, 0, b.length); b(4) = 6
    b(5) = (if (missing) 0 else 255).toByte // bitmap follows | none applies
    System.arraycopy(body, 0, b, 6, body.length)
    b
  }

  private def putU16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = ((v >> 8) & 0xff).toByte; b(i + 1) = (v & 0xff).toByte
  }
  private def putS16(b: Array[Byte], i: Int, v: Int): Unit =
    putU16(b, i, if (v < 0) 0x8000 | -v else v)
  private def putU32(b: Array[Byte], i: Int, v: Long): Unit = {
    b(i) = ((v >> 24) & 0xff).toByte; b(i + 1) = ((v >> 16) & 0xff).toByte
    b(i + 2) = ((v >> 8) & 0xff).toByte; b(i + 3) = (v & 0xff).toByte
  }
  private def putS32(b: Array[Byte], i: Int, v: Long): Unit =
    putU32(b, i, if (v < 0) 0x80000000L | -v else v)
  private def putFloat(b: Array[Byte], i: Int, v: Double): Unit =
    putU32(b, i, java.lang.Float.floatToIntBits(v.toFloat) & 0xffffffffL)
  /** Shape-of-earth octets 15-30: shape 6 for the standard sphere, shape 1
    * with a centimetre-scaled custom radius for other spheres, shape 7
    * (custom oblate, metre axes, centimetre-scaled) when a minor axis is
    * declared. */
  private def putShape(b: Array[Byte], radius: Double,
      minorAxis: Double = Double.NaN): Unit =
    if (minorAxis.isNaN || minorAxis == radius) {
      if (radius == GribProjection.EarthRadius) b(14) = 6
      else {
        b(14) = 1
        b(15) = 2 // scale factor: value in centimetres
        putU32(b, 16, math.round(radius * 100))
      }
    } else {
      b(14) = 7
      b(20) = 2 // major-axis scale factor: centimetres
      putU32(b, 21, math.round(radius * 100))
      b(25) = 2 // minor-axis scale factor: centimetres
      putU32(b, 26, math.round(minorAxis * 100))
    }

  private def writeU64(o: ByteArrayOutputStream, v: Long): Unit = {
    var i = 7
    while (i >= 0) { o.write(((v >> (i * 8)) & 0xff).toInt); i -= 1 }
  }
}
