package graft.sources.grib

/** GRIB edition 2 binary format (WMO FM 92 GRIB Edition 2, public spec) —
  * the edition most operational centers emit today (the reference's cfgrib
  * path reads both editions transparently; sinks.py:345-389).
  *
  * Supported surface, mirroring the edition-1 reader's scope: regular,
  * rotated, Gaussian, projected, spectral, and space-view grids (templates
  * 3.0/3.1/3.10/3.12/3.20/3.30/3.40/3.50/3.90), instant / ensemble /
  * probability /
  * statistically-processed products (templates 4.0/4.1/4.2/4.5/4.8/4.9/
  * 4.11), simple/complex/IEEE/JPEG2000/PNG/CCSDS/spectral packing with
  * optional bitmap, multiple fields per message (repeated sections 3-7).
  * Everything else raises a directed error.
  *
  * An edition-2 message is:
  *   Section 0 (16 B): "GRIB", reserved(2), discipline, edition=2,
  *                     total length (u64)
  *   Sections 1..7:    [length u32, number u8, body]; sections 3-7 may
  *                     repeat — each section 7 closes one FIELD using the
  *                     most recent 3/4/5/6
  *   "7777"
  * Value decode is the same fixed-point scheme as edition 1 —
  * (R + X * 2^E) / 10^D — but R is an IEEE float32, not IBM.
  */
object Grib2 {

  /** One decodable field (a section-7 occurrence with its context). */
  final case class Field(
      discipline: Int,
      refTimeEpochSec: Long,
      // grid (template 3.0)
      ni: Int, nj: Int,
      la1: Double, lo1: Double, la2: Double, lo2: Double,
      scanMode: Int,
      // product (template 4.0 / 4.8)
      paramCategory: Int,
      paramNumber: Int,
      timeUnit: Int,
      forecastTime: Int,
      levelTypeCode: Int,
      levelValue: Double,       // scaledValue / 10^scaleFactor
      statProcess: Int,         // -1 for template 4.0 (instant)
      intervalEndEpochSec: Long, // template 4.8 only; else -1
      // representation (template 5.0)
      refValue: Double,
      binaryScale: Int,
      decimalScale: Int,
      bitsPerValue: Int,
      // spans for task-side ranged reads
      bitmapOffset: Long,       // -1 when absent
      bitmapBytes: Int,
      dataOffset: Long,
      dataBytes: Int,
      // data representation: 0 simple, 2 complex, 3 complex + spatial diff,
      // 41 PNG, 42 CCSDS
      reprTemplate: Int = 0,
      complex: Option[ComplexPacking] = None,
      ccsds: Option[(Int, Int, Int)] = None, // (flags, blockSize, rsi)
      gaussianN: Int = 0, // template 3.40: parallels pole->equator; 0 = 3.0
      pl: Option[Array[Int]] = None, // reduced grid: points per row
      projection: Option[GribProjection] = None, // 3.10/3.20/3.30 grids
      dxMeters: Double = 0, dyMeters: Double = 0,
      ensembleMember: Int = -1, // templates 4.1/4.11; -1 = deterministic
      spectral: Option[Spectral] = None, // 3.50 + 5.50/5.51 spectral fields
      // templates 4.5/4.9: (probability type per code table 4.9,
      // lower limit, upper limit); NaN = limit not in use
      probability: Option[(Int, Double, Double)] = None,
      // scan-angle plane coords of the FIRST grid point (template 3.90,
      // whose corners may be off-earth so forward(la1, lo1) cannot anchor)
      planeOrigin: Option[(Double, Double)] = None)
      extends GribUnit {

    def nPoints: Int = pl.map(_.sum).getOrElse(ni * nj)

    override def spectralM: Option[Int] = spectral.map(_.m)

    @transient private lazy val rowStarts: Array[Int] =
      pl.map(_.scanLeft(0)(_ + _)).getOrElse(Array.empty)

    @transient private lazy val projOrigin: (Double, Double) =
      planeOrigin.getOrElse(
        projection.map(_.forward(la1, lo1)).getOrElse((0.0, 0.0)))

    /** Projected grids walk meters from the first point; rotated lat/lon
      * grids (3.1) interpolate in the ROTATED frame (la1..lo2 are rotated
      * coordinates) then unrotate to true lat/lon; reduced rows span the
      * full circle from lo1 with per-row spacing; rectangular grids
      * interpolate. */
    override def coordOf(k: Int): (Double, Double) = projection match {
      case Some(r: GribProjection.RotatedLatLon) =>
        val (latR, lonR) = gridCoordOf(k)
        r.inverse(lonR, latR)
      case Some(proj) =>
        val (x0, y0) = projOrigin
        proj.inverse(x0 + (k % ni) * dxMeters, y0 + (k / ni) * dyMeters)
      case None => gridCoordOf(k)
    }

    /** (lat, lon) of point `k` in the grid's OWN frame (rotated for 3.1). */
    private def gridCoordOf(k: Int): (Double, Double) = pl match {
      case None => (latOf(k / ni), lonOf(k % ni))
      case Some(counts) =>
        var j = java.util.Arrays.binarySearch(rowStarts, k)
        if (j < 0) j = -j - 2 // insertion point - 1 = containing row
        val i = k - rowStarts(j)
        (latOf(j), lo1 + i * 360.0 / counts(j))
    }

    private[grib] def gridKey: String =
      s"2|$ni|$nj|$la1|$lo1|$la2|$lo2|$gaussianN|${pl.map(_.mkString(","))}|" +
        s"$projection|$dxMeters|$dyMeters|$planeOrigin"

    def decode(data: Array[Byte], bitmap: Array[Byte]): Array[Double] =
      Grib2.decodeValues(this, data, bitmap)

    /** cfgrib typeOfLevel names (GRIB2 code table 4.5 subset). */
    def levelName: String = levelTypeCode match {
      case 1 => "surface"
      case 2 => "cloudBase"
      case 3 => "cloudTop"
      case 100 => "isobaricInhPa"
      case 101 => "meanSea"
      case 103 => "heightAboveGround"
      case 106 => "depthBelowLandLayer"
      case 200 => "entireAtmosphere"
      case other => s"level$other"
    }

    /** Height in cfgrib's reporting unit: isobaric Pa -> hPa, else the
      * scaled value as-is (metres). */
    def levelHeight: Double =
      if (levelTypeCode == 100) levelValue / 100.0 else levelValue

    /** Statistical process (code table 4.10) -> cfgrib stepType. */
    def stepType: String = statProcess match {
      case -1 | 254 => "instant"
      case 0 => "avg"
      case 1 => "accum"
      case 2 => "max"
      case 3 => "min"
      case _ => "instant"
    }

    /** Valid time: template 4.8 encodes the interval END explicitly; 4.0 is
      * reference + forecastTime (code table 4.4 shares GRIB1's units). */
    def validTimeEpochSec: Long =
      if (intervalEndEpochSec >= 0) intervalEndEpochSec
      else refTimeEpochSec + forecastTime.toLong * Grib1.timeUnitSeconds(timeUnit)

    /** shortName from (discipline, category, number) — WMO table 4.2 subset
      * — with cfgrib's surface-variable conventions (t at 2 m -> 2t, u/v at
      * 10 m -> 10u/10v). Unknown parameters keep a synthesized name. */
    def shortName: String = {
      val base = (discipline, paramCategory, paramNumber) match {
        case (0, 0, 0) => "t"
        case (0, 0, 6) => "2d"
        case (0, 1, 1) => "r"
        case (0, 1, 8) => "tp"
        case (0, 2, 2) => "u"
        case (0, 2, 3) => "v"
        case (0, 3, 0) => "pres"
        case (0, 3, 1) => "msl"
        case (0, 3, 5) => "gh"
        case (0, 6, 1) => "tcc"
        case (2, 0, 0) => "lsm"
        case (d, c, n) => s"p${d}_${c}_$n"
      }
      val named = (base, levelTypeCode, levelValue) match {
        case ("t", 103, 2.0) => "2t"
        case ("2d", 103, 2.0) => "2d"
        case ("u", 103, 10.0) => "10u"
        case ("v", 103, 10.0) => "10v"
        case _ => base
      }
      // ensemble members (templates 4.1/4.11) demux into per-member
      // channels for the wide merge — cfgrib's `number` coordinate
      // re-expressed in the flat row model; derived products (4.2) name
      // by the eccodes dataType convention (em = mean, es = spread)
      val withEns =
        if (ensembleMember >= 1000) ensembleMember - 1000 match {
          case 0 => s"${named}_em"
          case 4 => s"${named}_es"
          case t => s"${named}_ed$t"
        }
        else if (ensembleMember >= 0) s"${named}_m$ensembleMember" else named
      // probability products (4.5/4.9) demux into per-threshold channels:
      // _p<type>[_l<lower>][_u<upper>], limits with '.'->'p' / '-'->'m'
      // so the name stays a valid merge column
      probability match {
        case Some((t, lo, up)) =>
          def fmt(v: Double): String = {
            val s0 =
              if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
              else v.toString
            s0.replace('-', 'm').replace('.', 'p')
          }
          val l = if (lo.isNaN) "" else s"_l${fmt(lo)}"
          val u = if (up.isNaN) "" else s"_u${fmt(up)}"
          s"${withEns}_p$t$l$u"
        case None => withEns
      }
    }

    @transient private lazy val gaussLats: Array[Double] =
      if (gaussianN > 0) GaussianGrid.rowLatitudes(gaussianN, la1, nj) else null

    def latOf(j: Int): Double =
      if (gaussianN > 0) gaussLats(j)
      else if (nj == 1) la1 else la1 + (la2 - la1) * j / (nj - 1)
    def lonOf(i: Int): Double =
      if (ni == 1) lo1 else lo1 + (lo2 - lo1) * i / (ni - 1)
  }

  /** Spherical-harmonic spectral field (grid template 3.50 + data
    * representation 5.50 simple / 5.51 complex BIFS). Triangular truncation
    * (J = K = M) — what ECMWF's IFS emits; coefficients stream in
    * m = 0..M, n = m..M order as (real, imaginary) pairs. */
  final case class Spectral(
      j: Int, k: Int, m: Int,
      template: Int,            // 50 | 51
      realPart00: Double = 0.0, // 5.50: stored in section 5, not packed
      laplacianP: Double = 0.0, // 5.51: packed values scaled by (n(n+1))^p
      subT: Int = -1,           // 5.51: sub-truncation (Js = Ks = Ms)
      ts: Int = 0,              // 5.51: values stored unpacked (IEEE)
      subPrecision: Int = 1) {  // 5.51: code table 5.7 (1 = IEEE-32)
    def nCoeff: Int = (m + 1) * (m + 2) / 2
    def nValues: Int = 2 * nCoeff
  }

  /** Template 5.2/5.3 parameters (WMO FM 92 GRIB2 section 5). */
  final case class ComplexPacking(
      groupSplitting: Int,      // 1 = general group splitting
      missingMgmt: Int,         // 0 = none (bitmap handles missing)
      ng: Int,                  // number of groups
      groupWidthRef: Int,
      groupWidthBits: Int,
      groupLengthRef: Long,
      groupLengthInc: Int,
      lastGroupLength: Long,
      groupLengthBits: Int,
      spatialOrder: Int,        // 0 for 5.2; 1|2 for 5.3
      extraOctets: Int)         // width of 5.3's initial values + minimum

  import Grib1.{u8, u16, UnsupportedGrib}

  def u32(b: Array[Byte], i: Int): Long =
    (u16(b, i).toLong << 16) | u16(b, i + 2)
  def u64(b: Array[Byte], i: Int): Long =
    (u32(b, i) << 32) | u32(b, i + 4)

  /** GRIB2 signed fields are sign-and-magnitude, like edition 1. */
  def s32(b: Array[Byte], i: Int): Long = {
    val v = u32(b, i)
    if ((v & 0x80000000L) != 0) -(v & 0x7fffffffL) else v
  }

  def ieee32(b: Array[Byte], i: Int): Double =
    java.lang.Float.intBitsToFloat(u32(b, i).toInt).toDouble

  /** Row-major +i/-i +j/-j scans are handled by coordinate interpolation;
    * column-major (bit 3) and boustrophedonic (bit 4) orders would misplace
    * every non-first row's coordinates, so they fail fast instead. */
  private def checkScan(scan: Int): Unit = {
    if ((scan & 0x20) != 0) throw UnsupportedGrib(
      "scan mode bit 3 (adjacent points consecutive in j / column-major)")
    if ((scan & 0x10) != 0) throw UnsupportedGrib(
      "scan mode bit 4 (boustrophedonic row order)")
  }

  /** Earth figure (semi-major, semi-minor axis meters) from the grid
    * definition's shape-of-earth octets (code table 3.2, octets 15-30).
    * Spheres report equal axes; oblate shapes (2/3/4/5/7/9 — HARMONIE and
    * other regional NWP declare these) carry distinct axes and select the
    * ellipsoidal Snyder inverses in [[GribProjection]]. */
  private def earthFigure(b: Array[Byte]): (Double, Double) = {
    // sign-magnitude u8 scale factor + u32 scaled value
    def scaled(sfOff: Int, vOff: Int, what: String): Double = {
      val sfRaw = u8(b, sfOff)
      val sf = if ((sfRaw & 0x80) != 0) -(sfRaw & 0x7f) else sfRaw
      val v = u32(b, vOff)
      if (sfRaw == 255 || v == 0 || v == 0xffffffffL)
        throw UnsupportedGrib(s"shape of earth with a missing $what")
      v / math.pow(10.0, sf)
    }
    u8(b, 14) match {
      case 0 => (6367470.0, 6367470.0)
      case 1 => val r = scaled(15, 16, "radius"); (r, r)
      case 2 => (6378160.0, 6356775.0) // IAU 1965
      case 3 => // custom oblate, axes in KM (octets 21-30)
        (scaled(20, 21, "major axis") * 1000.0,
          scaled(25, 26, "minor axis") * 1000.0)
      case 4 => (6378137.0, 6356752.314) // IAG-GRS80
      case 5 => (6378137.0, 6356752.3142) // WGS 84
      case 6 => (6371229.0, 6371229.0)
      case 7 => // custom oblate, axes in M (octets 21-30)
        (scaled(20, 21, "major axis"), scaled(25, 26, "minor axis"))
      case 8 => (6371200.0, 6371200.0)
      case 9 => (6377563.396, 6356256.909) // OSGB Airy 1830
      case other => throw UnsupportedGrib(s"shape of earth $other")
    }
  }

  /** Parse one edition-2 message starting at `fileOffset` through a
    * positioned span reader; returns the fields and the total length. */
  def parseMessage(read: (Long, Int) => Array[Byte],
      fileOffset: Long): (Seq[Field], Long) = {
    val is = read(fileOffset, 16)
    require(is(0) == 'G' && is(1) == 'R' && is(2) == 'I' && is(3) == 'B',
      s"not a GRIB message at offset $fileOffset")
    val discipline = u8(is, 6)
    val edition = u8(is, 7)
    require(edition == 2, s"edition $edition handed to the edition-2 parser")
    val total = u64(is, 8)

    var refTime = 0L
    // current 3/4/5/6 state
    final case class GridDef(ni: Int, nj: Int, la1: Double, lo1: Double,
      la2: Double, lo2: Double, scan: Int, gaussN: Int,
      pl: Option[Array[Int]] = None, proj: Option[GribProjection] = None,
      dx: Double = 0, dy: Double = 0, jkm: Option[(Int, Int, Int)] = None,
      planeOrigin: Option[(Double, Double)] = None)
    var grid: Option[GridDef] = None
    var prod: Option[(Int, Int, Int, Int, Int, Double, Int, Long, Int)] = None
    // 4.5/4.9: (probability type, lower limit, upper limit)
    var prodProb: Option[(Int, Double, Double)] = None
    var repr: Option[(Double, Int, Int, Int, Int, Option[ComplexPacking])] = None
    var ccsdsParams: Option[(Int, Int, Int)] = None
    // 5.50: realPart00; 5.51: (p, subT, ts, precision)
    var spectral5: Option[(Double, Double, Int, Int, Int)] = None
    var bitmapOffset = -1L
    var bitmapBytes = 0

    val fields = Seq.newBuilder[Field]
    var cur = fileOffset + 16
    val end = fileOffset + total - 4 // "7777"
    while (cur < end) {
      val head = read(cur, 5)
      val secLen = u32(head, 0)
      val secNum = u8(head, 4)
      secNum match {
        case 1 =>
          val b = read(cur, math.min(secLen, 21L).toInt)
          val year = u16(b, 12)
          refTime = java.time.LocalDateTime.of(year, u8(b, 14), u8(b, 15),
            u8(b, 16), u8(b, 17), u8(b, 18))
            .toEpochSecond(java.time.ZoneOffset.UTC)
        case 2 => // local use — skip
        case 3 =>
          val b = read(cur, math.min(secLen, 85L).toInt)
          val template = u16(b, 12)
          template match {
            case 0 | 1 | 40 =>
              val listOctets = u8(b, 10)
              val listInterp = u8(b, 11)
              val niRaw = u32(b, 30)
              val nj = u32(b, 34).toInt
              // basic angle (octets 39-46): when set, coordinate octets are
              // in units of basic/subdivisions degrees instead of 1e-6 —
              // ignoring it would read silently wrong coordinates
              val basic = u32(b, 38)
              val subdiv = u32(b, 42)
              val unit =
                if (basic == 0 || basic == 0xffffffffL ||
                  subdiv == 0 || subdiv == 0xffffffffL) 1e-6
                else basic.toDouble / subdiv.toDouble
              val la1 = s32(b, 46) * unit
              val lo1 = s32(b, 50) * unit
              val la2 = s32(b, 55) * unit
              val lo2 = s32(b, 59) * unit
              val scan = u8(b, 71)
              checkScan(scan)
              // 3.40 stores N (parallels pole->equator) where 3.0 stores Dj
              val n = if (template == 40) u32(b, 67).toInt else 0
              // 3.1 (rotated lat/lon): la1..lo2 are in the ROTATED frame;
              // the template appends the true-frame south pole of the
              // rotated system + the angle of rotation (octets 73-84)
              val rot: Option[GribProjection.RotatedLatLon] =
                if (template != 1) None
                else Some(GribProjection.RotatedLatLon(
                  s32(b, 72) / 1e6, s32(b, 76) / 1e6, ieee32(b, 80)))
              val missing = niRaw == 0xffffffffL || niRaw == 0
              // reduced (quasi-regular) grid: ni missing + points-per-row
              // list (interpretation 1, code table 3.11) after the template
              if (missing) {
                if (listOctets == 0 || listInterp != 1)
                  throw UnsupportedGrib("grid with missing Ni and no " +
                    "points-per-row list (quasi-regular interpretation " +
                    s"$listInterp, list octets $listOctets)")
                val lb = read(cur + (if (template == 1) 84 else 72),
                  nj * listOctets)
                val counts = Array.tabulate(nj) { r =>
                  listOctets match {
                    case 1 => u8(lb, r)
                    case 2 => u16(lb, r * 2)
                    case 4 => u32(lb, r * 4).toInt
                    case o => throw UnsupportedGrib(s"PL list entry width $o")
                  }
                }
                grid = Some(GridDef(counts.max, nj, la1, lo1, la2, lo2, scan,
                  n, pl = Some(counts), proj = rot))
              } else grid = Some(GridDef(niRaw.toInt, nj, la1, lo1, la2, lo2,
                scan, n, proj = rot))
            case 10 =>
              // Mercator: Ni/Nj + first point + LaD true-scale + Di/Dj mm
              val nx = u32(b, 30).toInt
              val ny = u32(b, 34).toInt
              val la1 = s32(b, 38) / 1e6
              val lo1 = s32(b, 42) / 1e6
              val lad = s32(b, 47) / 1e6
              val scan = u8(b, 59)
              checkScan(scan)
              val dx = u32(b, 64) / 1000.0
              val dy = u32(b, 68) / 1000.0
              val dySigned = if ((scan & 0x40) != 0) dy else -dy
              val dxSigned = if ((scan & 0x80) == 0) dx else -dx
              val (axA, axB) = earthFigure(b)
              grid = Some(GridDef(nx, ny, la1, lo1, la1, lo1, scan, 0,
                proj = Some(GribProjection.Mercator(lad, axA, axB)),
                dx = dxSigned, dy = dySigned))
            case 20 | 30 | 31 =>
              // polar stereographic / Lambert conformal / Albers equal
              // area: Nx/Ny + first point + LaD/LoV + Dx/Dy millimeters
              // (+ Latin1/2 for 3.30/3.31 — 3.31 shares 3.30's layout)
              val nx = u32(b, 30).toInt
              val ny = u32(b, 34).toInt
              val la1 = s32(b, 38) / 1e6
              val lo1 = s32(b, 42) / 1e6
              val lad = s32(b, 47) / 1e6
              val lov = s32(b, 51) / 1e6
              val dx = u32(b, 55) / 1000.0
              val dy = u32(b, 59) / 1000.0
              val centre = u8(b, 63)
              val scan = u8(b, 64)
              checkScan(scan)
              val (axA, axB) = earthFigure(b)
              val proj: GribProjection =
                if (template == 20)
                  GribProjection.PolarStereographic(lad, lov,
                    south = (centre & 0x80) != 0, radius = axA,
                    minorAxis = axB)
                else {
                  val latin1 = s32(b, 65) / 1e6
                  val latin2 = s32(b, 69) / 1e6
                  if (template == 30)
                    GribProjection.LambertConformal(latin1, latin2, lov,
                      radius = axA, minorAxis = axB)
                  else
                    GribProjection.AlbersEqualArea(latin1, latin2, lov,
                      radius = axA, minorAxis = axB)
                }
              // scan bits: 0x40 = +j (rows south->north), 0x80 = -i
              val dySigned = if ((scan & 0x40) != 0) dy else -dy
              val dxSigned = if ((scan & 0x80) == 0) dx else -dx
              grid = Some(GridDef(nx, ny, la1, lo1, la1, lo1, scan, 0,
                proj = Some(proj), dx = dxSigned, dy = dySigned))
            case 140 =>
              // Lambert azimuthal equal area (the EFAS/CEMS EPSG:3035-
              // style grids): Nx/Ny + first point + standard parallel +
              // central longitude + Dx/Dy millimeters
              val nx = u32(b, 30).toInt
              val ny = u32(b, 34).toInt
              val la1 = s32(b, 38) / 1e6
              val lo1 = s32(b, 42) / 1e6
              val sp = s32(b, 47) / 1e6
              val cl = s32(b, 51) / 1e6
              val dx = u32(b, 55) / 1000.0
              val dy = u32(b, 59) / 1000.0
              val scan = u8(b, 63)
              checkScan(scan)
              val (axA, axB) = earthFigure(b)
              val dySigned = if ((scan & 0x40) != 0) dy else -dy
              val dxSigned = if ((scan & 0x80) == 0) dx else -dx
              grid = Some(GridDef(nx, ny, la1, lo1, la1, lo1, scan, 0,
                proj = Some(GribProjection.LambertAzimuthalEqualArea(
                  sp, cl, radius = axA, minorAxis = axB)),
                dx = dxSigned, dy = dySigned))
            case 12 =>
              // transverse Mercator (the UKMO national-grid template):
              // reference point (lat0, lon0) with declared plane coords
              // (XR, YR) and scale k0 (IEEE float); first point and steps
              // in centimetres of the projected plane. k0 folds in by
              // scaling the semi-axes (lengths are linear in `a` at fixed
              // eccentricity); the first point's geodetic coordinates are
              // recovered once here so the standard projected-grid walk
              // (forward la1/lo1, step Di/Dj) applies unchanged.
              val nx = u32(b, 30).toInt
              val ny = u32(b, 34).toInt
              val lat0 = s32(b, 38) / 1e6
              val lon0 = s32(b, 42) / 1e6
              val k0 = ieee32(b, 47)
              val xr = s32(b, 51) / 100.0
              val yr = s32(b, 55) / 100.0
              val scan = u8(b, 59)
              checkScan(scan)
              val dx = u32(b, 60) / 100.0
              val dy = u32(b, 64) / 100.0
              val x1 = s32(b, 68) / 100.0
              val y1 = s32(b, 72) / 100.0
              val (axA, axB) = earthFigure(b)
              val tm = GribProjection.TransverseMercator(lon0,
                axA * k0, axB * k0)
              val (fx0, fy0) = tm.forward(lat0, lon0)
              val (la1, lo1) = tm.inverse(x1 - xr + fx0, y1 - yr + fy0)
              val dySigned = if ((scan & 0x40) != 0) dy else -dy
              val dxSigned = if ((scan & 0x80) == 0) dx else -dx
              grid = Some(GridDef(nx, ny, la1, lo1, la1, lo1, scan, 0,
                proj = Some(tm), dx = dxSigned, dy = dySigned))
            case 90 =>
              // space view / geostationary (the Meteosat full-disk
              // template): the grid is SCAN ANGLES from the satellite;
              // per-pixel step = apparent disk diameter 2·asin(1/Nr) over
              // `dx` grid lengths, sub-satellite pixel at (Xp, Yp) in
              // millipixels. The first pixel's plane coords anchor the walk
              // directly (disk corners are off-earth, so no geodetic first
              // point exists); off-limb pixels decode NaN coordinates.
              val nx = u32(b, 30).toInt
              val ny = u32(b, 34).toInt
              val lap = s32(b, 38) / 1e6
              val lop = s32(b, 42) / 1e6
              if (lap != 0) throw UnsupportedGrib(
                s"space view with non-equatorial sub-satellite latitude $lap")
              val dxRaw = u32(b, 47)
              val dyRaw = u32(b, 51)
              val xp = s32(b, 55) / 1000.0
              val yp = s32(b, 59) / 1000.0
              val scan = u8(b, 63)
              checkScan(scan)
              if ((scan & 0x80) != 0) throw UnsupportedGrib(
                "space view with -i scan (bit 1) — sector anchoring is " +
                  "defined for west-to-east rows only")
              val orient = u32(b, 64)
              if (orient != 0) throw UnsupportedGrib(
                s"space view with grid orientation $orient")
              val nrRaw = u32(b, 68)
              if (nrRaw == 0xffffffffL || nrRaw == 0) throw UnsupportedGrib(
                "space view from infinity (orthographic)")
              val xo = u32(b, 72)
              val yo = u32(b, 76)
              val (axA, axB) = earthFigure(b)
              val nr = nrRaw * 1e-6 // camera distance in semi-major axes
              val geos = GribProjection.Geostationary(lop, (nr - 1.0) * axA,
                sweepX = false, axA, axB)
              val halfDisk = math.asin(1.0 / nr)
              val rx = 2 * halfDisk / dxRaw
              val ry = 2 * halfDisk / dyRaw
              val plusJ = (scan & 0x40) != 0
              val x1 = (xo - xp) * rx
              val y1 = if (plusJ) (yo - yp) * ry else (yp - yo) * ry
              grid = Some(GridDef(nx, ny, lap, lop, lap, lop, scan, 0,
                proj = Some(geos), dx = rx, dy = if (plusJ) ry else -ry,
                planeOrigin = Some((x1, y1))))
            case 50 =>
              // spherical harmonics: J/K/M pentagonal resolution parameters
              val j = u32(b, 14).toInt
              val k = u32(b, 18).toInt
              val m = u32(b, 22).toInt
              if (!(j == k && k == m))
                throw UnsupportedGrib(s"spectral pentagonal truncation " +
                  s"J=$j K=$k M=$m (triangular J=K=M only)")
              if (m < 0 || m > 10000) // TCo7999 is the operational ceiling
                throw UnsupportedGrib(s"spectral truncation M=$m out of range")
              val nCoeff = (m + 1) * (m + 2) / 2
              grid = Some(GridDef(2 * nCoeff, 1, 0, 0, 0, 0, 0, 0,
                jkm = Some((j, k, m))))
            case other =>
              throw UnsupportedGrib(s"grid template 3.$other " +
                "(3.0 lat/lon, 3.1 rotated lat/lon, 3.10 Mercator, " +
                "3.12 transverse Mercator, 3.20 polar stereographic, " +
                "3.30 Lambert conformal, 3.40 regular/reduced Gaussian, " +
                "3.50 spherical harmonics, 3.90 space view)")
          }
        case 4 =>
          val b = read(cur, math.min(secLen, 64L).toInt)
          val template = u16(b, 7)
          // 4.0 instant / 4.1 individual ensemble member / 4.2 derived
          // ensemble (mean/spread) / 4.5 probability forecast / 4.8
          // statistical interval / 4.9 probability over an interval / 4.11
          // ensemble member over an interval — the ensemble templates
          // insert octets after octet 34 (4.1/4.11: type + perturbation +
          // count; 4.2: derived type + count; 4.5/4.9: the 13-octet
          // probability block) and shift interval fields
          if (template != 0 && template != 1 && template != 2 &&
            template != 5 && template != 8 && template != 9 &&
            template != 11 && template != 12)
            throw UnsupportedGrib(
              s"product template 4.$template (4.0/4.1/4.2/4.5/4.8/4.9/4.11/4.12)")
          val cat = u8(b, 9)
          val num = u8(b, 10)
          val timeUnit = u8(b, 17)
          val fcst = s32(b, 18).toInt
          val levelType = u8(b, 22)
          // sign-magnitude scale factor; 255 / all-ones scaled value = missing
          val levelScaleRaw = u8(b, 23)
          val levelScaledRaw = u32(b, 24)
          val levelValue =
            if (levelScaleRaw == 255 || levelScaledRaw == 0xffffffffL) 0.0
            else {
              val scale = if ((levelScaleRaw & 0x80) != 0) -(levelScaleRaw & 0x7f)
                else levelScaleRaw
              s32(b, 24) / math.pow(10.0, scale)
            }
          val ensemble = template == 1 || template == 11
          // derived ensemble (4.2): member slot carries 1000 + derived type
          // (code table 4.7: 0 mean, 4 spread, ...) to keep channels distinct
          val member =
            if (ensemble) u8(b, 35)
            else if (template == 2 || template == 12) 1000 + u8(b, 34)
            else -1
          // probability templates (4.5/4.9): probability type (code table
          // 4.9) + sign-magnitude-scaled lower/upper limits (255/all-ones
          // scale/value = limit not in use -> NaN)
          val probTmpl = template == 5 || template == 9
          prodProb =
            if (!probTmpl) None
            else {
              def limit(off: Int): Double = {
                val sc = u8(b, off)
                val raw = u32(b, off + 1)
                if (sc == 255 || raw == 0xffffffffL) Double.NaN
                else {
                  val scale = if ((sc & 0x80) != 0) -(sc & 0x7f) else sc
                  s32(b, off + 1) / math.pow(10.0, scale)
                }
              }
              Some((u8(b, 36), limit(37), limit(42)))
            }
          val shift =
            if (ensemble) 3 else if (template == 2 || template == 12) 2
            else if (probTmpl) 13 else 0
          var statProcess = -1
          var intervalEnd = -1L
          if (template == 8 || template == 9 || template == 11 ||
            template == 12) {
            intervalEnd = java.time.LocalDateTime.of(
              u16(b, 34 + shift), u8(b, 36 + shift), u8(b, 37 + shift),
              u8(b, 38 + shift), u8(b, 39 + shift), u8(b, 40 + shift))
              .toEpochSecond(java.time.ZoneOffset.UTC)
            statProcess = u8(b, 46 + shift)
          }
          prod = Some((cat, num, timeUnit, fcst, levelType, levelValue,
            statProcess, intervalEnd, member))
        case 5 =>
          val b = read(cur, math.min(secLen, 49L).toInt)
          val template = u16(b, 9)
          template match {
            case 0 =>
              repr = Some((ieee32(b, 11), Grib1.s16(b, 15), Grib1.s16(b, 17),
                u8(b, 19), 0, None))
            case 4 => // IEEE floating point (code table 5.7 precision); the
              // section-7 payload is raw big-endian floats, no R/E/D scaling
              val precBits = u8(b, 11) match {
                case 1 => 32
                case 2 => 64
                case p => throw UnsupportedGrib(
                  s"IEEE packing precision code $p (1 = 32-bit, 2 = 64-bit)")
              }
              repr = Some((0.0f, 0, 0, precBits, 4, None))
            case 41 => // PNG packing: same R/E/D/depth layout as 5.0, the
              // section-7 payload is a PNG image of the scaled X values
              repr = Some((ieee32(b, 11), Grib1.s16(b, 15), Grib1.s16(b, 17),
                u8(b, 19), 41, None))
            case 42 => // CCSDS/AEC: R/E/D/bits + flags, block size, RSI
              ccsdsParams = Some((u8(b, 21), u8(b, 22), u16(b, 23)))
              repr = Some((ieee32(b, 11), Grib1.s16(b, 15), Grib1.s16(b, 17),
                u8(b, 19), 42, None))
            case 2 | 3 =>
              val cp = ComplexPacking(
                groupSplitting = u8(b, 21),
                missingMgmt = u8(b, 22),
                ng = u32(b, 31).toInt,
                groupWidthRef = u8(b, 35),
                groupWidthBits = u8(b, 36),
                groupLengthRef = u32(b, 37),
                groupLengthInc = u8(b, 41),
                lastGroupLength = u32(b, 42),
                groupLengthBits = u8(b, 46),
                spatialOrder = if (template == 3) u8(b, 47) else 0,
                extraOctets = if (template == 3) u8(b, 48) else 0)
              if (cp.missingMgmt != 0)
                throw UnsupportedGrib(
                  s"complex packing missing-value management ${cp.missingMgmt} " +
                    "(bitmap-signalled missing only)")
              if (template == 3 && (cp.spatialOrder < 1 || cp.spatialOrder > 2))
                throw UnsupportedGrib(
                  s"spatial differencing order ${cp.spatialOrder} (1 or 2)")
              repr = Some((ieee32(b, 11), Grib1.s16(b, 15), Grib1.s16(b, 17),
                u8(b, 19), template, Some(cp)))
            case 40 => // JPEG2000: R/E/D/depth as 5.0, then compression type
              val ctype = u8(b, 21)
              if (ctype != 0)
                throw UnsupportedGrib(
                  s"JPEG2000 lossy compression (type $ctype) — only lossless " +
                    "(type 0) is packed by operational centres and supported here")
              repr = Some((ieee32(b, 11), Grib1.s16(b, 15), Grib1.s16(b, 17),
                u8(b, 19), 40, None))
            case 50 => // spectral simple: R/E/D/bits + real part of (0,0)
              if (b.length < 24)
                throw UnsupportedGrib(
                  s"truncated spectral 5.50 section (${b.length} bytes)")
              spectral5 = Some((ieee32(b, 20), 0.0, -1, 0, 1))
              repr = Some((ieee32(b, 11), Grib1.s16(b, 15), Grib1.s16(b, 17),
                u8(b, 19), 50, None))
            case 51 => // spectral complex (BIFS): Laplacian P + sub-truncation
              if (b.length < 35)
                throw UnsupportedGrib(
                  s"truncated spectral 5.51 section (${b.length} bytes)")
              val p = s32(b, 20) / 1e6
              val js = u16(b, 24); val ks = u16(b, 26); val ms = u16(b, 28)
              if (!(js == ks && ks == ms))
                throw UnsupportedGrib(s"spectral sub-truncation Js=$js Ks=$ks " +
                  s"Ms=$ms (triangular only)")
              spectral5 = Some((0.0, p, js, u32(b, 30).toInt, u8(b, 34)))
              repr = Some((ieee32(b, 11), Grib1.s16(b, 15), Grib1.s16(b, 17),
                u8(b, 19), 51, None))
            case other =>
              throw UnsupportedGrib(s"data representation template 5.$other " +
                "(supported: 5.0 simple, 5.2 complex, 5.3 complex + spatial " +
                "differencing, 5.4 IEEE float, 5.40 JPEG2000 lossless, " +
                "5.41 PNG, 5.42 CCSDS, 5.50/5.51 spectral)")
          }
        case 6 =>
          val b = read(cur, 6)
          u8(b, 5) match {
            case 255 => bitmapOffset = -1; bitmapBytes = 0
            case 0 => bitmapOffset = cur + 6; bitmapBytes = (secLen - 6).toInt
            case 254 => // keep previously defined bitmap
            case other => throw UnsupportedGrib(s"predefined bitmap indicator $other")
          }
        case 7 =>
          val gd = grid.getOrElse(
            throw UnsupportedGrib("section 7 before any grid definition"))
          import gd.{ni, nj, la1, lo1, la2, lo2, scan, gaussN}
          val (cat, num, timeUnit, fcst, levelType, levelValue, statP, intEnd,
            member) = prod.getOrElse(
            throw UnsupportedGrib("section 7 before any product definition"))
          val (refV, binS, decS, bits, reprT, cp) = repr.getOrElse(
            throw UnsupportedGrib("section 7 before any data representation"))
          val spectral: Option[Spectral] =
            if (reprT == 50 || reprT == 51) {
              val (j, k, m) = gd.jkm.getOrElse(throw UnsupportedGrib(
                s"spectral representation 5.$reprT without a 3.50 grid"))
              val (r00, p, subT, ts, prec) = spectral5.getOrElse(
                throw UnsupportedGrib("spectral section 7 before section 5"))
              Some(Spectral(j, k, m, reprT, r00, p, subT, ts, prec))
            } else if (gd.jkm.isDefined)
              throw UnsupportedGrib(
                s"3.50 spectral grid with representation template 5.$reprT " +
                  "(5.50/5.51 expected)")
            else None
          fields += Field(discipline, refTime, ni, nj, la1, lo1, la2, lo2, scan,
            cat, num, timeUnit, fcst, levelType, levelValue, statP, intEnd,
            refV, binS, decS, bits, bitmapOffset, bitmapBytes,
            cur + 5, (secLen - 5).toInt, reprT, cp,
            if (reprT == 42) ccsdsParams else None, gaussN, gd.pl,
            gd.proj, gd.dx, gd.dy, member, spectral, prodProb,
            gd.planeOrigin)
        case 8 => // should not appear as a section header; defensive
          throw UnsupportedGrib(s"unexpected section number 8 at offset $cur")
        case other =>
          throw UnsupportedGrib(s"unknown section number $other at offset $cur")
      }
      cur += secLen
    }
    (fields.result(), total)
  }

  /** Decode a field's values (bitmap zeros -> NaN), grid scan order: the
    * template produces the X of the present points (IEEE: their values)
    * and [[GribPacking]] masks, checks and scales them. */
  def decodeValues(f: Field, data: Array[Byte], bitmap: Array[Byte]): Array[Double] = {
    val t = f.reprTemplate
    if (t == 50 || t == 51) return decodeSpectral(f, data)
    val pts = new GribPacking.Points(s"template 5.$t", f.nPoints,
      if (f.bitmapOffset >= 0) bitmap else null)
    val xs = t match {
      case 0 => pts.unpack(data, f.bitsPerValue)
      case 2 | 3 => complexXs(f, data, pts)
      case 4 => return pts.place(ieeeValues(f, data, pts))
      case 40 => Jpeg2000.decode(data).samples
      case 41 => Png.decode(data).samples
      case 42 => ccsdsXs(f, data, pts)
      case other => throw UnsupportedGrib(s"data representation template 5.$other")
    }
    pts.scatter(xs, f.refValue, f.binaryScale, f.decimalScale)
  }

  /** Templates 7.50/7.51: spherical-harmonic coefficient values, stream
    * order m = 0..M, n = m..M, (re, im) pairs.
    *  - 5.50: the real part of (0,0) lives in section 5; the remaining
    *    2I - 1 values are simple-packed.
    *  - 5.51: the sub-truncation n <= subT is stored as raw IEEE-32 floats
    *    (exact); the rest were multiplied by (n(n+1))^p and simple-packed —
    *    decode divides the scaling back out. */
  private def decodeSpectral(f: Field, data: Array[Byte]): Array[Double] = {
    val sp = f.spectral.getOrElse(
      throw UnsupportedGrib("spectral data without 3.50/5.50 context"))
    val nVals = sp.nValues
    if (sp.template == 51 && sp.subPrecision != 1)
      throw UnsupportedGrib(
        s"spectral subset precision code ${sp.subPrecision} (1 = IEEE-32)")
    // 5.50 packs every value but the first; 5.51 every value after its subset
    val (nPacked, startBit) =
      if (sp.template == 50) (nVals - 1, 0L) else (math.max(0, nVals - sp.ts), sp.ts * 32L)
    val pts = new GribPacking.Points(s"template 5.${sp.template}", nPacked, null)
    val packed = pts.scatter(pts.unpack(data, f.bitsPerValue, startBit), f.refValue,
      f.binaryScale, f.decimalScale)
    if (sp.template == 50) return sp.realPart00 +: packed
    val out = new Array[Double](nVals)
    var vi = 0; var si = 0; var pi = 0
    var m = 0
    while (m <= sp.m) {
      var n = m
      while (n <= sp.m) {
        val inSub = n <= sp.subT
        var c = 0
        while (c < 2) {
          if (inSub) { out(vi) = ieee32(data, si * 4); si += 1 }
          else {
            out(vi) = packed(pi) / math.pow(n.toDouble * (n + 1), sp.laplacianP)
            pi += 1
          }
          vi += 1; c += 1
        }
        n += 1
      }
      m += 1
    }
    if (si != sp.ts)
      throw UnsupportedGrib(s"spectral subset carries $si values, Ts = ${sp.ts}")
    out
  }

  /** Template 7.4: raw big-endian IEEE floats (32- or 64-bit per the
    * section-5 precision code) of the present points, raster order; no
    * reference/scale step applies. */
  private def ieeeValues(f: Field, data: Array[Byte],
      pts: GribPacking.Points): Array[Double] = {
    val bytesPer = f.bitsPerValue / 8
    pts.cover(data.length / bytesPer)
    val bb = java.nio.ByteBuffer.wrap(data)
    Array.tabulate(pts.count)(i =>
      if (bytesPer == 4) bb.getFloat(i * 4).toDouble else bb.getDouble(i * 8))
  }

  /** Template 7.42: AEC-coded X of the present points. */
  private def ccsdsXs(f: Field, data: Array[Byte], pts: GribPacking.Points): Array[Long] = {
    val (flags, blockSize, rsi) = f.ccsds.getOrElse(
      throw UnsupportedGrib("CCSDS field without coding parameters"))
    if ((flags & 1) != 0)
      throw UnsupportedGrib("CCSDS signed-sample flag in GRIB (unsigned X expected)")
    if ((flags & 16) != 0)
      throw UnsupportedGrib(
        "CCSDS restricted coding option (flag 16) — low-range ID tables not implemented")
    Ccsds.decode(data,
      Ccsds.Params(f.bitsPerValue, blockSize, rsi, preprocess = (flags & 8) != 0), pts.count)
  }

  /** Templates 7.2/7.3: [5.3 extra descriptors:] initial value(s) + overall
    * minimum, then NG group references / widths / scaled lengths, then the
    * groups' packed increments ([[GribPacking.Points.ungroup]]); 5.3 then
    * integrates its spatial differences back into X. */
  private def complexXs(f: Field, data: Array[Byte], pts: GribPacking.Points): Array[Long] = {
    val cp = f.complex.getOrElse(
      throw UnsupportedGrib("complex field without packing parameters"))
    val c = new GribPacking.BitCursor(data, 0)
    val order = cp.spatialOrder
    val initial = Array.fill(order)(c.readSignMagnitude(cp.extraOctets))
    val gmin = if (order > 0) c.readSignMagnitude(cp.extraOctets) else 0L
    val refs = GribPacking.unpack(c, f.bitsPerValue, cp.ng)
    val widths = Array.fill(cp.ng)(cp.groupWidthRef + c.read(cp.groupWidthBits).toInt)
    val lengths = Array.tabulate(cp.ng) { g =>
      val scaled = c.read(cp.groupLengthBits)
      if (g == cp.ng - 1) cp.lastGroupLength
      else cp.groupLengthRef + scaled * cp.groupLengthInc
    }
    val xs = pts.ungroup(c, refs, widths, lengths)
    if (order > 0) {
      // first `order` values come from the extra descriptors verbatim; the
      // rest add the overall minimum back and integrate the differences
      val n = xs.length
      var i = 0
      while (i < math.min(order, n)) { xs(i) = initial(i); i += 1 }
      var k = order
      while (k < n) {
        val d = xs(k) + gmin
        xs(k) = if (order == 1) d + xs(k - 1) else d + 2 * xs(k - 1) - xs(k - 2)
        k += 1
      }
    }
    xs
  }
}
