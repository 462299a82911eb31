package graft.sources.grib

/** GRIB edition 1 binary format (WMO FM 92-VIII Ext., public spec) — the
  * reference's primary real-world input: weather-mv's engine sniffing falls
  * back to cfgrib twice (weather_mv/loader_pipeline/sinks.py:345-389) and
  * weather-sp splits GRIB message-first
  * (weather_sp/splitter_pipeline/file_splitters.py:159-313).
  *
  * Supported surface (the reference's own fallback targets edition 1,
  * sinks.py:383-389): regular lat/lon grids, simple packing, optional
  * bitmap (BMS) for missing values. Spherical harmonics, complex packing,
  * and edition 2 raise directed errors.
  *
  * A GRIB1 message is IS ("GRIB", 3-byte total length, edition) + PDS
  * (parameter/level/time metadata) + optional GDS (grid geometry) +
  * optional BMS (presence bitmap) + BDS (packed values) + "7777".
  * Packed value k decodes as (R + X_k * 2^E) / 10^D with R an IBM-370
  * 32-bit float, E the binary scale (sign-magnitude 16-bit), D the decimal
  * scale from the PDS.
  */
object Grib1 {

  /** Everything needed to decode one message's grid without re-reading the
    * header: kept small so the driver can ship a Seq[Message] into tasks. */
  final case class Message(
      offset: Long,            // byte offset of "GRIB" in the file
      totalLength: Int,
      // PDS
      tableVersion: Int,
      centre: Int,
      paramId: Int,
      levelTypeCode: Int,
      levelRaw: Int,           // octets 11-12 as one unsigned 16-bit value
      refTimeEpochSec: Long,   // reference (analysis) time
      timeUnit: Int,
      p1: Int,
      p2: Int,
      timeRangeIndicator: Int,
      decimalScale: Int,
      // GDS (regular lat/lon)
      ni: Int, nj: Int,
      la1: Double, lo1: Double, la2: Double, lo2: Double,
      scanMode: Int,
      // BMS
      bitmapOffset: Long,      // -1 when absent
      bitmapBytes: Int,
      // BDS
      binaryScale: Int,
      refValue: Double,
      bitsPerValue: Int,
      dataOffset: Long,        // first byte of packed values in the file
      dataBytes: Int,          // (for second-order: the WHOLE BDS span)
      unusedBitsAtEnd: Int,
      secondOrder: Boolean = false,
      gaussianN: Int = 0,       // grid type 4: N; 0 = type 0
      pl: Option[Array[Int]] = None, // reduced grid: points per row
      spectral: Option[(Int, Int, Int)] = None, // grid type 50: J/K/M truncation
      rotated: Option[GribProjection.RotatedLatLon] = None, // grid type 10
      ensembleMember: Int = -1, // ECMWF local def 1 perturbation; -1 = det
      // grid types 1/3/5 (Mercator / Lambert conformal / polar stereo):
      // the plane walk from the first point, like the edition-2 templates
      projection: Option[GribProjection] = None,
      dxMeters: Double = 0, dyMeters: Double = 0)
      extends GribUnit {

    def nPoints: Int = pl.map(_.sum).getOrElse(ni * nj)

    override def spectralM: Option[Int] = spectral.map(_._3)

    @transient private lazy val rowStarts: Array[Int] =
      pl.map(_.scanLeft(0)(_ + _)).getOrElse(Array.empty)

    @transient private lazy val projOrigin: (Double, Double) =
      projection.map(_.forward(la1, lo1)).getOrElse((0.0, 0.0))

    /** Reduced rows span the full circle from lo1 with per-row spacing;
      * rotated grids (type 10) interpolate in the rotated frame then
      * unrotate to true lat/lon; projected grids (types 1/3/5) walk
      * meters from the first point. */
    override def coordOf(k: Int): (Double, Double) = {
      projection match {
        case Some(p) =>
          val (x0, y0) = projOrigin
          return p.inverse(x0 + (k % ni) * dxMeters, y0 + (k / ni) * dyMeters)
        case None =>
      }
      val (la, lo) = pl match {
        case None => (latOf(k / ni), lonOf(k % ni))
        case Some(counts) =>
          var j = java.util.Arrays.binarySearch(rowStarts, k)
          if (j < 0) j = -j - 2
          val i = k - rowStarts(j)
          (latOf(j), lo1 + i * 360.0 / counts(j))
      }
      rotated match {
        case Some(r) => r.inverse(lo, la)
        case None => (la, lo)
      }
    }

    private[grib] def gridKey: String =
      s"1|$ni|$nj|$la1|$lo1|$la2|$lo2|$gaussianN|${pl.map(_.mkString(","))}|" +
        s"$rotated|$projection|$dxMeters|$dyMeters"

    def decode(data: Array[Byte], bitmap: Array[Byte]): Array[Double] =
      Grib1.decodeValues(this, data, bitmap)

    /** cfgrib-style typeOfLevel name + level height in the unit cfgrib
      * reports (sinks.py:295-324 builds channel names from these). */
    def levelName: String = Grib1.levelName(levelTypeCode)
    def levelHeight: Double = Grib1.levelHeight(levelTypeCode, levelRaw)

    /** Short parameter name (WMO table 2 / ECMWF table 128 subset; unknown
      * ids render as `p<id>` so nothing is dropped). */
    def shortName: String = {
      val base = Grib1.shortName(tableVersion, paramId)
      // EPS members demux into per-member channels, same convention as the
      // edition-2 reader (templates 4.1/4.11)
      if (ensembleMember >= 0) s"${base}_m$ensembleMember" else base
    }

    /** cfgrib stepType from the time range indicator (GRIB1 table 5). */
    def stepType: String = timeRangeIndicator match {
      case 3 => "avg"
      case 4 => "accum"
      case _ => "instant"
    }

    /** Valid-time: reference time advanced by the forecast step (P2 ends the
      * interval for avg/accum, else P1), in the PDS time unit (table 4). */
    def validTimeEpochSec: Long = {
      val step = if (timeRangeIndicator == 3 || timeRangeIndicator == 4) p2 else p1
      refTimeEpochSec + step.toLong * timeUnitSeconds(timeUnit)
    }

    @transient private lazy val gaussLats: Array[Double] =
      if (gaussianN > 0) GaussianGrid.rowLatitudes(gaussianN, la1, nj) else null

    /** Latitude of row j / longitude of column i, by interpolating la1->la2
      * / lo1->lo2 (handles both scan directions without special-casing the
      * scanning-mode flags for the regular grids we support); Gaussian
      * grids (type 4) take the Legendre-root parallels instead. */
    def latOf(j: Int): Double =
      if (gaussianN > 0) gaussLats(j)
      else if (nj == 1) la1 else la1 + (la2 - la1) * j / (nj - 1)
    def lonOf(i: Int): Double =
      if (ni == 1) lo1 else lo1 + (lo2 - lo1) * i / (ni - 1)
  }

  final case class UnsupportedGrib(detail: String) extends
    UnsupportedOperationException(
      s"GRIB feature not supported by the pure-JVM reader: $detail")

  // ---------------------------------------------------------------- octets

  def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  def u16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  def u24(b: Array[Byte], i: Int): Int = (u16(b, i) << 8) | u8(b, i + 2)

  /** GRIB1 signed fields are sign-AND-MAGNITUDE: top bit is the sign. */
  def s16(b: Array[Byte], i: Int): Int = {
    val v = u16(b, i)
    if ((v & 0x8000) != 0) -(v & 0x7fff) else v
  }
  def s24(b: Array[Byte], i: Int): Int = {
    val v = u24(b, i)
    if ((v & 0x800000) != 0) -(v & 0x7fffff) else v
  }

  /** IBM System/370 32-bit float: sign(1) exponent(7, base 16, bias 64)
    * mantissa(24, no hidden bit): (-1)^s * (m / 2^24) * 16^(e-64). */
  def ibmFloat(b: Array[Byte], i: Int): Double = {
    val o = u8(b, i)
    val sign = if ((o & 0x80) != 0) -1.0 else 1.0
    val exp = o & 0x7f
    val mant = u24(b, i + 1)
    sign * mant.toDouble / (1 << 24).toDouble * math.pow(16.0, (exp - 64).toDouble)
  }

  /** Inverse of [[ibmFloat]] (fixture writer). Exact for the integer
    * reference values the writer emits. */
  def toIbmFloat(v: Double): Array[Byte] = {
    if (v == 0.0) return Array[Byte](0, 0, 0, 0)
    val sign = if (v < 0) 0x80 else 0
    var m = math.abs(v)
    var e = 64
    while (m >= 1.0) { m /= 16.0; e += 1 }
    while (m < 1.0 / 16.0) { m *= 16.0; e -= 1 }
    var mant = math.round(m * (1 << 24)).toInt
    if (mant == (1 << 24)) { mant >>= 4; e += 1 }
    require(e >= 0 && e <= 127, s"IBM float exponent out of range for $v")
    Array[Byte](((sign | e) & 0xff).toByte,
      ((mant >> 16) & 0xff).toByte, ((mant >> 8) & 0xff).toByte, (mant & 0xff).toByte)
  }

  // ---------------------------------------------------------------- tables

  /** GRIB1 table 4: forecast time units, in seconds. */
  def timeUnitSeconds(unit: Int): Long = unit match {
    case 0 => 60L          // minute
    case 1 => 3600L        // hour
    case 2 => 86400L       // day
    case 10 => 3L * 3600L  // 3 hours
    case 11 => 6L * 3600L  // 6 hours
    case 12 => 12L * 3600L // 12 hours
    case 13 => 900L        // 15 minutes
    case 14 => 1800L       // 30 minutes
    case 254 => 1L         // second
    case other => throw UnsupportedGrib(s"time unit code $other")
  }

  /** GRIB1 table 3 subset -> cfgrib typeOfLevel names (the names the
    * reference's channel synthesis concatenates, sinks.py:295-324). */
  def levelName(code: Int): String = code match {
    case 1 => "surface"
    case 2 => "cloudBase"
    case 3 => "cloudTop"
    case 4 => "isothermZero"
    case 100 => "isobaricInhPa"
    case 101 => "isobaricLayer"
    case 102 => "meanSea"
    case 103 => "heightAboveSea"
    case 105 => "heightAboveGround"
    case 106 => "heightAboveGroundLayer"
    case 111 => "depthBelowLand"
    case 112 => "depthBelowLandLayer"
    case 200 => "entireAtmosphere"
    case 214 => "lowCloudLayer"
    case 224 => "middleCloudLayer"
    case 234 => "highCloudLayer"
    case other => s"level$other"
  }

  /** Level height in cfgrib's reporting unit. Single-value types use the
    * 16-bit value directly (hPa for 100, metres for 103/105, cm for 111);
    * layer types split octets 11/12 into top/bottom — depthBelowLandLayer
    * reports the top depth in METRES (7 cm -> 0.07, the reference's
    * depthBelowLandLayer_0_07 example). */
  def levelHeight(code: Int, raw: Int): Double = code match {
    case 1 | 2 | 3 | 4 | 102 | 200 | 214 | 224 | 234 => 0.0
    case 112 => (raw >> 8) / 100.0            // top of layer, cm -> m
    case 111 => raw / 100.0                   // cm -> m
    case 101 | 106 => (raw >> 8).toDouble     // top of layer
    case _ => raw.toDouble
  }

  /** Parameter shortNames: WMO table 2 (versions 1-3) and the ECMWF local
    * table 128 subset the reference's pipelines touch; anything else keeps a
    * synthesized `p<id>` name (nothing is dropped). */
  def shortName(tableVersion: Int, paramId: Int): String = {
    val ecmwf128 = Map(
      129 -> "z", 130 -> "t", 131 -> "u", 132 -> "v", 133 -> "q",
      134 -> "sp", 141 -> "sd", 151 -> "msl", 157 -> "r",
      164 -> "tcc", 165 -> "10u", 166 -> "10v", 167 -> "2t", 168 -> "2d",
      169 -> "ssrd", 172 -> "lsm", 228 -> "tp", 235 -> "skt")
    val wmo2 = Map(
      1 -> "pres", 2 -> "msl", 6 -> "gh", 7 -> "gh", 11 -> "t", 17 -> "2d",
      33 -> "u", 34 -> "v", 39 -> "w", 51 -> "q", 52 -> "r", 61 -> "tp",
      65 -> "sdwe", 71 -> "tcc", 81 -> "lsm", 85 -> "st")
    val m = if (tableVersion >= 128) ecmwf128 else wmo2
    m.getOrElse(paramId, s"p$paramId")
  }

  // ---------------------------------------------------------------- parse

  /** Parse one message through a positioned span reader `read(fileOffset,
    * len)`. Only HEADER spans are fetched — the (large) bitmap and packed
    * data bodies are never read here, so a driver can index a multi-GB file
    * with a handful of small ranged reads per message. */
  def parseMessage(read: (Long, Int) => Array[Byte], fileOffset: Long): Message = {
    val is = read(fileOffset, 8)
    require(is(0) == 'G' && is(1) == 'R' && is(2) == 'I' && is(3) == 'B',
      s"not a GRIB message at offset $fileOffset")
    val total = u24(is, 4)
    val edition = u8(is, 7)
    if (edition != 1)
      throw UnsupportedGrib(s"edition $edition (only edition 1; convert with grib_set or wgrib2)")

    // ---- PDS
    val pdsOff = fileOffset + 8
    val pdsLen = u24(read(pdsOff, 3), 0)
    val b = read(pdsOff, math.min(pdsLen, 28))
    val tableVersion = u8(b, 3)
    val centre = u8(b, 4)
    val flags = u8(b, 7)
    val hasGds = (flags & 0x80) != 0
    val hasBms = (flags & 0x40) != 0
    if (!hasGds) throw UnsupportedGrib("message without GDS (predefined grids)")
    val paramId = u8(b, 8)
    val levelType = u8(b, 9)
    val levelRaw = u16(b, 10)
    val yearOfCentury = u8(b, 12)
    val month = u8(b, 13)
    val day = u8(b, 14)
    val hour = u8(b, 15)
    val minute = u8(b, 16)
    val timeUnit = u8(b, 17)
    val tri = u8(b, 20)
    // time range indicator 10: P1 occupies octets 19-20 as ONE u16 (forecast
    // steps beyond 255); every other indicator carries separate u8 P1/P2
    val p1 = if (tri == 10) u16(b, 18) else u8(b, 18)
    val p2 = if (tri == 10) 0 else u8(b, 19)
    val century = u8(b, 24)
    val decimalScale = s16(b, 26)
    val year = (century - 1) * 100 + yearOfCentury
    val refTime = java.time.LocalDateTime.of(year, month, day, hour, minute, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC)

    // ---- ECMWF local extension (octets 41+): local definition 1 carries
    // the EPS perturbation number — how edition-1 ensemble archives
    // (ERA-interim EDA, EPS reforecasts) tag members. Other centres/defs
    // read as deterministic (member -1) rather than erroring: the local
    // section is additive metadata.
    val ensembleMember: Int =
      if (centre == 98 && pdsLen >= 52) {
        val ext = read(pdsOff + 40, 12)     // PDS octets 41-52
        val localDef = u8(ext, 0)
        val total = u8(ext, 10)             // octet 51: forecasts in ensemble
        if (localDef == 1 && total > 0) u8(ext, 9) // octet 50: perturbation
        else -1
      } else -1

    // ---- GDS
    val gdsOff = pdsOff + pdsLen
    val g = read(gdsOff, 28)
    val gdsLen = u24(g, 0)
    val gridType = u8(g, 5)
    if (gridType != 0 && gridType != 10 && gridType != 4 && gridType != 50 &&
        gridType != 1 && gridType != 3 && gridType != 5)
      throw UnsupportedGrib(
        s"grid type $gridType (lat/lon 0, Mercator 1, Lambert conformal 3, " +
          "Gaussian 4, polar stereographic 5, rotated lat/lon 10, " +
          "spectral 50)")
    val projectedType = gridType == 1 || gridType == 3 || gridType == 5
    // grid type 10 (rotated lat/lon): la1..lo2 are in the ROTATED frame;
    // octets 33-42 carry the true-frame south pole of the rotated system
    // (millidegrees) + the angle of rotation (an IBM-format float)
    val rotated: Option[GribProjection.RotatedLatLon] =
      if (gridType != 10) None
      else {
        if (gdsLen < 42) throw UnsupportedGrib(
          s"rotated lat/lon GDS of $gdsLen bytes (42 minimum: octets 33-42 " +
            "hold the pole of rotation)")
        val rg = read(gdsOff + 32, 10)
        Some(GribProjection.RotatedLatLon(
          s24(rg, 0) / 1000.0, s24(rg, 3) / 1000.0, ibmFloat(rg, 6)))
      }
    // grid type 50: spherical harmonics — J/K/M truncation where Ni/Nj sit
    val spectral: Option[(Int, Int, Int)] =
      if (gridType != 50) None
      else {
        val j = u16(g, 6); val k = u16(g, 8); val m = u16(g, 10)
        if (!(j == k && k == m))
          throw UnsupportedGrib(s"spectral pentagonal truncation " +
            s"J=$j K=$k M=$m (triangular J=K=M only)")
        if (m > 10000) // (m+1)(m+2) must stay far from Int overflow
          throw UnsupportedGrib(s"spectral truncation M=$m out of range")
        Some((j, k, m))
      }
    val ni = spectral match {
      case Some((_, _, m)) => (m + 1) * (m + 2) // 2 * complex coefficients
      case None => u16(g, 6)
    }
    val nj = if (spectral.isDefined) 1 else u16(g, 8)
    // grid type 4 stores N (parallels pole->equator) where Dj sits
    val gaussN = if (gridType == 4) u16(g, 25) else 0
    // reduced (quasi-regular) grid: ni = missing, points-per-row list at
    // the GDS octet the PV field points to (after NV vertical coords)
    val plCounts: Option[Array[Int]] =
      if (ni != 65535 || spectral.isDefined) None
      else {
        val nv = u8(g, 3)
        val pv = u8(g, 4)
        if (pv == 255) throw UnsupportedGrib(
          "quasi-regular grid without a points-per-row list")
        val listAt = gdsOff + (pv - 1) + nv * 4
        val lb = read(listAt, nj * 2)
        Some(Array.tabulate(nj)(r => u16(lb, r * 2)))
      }
    val la1 = if (spectral.isDefined) 0.0 else s24(g, 10) / 1000.0
    val lo1 = if (spectral.isDefined) 0.0 else s24(g, 13) / 1000.0
    val la2 = if (spectral.isDefined) 0.0 else s24(g, 17) / 1000.0
    val lo2 = if (spectral.isDefined) 0.0 else s24(g, 20) / 1000.0
    val scan = if (spectral.isDefined) 0 else u8(g, 27)
    // same bit layout as edition 2: interpolation covers +-i/+-j, but
    // column-major (bit 3) / boustrophedonic (bit 4) orders must fail fast
    if ((scan & 0x20) != 0) throw UnsupportedGrib(
      "scan mode bit 3 (adjacent points consecutive in j / column-major)")
    if ((scan & 0x10) != 0) throw UnsupportedGrib(
      "scan mode bit 4 (boustrophedonic row order)")

    // grid types 1/3/5 (the NCEP NAM/RUC-era projected archives): first
    // point + Di/Dj meters, walking the plane like the edition-2
    // templates; the resolution flag picks the figure (sphere 6367.47 km
    // or the IAU-65 oblate spheroid)
    val (projection, dxM, dyM): (Option[GribProjection], Double, Double) =
      if (!projectedType) (None, 0.0, 0.0)
      else {
        val gp = read(gdsOff, 42)
        val oblate = (u8(gp, 16) & 0x40) != 0
        val (axA, axB) =
          if (oblate) (6378160.0, 6356775.0) else (6367470.0, Double.NaN)
        val proj: GribProjection = gridType match {
          case 1 => // Mercator: Latin true-scale at octets 24-26
            GribProjection.Mercator(s24(gp, 23) / 1000.0, axA, axB)
          case 5 => // polar stereographic: LoV 18-20, centre flag octet 27
            val south = (u8(gp, 26) & 0x80) != 0
            // GRIB1 PS grid lengths are at 60 deg in the grid's hemisphere
            GribProjection.PolarStereographic(if (south) -60 else 60,
              s24(gp, 17) / 1000.0, south, axA, axB)
          case _ => // Lambert conformal: LoV 18-20, Latin1/2 29-34
            GribProjection.LambertConformal(s24(gp, 28) / 1000.0,
              s24(gp, 31) / 1000.0, s24(gp, 17) / 1000.0, axA, axB)
        }
        val dx = (if (gridType == 1) u24(gp, 28) else u24(gp, 20)).toDouble
        val dy = (if (gridType == 1) u24(gp, 31) else u24(gp, 23)).toDouble
        (Some(proj),
          if ((scan & 0x80) == 0) dx else -dx,
          if ((scan & 0x40) != 0) dy else -dy)
      }

    // ---- BMS (optional)
    var cur = gdsOff + gdsLen
    var bitmapOffset = -1L
    var bitmapBytes = 0
    if (hasBms) {
      val h = read(cur, 6)
      val bmsLen = u24(h, 0)
      val tableRef = u16(h, 4)
      if (tableRef != 0) throw UnsupportedGrib(s"predefined bitmap $tableRef")
      bitmapOffset = cur + 6
      bitmapBytes = bmsLen - 6
      cur += bmsLen
    }

    // ---- BDS
    val d = read(cur, 11)
    val bdsLen = u24(d, 0)
    val flag4 = u8(d, 3)
    if ((flag4 & 0x80) != 0 && spectral.isEmpty)
      throw UnsupportedGrib("spherical-harmonic BDS flag without a type-50 GDS")
    if ((flag4 & 0x80) == 0 && spectral.isDefined)
      throw UnsupportedGrib("type-50 GDS without the spherical-harmonic BDS flag")
    val secondOrder = (flag4 & 0x40) != 0
    if (secondOrder && spectral.isDefined)
      throw UnsupportedGrib("GRIB1 complex spectral packing (simple spectral only)")
    if (secondOrder && (flag4 & 0x10) == 0)
      throw UnsupportedGrib(
        "second-order (complex) packing without the octet-14 extended flags")
    val unusedBits = flag4 & 0x0f
    val binScale = s16(d, 4)
    val refValue = ibmFloat(d, 6)
    val bitsPerValue = u8(d, 10)
    if (secondOrder) {
      // validate the variant up front so the index fails fast with a
      // DIRECTED error instead of a task-side decode failure
      val ext = u8(read(cur + 13, 1), 0)
      if ((ext & 0x40) != 0)
        throw UnsupportedGrib("second-order packing: matrix of values at each point")
      if ((ext & 0x20) == 0)
        throw UnsupportedGrib("second-order packing without a secondary bitmap " +
          "(row-by-row and ECMWF general extended variants unsupported)")
      if ((ext & 0x0f) != 0)
        throw UnsupportedGrib(
          s"ECMWF extended second-order packing flags 0x${(ext & 0x0f).toHexString}" +
            " (general extended / boustrophedonic / spatial differencing)")
    }
    // second-order layout is self-describing via its N1/N2 octet pointers,
    // so the decoder gets the WHOLE BDS as its data span
    val dataOffset = if (secondOrder) cur else cur + 11
    val dataBytes = if (secondOrder) bdsLen else bdsLen - 11

    Message(fileOffset, total, tableVersion, centre, paramId, levelType, levelRaw,
      refTime, timeUnit, p1, p2, tri, decimalScale,
      ni, nj, la1, lo1, la2, lo2, scan,
      bitmapOffset, bitmapBytes,
      binScale, refValue, bitsPerValue, dataOffset, dataBytes, unusedBits,
      secondOrder, gaussN, plCounts, spectral, rotated, ensembleMember,
      projection, dxM, dyM)
  }

  /** In-memory convenience form of [[parseMessage]] (tests, small buffers):
    * `base` is the message start inside `buf`, treated as file offset 0 of
    * a message positioned at `base`. */
  def parseMessage(buf: Array[Byte], base: Int): Message =
    parseMessage((off, len) => java.util.Arrays.copyOfRange(
      buf, off.toInt, off.toInt + len), base.toLong)

  /** Decode the values of `m` given its raw data (and bitmap) bytes, grid
    * scan order (row-major j, i): the template produces the X of the
    * present points and [[GribPacking]] masks, checks and scales them. */
  def decodeValues(m: Message, data: Array[Byte], bitmap: Array[Byte]): Array[Double] =
    if (m.spectral.isDefined) {
      // simple spectral (grid type 50): the (0,0) real part leads the data
      // span as an IBM float of the DECIMAL-SCALED value; the remaining
      // 2I - 1 coefficients are simple-packed after it
      val pts = new GribPacking.Points("GRIB1 spectral packing", m.nPoints - 1, null)
      (ibmFloat(data, 0) / math.pow(10.0, m.decimalScale)) +:
        pts.scatter(pts.unpack(data, m.bitsPerValue, 32), m.refValue, m.binaryScale,
          m.decimalScale)
    } else {
      val pts = new GribPacking.Points(
        if (m.secondOrder) "GRIB1 second-order packing" else "GRIB1 simple packing",
        m.nPoints, if (m.bitmapOffset >= 0) bitmap else null)
      pts.scatter(if (m.secondOrder) secondOrderXs(m, data, pts)
        else pts.unpack(data, m.bitsPerValue), m.refValue, m.binaryScale, m.decimalScale)
    }

  /** WMO second-order (complex) grid-point packing, secondary-bitmap
    * variant (Manual on Codes, GRIB1 BDS octets 12-21 + Code Table 11):
    * the secondary bitmap has one bit per PRESENT point and marks where a
    * new group starts; first-order values (group references, octet-11 bits
    * each) begin at octet N1, second-order deviations (per-group widths
    * from octet 22) at octet N2; X = FO(group) + SO(point). `bds` is the
    * whole Binary Data Section. */
  private def secondOrderXs(m: Message, bds: Array[Byte],
      pts: GribPacking.Points): Array[Long] = {
    val n1 = u16(bds, 11)
    val ext = u8(bds, 13)
    val n2 = u16(bds, 14)
    val p1 = u16(bds, 16)
    val p2 = u16(bds, 18)
    if (p2 != pts.count)
      throw UnsupportedGrib(s"second-order P2 $p2 != ${pts.count} present points")
    if (pts.count == 0) return Array.emptyLongArray
    val sameWidth = (ext & 0x10) == 0
    val widths: Array[Int] =
      if (sameWidth) Array.fill(p1)(u8(bds, 21))
      else Array.tabulate(p1)(g => u8(bds, 21 + g))
    val starts = GribPacking.mask("GRIB1 second-order secondary bitmap", bds,
      if (sameWidth) 22 else 21 + p1, pts.count)
    val lengths = new Array[Long](p1)
    var g = -1
    starts.foreach { start =>
      if (start) g += 1
      if (g < 0 || g >= p1)
        throw UnsupportedGrib(s"secondary bitmap walks outside the $p1 groups")
      lengths(g) += 1
    }
    if (g != p1 - 1)
      throw UnsupportedGrib(s"secondary bitmap used ${g + 1} of $p1 groups")
    if ((n1 - 1) * 8L + p1.toLong * m.bitsPerValue > (n2 - 1) * 8L)
      throw UnsupportedGrib(s"second-order first-order values at N1 $n1 overrun N2 $n2")
    val refs = GribPacking.unpack(
      new GribPacking.BitCursor(bds, (n1 - 1) * 8L), m.bitsPerValue, p1)
    pts.ungroup(new GribPacking.BitCursor(bds, (n2 - 1) * 8L), refs, widths, lengths)
  }
}
