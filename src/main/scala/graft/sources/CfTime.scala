package graft.sources

/** CF-convention time-coordinate units ("<unit> since <datetime>") — the
  * encoding every real netCDF/Zarr archive uses for its time axis (ERA5
  * netCDF downloads ship `hours since 1900-01-01 00:00:00.0`). The
  * reference reads these through xarray's decode_cf for free
  * (weather_mv/loader_pipeline/sinks.py engine dispatch); here the parsed
  * (base, seconds-per-unit) pair converts coordinate arrays to epoch
  * seconds ONCE at metadata load, so row building and predicate pruning
  * keep operating on plain epoch seconds.
  *
  * Calendar handling:
  *  - absent/standard/gregorian/proleptic_gregorian: plain epoch
  *    arithmetic (Java's epoch is proleptic Gregorian, which matches
  *    udunits for post-1582 bases — all operational archives).
  *  - noleap/365_day, all_leap/366_day, 360_day (the CMIP/CORDEX
  *    climate-model calendars, which the reference reads via cftime): the
  *    offset is resolved to (year, month, day, time-of-day) with the
  *    calendar's fixed-length-year arithmetic — the exact field mapping
  *    cftime.num2date produces — and those FIELDS become a proleptic-
  *    Gregorian UTC timestamp. Field-preservation is the mapping that
  *    keeps `date_trunc('month', t)` / climatology buckets meaningful on
  *    model output; it is xarray's `convert_calendar(..., align_on=
  *    "date")`. Field combinations Gregorian cannot represent (360_day
  *    Feb 29/30 in non-leap years) become NaN — the NaT policy of the
  *    same xarray path — rather than silently landing on a nearby day.
  *  - julian (proleptic, leap every 4 years) resolves fields with its own
  *    leap arithmetic and maps them the same field-preserving way (julian
  *    Feb 29 of years like 1900/2100 becomes NaN).
  *  - unknown calendar names stay numeric rather than decoding wrong.
  */
object CfTime {

  /** A non-Gregorian CF calendar: converts between a 0-based day count
    * relative to its own year 0 and (year, month 1-12, day) civil fields. */
  sealed trait CfCalendar extends Serializable {
    /** (year, month 1-12, day 1-31) for a 0-based day-of-calendar count
      * relative to year 0. */
    def civilFromDays(days: Long): (Int, Int, Int)
    /** 0-based day count relative to year 0 for calendar-civil fields. */
    def daysFromCivil(y: Int, m: Int, d: Int): Long
    /** Last valid day of (year, month) in this calendar. */
    def maxDay(y: Int, m: Int): Int
    /** Whether this calendar defines dates in year `y` at all. */
    def representableYear(y: Int): Boolean = true
    /** Base-date validity: a malformed or un-calendar base must leave the
      * axis numeric (None from parse), never crash or silently shift it. */
    final def validCivil(y: Int, m: Int, d: Int): Boolean =
      representableYear(y) && m >= 1 && m <= 12 && d >= 1 && d <= maxDay(y, m)
  }

  /** Fixed-length-year calendars: days per year + cumulative days at the
    * start of each month (0-based month index). */
  sealed abstract class FixedCalendar(
      val daysPerYear: Int, monthLengths: Array[Int]) extends CfCalendar {
    private val cumDays: Array[Int] = monthLengths.scanLeft(0)(_ + _)
    final def civilFromDays(days: Long): (Int, Int, Int) = {
      val year = Math.floorDiv(days, daysPerYear)
      var doy = (days - year * daysPerYear).toInt
      var m = 0
      while (doy >= cumDays(m + 1)) m += 1
      (year.toInt, m + 1, doy - cumDays(m) + 1)
    }
    final def daysFromCivil(y: Int, m: Int, d: Int): Long =
      y.toLong * daysPerYear + cumDays(m - 1) + (d - 1)
    final def maxDay(y: Int, m: Int): Int = monthLengths(m - 1)
  }
  case object NoLeap extends FixedCalendar(365,
    Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31))
  case object AllLeap extends FixedCalendar(366,
    Array(31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31))
  case object Day360 extends FixedCalendar(360, Array.fill(12)(30))

  /** Proleptic Julian: a leap day every 4 years without exception (the
    * cftime `julian` calendar, used by some paleo/reanalysis archives).
    * Decoding is restricted to years >= 1 CE: cftime's julian defaults to
    * has_year_zero=False, whose BCE numbering diverges from astronomical
    * numbering — rather than decode pre-1-CE dates one year off, they
    * stay NaT and the restriction is explicit here. */
  case object Julian extends CfCalendar {
    private val cum = Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
      .scanLeft(0)(_ + _)
    private def isLeap(y: Long): Boolean = Math.floorMod(y, 4L) == 0L
    private def daysAtYear(y: Long): Long = 365L * y + Math.floorDiv(y + 3, 4)
    def civilFromDays(days: Long): (Int, Int, Int) = {
      var y = Math.floorDiv(4 * days, 1461L)
      while (daysAtYear(y) > days) y -= 1
      while (daysAtYear(y + 1) <= days) y += 1
      var doy = (days - daysAtYear(y)).toInt
      val leap = isLeap(y)
      // Feb 29: doy 59 (0-based) in leap years
      if (leap && doy == 59) return (y.toInt, 2, 29)
      if (leap && doy > 59) doy -= 1
      var m = 0
      while (doy >= cum(m + 1)) m += 1
      (y.toInt, m + 1, doy - cum(m) + 1)
    }
    def daysFromCivil(y: Int, m: Int, d: Int): Long =
      daysAtYear(y) + cum(m - 1) + (d - 1) +
        (if (m > 2 && isLeap(y)) 1 else 0)
    def maxDay(y: Int, m: Int): Int =
      if (m == 2 && isLeap(y)) 29
      else Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)(m - 1)
    override def representableYear(y: Int): Boolean = y >= 1
  }

  /** Proleptic-Gregorian epoch days for civil fields (Hinnant's
    * days_from_civil closed form); Long.MinValue when the fields don't
    * exist in the Gregorian calendar (Feb 30, Feb 29 off leap years). */
  private def gregorianEpochDays(y: Int, m: Int, d: Int): Long = {
    val maxDay = m match {
      case 2 =>
        if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 29 else 28
      case 4 | 6 | 9 | 11 => 30
      case _ => 31
    }
    if (d > maxDay) return Long.MinValue
    val yy = if (m <= 2) y - 1 else y
    val era = Math.floorDiv(yy, 400)
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365L + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  /** `toEpochSeconds(v) = base + v * perUnit`, where `base` is epoch
    * seconds for Gregorian-family calendars and seconds-since-year-0 in
    * the calendar's own day count for fixed calendars (the remap to
    * Gregorian fields happens per value). */
  final case class Units(baseEpochSec: Double, secondsPerUnit: Double,
      calendar: Option[CfCalendar] = None)
      extends Serializable {
    def toEpochSeconds(v: Double): Double = calendar match {
      case None => baseEpochSec + v * secondsPerUnit
      case Some(cal) =>
        val t = baseEpochSec + v * secondsPerUnit
        val days = math.floor(t / 86400.0).toLong
        val sod = t - days * 86400.0
        val (y, m, d) = cal.civilFromDays(days)
        if (!cal.representableYear(y)) return Double.NaN
        val gd = gregorianEpochDays(y, m, d)
        if (gd == Long.MinValue) Double.NaN else gd * 86400.0 + sod
    }
    /** Already plain epoch seconds — conversion would be a no-op. */
    def isIdentity: Boolean =
      calendar.isEmpty && baseEpochSec == 0.0 && secondsPerUnit == 1.0
  }

  private val unitSeconds: Map[String, Double] = Map(
    "nanosecond" -> 1e-9, "ns" -> 1e-9,
    "microsecond" -> 1e-6, "us" -> 1e-6,
    "millisecond" -> 1e-3, "msec" -> 1e-3, "ms" -> 1e-3,
    "second" -> 1.0, "sec" -> 1.0, "s" -> 1.0,
    "minute" -> 60.0, "min" -> 60.0,
    "hour" -> 3600.0, "hr" -> 3600.0, "h" -> 3600.0,
    "day" -> 86400.0, "d" -> 86400.0,
    "week" -> 604800.0)

  // "<unit>[s] since YYYY-M-D[ H:M[:S[.frac]]][ Z|UTC|+HH[:MM]]"
  private val Pattern =
    ("""^\s*([A-Za-z]+)\s+since\s+(\d{1,4})-(\d{1,2})-(\d{1,2})""" +
      """(?:[T ](\d{1,2}):(\d{1,2})(?::(\d{1,2})(?:\.(\d+))?)?)?""" +
      """\s*(Z|UTC|[+-]\d{1,2}(?::?\d{2})?)?\s*$""").r

  private val gregorianCalendars =
    Set("standard", "gregorian", "proleptic_gregorian")
  private val fixedCalendars: Map[String, CfCalendar] = Map(
    "noleap" -> NoLeap, "365_day" -> NoLeap,
    "all_leap" -> AllLeap, "366_day" -> AllLeap,
    "360_day" -> Day360, "julian" -> Julian)

  def parse(units: Option[String], calendar: Option[String]): Option[Units] = {
    val calName = calendar.map(_.trim.toLowerCase)
    val fixed = calName.flatMap(fixedCalendars.get)
    if (!calName.forall(c => gregorianCalendars(c) || fixedCalendars.contains(c)))
      return None
    units.flatMap {
      case Pattern(unit, y, mo, d, h, mi, sec, frac, tz) =>
        // try the raw abbreviation BEFORE de-pluralizing: "s"/"ms"/"us"
        // would otherwise strip to non-units
        val lc = unit.toLowerCase
        unitSeconds.get(lc).orElse(unitSeconds.get(lc.stripSuffix("s")))
          .flatMap { perUnit =>
          try {
            val offSec = Option(tz).map(_.trim).filter(_.nonEmpty) match {
              case None | Some("Z") | Some("UTC") => 0
              case Some(o) =>
                val sign = if (o.startsWith("-")) -1 else 1
                val digits = o.drop(1).replace(":", "")
                val (hh, mm) =
                  if (digits.length <= 2) (digits.toInt, 0)
                  else (digits.dropRight(2).toInt, digits.takeRight(2).toInt)
                sign * (hh * 3600 + mm * 60)
            }
            val hh = Option(h).map(_.toInt).getOrElse(0)
            val mm = Option(mi).map(_.toInt).getOrElse(0)
            val ss = Option(sec).map(_.toInt).getOrElse(0)
            val base = fixed match {
              case Some(cal) =>
                // a fixed-calendar base date may itself be un-Gregorian
                // (360_day archives use "days since 1850-01-30"): count in
                // the calendar's own days, offset by the declared zone.
                // A base the CALENDAR can't represent (month 14, noleap
                // Feb 30) leaves the axis numeric — decoding it would
                // crash or silently shift every timestamp in the file
                if (!cal.validCivil(y.toInt, mo.toInt, d.toInt)) return None
                cal.daysFromCivil(y.toInt, mo.toInt, d.toInt) * 86400L +
                  hh * 3600L + mm * 60L + ss - offSec
              case None =>
                java.time.LocalDateTime.of(y.toInt, mo.toInt, d.toInt, hh, mm, ss)
                  .toEpochSecond(java.time.ZoneOffset.ofTotalSeconds(offSec))
            }
            val fracSec = Option(frac)
              .map(f => f.toDouble / math.pow(10.0, f.length)).getOrElse(0.0)
            Some(Units(base + fracSec, perUnit, fixed))
          } catch { case _: java.time.DateTimeException => None }
        }
      case _ => None
    }
  }

  /** Epoch seconds as epoch microseconds, ROUNDED to the microsecond: a
    * double's representation error would otherwise truncate
    * `1700000000.001` to `.000999`. The one rendering of a decoded time
    * coordinate, shared by every reader. */
  def micros(epochSec: Double): Long = math.round(epochSec * 1e6)

  /** [[micros]] as the UTC wall time of a TIMESTAMP_NTZ row cell; null
    * for NaN (a date the calendar mapping cannot represent). */
  def timestamp(epochSec: Double): java.time.LocalDateTime =
    if (epochSec.isNaN) null
    else {
      val us = micros(epochSec)
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L).toInt * 1000, java.time.ZoneOffset.UTC)
    }

  /** Convert a coordinate vector in place-for-copy: identity units return
    * the input array untouched. */
  def convert(values: Array[Double], u: Option[Units]): Array[Double] =
    u match {
      case Some(cf) if !cf.isIdentity => values.map(cf.toEpochSeconds)
      case _ => values
    }
}
