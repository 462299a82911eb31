package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.grib.{Grib1, Grib2, GribUnit, Grib1Writer => GW1, Grib2Writer => GW2}

/** The packing decisions every GRIB template shares: a payload or bitmap
  * that does not cover the points is a directed error naming the
  * template, and the writers refuse a reference value their edition's
  * 32-bit format would round. */
class GribPackingSpec extends AnyFunSuite {

  private val t0 = java.time.LocalDateTime.of(2024, 6, 1, 6, 0)
  private val (ni, nj) = (8, 6)
  private def values(gaps: Boolean): Seq[Double] = (0 until ni * nj).map { k =>
    if (gaps && k % 5 == 2) Double.NaN else ((k * 29) % 173 - 40) / 10.0
  }

  private def g1(secondOrder: Boolean, gaps: Boolean = false) = GW1.message(GW1.FieldSpec(
    167, 105, 2, t0, values(gaps), ni, nj, 60.0, -10.0, 55.0, -3.0, decimalScale = 1,
    bitsPerValue = 12, secondOrder = secondOrder, groupSize = 5))
  private def g2(packing: Int, gaps: Boolean = false) = GW2.message(GW2.FieldSpec(
    0, 0, 0, 103, 2, t0, values(gaps), ni, nj, 60.0, -10.0, 55.0, -3.0, decimalScale = 1,
    bitsPerValue = 12, packing = packing, groupSize = 5))

  private def unit(msg: Array[Byte]): GribUnit = {
    val read = (off: Long, len: Int) => java.util.Arrays.copyOfRange(msg, off.toInt, off.toInt + len)
    if (msg(7) == 1) Grib1.parseMessage(read, 0L) else Grib2.parseMessage(read, 0L)._1.head
  }

  /** Decode `msg`'s field with its payload cut to `dataBytes` octets and its
    * bitmap to `bitmapBytes`. */
  private def decodeCut(msg: Array[Byte], dataBytes: GribUnit => Int,
      bitmapBytes: GribUnit => Int = _.bitmapBytes): Array[Double] = {
    val u = unit(msg)
    def span(off: Long, len: Int) = java.util.Arrays.copyOfRange(msg, off.toInt, off.toInt + len)
    u.decode(span(u.dataOffset, dataBytes(u)),
      if (u.bitmapOffset >= 0) span(u.bitmapOffset, bitmapBytes(u)) else null)
  }

  private val cases: Seq[(String, Boolean => Array[Byte])] = Seq(
    ("GRIB1 simple packing", g1(secondOrder = false, _)),
    ("GRIB1 second-order packing", g1(secondOrder = true, _)),
    ("template 5.0", g2(0, _)),
    ("template 5.3", g2(3, _)))

  for ((template, msg) <- cases; gaps <- Seq(false, true)) {
    test(s"$template: a short payload is a directed error (bitmap: $gaps)") {
      val present = values(gaps).count(!_.isNaN)
      assert(decodeCut(msg(gaps), _.dataBytes).count(!_.isNaN) == present)
      val e = intercept[Grib1.UnsupportedGrib](decodeCut(msg(gaps), _.dataBytes * 2 / 3))
      assert(e.getMessage.contains(template) && e.getMessage.contains("carries") &&
        e.getMessage.contains(s"$present present of ${ni * nj} points"), e.getMessage)
    }
  }

  test("a bitmap with fewer bits than points is a directed error") {
    for ((template, msg) <- Seq(("GRIB1 simple packing", g1(secondOrder = false, gaps = true)),
        ("template 5.0", g2(0, gaps = true)), ("template 5.2", g2(2, gaps = true)))) {
      val e = intercept[Grib1.UnsupportedGrib](decodeCut(msg, _.dataBytes, _ => 3))
      assert(e.getMessage.contains(template) && e.getMessage.contains("24 bits") &&
        e.getMessage.contains(s"${ni * nj} points"), e.getMessage)
    }
  }

  test("the GRIB1 writers refuse a reference the IBM float would round") {
    def field(vals: Seq[Double], secondOrder: Boolean = false, spectralT: Int = -1) =
      GW1.FieldSpec(167, 105, 2, t0, vals, vals.size, 1, 0, 0, 0, 0,
        bitsPerValue = 8, secondOrder = secondOrder, spectralT = spectralT)
    // 2^24 + 1 needs 25 mantissa bits: IBM rounds it to 2^24 and every value
    // would read back one too low
    for (so <- Seq(false, true)) {
      val e = intercept[IllegalArgumentException](
        GW1.message(field(Seq(16777217.0, 16777218.0, 16777220.0), secondOrder = so)))
      assert(e.getMessage.contains("reference value"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      GW1.message(field(0.0 +: Seq.fill(5)(16777217.0), spectralT = 1)))
    assert(e.getMessage.contains("reference value"), e.getMessage)
    // an exact reference still packs and reads back exactly
    val vals = Seq(16777216.0, 16777217.0, 16777300.0)
    val msg = GW1.message(field(vals))
    val u = unit(msg)
    assert(u.decode(java.util.Arrays.copyOfRange(msg, u.dataOffset.toInt,
      u.dataOffset.toInt + u.dataBytes), null).toSeq == vals)
  }

  test("the GRIB2 writers refuse a reference float32 would round") {
    for (packing <- Seq(0, 2, 3, 40, 41, 42)) {
      val e = intercept[IllegalArgumentException](GW2.message(GW2.FieldSpec(
        0, 0, 0, 103, 2, t0, Seq(16777217.0, 16777218.0), 2, 1, 0, 0, 0, 0,
        bitsPerValue = 8, packing = packing)))
      assert(e.getMessage.contains("reference value"), s"5.$packing: ${e.getMessage}")
    }
  }
}
