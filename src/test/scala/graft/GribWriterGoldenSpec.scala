package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.grib.{Grib1, Grib2, GribUnit, Grib1Writer => GW1, Grib2Writer => GW2}

/** Golden bytes of every GRIB writer template: one message per edition,
  * packing template and bitmap setting, compared by length and SHA-256
  * with `src/test/resources/grib-golden/messages.txt`. Set
  * `GRIB_GOLDEN_OUT=<dir>` to write a fresh manifest there instead of
  * comparing. Every message also decodes back to the values written. */
class GribWriterGoldenSpec extends AnyFunSuite {

  private val t0 = java.time.LocalDateTime.of(2024, 6, 1, 6, 0)
  private val (ni, nj) = (7, 5)

  /** Tenths from -6.0 to 15.0 (D = 1 packs them exactly, R negative);
    * with `gaps` every sixth point from the second is missing. */
  private def grid(gaps: Boolean): Seq[Double] = (0 until ni * nj).map { k =>
    if (gaps && k % 6 == 1) Double.NaN else ((k * 37) % 211 - 60) / 10.0
  }

  /** Integer (re, im) coefficients of a triangular truncation. */
  private def coefficients(n: Int): Seq[Double] = (0 until n).map(k => ((k * 53) % 401 - 200).toDouble)

  private def g1(gaps: Boolean, secondOrder: Boolean = false) =
    GW1.FieldSpec(167, 105, 2, t0, grid(gaps), ni, nj, 60.0, -10.0, 56.0, -4.0,
      decimalScale = 1, bitsPerValue = 12, secondOrder = secondOrder, groupSize = 4)

  private def g2(gaps: Boolean, packing: Int, bits: Int = 12, order: Int = 2) =
    GW2.FieldSpec(0, 0, 0, 103, 2, t0, grid(gaps), ni, nj, 60.0, -10.0, 56.0, -4.0,
      decimalScale = 1, bitsPerValue = bits, packing = packing, spatialOrder = order,
      groupSize = 4)

  private val gridded: Seq[(String, Boolean => Array[Byte])] = Seq(
    "g1-simple" -> (b => GW1.message(g1(b))),
    "g1-second-order" -> (b => GW1.message(g1(b, secondOrder = true))),
    "g2-5.0" -> (b => GW2.message(g2(b, 0))),
    "g2-5.2" -> (b => GW2.message(g2(b, 2))),
    "g2-5.3-order1" -> (b => GW2.message(g2(b, 3, order = 1))),
    "g2-5.3-order2" -> (b => GW2.message(g2(b, 3, order = 2))),
    "g2-5.4-32" -> (b => GW2.message(g2(b, 4, bits = 32))),
    "g2-5.4-64" -> (b => GW2.message(g2(b, 4, bits = 64))),
    "g2-5.40" -> (b => GW2.message(g2(b, 40))),
    "g2-5.41" -> (b => GW2.message(g2(b, 41, bits = 16))), // PNG grey depths: 1/2/4/8/16
    "g2-5.42" -> (b => GW2.message(g2(b, 42))))

  private val spectralT = 4
  private val spectral: Seq[(String, () => Array[Byte])] = Seq(
    "g1-spectral" -> { () =>
      val vals = coefficients((spectralT + 1) * (spectralT + 2))
      GW1.message(GW1.FieldSpec(129, 100, 500, t0, vals, vals.size, 1, 0, 0, 0, 0,
        bitsPerValue = 12, spectralT = spectralT))
    },
    "g2-5.50" -> { () =>
      val vals = coefficients((spectralT + 1) * (spectralT + 2))
      GW2.message(GW2.FieldSpec(0, 3, 5, 100, 50000, t0, vals, vals.size, 1, 0, 0, 0, 0,
        bitsPerValue = 12, packing = 50, spectralT = spectralT))
    },
    "g2-5.51" -> { () =>
      val vals = coefficients((spectralT + 1) * (spectralT + 2))
      GW2.message(GW2.FieldSpec(0, 3, 5, 100, 50000, t0, vals, vals.size, 1, 0, 0, 0, 0,
        bitsPerValue = 16, packing = 51, spectralT = spectralT, subTruncation = 1,
        laplacianP = 1.0))
    })

  private val cases: Seq[(String, () => Array[Byte], Seq[Double])] =
    gridded.flatMap { case (name, write) =>
      Seq(false, true).map(b => (if (b) s"$name-bitmap" else name, () => write(b), grid(b)))
    } ++ spectral.map { case (name, write) =>
      (name, write, coefficients((spectralT + 1) * (spectralT + 2)))
    }

  private def line(name: String, msg: Array[Byte]): String =
    s"$name\t${msg.length}\t" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(msg).map(b => f"${b & 0xff}%02x").mkString

  private lazy val want: Map[String, String] = {
    val res = getClass.getResourceAsStream("/grib-golden/messages.txt")
    assert(res != null, "no golden manifest grib-golden/messages.txt")
    try scala.io.Source.fromInputStream(res, "UTF-8").getLines()
      .map(l => l.takeWhile(_ != '\t') -> l).toMap
    finally res.close()
  }

  /** The one field of `msg`, decoded. */
  private def decode(msg: Array[Byte]): Array[Double] = {
    val read = (off: Long, len: Int) => java.util.Arrays.copyOfRange(msg, off.toInt, off.toInt + len)
    val u: GribUnit =
      if (msg(7) == 1) Grib1.parseMessage(read, 0L) else Grib2.parseMessage(read, 0L)._1.head
    u.decode(read(u.dataOffset, u.dataBytes),
      if (u.bitmapOffset >= 0) read(u.bitmapOffset, u.bitmapBytes) else null)
  }

  sys.env.get("GRIB_GOLDEN_OUT") match {
    case Some(dir) =>
      test("write the GRIB writer golden manifest") {
        Files.createDirectories(Paths.get(dir))
        Files.write(Paths.get(dir, "messages.txt"),
          cases.map { case (n, w, _) => line(n, w()) }.mkString("", "\n", "\n").getBytes(UTF_8))
      }
    case None =>
      cases.foreach { case (name, write, values) =>
        test(s"golden: $name writes the manifest's bytes and reads back") {
          val msg = write()
          assert(line(name, msg) == want.getOrElse(name, s"$name: not in the manifest"))
          val got = decode(msg)
          assert(got.length == values.size)
          got.zip(values).zipWithIndex.foreach { case ((g, v), k) =>
            assert(g.isNaN == v.isNaN && (v.isNaN || math.abs(g - v) <= 1e-6 * math.max(1.0, math.abs(v))),
              s"$name point $k: $g != $v")
          }
        }
      }
      test("the manifest lists exactly the written cases") {
        assert(want.keySet == cases.map(_._1).toSet)
      }
  }
}
