package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Rules every driver and dev entry point keeps: one session factory, one
  * JSON string escaper for the artifacts the driver parses, one scan core
  * for the table formats' row keys, kill sets and parquet footers, one
  * walk over a GRIB file's messages, one write core per table format, a
  * columnar Zarr scan, one Zarr metadata renderer and shard packer, one
  * CF decode and one GRIB packing core. */
class EntryPointsSpec extends AnyFunSuite {

  test("no session is built outside GraftSession") {
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val sources = Seq("src/main", "src/test").flatMap { root =>
      assert(Files.isDirectory(Paths.get(root)), s"run from the project root: $root")
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }
    val offenders = sources.filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter((p: Path) => builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.builder/local instead: ${offenders.mkString(", ")}")
  }

  test("every oracle SQL string round-trips through the JSON escaper") {
    val json = new ObjectMapper()
    val tricky = Seq("tab\there", "cr\r\nlf", "quote \" and \\ backslash", "\u0001\u001f",
      "unicode \u00e9 \u2028 \ud83d\ude00")
    for (s <- SparkEntry.oracleSql.keys ++ SparkEntry.oracleSql.values ++ tricky)
      assert(json.readValue("\"" + Bench.jsonEscape(s) + "\"", classOf[String]) == s)
    val parsed = json.readValue(Verify.oracleJson(SparkEntry.oracleSql),
      classOf[java.util.Map[String, String]]).asScala.toMap
    assert(parsed == SparkEntry.oracleSql)
  }

  test("row keys, kill sets and parquet footers live only in TableScan") {
    val owned = Seq("\"__row_path\"", "\"__row_pos\"", "\"_metadata.row_index\"",
      "\"__del_path\"", "\"__del_pos\"", "ParquetFileReader.open")
    val main = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = for {
      p <- main if p.getFileName.toString != "TableScan.scala"
      text = Files.readString(p)
      o <- owned if text.contains(o)
    } yield s"$p: $o"
    assert(offenders.isEmpty, s"use graft.sources.TableScan instead: ${offenders.mkString(", ")}")
  }

  test("GRIB files are walked only in GribIndex") {
    val main = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = main.flatMap { p =>
      val text = Files.readString(p)
      val walks = p.getFileName.toString != "GribIndex.scala" && text.contains("nextMessage(")
      val strict = Seq("object Grib1Reader", "object Grib2Reader").filter(text.contains)
      (if (walks) Seq(s"$p: nextMessage(") else Nil) ++ strict.map(o => s"$p: $o")
    }
    assert(offenders.isEmpty,
      s"walk GRIB messages through GribIndex and read through GribReader: ${offenders.mkString(", ")}")
  }

  test("data-writing commits go through the write core") {
    val lines = Files.readAllLines(
      Paths.get("src/main/scala/graft/sources/TableWriters.scala")).asScala.toSeq
    val objectDecl = """^object (\w+)""".r
    val memberDecl =
      """^  (?:private(?:\[\w+\])? )?(?:final )?(?:case class|class|lazy val|val|def) (\w+)""".r
    // (enclosing object, enclosing member) of every line
    val owners = lines.scanLeft(("", "")) { case ((obj, mem), l) =>
      objectDecl.findFirstMatchIn(l) match {
        case Some(m) => (m.group(1), "")
        case None => (obj, memberDecl.findFirstMatchIn(l).map(_.group(1)).getOrElse(mem))
      }
    }.tail
    def users(token: String, inObject: Option[String]): Set[String] =
      lines.zip(owners).collect {
        case (l, (obj, mem)) if l.contains(token) && inObject.forall(_ == obj) => mem
      }.toSet
    // token, object scope, the members allowed to name it: its definition
    // and its one core caller
    val rules = Seq(
      ("commitSnapshot(", None, Set("commitSnapshot", "commitRowLevel")),
      ("writeDataManifest(", None, Set("writeDataManifest", "imageManifest")),
      ("statsFieldsWithCounts(", None, Set("statsFieldsWithCounts", "placeData")),
      ("writeData(", Some("DeltaWriter"), Set("placeData", "cdcActions")))
    val offenders = rules.collect {
      case (token, obj, allowed) if users(token, obj) != allowed =>
        s"$token in ${users(token, obj).toSeq.sorted.mkString(", ")}"
    }
    assert(offenders.isEmpty,
      s"write through placeData/imageManifest and commit through commitLog/" +
        s"commitRowLevel: ${offenders.mkString("; ")}")
  }

  test("the Zarr scan is columnar") {
    val zarr = Files.walk(Paths.get("src/main/scala/graft/sources/zarr")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = for {
      p <- zarr
      text = Files.readString(p)
      t <- Seq("PartitionReader[InternalRow]", "GenericInternalRow") if text.contains(t)
    } yield s"$p: $t"
    assert(offenders.isEmpty,
      s"fill column vectors in ZarrColumnarReader instead: ${offenders.mkString(", ")}")
  }

  test("Zarr metadata is rendered only in ZarrMeta") {
    val sources = Files.walk(Paths.get("src/main/scala/graft/sources")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "ZarrMeta.scala")
      .toSeq
    val offenders = for {
      p <- sources
      text = Files.readString(p)
      t <- Seq("zarr_format") ++
        (if (p.toString.contains("/zarr/")) Seq("new java.util.zip.CRC32C") else Nil)
      if text.contains(t)
    } yield s"${p.getFileName}: $t"
    assert(offenders.isEmpty,
      s"render Zarr metadata and pack shards through ZarrMeta: ${offenders.mkString(", ")}")
  }

  test("CF mask and scale attributes are read only in CfDecode") {
    // writers declare the attributes; every reader and scan decodes (or
    // passes them through) by CfDecode
    val keys = Seq("scale_factor", "add_offset", "_FillValue", "missing_value").map(k => s"\"$k\"")
    val main = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = for {
      p <- main
      name = p.getFileName.toString if name != "CfDecode.scala" && !name.endsWith("Writer.scala")
      text = Files.readString(p)
      k <- keys if text.contains(k)
    } yield s"$name: $k"
    assert(offenders.isEmpty,
      s"decode CF attributes through graft.sources.CfDecode: ${offenders.mkString(", ")}")
  }

  test("GRIB values are masked and scaled only in GribPacking") {
    // the templates produce or encode their X; the bitmap mask, the
    // (R + X * 2^E) / 10^D scale and the bit loops live in the core
    val dir = Paths.get("src/main/scala/graft/sources/grib")
    val offenders = for {
      name <- Seq("Grib1.scala", "Grib2.scala", "Grib1Writer.scala", "Grib2Writer.scala")
      text = Files.readString(dir.resolve(name))
      t <- Seq("0x80 >> (", "math.pow(2.0,") if text.contains(t)
    } yield s"$name: $t"
    assert(offenders.isEmpty,
      s"mask, scale and bit-pack GRIB values through GribPacking: ${offenders.mkString(", ")}")
  }
}
