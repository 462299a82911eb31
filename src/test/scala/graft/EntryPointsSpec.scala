package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Rules every driver and dev entry point keeps: one session factory, and
  * one JSON string escaper for the artifacts the driver parses. */
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
}
