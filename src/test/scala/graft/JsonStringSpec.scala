package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import LocalSession.jsonString

/** The JSON string quoter that writes Verify's oracle_sql.json and
  * Bench's oracle basket: one bad escape makes the driver's
  * `json.load` fail and zeroes a whole correctness run, so every
  * escape class is pinned here and the output is parsed back by an
  * independent JSON parser (Jackson, bundled with Spark).
  */
class JsonStringSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def parse(json: String): String = mapper.readValue(json, classOf[String])

  test("quote and backslash are escaped") {
    assert(jsonString("""say "hi"""") == """"say \"hi\""""")
    assert(jsonString("""a\b""") == """"a\\b"""")
    assert(jsonString("""\"""") == """"\\\""""")
  }

  test("newline, carriage return and tab use their short escapes") {
    assert(jsonString("a\nb\rc\td") == """"a\nb\rc\td"""")
  }

  test("every other char below 0x20 becomes a \\u00XX escape") {
    val short = Set('\n', '\r', '\t')
    (0 until 0x20).map(_.toChar).filterNot(short).foreach { c =>
      assert(jsonString(c.toString) == "\"\\u" + f"${c.toInt}%04x" + "\"",
        s"char 0x${c.toInt.toHexString}")
    }
    // the first char past the control range passes through
    assert(jsonString(" ") == "\" \"")
  }

  test("non-ASCII and supplementary-plane chars pass through") {
    val s = "café 中文 עברית ́ 😀 𐐷"
    assert(s.codePoints().anyMatch(_ > 0xFFFF))
    assert(jsonString(s) == "\"" + s + "\"")
  }

  test("Jackson parses the output back to the input") {
    val samples = Seq(
      "",
      "plain",
      """quote " and backslash \ together \" """,
      (0 until 0x20).map(_.toChar).mkString,
      "SELECT 'a''b'\n\tFROM t\r\nWHERE x ~ '\\d+'",
      "café 中文 😀 \u007F    ")
    samples.foreach(s => assert(parse(jsonString(s)) == s, s))
  }

  test("the full oracle map, written as Verify writes it, parses back") {
    val sqls = SparkEntry.oracleSql
    val json = sqls.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    val back = mapper.readTree(json).properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    assert(back == sqls)
  }
}
