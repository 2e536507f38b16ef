package graft

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The artifact renderer and the scale key a bench summary is persisted
  * under. Pure: nothing is written. */
class BenchOutSpec extends AnyFunSuite {

  test("gb keys keep two decimals, so 0.05 and 0.1 GB runs do not collide") {
    def key(gb: Any) = BenchOut.scaleKey(BenchOut.obj("metric" -> "total", "gb" -> gb))
    assert(key(0.05) == Some("0p05g"))
    assert(key(BigDecimal("0.050")) == Some("0p05g"))
    assert(key(0.1) == Some("0p1g"))
    assert(key(BigDecimal("0.10")) == Some("0p1g"))
    assert(key(0.82) == Some("0p82g"))
    assert(key(0.824) == Some("0p82g"))
    assert(key(13.18) == Some("13p18g"))
    assert(key(12) == Some("12g"))
    assert(key(20.0) == Some("20g"))
  }

  test("sf summaries are keyed by the basename of their sf dir") {
    def key(sf: String) =
      BenchOut.scaleKey(BenchOut.obj("metric" -> "total", "value" -> 1.0, "sf" -> sf))
    assert(key("/data/sf0.1") == Some("sf0p1"))
    assert(key("/data/sf0.01/") == Some("sf0p01"))
    assert(key("sf1") == Some("sf1"))
    assert(key("") == None)
  }

  test("a gb field wins over an sf field; a summary with neither has no key") {
    assert(BenchOut.scaleKey(BenchOut.obj("gb" -> 0.5, "sf" -> "/data/sf0.1")) == Some("0p5g"))
    assert(BenchOut.scaleKey(BenchOut.obj("metric" -> "total", "value" -> 3.2)) == None)
  }

  test("fields render in order, nested maps and lists included, and parse back") {
    val line = BenchOut.render(BenchOut.obj("metric" -> "total", "value" -> 1.5,
      "n" -> 3L, "ok" -> true,
      "queries" -> scala.collection.mutable.LinkedHashMap("q2" -> 0.25, "q1" -> 2.0),
      "suspect" -> Seq("q2"), "sf" -> "/data/sf \"0.1\"\\x"))
    assert(line == """{"metric":"total","value":1.5,"n":3,"ok":true,""" +
      """"queries":{"q2":0.25,"q1":2.0},"suspect":["q2"],"sf":"/data/sf \"0.1\"\\x"}""")
    val JObject(fields) = JsonMethods.parse(line)
    assert(fields.map(_._1) ==
      List("metric", "value", "n", "ok", "queries", "suspect", "sf"))
    assert(fields.last._2 == JString("/data/sf \"0.1\"\\x"))
  }

  test("oracle_sql.json round-trips control characters, quotes and backslashes in catalog order") {
    val sql = Seq(
      "q_tab" -> "SELECT\t1",
      "q_crlf" -> "SELECT 1\r\nFROM t",
      "q_quote" -> """SELECT '"' AS q, 'a\b' AS s""",
      "q_ctl" -> "SELECT '\u0001'",
      "a_last" -> "SELECT 2")
    val JObject(parsed) = JsonMethods.parse(Verify.oracleJson(sql))
    assert(parsed.map { case (k, JString(v)) => k -> v; case (k, v) => k -> v.toString } == sql)
  }
}
