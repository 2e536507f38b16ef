package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale key a bench summary is persisted under. Pure: nothing is
  * written. */
class BenchOutSpec extends AnyFunSuite {

  test("gb keys keep two decimals, so 0.05 and 0.1 GB runs do not collide") {
    def key(gb: String) = BenchOut.scaleKey(s"""{"metric":"total","gb":$gb}""")
    assert(key("0.05") == Some("0p05g"))
    assert(key("0.050") == Some("0p05g"))
    assert(key("0.1") == Some("0p1g"))
    assert(key("0.10") == Some("0p1g"))
    assert(key("0.82") == Some("0p82g"))
    assert(key("0.824") == Some("0p82g"))
    assert(key("13.18") == Some("13p18g"))
    assert(key("12") == Some("12g"))
    assert(key("20.0") == Some("20g"))
  }

  test("sf summaries are keyed by the basename of their sf dir") {
    def key(sf: String) = BenchOut.scaleKey(s"""{"metric":"total","value":1.0,"sf":"$sf"}""")
    assert(key("/data/sf0.1") == Some("sf0p1"))
    assert(key("/data/sf0.01/") == Some("sf0p01"))
    assert(key("sf1") == Some("sf1"))
    assert(key("") == None)
  }

  test("a gb field wins over an sf field; a summary with neither has no key") {
    assert(BenchOut.scaleKey("""{"gb":0.5,"sf":"/data/sf0.1"}""") == Some("0p5g"))
    assert(BenchOut.scaleKey("""{"metric":"total","value":3.2}""") == None)
  }
}
