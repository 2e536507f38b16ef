package graft

import org.scalatest.funsuite.AnyFunSuite

/** The box key a canary band is persisted under. Pure: no canary runs. */
class HostCanarySpec extends AnyFunSuite {

  private val GiB = 1L << 30

  test("the box key names cores, heap and the slugged CPU model") {
    assert(HostCanary.boxKey(4, "Intel(R) Xeon(R) Platinum 8375C CPU @ 2.90GHz", 4 * GiB) ==
      "4c-4g-intel-xeon-platinum-8375c-cpu-2-90ghz")
    assert(HostCanary.boxKey(32, "AMD EPYC 7R13 Processor", 8 * GiB) ==
      "32c-8g-amd-epyc-7r13-processor")
    assert(HostCanary.boxKey(4, "", 4 * GiB) == "4c-4g-unknown")
    assert(HostCanary.boxKey(4, " -- ", 4 * GiB) == "4c-4g-unknown")
  }

  test("heap rounds to whole GiB, so -Xmx3g less a survivor space keys as 3g") {
    assert(HostCanary.boxKey(4, "x", 3 * GiB - 100L * 1024 * 1024) == "4c-3g-x")
    assert(HostCanary.boxKey(4, "x", 3 * GiB + GiB / 4) == "4c-3g-x")
  }

  test("boxes differing in any part get different, file-name-safe keys") {
    val keys = Seq(
      HostCanary.boxKey(4, "Intel(R) Xeon(R) CPU", 4 * GiB),
      HostCanary.boxKey(32, "Intel(R) Xeon(R) CPU", 4 * GiB),
      HostCanary.boxKey(4, "AMD EPYC 7R13 Processor", 4 * GiB),
      HostCanary.boxKey(4, "Intel(R) Xeon(R) CPU", 8 * GiB),
      HostCanary.boxKey(4, "Model/with spaces\\and:colons" + "z" * 80, 4 * GiB))
    assert(keys.distinct.size == keys.size)
    keys.foreach(k => assert(k.matches("[a-z0-9][a-z0-9-]*[a-z0-9]"), k))
  }
}
