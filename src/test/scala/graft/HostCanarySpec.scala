package graft

import org.scalatest.funsuite.AnyFunSuite

/** The box key a canary band is persisted under (pure), and the canary
  * bracket the pipeline benches record around their run. */
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

  test("the bracket runs its body once and returns the five canary fields in artifact order") {
    var runs = 0
    val (result, fields) = HostCanary.bracket { runs += 1; "done" }
    assert(result == "done" && runs == 1)
    assert(fields.map(_._1) == Seq("canary_pre", "canary_post",
      "par_canary_pre", "par_canary_post", "loadavg"))
    fields.take(4).foreach { case (k, v) =>
      assert(v.asInstanceOf[Double] > 0, k)
    }
  }
}
