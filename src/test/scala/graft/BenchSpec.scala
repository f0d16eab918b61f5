package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.retime]]: the one ratio gate and retime, at the query floor
  * (0.3 s) and the build floor (2 s). */
class BenchSpec extends AnyFunSuite {

  test("ratio gate and retime: the floor, the min of two runs, a retry that throws") {
    for (floor <- Seq(0.3, 2.0)) {
      val med = floor // a 1.6× time then exceeds its median by 0.6 × floor
      val secs = Map("quiet" -> 1.6 * med, "faster" -> 3 * med, "slower" -> 3 * med,
        "broken" -> 3 * med, "unstamped" -> 100.0)
      val medians = Map("quiet" -> med, "faster" -> med, "slower" -> med, "broken" -> med)
      val retries = Map("faster" -> 1.2 * med, "slower" -> 4 * med)
      var waits = 0
      var reran = List.empty[String]
      val r = Bench.retime(secs, medians, gate = 1.5, floor = floor, () => waits += 1) { name =>
        reran ::= name
        retries.getOrElse(name, throw new RuntimeException(s"$name failed"))
      }
      assert(r.oneShot.map(_._1).toSet === Set("faster", "slower", "broken"), s"floor $floor")
      assert(!reran.contains("quiet") && !reran.contains("unstamped"))
      assert(waits === 1)
      assert(r.secs("quiet") === 1.6 * med)
      assert(r.secs("faster") === 1.2 * med)
      assert(r.secs("slower") === 3 * med)
      assert(r.retried === retries)
      assert(r.secs("broken") === 3 * med)
      assert(r.failed === List("broken"))
      assert(r.after.map(_._1).toSet === Set("slower", "broken"))
    }
  }

  test("nothing over the gate: no wait, no retry") {
    var waits = 0
    val r = Bench.retime(Map("q" -> 1.0), Map("q" -> 1.0), 1.5, 0.3, () => waits += 1) { _ =>
      fail("no retry expected")
    }
    assert(waits === 0 && r.oneShot.isEmpty && r.retried.isEmpty && r.secs === Map("q" -> 1.0))
  }
}
