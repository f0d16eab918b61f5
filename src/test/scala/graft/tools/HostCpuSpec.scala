package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** [[HostCpu.defaultMinSpin]] — the bench's spin floor scales with the
  * core count the spin runs on. */
class HostCpuSpec extends AnyFunSuite {

  test("default spin floor: 1800 on 32 cores, 225 on 4") {
    assert(HostCpu.defaultMinSpin(32) === 1800L)
    assert(HostCpu.defaultMinSpin(4) === 225L)
  }
}
