package graft.tools

import graft.SparkSpec

/** [[Sweep.Timer]]: each timed run carries its own jobs, stages, job time
  * and added persisted RDDs, read from the listener after the bus drains. */
class SweepSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("timed runs record jobs, stages, job time and added RDDs; warm job counts repeat") {
    val timer = new Sweep.Timer(spark)
    try Seq("q01_pricing_summary", "q03_join_revenue").foreach { name =>
      val runs = (1 to 3).map(_ => timer.time(name, sf))
      runs.foreach { r =>
        assert(r.error.isEmpty, s"$name: ${r.error}")
        assert(r.jobs >= 1, s"$name ran no job: $r")
        assert(r.stages >= r.jobs, s"$name: $r")
        assert(r.jobSec >= 0.0 && r.jobSec <= r.wall, s"$name: $r")
        assert(r.driverGapSec === r.wall - r.jobSec)
        assert(r.rddsAdded.isEmpty, s"$name persists nothing: $r")
      }
      // the first run warms; the two warm runs plan and run the same jobs
      assert(runs(2).jobs === runs(1).jobs, s"$name: $runs")
    } finally timer.close()
  }

  test("job time is the union of job intervals, clamped to the query window") {
    assert(Sweep.unionMs(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0L, 100L) === 30L)
    assert(Sweep.unionMs(Seq((5L, 20L), (18L, 60L)), 10L, 50L) === 40L)
    assert(Sweep.unionMs(Nil, 0L, 100L) === 0L)
  }
}
