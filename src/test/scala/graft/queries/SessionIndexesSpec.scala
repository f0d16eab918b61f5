package graft.queries

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.operators.IndexStats

/** [[SessionIndexes]]' lookup → build-once → release contract, on plain
  * values (no Spark jobs): concurrent lookups build once and count one
  * miss, releases are per session and per family, a throwing release
  * still drains the rest, and the swap ledger releases the held
  * generation before it builds the next. */
class SessionIndexesSpec extends SparkSpec {

  private def counts(stat: String): (Long, Long) = {
    val m = IndexStats.snapshot()
    (m.getOrElse(s"$stat.hit", 0L), m.getOrElse(s"$stat.miss", 0L))
  }

  test("3 concurrent lookups: 1 build, 1 miss, 2 hits") {
    val s = spark.newSession()
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val threads = (1 to 3).map { _ =>
      new Thread(() => {
        start.await()
        SessionIndexes.get(s, "specConcurrent", "k", "specConcurrent") {
          builds.incrementAndGet()
          Thread.sleep(300) // hold the build while the others arrive
          "v"
        }(_ => ())
        ()
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(TimeUnit.SECONDS.toMillis(30)))
    assert(builds.get === 1)
    assert(counts("specConcurrent") === ((2L, 1L)))
    SessionIndexes.releaseAll(s)
  }

  test("releasing session A leaves session B's entries") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val released = new AtomicInteger(0)
    val builds = new AtomicInteger(0)
    def lookup(s: org.apache.spark.sql.SparkSession): String =
      SessionIndexes.get(s, "specSessions", "k", "specSessions") {
        builds.incrementAndGet(); "v"
      }(_ => { released.incrementAndGet(); () })
    lookup(a); lookup(b)
    SessionIndexes.release(a, "specSessions")
    assert(released.get === 1)
    lookup(b)
    assert(builds.get === 2, "session B's entry must survive A's release")
    lookup(a)
    assert(builds.get === 3, "session A's entry must be gone")
    SessionIndexes.releaseAll(a)
    SessionIndexes.releaseAll(b)
    assert(released.get === 3)
  }

  test("a throwing release still removes its entry and releases the rest") {
    val s = spark.newSession()
    val released = new AtomicInteger(0)
    val builds = new AtomicInteger(0)
    def lookup(key: String, fails: Boolean): String =
      SessionIndexes.get(s, "specThrow", key, "specThrow") {
        builds.incrementAndGet(); key
      } { _ =>
        if (fails) throw new IllegalStateException(s"release of $key fails")
        released.incrementAndGet(); ()
      }
    Seq("a" -> true, "b" -> false, "c" -> true, "d" -> false)
      .foreach { case (k, f) => lookup(k, f) }
    SessionIndexes.release(s, "specThrow")
    assert(released.get === 2, "both non-throwing entries must be released")
    lookup("a", fails = false)
    assert(builds.get === 5, "the throwing entry must be removed anyway")
    SessionIndexes.releaseAll(s)
  }

  test("swap releases the held generation before it builds the next") {
    val s = spark.newSession()
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def call(gen: Int): Int =
      SessionIndexes.swap(s, "specSwap", "k") {
        events.add(s"build $gen"); gen
      }(g => { events.add(s"release $g"); () })
    (1 to 3).foreach(call)
    SessionIndexes.release(s, "specSwap")
    import scala.jdk.CollectionConverters._
    assert(events.asScala.toList === List("build 1", "release 1", "build 2",
      "release 2", "build 3", "release 3"))
  }
}
