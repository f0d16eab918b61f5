package graft.operators

import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The concurrency guards on [[Checkpoints]]: a [[Checkpoints.sized]]
  * scope never writes the root session's conf (a concurrent reader sees
  * it unchanged, two concurrent floor scopes both get their width and
  * AQE off), scopes resolve against the root and are memoized per root
  * conf, and sweepingOnFailure refuses to sweep when builds overlap (it
  * cannot attribute registered RDDs to an owner). */
class CheckpointsGuardSpec extends SparkSpec {
  import sqlImplicits._

  private val Width = "spark.sql.shuffle.partitions"
  private val Adaptive = "spark.sql.adaptive.enabled"

  /** A root session 64 wide — wider than the floor, so a floor scope
    * lowers the width as well as switching AQE off. */
  private lazy val root64: SparkSession = {
    val r = spark.newSession()
    r.conf.set(Width, "64")
    r
  }

  private def small(s: SparkSession): DataFrame = s.range(0, 100).toDF("id")

  private def exchangeWidths(plan: SparkPlan): Seq[Int] = plan.collect {
    case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions
  }

  private def adaptive(plan: SparkPlan): Boolean =
    plan.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isDefined

  test("sized: the root conf is unchanged while another thread runs inside a scope") {
    val before = (root64.conf.get(Width), root64.conf.get(Adaptive))
    CheckpointsGuardSpec.entered.set(new CountDownLatch(1))
    CheckpointsGuardSpec.release.set(new CountDownLatch(1))
    val hold = udf { (x: Long) =>
      CheckpointsGuardSpec.entered.get.countDown()
      CheckpointsGuardSpec.release.get.await(60, TimeUnit.SECONDS)
      x
    }
    val pool = Executors.newSingleThreadExecutor()
    try {
      val inside = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = Checkpoints.sized(small(root64), 100)
          .repartition(2).select(hold(col("id")).as("id"))
          .groupBy(col("id") % 3).count().count()
      })
      assert(CheckpointsGuardSpec.entered.get.await(60, TimeUnit.SECONDS))
      try assert((root64.conf.get(Width), root64.conf.get(Adaptive)) === before)
      finally CheckpointsGuardSpec.release.get.countDown()
      assert(inside.get(60, TimeUnit.SECONDS) === 3L)
    } finally pool.shutdown()
    assert((root64.conf.get(Width), root64.conf.get(Adaptive)) === before)
  }

  test("sized: two concurrent floor scopes both run at width <= 4 without AQE") {
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val runs = (1 to 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[(Seq[Int], Boolean, Long)] {
          def call(): (Seq[Int], Boolean, Long) = {
            barrier.await(60, TimeUnit.SECONDS)
            val df = Checkpoints.sized(small(root64), 100 * i)
              .groupBy(col("id") % 7).count()
            val n = df.count()
            val plan = df.queryExecution.executedPlan
            (exchangeWidths(plan), adaptive(plan), n)
          }
        })
      }.map(_.get(120, TimeUnit.SECONDS))
      runs.foreach { case (widths, aqe, n) =>
        assert(widths.nonEmpty && widths.forall(_ <= 4), widths)
        assert(!aqe, "a floor scope must plan without AQE")
        assert(n === 7L)
      }
    } finally pool.shutdown()
  }

  test("sized: a row count above the session width returns the frame unchanged") {
    val df = small(spark)
    assert(Checkpoints.sized(df, 1000000000L) eq df)
  }

  test("sized: a nested scope derives from the root, not the outer scope") {
    val outer = Checkpoints.sized(small(root64), 1)
    assert(outer.sparkSession.conf.get(Adaptive) === "false")
    val inner = Checkpoints.sized(outer, 40 * 500000L)
    assert(inner.sparkSession.conf.get(Width) === "40")
    assert(inner.sparkSession.conf.get(Adaptive) === "true",
      "the inner scope must not inherit the outer scope's AQE-off")
    assert(Checkpoints.sized(outer, Long.MaxValue).sparkSession eq root64)
  }

  test("sized: a root runtime conf change reaches the next scope") {
    val before = Checkpoints.sized(small(root64), 1)
    assert(!Checkpoints.reliable(before))
    root64.conf.set(Checkpoints.ReliableConf, "true")
    try {
      val after = Checkpoints.sized(small(root64), 1)
      assert(after.sparkSession ne before.sparkSession)
      assert(Checkpoints.reliable(after))
      assert(after.sparkSession.conf.get(Width) === "4")
    } finally root64.conf.unset(Checkpoints.ReliableConf)
    assert(!Checkpoints.reliable(Checkpoints.sized(small(root64), 1)))
  }

  test("sized: the same key reuses the same derived session") {
    val a = Checkpoints.sized(small(root64), 1)
    val b = Checkpoints.sized(small(root64), 1000)
    assert(a.sparkSession ne root64)
    assert(a.sparkSession eq b.sparkSession)
  }

  test("sized: t37's returned frame runs at <= 4 reduce tasks under a " +
       "64-wide root when the caller acts outside any scope") {
    val out = graft.queries.TextQueries.queries("t37_bm25")(root64,
      "/root/testdata/sf0.001")
    try {
      assert(out.collect().nonEmpty)
      val plan = out.queryExecution.executedPlan
      assert(!adaptive(plan))
      assert(exchangeWidths(plan).nonEmpty && exchangeWidths(plan).forall(_ <= 4),
        exchangeWidths(plan))
    } finally graft.queries.TextQueries.releasePostingsIndexes(root64)
  }

  test("sweepingOnFailure: solo failure sweeps this build's frames") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    intercept[RuntimeException] {
      Checkpoints.sweepingOnFailure(sc) {
        val df = Seq(1L, 2L).toDF("x").persist()
        df.count()
        throw new RuntimeException("boom")
      }
    }
    assert(sc.getPersistentRDDs.size === before, "solo sweep must fire")
  }

  test("sweepingOnFailure: same-thread nesting is ONE logical build — " +
       "the sweep still fires (nesting must not read as overlap)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    intercept[RuntimeException] {
      Checkpoints.sweepingOnFailure(sc) {
        val outer = Seq(1L).toDF("x").persist()
        outer.count()
        Checkpoints.sweepingOnFailure(sc) {
          val inner = Seq(2L).toDF("y").persist()
          inner.count()
          throw new RuntimeException("boom")
        }
      }
    }
    assert(sc.getPersistentRDDs.size === before,
      "nested failure must sweep both the inner and outer builds' frames")
  }

  test("sweepingOnFailure: overlapping builds skip the sweep — a live " +
       "sibling's frames survive the other's failure") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val siblingUp = new CountDownLatch(1)
    val failDone = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val sibling = pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
        def call(): org.apache.spark.sql.DataFrame =
          Checkpoints.sweepingOnFailure(sc) {
            val df = Seq(10L, 20L).toDF("y").persist()
            df.count()
            siblingUp.countDown()
            // stay in-flight across the other build's failure
            assert(failDone.await(30, TimeUnit.SECONDS))
            df
          }
      })
      assert(siblingUp.await(30, TimeUnit.SECONDS))
      intercept[RuntimeException] {
        Checkpoints.sweepingOnFailure(sc) {
          throw new RuntimeException("boom")
        }
      }
      failDone.countDown()
      val df = sibling.get(30, TimeUnit.SECONDS)
      // the sibling's persisted frame must still be live and usable
      assert(df.count() === 2L)
      assert(sc.getPersistentRDDs.size === before + 1,
        "overlap must skip the sweep, leaving the sibling's frame")
      df.unpersist(blocking = true)
      ()
    } finally pool.shutdown()
    assert(sc.getPersistentRDDs.size === before)
  }
}

object CheckpointsGuardSpec {
  // latches the blocking UDF reaches through the singleton (a captured
  // latch would be a deserialized copy inside the task)
  val entered = new java.util.concurrent.atomic.AtomicReference[CountDownLatch]()
  val release = new java.util.concurrent.atomic.AtomicReference[CountDownLatch]()
}
