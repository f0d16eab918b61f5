package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.lit

import graft.SparkSpec

/** [[EpochPin]] — the serving streams' standing epoch handle. Contracts:
  * a stable epoch is loaded ONCE and reused (no per-batch reload), a roll
  * swaps exactly once and releases the old handle, close releases,
  * [[EpochPin.bound]] ties the pin's lifetime to a streaming query, and
  * [[EpochPin.serve]] overwrites a replayed batch and closes the pin when
  * the plan fails. */
class EpochPinSpec extends SparkSpec {

  import sqlImplicits._

  private final class Counters {
    var loads = 0
    var releases = 0
  }

  private def fakePin(c: Counters, newest: () => Option[Long]) =
    new EpochPin[String](
      newest,
      () => { c.loads += 1; newest().map(id => id -> s"idx$id") },
      _ => c.releases += 1)

  test("stable epoch: one load, many gets, zero releases until close") {
    val c = new Counters
    val pin = fakePin(c, () => Some(7L))
    assert((1 to 5).map(_ => pin.get()).distinct === Vector((7L, "idx7")))
    assert(c.loads === 1 && c.releases === 0,
      "reuse must not reload or release")
    pin.close()
    assert(c.releases === 1, "close releases the standing handle")
    intercept[IllegalArgumentException](pin.get())
  }

  test("a roll swaps once: old handle released, new one loaded") {
    val c = new Counters
    var cur = 3L
    val pin = fakePin(c, () => Some(cur))
    assert(pin.get() === (3L, "idx3"))
    cur = 4L // the roll commits a newer epoch
    assert(pin.get() === (4L, "idx4"))
    assert(pin.get() === (4L, "idx4"))
    assert(c.loads === 2 && c.releases === 1,
      "swap = one release of the old + one load of the new")
    pin.close()
    assert(c.releases === 2)
  }

  test("no committed epoch: get throws, nothing dangles") {
    val c = new Counters
    val pin = fakePin(c, () => None)
    intercept[IllegalStateException](pin.get())
    pin.close()
    assert(c.releases === 0, "a failed load must not leave a handle to release")
  }

  test("pinned lexical serving tracks a mid-stream roll at the next get") {
    val root = Files.createTempDirectory("pin_idx").toString
    LexTieredStream.foldBatch(Seq((1L, "alpha beta"), (2L, "alpha"))
      .toDF("doc_id", "text"), root, batchId = 0L)
    val pin = new LexTieredStream.Roll(spark, root).pin
    try {
      val (e0, i0) = pin.get()
      assert(e0 === 0L)
      val (e0b, i0b) = pin.get()
      assert(e0b === 0L && (i0b eq i0), "same epoch → the SAME handle")
      LexTieredStream.foldBatch(Seq((3L, "gamma")).toDF("doc_id", "text"),
        root, batchId = 1L)
      val (e1, i1) = pin.get()
      assert(e1 === 1L && !(i1 eq i0), "a roll must swap the handle")
      assert(i1.index.nDocs === 3L)
    } finally pin.close()
  }

  test("bound: the pin closes when the query terminates") {
    val c = new Counters
    val pin = fakePin(c, () => Some(1L))
    pin.get()
    val landing = Files.createTempDirectory("pin_in").toString
    Seq(1L).toDF("x").write.parquet(s"$landing/chunk0")
    val q = EpochPin.bound(spark, pin) {
      spark.readStream.schema("x LONG").parquet(s"$landing/chunk*")
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("pin_ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
        .start()
    }
    q.awaitTermination(120000L)
    // the terminated event is delivered async on the listener bus
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (c.releases == 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(c.releases === 1, "query termination must close the pin")
  }

  private def stage(landing: String, chunk: Int, xs: Seq[Long]): Unit =
    xs.toDF("x").coalesce(1).write.parquet(s"$landing/chunk$chunk")

  test("serve: a replayed batch overwrites its batch dir — no duplicate " +
       "rows, the replaying epoch stamped") {
    val c = new Counters
    var cur = 5L
    val landing = Files.createTempDirectory("pin_srv_in").toString
    val out = Files.createTempDirectory("pin_srv_out").toString
    val ck = Files.createTempDirectory("pin_srv_ck").toString
    stage(landing, 0, Seq(1L, 2L, 3L))
    def run(): Unit = {
      val q = EpochPin.serve("fake", spark.readStream.schema("x LONG")
          .parquet(s"$landing/chunk*"), fakePin(c, () => Some(cur)), out, ck,
        org.apache.spark.sql.streaming.Trigger.AvailableNow()) {
        (batch, idx) => batch.withColumn("idx", lit(idx))
      }
      assert(q.awaitTermination(120000L), "serve must drain")
    }
    run()
    // a crash after the batch dir landed but before the offset commit:
    // drop the commit log entry so the restart replays batch 0 — under a
    // roll that happened meanwhile
    assert(new java.io.File(s"$ck/commits/0").delete(),
      "precondition: batch 0 committed")
    new java.io.File(s"$ck/commits/.0.crc").delete()
    cur = 6L
    run()
    val b0 = spark.read.parquet(s"$out/batch=0")
    assert(b0.select("x").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L), "a replay must overwrite, not append")
    assert(b0.select("epoch_id", "idx").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((6L, "idx6")),
      "the replay answers under the epoch newest at its start")
    assert(b0.select("batch_id").distinct().collect().map(_.getLong(0))
      .toSeq === Seq(0L))
  }

  test("serve: a plan that throws fails the query and still closes the " +
       "pin — exactly one release") {
    val c = new Counters
    val landing = Files.createTempDirectory("pin_fail_in").toString
    stage(landing, 0, Seq(1L))
    val q = EpochPin.serve("fake", spark.readStream.schema("x LONG")
        .parquet(s"$landing/chunk*"), fakePin(c, () => Some(1L)),
      Files.createTempDirectory("pin_fail_out").toString,
      Files.createTempDirectory("pin_fail_ck").toString,
      org.apache.spark.sql.streaming.Trigger.AvailableNow()) {
      (_, _) => throw new IllegalStateException("plan boom")
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination(120000L))
    assert(e.getMessage.contains("plan boom"))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (c.releases == 0 && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200) // a second, wrong release would land here
    assert(c.loads === 1 && c.releases === 1,
      "a failed query must close the pin exactly once")
  }
}
