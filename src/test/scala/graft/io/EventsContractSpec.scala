package graft.io

import graft.SparkSpec
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The round-7 lesson, pinned: the events parquet's timestamp encoding
  * changed under the loader (NANOS → MICROS) and the engine silently
  * produced 1000x-wrong timestamps while staying schema-valid. These tests
  * pin (a) footer-adaptive decoding — the loader reads the file's ACTUAL
  * logical type; (b) the decoded values match the documented 2024 window;
  * (c) the canary catches a deliberately mis-decoded read LOUDLY. */
class EventsContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("tsUnit reads the parquet footer's actual logical type") {
    // the current driver testdata is TIMESTAMP(micros); if the generator
    // flips back to nanos this assertion flips with it via the footer —
    // what must NOT happen is the loader assuming either one blindly
    val unit = Tables.tsUnit(spark, s"$dir/events.parquet")
    assert(unit == TimeUnit.MICROS || unit == TimeUnit.NANOS)
  }

  test("loadEvents decodes ts into the documented 2024 event-time window") {
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val row = df.agg(min("ts"), max("ts")).head()
    val (mn, mx) = (row.getTimestamp(0).toInstant, row.getTimestamp(1).toInstant)
    val lo = java.time.Instant.parse("2023-01-01T00:00:00Z")
    val hi = java.time.Instant.parse("2026-01-01T00:00:00Z")
    assert(!mn.isBefore(lo) && mx.isBefore(hi),
      s"decoded events ts [$mn, $mx] outside the documented window — unit-scale decode bug")
    // and the full span is ~30 days, not a 1000x-collapsed ~43 minutes
    val spanDays = java.time.Duration.between(mn, mx).toDays
    assert(spanDays >= 7, s"events span only collapsed to $spanDays days")
  }

  test("canary passes on the correctly-decoded table") {
    Tables.canaryEvents(spark, dir)
  }

  test("canary FAILS loudly on a deliberately mis-decoded read") {
    // reproduce the round-7 bug shape: treat micros-since-epoch as if it
    // were nanos (divide by 1000) — everything collapses into 1970
    val bad = Tables.load(spark, dir, "events")
      .withColumn("ts",
        timestamp_micros((unix_micros(col("ts")) / 1000).cast(LongType)))
    val e = intercept[IllegalArgumentException] {
      Tables.assertTsContract(bad)
    }
    assert(e.getMessage.contains("ts-contract canary"))
  }

  test("canary rejects an all-NULL timestamp column") {
    val bad = Tables.load(spark, dir, "events")
      .withColumn("ts", lit(null).cast(TimestampType))
    intercept[IllegalArgumentException] { Tables.assertTsContract(bad) }
  }

  test("schema contract holds on the driver testdata") {
    assert(Tables.schemaContractViolations(spark, dir) === Seq.empty)
  }

  test("schema contract flags a drifted source (missing + renamed columns)") {
    // stage a copy of the testdata dir where customer.parquet lost a
    // declared column — the generalized round-7 failure shape
    val staged = java.nio.file.Files.createTempDirectory("drift")
    new java.io.File(dir).listFiles().foreach { f =>
      java.nio.file.Files.copy(f.toPath, staged.resolve(f.getName))
    }
    spark.read.parquet(s"$dir/customer.parquet")
      .withColumnRenamed("c_acctbal", "c_balance")
      .coalesce(1).write.mode("overwrite")
      .parquet(staged.resolve("tmp_cust").toString)
    val part = new java.io.File(staged.resolve("tmp_cust").toString)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.delete(staged.resolve("customer.parquet"))
    java.nio.file.Files.move(part.toPath, staged.resolve("customer.parquet"))

    val v = Tables.schemaContractViolations(spark, staged.toString)
    assert(v.exists(_.startsWith("customer.c_acctbal")), v.mkString("; "))
    assert(v.forall(_.startsWith("customer.")), s"only customer drifted: $v")
    val e = intercept[IllegalArgumentException] {
      Tables.assertSchemaContract(spark, staged.toString)
    }
    assert(e.getMessage.contains("schema contract violated"))
  }

  test("schema contract reports a missing table file") {
    val staged = java.nio.file.Files.createTempDirectory("missing")
    new java.io.File(dir).listFiles()
      .filterNot(_.getName == "region.parquet")
      .foreach(f => java.nio.file.Files.copy(f.toPath, staged.resolve(f.getName)))
    val v = Tables.schemaContractViolations(spark, staged.toString)
    assert(v.exists(_.startsWith("region: file missing")), v.mkString("; "))
  }

  test("loadEvents reads an isAdjustedToUTC=true file as native TimestampType") {
    // TIMESTAMP_MICROS writer on a TimestampType column annotates
    // isAdjustedToUTC=true; before the r8-advice fix the loader read every
    // non-nanos file under an NTZ schema, which dies on an adjusted file
    // deep in the vectorized reader. Round-trip and re-load.
    val staged = java.nio.file.Files.createTempDirectory("adjusted")
    val out = staged.resolve("events.parquet").toString
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try Tables.load(spark, dir, "events").write.parquet(out)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val enc = Tables.tsEncoding(spark, out)
    assert(enc.adjustedToUtc, s"writer did not produce an adjusted file: $enc")
    val df = Tables.loadEvents(spark, out)
    assert(df.schema("ts").dataType == TimestampType)
    Tables.assertTsContract(df) // values survive the round trip
    val n = Tables.load(spark, dir, "events").count()
    assert(df.count() == n)
  }

  test("loadEvents routes a legacy INT96 file through native decode, not nanos-as-long") {
    // INT96 has NO logical annotation; the pre-fix fallthrough treated it as
    // unannotated-INT64 legacy nanos and read it under a LongType schema —
    // guaranteed vectorized-reader carnage on a real Hive/old-Spark file.
    val staged = java.nio.file.Files.createTempDirectory("int96")
    val out = staged.resolve("events.parquet").toString
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try Tables.load(spark, dir, "events").write.parquet(out)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val df = Tables.loadEvents(spark, out)
    assert(df.schema("ts").dataType == TimestampType)
    Tables.assertTsContract(df)
  }

  test("loadEvents on a NANOS file needs the nanosAsLong key GraftSession.tune " +
       "sets — a session without it fails loudly, a tuned one loads") {
    // an unannotated INT64 `ts` is the legacy nanos encoding
    val staged = java.nio.file.Files.createTempDirectory("nanos")
    val out = staged.resolve("events.parquet").toString
    Tables.load(spark, dir, "events")
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .write.parquet(out)
    assert(Tables.tsUnit(spark, out) == TimeUnit.NANOS)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val bare = spark.newSession()
    bare.conf.unset(key)
    val e = intercept[IllegalArgumentException](Tables.loadEvents(bare, out))
    assert(e.getMessage.contains("GraftSession.tune"), e.getMessage)
    assert(!bare.conf.getOption(key).contains("true"),
      "the loader must not set the key")
    val df = Tables.loadEvents(spark, out)
    assert(df.schema("ts").dataType == TimestampType)
    Tables.assertTsContract(df)
    assert(df.count() == Tables.load(spark, dir, "events").count())
  }
}
