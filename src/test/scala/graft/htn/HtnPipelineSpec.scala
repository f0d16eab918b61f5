package graft.htn

import org.apache.spark.sql.Row
import graft.SparkSpec

/** Golden end-to-end assertions for the e-phenotype pipeline over the named
  * scenario patients (FIXTURES.md §3 — each patient pins one semantics
  * decision from SURVEY.md §7.5). */
class HtnPipelineSpec extends SparkSpec {

  lazy val result: HtnPipeline.Result =
    HtnPipeline.run(spark, OmopFixtures.tables(spark), OmopFixtures.codes, HtnConfig())

  lazy val analytical: Map[String, Row] =
    result.analytical.collect().map(r => r.getString(0) -> r).toMap

  private def flags(r: Row): (Any, Any, Any, Any, Any, Any, Any, Any) = (
    r.getAs[Any]("HTN140_90"), r.getAs[Any]("HTN130_80"),
    r.getAs[Any]("HTNcontrol140"), r.getAs[Any]("HTNcontrol130"),
    r.getAs[Any]("DX"), r.getAs[Any]("MEDS"),
    r.getAs[Any]("hypertension_140"), r.getAs[Any]("hypertension_130"))

  test("high BP on 2+ days → hypertensive by BP alone") {
    assert(flags(analytical("PX_HTN_BP")) === ((1, 1, 0, 0, 0, 0, 1, 1)))
  }

  test("130/80 on 2+ days but never 140/90 → HTN130 only; latest <140/90 controlled") {
    assert(flags(analytical("PX_130_ONLY")) === ((0, 1, 1, 0, 0, 0, 0, 1)))
  }

  test("high BP on exactly 1 day → not hypertensive; dx/rx outside year ignored") {
    assert(flags(analytical("PX_ONE_DAY")) === ((0, 0, 1, 1, 0, 0, 0, 0)))
  }

  test("dx + latest reading <140/90 → hypertensive and controlled at 140") {
    assert(flags(analytical("PX_CONTROL")) === ((0, 0, 1, 0, 1, 0, 1, 1)))
  }

  test("diagnosis-only and medication-only phenotypes") {
    assert(flags(analytical("PX_DX_ONLY")) === ((0, 0, 1, 1, 1, 0, 1, 1)))
    assert(flags(analytical("PX_RX_ONLY")) === ((0, 0, 1, 1, 0, 1, 1, 1)))
  }

  test("exclusions: pregnant / ESRD / hospice patients are absent") {
    assert(!analytical.contains("PX_PREG"))
    assert(!analytical.contains("PX_ESRD"))
    assert(!analytical.contains("PX_HOSPICE"))
  }

  test("hospice code outside the measurement year does not exclude") {
    // PX_HOSPICE had a 2021 observation AND a 2023 procedure — excluded.
    // PX_ESRD only has its 2023 code. Cross-check: the care exclusion set
    // contains exactly PX_HOSPICE.
    val care = Exclusions.inCare(OmopFixtures.tables(spark), OmopFixtures.codes, HtnConfig())
      .collect().map(_.getString(0)).toSet
    assert(care === Set("PX_HOSPICE"))
  }

  test("mis-bridged, null-key, minor, and no-BP patients are absent") {
    assert(!analytical.contains("PX_MISBRIDGE"))
    assert(!analytical.contains("PX_MINOR"))
    assert(!analytical.contains("PX_NOBP")) // only a 2021 pair: outside window
    assert(!analytical.keys.exists(_ == null))
  }

  test("same-day average uses banker's rounding (119.25 → 119.2)") {
    val row = result.denominatorDays
      .filter("PATIENT_LINKAGE = 'PX_SAMEDAY'")
      .select("SBP_avg").collect()
    assert(row.map(_.getDouble(0)).toSeq === Seq(119.2))
  }

  test("implausible and wrong-unit readings dropped; fractional value kept") {
    val rows = result.denominatorDays
      .filter("PATIENT_LINKAGE = 'PX_PLAUS'")
      .select("MEASUREMENT_DATE", "SBP_avg").collect()
    assert(rows.length === 1)
    assert(rows.head.getDouble(1) === 112.5)
  }

  test("lookback-only patient: in denominator, NULL year flags, phenotype 0") {
    val r = analytical("PX_LOOKBACK")
    assert(r.getAs[Any]("HTN140_90") == null)
    assert(r.getAs[Any]("HTNcontrol140") == null)
    assert(r.getAs[Int]("hypertension_140") === 0)
  }

  test("location dedup picks the deterministic winner (CA < GA)") {
    assert(analytical("PX_TIE").getAs[String]("state") === "CA")
  }

  test("labels: age arithmetic, race/sex recode, zip3 unquoted once") {
    val r = analytical("PX_HTN_BP")
    assert(r.getAs[Int]("age") === 53)
    assert(r.getAs[String]("race") === "White")
    assert(r.getAs[String]("sex") === "Male")
    assert(r.getAs[String]("zip3") === "303")
  }

  test("exclusion metrics count single patients") {
    val m = result.metrics.get
    assert(m.cohort - m.afterPregnancy === 1)  // PX_PREG
    assert(m.afterPregnancy - m.afterEsrd === 1) // PX_ESRD
    assert(m.afterEsrd - m.afterCare === 1)    // PX_HOSPICE
  }

  test("tabyl produces shares plus a total row") {
    val t = Stats.tabyl(result.analytical, "hypertension_140").collect()
    val total = t.find(_.getString(0) == "Total").get
    assert(total.getLong(1) === result.analytical.count())
    assert(math.abs(t.filter(_.getString(0) != "Total").map(_.getDouble(2)).sum - 1.0) < 1e-9)
  }

  test("versioned stage checkpoints: a restart reuses current stages; a " +
       "config change invalidates the stamp and recomputes") {
    val src = java.nio.file.Files.createTempDirectory("htn_src").toString
    val ck = java.nio.file.Files.createTempDirectory("htn_ck").toString
    // file-backed inputs (the stamp needs input FILES; the in-memory
    // fixture is deliberately unversionable)
    val t0 = OmopFixtures.tables(spark)
    Seq("person" -> t0.person, "co" -> t0.conditionOccurrence,
      "m" -> t0.measurement, "o" -> t0.observation,
      "po" -> t0.procedureOccurrence, "de" -> t0.drugExposure)
      .foreach { case (n, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$src/$n") }
    def tables = OmopTables(
      spark.read.parquet(s"$src/person"), spark.read.parquet(s"$src/co"),
      spark.read.parquet(s"$src/m"), spark.read.parquet(s"$src/o"),
      spark.read.parquet(s"$src/po"), spark.read.parquet(s"$src/de"))

    def got(r: HtnPipeline.Result) = r.analytical.collect()
      .map(_.toSeq).sortBy(_.head.toString)
    def stageMtimes: Map[String, Long] = {
      val d = new java.io.File(s"$ck/analytical_htn/data")
      d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }

    val r1 = HtnPipeline.run(spark, tables, OmopFixtures.codes,
      HtnConfig(), Some(ck))
    val want = got(r1)
    val m1 = stageMtimes
    assert(m1.nonEmpty)
    Thread.sleep(1100) // clear mtime granularity before the restart

    // restart, same inputs + config: every stage reused, nothing rewritten
    val r2 = HtnPipeline.run(spark, tables, OmopFixtures.codes,
      HtnConfig(), Some(ck))
    assert(got(r2) === want)
    assert(stageMtimes === m1,
      "unchanged inputs + config must REUSE stage checkpoints, not rewrite")

    // a config change invalidates the stamp: stages recompute + restamp
    val r3 = HtnPipeline.run(spark, tables, OmopFixtures.codes,
      HtnConfig(minHighBpDays = 3), Some(ck))
    assert(stageMtimes !== m1, "a config change must read as stale")
    assert(got(r3) !== want, "minHighBpDays=3 changes the BP flags")

    // a CODELIST change invalidates the stamp too — exclusions and Dx/Rx
    // flags derive from the codes, so reusing stages across a codelist
    // update would silently serve stale clinical output (review catch)
    HtnPipeline.run(spark, tables, OmopFixtures.codes, HtnConfig(), Some(ck))
    val mBase = stageMtimes
    Thread.sleep(1100)
    val codes2 = OmopFixtures.codes.copy(
      htnRx = OmopFixtures.codes.htnRx :+ 999999999L)
    HtnPipeline.run(spark, tables, codes2, HtnConfig(), Some(ck))
    assert(stageMtimes !== mBase, "a codelist change must read as stale")

    // a LOGIC-version change invalidates too: data stamps can't see a
    // binary upgrade, so the stage params carry HtnPipeline.LogicVersion —
    // a stamp written by one version must read as stale under another
    // (r12 advice: upgraded code must not serve old-code stage outputs)
    val stageDir = s"$ck/analytical_htn"
    val vNow = graft.operators.IndexStore.framesVersion(spark,
      Seq(tables.person, tables.conditionOccurrence, tables.measurement,
        tables.observation, tables.procedureOccurrence, tables.drugExposure))
    val codesHash = graft.operators.IndexStore.md5Hex(
      codes2.productIterator.map {
        case s: Seq[_] => s.map(_.toString).sorted.mkString(",")
        case other => String.valueOf(other)
      }.mkString(";"))
    import graft.operators.IndexStore
    val base = Map("stage" -> "analytical_htn", "config" -> HtnConfig().toString,
      "codes_md5" -> codesHash)
    assert(IndexStore.load(spark, IndexStore.stage, stageDir, vNow,
      base + ("logic" -> HtnPipeline.LogicVersion)).nonEmpty,
      "current logic version must reuse the stage it just wrote")
    assert(IndexStore.load(spark, IndexStore.stage, stageDir, vNow,
      base + ("logic" -> "htn-stages-v0-other")).isEmpty,
      "a different logic version must read the stage as stale")
  }
}
