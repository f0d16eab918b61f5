package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.htn.{Codelists, HtnConfig, HtnPipeline, OmopTables}
import graft.io.Tables

/** q83: the reference's ACTUAL deliverable — the full Parts 2–4
  * hypertension e-phenotype pipeline (`2_data_importing_cleaning.R` →
  * `3_blood_pressure.R` → `4_hypertension_phenotype_main.R:140-177`) —
  * composed end-to-end and replayed by the DuckDB oracle as one chain of
  * CTEs (the t28 discipline applied to the clinical pipeline).
  *
  * The stage functions are each behind their own oracle rows (q01–q16) and
  * HtnPipelineSpec goldens; what q83 adds is the COMPOSITION certificate:
  * dedup/mis-bridge → pregnancy/ESRD/care exclusions → BP plausibility →
  * same-day averaging → paired days → two high-BP thresholds + control
  * flags → DX/MEDS → phenotype OR, all in one hash-exact row.
  *
  * The OMOP fixture derives deterministically from the sf dir's `customer`
  * and `orders` tables using arithmetic BOTH engines compute identically
  * (multiply/mod on BIGINT, date + int days, lpad) — no engine-private
  * hash anywhere, so the oracle regenerates the same fixture from the same
  * parquet and replays every stage. Planted pathologies: mis-bridged
  * patients (conflicting YOB rows), duplicate-location rows, NULL
  * state/zip rows, implausible BP values at both ends, wrong-unit rows,
  * same-day duplicate readings, out-of-window diagnoses.
  */
object HtnQueries {

  /** measurement year 1995 puts the phenotype window inside the TPC-H
    * order-date span (1992–1998), so the year filters do real work. */
  val cfg: HtnConfig = HtnConfig(measurementYear = 1995)

  /** One concept per codelist field — tiny on purpose (the broadcast
    * semi-join shape is what's certified, not list size). */
  val codes: Codelists = Codelists(
    pregCondition = Seq(900001L), pregMeasurement = Seq(900010L),
    pregObservation = Seq(900003L), pregProcedure = Seq(900007L),
    esrdCondition = Seq(900002L), esrdObservation = Seq(900004L),
    esrdProcedure = Seq(900008L),
    palliativeObservation = Seq(900005L), palliativeProcedure = Seq(900009L),
    hospiceObservation = Seq(900006L), hospiceProcedure = Seq(900011L),
    htnDx = Seq(100L), htnRx = Seq(200L))

  private def q(c: Column): Column = concat(lit("\""), c, lit("\""))

  /** The deterministic OMOP fixture over `customer` (persons + coded
    * events) and `orders` (BP measurements). Every formula below has a
    * 1:1 twin in [[oracle]]'s CTEs. */
  def omop(s: SparkSession, dir: String): OmopTables = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("k"))
    val k = col("k")

    val stateCol = when(k * 23 % 89 === 0, lit(null).cast("string"))
      .otherwise(
        when(k * 19 % 8 === 0, "GA").when(k * 19 % 8 === 1, "CA")
          .when(k * 19 % 8 === 2, "NY").when(k * 19 % 8 === 3, "TX")
          .when(k * 19 % 8 === 4, "WA").when(k * 19 % 8 === 5, "IL")
          .when(k * 19 % 8 === 6, "FL").otherwise("OH"))
    val raceCol =
      when(k * 7 % 6 === 0, "CAUCASIAN").when(k * 7 % 6 === 1, "AFRICAN AMERICAN")
        .when(k * 7 % 6 === 2, "ASIAN").when(k * 7 % 6 === 3, "HISPANIC")
        .when(k * 7 % 6 === 4, "OTHER").otherwise("UNKNOWN")
    def zipCol(mult: Int) = when(k * 17 % 97 === 0, lit(null).cast("string"))
      .otherwise(q(lpad((k * mult % 900).cast("string"), 3, "0")))
    def personRows(src: DataFrame, yobShift: Int, zipMult: Int) = src.select(
      k.cast("string").as("PATIENT_LINKAGE"),
      (lit(1920 + yobShift) + k * 37 % 85).cast("int").as("YEAR_OF_BIRTH"),
      q(raceCol).as("ETHNICITY_SOURCE_VALUE"),
      when(k * 13 % 100 < 50, "\"F\"").otherwise("\"M\"").as("GENDER_SOURCE_VALUE"),
      when(k * 13 % 100 < 50, lit(8532L)).otherwise(lit(8507L)).as("GENDER_CONCEPT_ID"),
      zipCol(zipMult).as("LOCATION_ZIP"),
      stateCol.as("LOCATION_STATE"))
    val person = personRows(cust, 0, 11)
      .unionByName(personRows(cust.filter(k % 23 === 0), 1, 11))  // mis-bridge: YOB conflict
      .unionByName(personRows(cust.filter(k % 29 === 0), 0, 31))  // location dup: 2nd zip

    val ord = Tables.load(s, dir, "orders").select(
      col("o_orderkey").cast("long").as("ok"),
      col("o_custkey").cast("long").as("ck"),
      to_date(col("o_orderdate")).as("d"))
    val ok = col("ok"); val ck = col("ck"); val d = col("d")
    // BP value is a function of (patient, date) ONLY: same-day readings
    // are identical, so the same-day average is exact (integer-valued) —
    // the banker's-rounding tie semantics are certified separately
    // (HtnPipelineSpec's 112.5 fixture), not re-litigated through doubles
    val dayKey = year(d) * 400 + dayofyear(d)
    val unitCol = when(ok % 37 === 0, lit(9999L)).otherwise(lit(Codelists.mmHgUnit))
    def bpRows(src: DataFrame, concept: Long, base: Int, mult: Int, span: Int) =
      src.select(
        ck.cast("string").as("PATIENT_LINKAGE"),
        lit(concept).as("MEASUREMENT_CONCEPT_ID"),
        d.as("MEASUREMENT_DATE"),
        (lit(base) + (ck * mult + dayKey) % span).cast("double").as("VALUE_AS_NUMBER"),
        unitCol.as("UNIT_CONCEPT_ID"))
    // 25..314 vs plausible [30,300]; 15..154 vs [20,150] — both ends trimmed
    val sbp = bpRows(ord, 3004249L, 25, 7, 290)
    val dbp = bpRows(ord, 3012888L, 15, 11, 140)
    val dupOrd = ord.filter(ok % 5 === 0) // same-day duplicate readings
    val pregMeas = ord.filter(ok % 43 === 0).select(
      ck.cast("string").as("PATIENT_LINKAGE"),
      lit(900010L).as("MEASUREMENT_CONCEPT_ID"),
      d.as("MEASUREMENT_DATE"),
      lit(1.0).as("VALUE_AS_NUMBER"),
      lit(Codelists.mmHgUnit).as("UNIT_CONCEPT_ID"))
    val measurement = sbp.unionByName(dbp)
      .unionByName(bpRows(dupOrd, 3004249L, 25, 7, 290))
      .unionByName(bpRows(dupOrd, 3012888L, 15, 11, 140))
      .unionByName(pregMeas)

    def events(pred: Column, concept: Long, conceptCol: String, dateCol: String,
               dateBase: String = "1995-01-01") = cust.filter(pred).select(
      k.cast("string").as("PATIENT_LINKAGE"),
      lit(concept).as(conceptCol),
      date_add(lit(java.sql.Date.valueOf(dateBase)), (k * 5 % 365).cast("int"))
        .as(dateCol))
    val conditions = events(k * 3 % 17 === 0, 100L,
        "CONDITION_CONCEPT_ID", "CONDITION_START_DATE")
      // out-of-window DX: same concept, 1993 — the year filter must drop it
      .unionByName(events(k * 3 % 17 === 1, 100L,
        "CONDITION_CONCEPT_ID", "CONDITION_START_DATE", "1993-01-01"))
      .unionByName(events(k * 7 % 31 === 0, 900001L,
        "CONDITION_CONCEPT_ID", "CONDITION_START_DATE"))
      .unionByName(events(k * 11 % 41 === 0, 900002L,
        "CONDITION_CONCEPT_ID", "CONDITION_START_DATE"))
    val observations = events(k * 13 % 43 === 0, 900003L,
        "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE")
      .unionByName(events(k * 17 % 47 === 0, 900004L,
        "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE"))
      .unionByName(events(k * 19 % 53 === 0, 900005L,
        "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE"))
      .unionByName(events(k * 23 % 59 === 0, 900006L,
        "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE"))
    val procedures = events(k * 29 % 61 === 0, 900007L,
        "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE")
      .unionByName(events(k * 31 % 67 === 0, 900008L,
        "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE"))
      .unionByName(events(k * 37 % 71 === 0, 900009L,
        "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE"))
      .unionByName(events(k * 41 % 73 === 0, 900011L,
        "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE"))
    val drugs = events(k * 43 % 13 === 0, 200L,
      "DRUG_CONCEPT_ID", "DRUG_EXPOSURE_START_DATE")

    OmopTables(person, conditions, measurement, observations, procedures, drugs)
  }

  /** Drain the swap-held q83 generations for `s` (bench retirement). */
  def releaseHeld(s: SparkSession): Unit = SessionIndexes.release(s, "htn")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q83_htn_phenotype" -> { (s, dir) =>
      // one generation per (session, dir) through the registry's swap
      // ledger: each NEW invocation releases the PREVIOUS run's table
      SessionIndexes.swap(s, "htn", dir) {
        val res = HtnPipeline.run(s, omop(s, dir), codes, cfg,
          computeMetrics = false)
        // Materialize the (small) analytical table EAGERLY, then release the
        // run's stage persists at once. Swap-releasing the whole generation
        // lazily is UNSOUND here: Spark's CacheManager keys cache entries by
        // CANONICALIZED PLAN, and successive runs build plan-identical
        // stages — generation N's persist() reuses generation N−1's entry,
        // so releasing N−1 un-caches N's stages and every later run
        // re-executes the whole cohort chain once per flag join (measured:
        // 10 s → 45 s per rep). localCheckpoint blocks are unique RDDs —
        // THOSE swap safely, one generation per (session, dir). (A
        // measured shuffle width was tried here in
        // r16 and REVERTED: the BP-window stages are compute-bound and a
        // 4-partition width serialized them — 9.8 s → 13 s.)
        try res.analytical.localCheckpoint() finally res.release()
      }(graft.operators.Checkpoints.release)
    }
  )

  def oracle: Map[String, String] = Map(
    "q83_htn_phenotype" ->
      """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS k FROM customer),
        |person_base AS (
        |  SELECT k, CAST(k AS VARCHAR) AS pl,
        |    CAST(1920 + (k*37)%85 AS INT) AS yob,
        |    CASE (k*7)%6 WHEN 0 THEN 'CAUCASIAN' WHEN 1 THEN 'AFRICAN AMERICAN'
        |      WHEN 2 THEN 'ASIAN' WHEN 3 THEN 'HISPANIC' WHEN 4 THEN 'OTHER'
        |      ELSE 'UNKNOWN' END AS race,
        |    CASE WHEN (k*13)%100 < 50 THEN 'F' ELSE 'M' END AS sex,
        |    CASE WHEN (k*23)%89 = 0 THEN NULL ELSE
        |      CASE (k*19)%8 WHEN 0 THEN 'GA' WHEN 1 THEN 'CA' WHEN 2 THEN 'NY'
        |        WHEN 3 THEN 'TX' WHEN 4 THEN 'WA' WHEN 5 THEN 'IL'
        |        WHEN 6 THEN 'FL' ELSE 'OH' END END AS state,
        |    CASE WHEN (k*17)%97 = 0 THEN NULL
        |      ELSE lpad(CAST((k*11)%900 AS VARCHAR), 3, '0') END AS zip3,
        |    CASE WHEN (k*17)%97 = 0 THEN NULL
        |      ELSE lpad(CAST((k*31)%900 AS VARCHAR), 3, '0') END AS zip3b
        |  FROM cust),
        |demo AS (
        |  SELECT pl, yob, race, sex, state, zip3 FROM person_base
        |  UNION ALL
        |  SELECT pl, yob + 1, race, sex, state, zip3 FROM person_base WHERE k%23 = 0
        |  UNION ALL
        |  SELECT pl, yob, race, sex, state, zip3b FROM person_base WHERE k%29 = 0),
        |ok_keys AS (
        |  SELECT pl FROM demo GROUP BY pl
        |  HAVING count(DISTINCT yob) = 1 AND count(DISTINCT sex) = 1
        |     AND count(DISTINCT race) = 1),
        |cohort0 AS (
        |  SELECT d.* FROM demo d JOIN ok_keys USING (pl)
        |  WHERE state IS NOT NULL AND zip3 IS NOT NULL
        |  QUALIFY row_number() OVER (PARTITION BY pl ORDER BY state, zip3) = 1),
        |wra AS (SELECT pl FROM cohort0 WHERE yob BETWEEN 1951 AND 1977 AND sex = 'F'),
        |ev AS (SELECT CAST(k AS VARCHAR) AS pl,
        |         DATE '1995-01-01' + CAST((k*5)%365 AS INT) AS dt, k FROM cust),
        |orders_b AS (SELECT CAST(o_orderkey AS BIGINT) AS ok,
        |    CAST(o_custkey AS BIGINT) AS ck, CAST(o_orderdate AS DATE) AS d
        |  FROM orders),
        |preg AS (
        |  SELECT DISTINCT pl FROM (
        |    SELECT pl FROM ev WHERE (k*7)%31 = 0 AND year(dt) = 1995
        |    UNION SELECT CAST(ck AS VARCHAR) FROM orders_b
        |      WHERE ok%43 = 0 AND year(d) = 1995
        |    UNION SELECT pl FROM ev WHERE (k*13)%43 = 0 AND year(dt) = 1995
        |    UNION SELECT pl FROM ev WHERE (k*29)%61 = 0 AND year(dt) = 1995)
        |  WHERE pl IN (SELECT pl FROM wra)),
        |esrd AS (
        |  SELECT DISTINCT pl FROM (
        |    SELECT pl FROM ev WHERE (k*11)%41 = 0 AND year(dt) = 1995
        |    UNION SELECT pl FROM ev WHERE (k*17)%47 = 0 AND year(dt) = 1995
        |    UNION SELECT pl FROM ev WHERE (k*31)%67 = 0 AND year(dt) = 1995)),
        |incare AS (
        |  SELECT DISTINCT pl FROM (
        |    SELECT pl FROM ev WHERE (k*19)%53 = 0 AND year(dt) = 1995
        |    UNION SELECT pl FROM ev WHERE (k*37)%71 = 0 AND year(dt) = 1995
        |    UNION SELECT pl FROM ev WHERE (k*23)%59 = 0 AND year(dt) = 1995
        |    UNION SELECT pl FROM ev WHERE (k*41)%73 = 0 AND year(dt) = 1995)),
        |eligible AS (
        |  SELECT pl, yob, 1995 - yob AS age,
        |    CASE race WHEN 'AFRICAN AMERICAN' THEN 'Black' WHEN 'ASIAN' THEN 'Asian'
        |      WHEN 'CAUCASIAN' THEN 'White' WHEN 'HISPANIC' THEN 'Hispanic'
        |      WHEN 'OTHER' THEN 'Other' WHEN 'UNKNOWN' THEN 'Unknown'
        |      ELSE race END AS race,
        |    CASE sex WHEN 'F' THEN 'Female' WHEN 'M' THEN 'Male' ELSE sex END AS sex,
        |    state, zip3
        |  FROM cohort0
        |  WHERE pl NOT IN (SELECT pl FROM preg)
        |    AND pl NOT IN (SELECT pl FROM esrd)
        |    AND pl NOT IN (SELECT pl FROM incare)
        |    AND yob <= 1977),
        |bp_raw AS (
        |  SELECT ck, ok, d, (year(d)*400 + dayofyear(d)) AS dk FROM orders_b),
        |sbp_r AS (
        |  SELECT CAST(ck AS VARCHAR) AS pl, d,
        |    CAST(25 + (ck*7 + dk)%290 AS DOUBLE) AS v, ok FROM bp_raw),
        |dbp_r AS (
        |  SELECT CAST(ck AS VARCHAR) AS pl, d,
        |    CAST(15 + (ck*11 + dk)%140 AS DOUBLE) AS v, ok FROM bp_raw),
        |sbp_f AS (
        |  SELECT pl, d, v FROM (
        |    SELECT * FROM sbp_r UNION ALL SELECT * FROM sbp_r WHERE ok%5 = 0)
        |  WHERE ok%37 <> 0 AND year(d) IN (1994, 1995) AND v BETWEEN 30 AND 300),
        |dbp_f AS (
        |  SELECT pl, d, v FROM (
        |    SELECT * FROM dbp_r UNION ALL SELECT * FROM dbp_r WHERE ok%5 = 0)
        |  WHERE ok%37 <> 0 AND year(d) IN (1994, 1995) AND v BETWEEN 20 AND 150),
        |sbp_avg AS (SELECT pl, d, round_even(avg(v), 1) AS sbp FROM sbp_f GROUP BY pl, d),
        |dbp_avg AS (SELECT pl, d, round_even(avg(v), 1) AS dbp FROM dbp_f GROUP BY pl, d),
        |pairs AS (SELECT * FROM sbp_avg JOIN dbp_avg USING (pl, d)),
        |denom_days AS (SELECT e.*, p.d, p.sbp, p.dbp FROM eligible e JOIN pairs p USING (pl)),
        |denom_pat AS (SELECT DISTINCT pl, age, sex, race, state, zip3 FROM denom_days),
        |h140 AS (
        |  SELECT pl, CASE WHEN sum(CASE WHEN sbp >= 140 OR dbp >= 90 THEN 1 ELSE 0 END) > 1
        |    THEN 1 ELSE 0 END AS flag
        |  FROM denom_days WHERE year(d) = 1995 GROUP BY pl),
        |h130 AS (
        |  SELECT pl, CASE WHEN sum(CASE WHEN sbp >= 130 OR dbp >= 80 THEN 1 ELSE 0 END) > 1
        |    THEN 1 ELSE 0 END AS flag
        |  FROM denom_days WHERE year(d) = 1995 GROUP BY pl),
        |latest AS (
        |  SELECT pl, sbp, dbp FROM denom_days WHERE year(d) = 1995
        |  QUALIFY row_number() OVER (PARTITION BY pl ORDER BY d DESC, sbp DESC, dbp DESC) = 1),
        |c140 AS (SELECT pl, CASE WHEN sbp < 140 AND dbp < 90 THEN 1 ELSE 0 END AS flag FROM latest),
        |c130 AS (SELECT pl, CASE WHEN sbp < 130 AND dbp < 80 THEN 1 ELSE 0 END AS flag FROM latest),
        |dx_ev AS (
        |  SELECT pl, dt FROM ev WHERE (k*3)%17 = 0
        |  UNION ALL
        |  SELECT pl, DATE '1993-01-01' + CAST((k*5)%365 AS INT) FROM ev WHERE (k*3)%17 = 1),
        |dx AS (SELECT DISTINCT pl, 1 AS f FROM dx_ev WHERE year(dt) = 1995),
        |meds AS (SELECT DISTINCT pl, 1 AS f FROM ev WHERE (k*43)%13 = 0 AND year(dt) = 1995)
        |SELECT p.pl AS "PATIENT_LINKAGE", p.age, p.sex, p.race, p.state, p.zip3,
        |  h140.flag AS "HTN140_90", h130.flag AS "HTN130_80",
        |  c140.flag AS "HTNcontrol140", c130.flag AS "HTNcontrol130",
        |  COALESCE(dx.f, 0) AS "DX", COALESCE(meds.f, 0) AS "MEDS",
        |  CASE WHEN COALESCE(dx.f,0) = 1 OR COALESCE(meds.f,0) = 1
        |       OR COALESCE(h140.flag,0) = 1 THEN 1 ELSE 0 END AS hypertension_140,
        |  CASE WHEN COALESCE(dx.f,0) = 1 OR COALESCE(meds.f,0) = 1
        |       OR COALESCE(h130.flag,0) = 1 THEN 1 ELSE 0 END AS hypertension_130
        |FROM denom_pat p
        |LEFT JOIN h140 ON p.pl = h140.pl
        |LEFT JOIN h130 ON p.pl = h130.pl
        |LEFT JOIN c140 ON p.pl = c140.pl
        |LEFT JOIN c130 ON p.pl = c130.pl
        |LEFT JOIN dx ON p.pl = dx.pl
        |LEFT JOIN meds ON p.pl = meds.pl""".stripMargin
  )
}
