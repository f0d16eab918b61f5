package graft.htn

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Part 4: diagnosis / medication flags and the hypertension e-phenotype.
  *
  * Reference: `4_hypertension_phenotype_main.R`. NULL policy (SURVEY §7.5.2):
  *  - DX / MEDS are 0 for patients without events (`:139-144`);
  *  - HTN140_90 / HTN130_80 / control flags stay NULL for denominator
  *    patients with no measurement-year readings (left-join semantics,
  *    `3_blood_pressure.R:293-295`) — preserved in the analytical table;
  *  - the composed phenotype treats a NULL BP flag as 0 (not-hypertensive),
  *    so `hypertension_*` is never NULL. The R code would propagate NA
  *    through `0 | NA` (`:150-160`); SURVEY's documented decision is
  *    missing-BP = no-evidence, asserted in PhenotypeSpec.
  */
object Phenotype {

  /** Patients with a hypertension diagnosis in the window
    * (`4_hypertension_phenotype_main.R:59-81`). */
  def dxFlag(conditionOccurrence: DataFrame, codes: Seq[Long], years: Seq[Int]): DataFrame =
    conditionOccurrence
      .filter(col("CONDITION_CONCEPT_ID").isin(codes: _*) &&
              year(col("CONDITION_START_DATE")).isin(years: _*))
      .select("PATIENT_LINKAGE").distinct()
      .withColumn("DX", lit(1))

  /** Patients with an antihypertensive prescription in the window
    * (`4_hypertension_phenotype_main.R:89-110`). */
  def medsFlag(drugExposure: DataFrame, codes: Seq[Long], years: Seq[Int]): DataFrame =
    drugExposure
      .filter(col("DRUG_CONCEPT_ID").isin(codes: _*) &&
              year(col("DRUG_EXPOSURE_START_DATE")).isin(years: _*))
      .select("PATIENT_LINKAGE").distinct()
      .withColumn("MEDS", lit(1))

  /** Compose the one-row-per-patient analytical table
    * (`3_blood_pressure.R:405-409` + `4_hypertension_phenotype_main.R:126-177`)
    * over the FUSED flag frame ([[BloodPressure.bpFlags]]).
    *
    * Input `denomPatients` is the per-patient BP denominator; the flag
    * tables are (PATIENT_LINKAGE, ...) at patient grain — every join here
    * is a 1:1 left join on the cohort key. One left join carries all four
    * BP flag columns: bpFlags' key set equals each stage flag's key set
    * (all filter to the measurement year), so a patient absent there gets
    * NULL in every flag column, exactly as four separate left joins on the
    * stage flags would leave it.
    */
  def analyticalFused(denomPatients: DataFrame, bpFlags: DataFrame,
                      dx: DataFrame, meds: DataFrame): DataFrame = {
    def orZero(c: String) = coalesce(col(c), lit(0))
    denomPatients
      .join(bpFlags, Seq("PATIENT_LINKAGE"), "left")
      .join(dx, Seq("PATIENT_LINKAGE"), "left")
      .join(meds, Seq("PATIENT_LINKAGE"), "left")
      .withColumn("DX", orZero("DX"))
      .withColumn("MEDS", orZero("MEDS"))
      .withColumn("hypertension_140",
        when(col("DX") === 1 || col("MEDS") === 1 || orZero("HTN140_90") === 1, 1)
          .otherwise(0))
      .withColumn("hypertension_130",
        when(col("DX") === 1 || col("MEDS") === 1 || orZero("HTN130_80") === 1, 1)
          .otherwise(0))
      .select("PATIENT_LINKAGE", "age", "sex", "race", "state", "zip3",
        "HTN140_90", "HTN130_80", "HTNcontrol140", "HTNcontrol130",
        "DX", "MEDS", "hypertension_140", "hypertension_130")
  }
}
