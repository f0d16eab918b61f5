package graft.htn

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Part 2 (step 4): pregnancy / ESRD / palliative / hospice exclusions.
  *
  * Each domain query is "patients with ≥1 event whose concept is in the
  * codelist during the measurement year" — a broadcast semi-join
  * (SURVEY §2.3 J7), then domains are unioned (the reference's full-join
  * chains, `2_data_importing_cleaning.R:389-392,472-474,608-611`, reduce to
  * a key-set union — SURVEY §2.3 J3) and removed with an anti-join
  * (`:399-400,477-478,614-615`).
  *
  * Scale: codelists are tiny (≤914 ids) → broadcast; the event tables are
  * the 100 TB side and are only scanned with pushed-down concept/year
  * filters, never shuffled — each domain emits just a distinct patient-id
  * set (`aggregate pushes partial DISTINCT map-side`).
  *
  * Reference bugs B1/B2 (broken aliases in the procedure/ESRD-condition
  * SQL, `:379-381,:426`) are implemented as intended: the filter applies to
  * the event table being scanned. B4 (undefined `exc_hospice_*` variables,
  * `:610-611`) resolves to the hospice sets actually built at `:584,:603`.
  */
object Exclusions {

  /** Distinct patients with a coded event in `years`. */
  def domainPatients(events: DataFrame, conceptCol: String, dateCol: String,
                     codes: Seq[Long], years: Seq[Int]): DataFrame =
    events
      .filter(col(conceptCol).isin(codes: _*) && year(col(dateCol)).isin(years: _*))
      .select("PATIENT_LINKAGE").distinct()

  /** Union of exclusion key sets. */
  def unionKeys(sets: Seq[DataFrame]): DataFrame =
    sets.reduce(_ unionByName _).distinct()

  /** Pregnancy exclusion set: 4 domains, restricted to female patients of
    * reproductive age (`2_data_importing_cleaning.R:283-392`). The SQL
    * restricts on GENDER_CONCEPT_ID = 8532 + YOB range from the PERSON
    * table, which for the deduped cohort equals the WRA subset.
    *
    * The WRA restriction applies ONCE to the unioned domain set (r17,
    * guide §2.4): a semi-join distributes over union —
    * `∪ᵢ (Dᵢ ⋉ W) = (∪ᵢ Dᵢ) ⋉ W` — and commutes with the trailing
    * distinct, so one semi-join replaces four while the key SET is
    * unchanged (HtnPipelineSpec's fixture counts pin it). */
  def pregnancy(t: OmopTables, codes: Codelists, cfg: HtnConfig,
                wraKeys: DataFrame): DataFrame = {
    val y = cfg.phenotypeYears
    unionKeys(Seq(
      domainPatients(t.conditionOccurrence, "CONDITION_CONCEPT_ID",
        "CONDITION_START_DATE", codes.pregCondition, y),
      domainPatients(t.measurement, "MEASUREMENT_CONCEPT_ID",
        "MEASUREMENT_DATE", codes.pregMeasurement, y),
      domainPatients(t.observation, "OBSERVATION_CONCEPT_ID",
        "OBSERVATION_DATE", codes.pregObservation, y),
      domainPatients(t.procedureOccurrence, "PROCEDURE_CONCEPT_ID",
        "PROCEDURE_DATE", codes.pregProcedure, y)))
      .join(wraKeys.select("PATIENT_LINKAGE"), Seq("PATIENT_LINKAGE"), "left_semi")
  }

  /** ESRD exclusion set: 3 domains, all adults (`:410-474`). */
  def esrd(t: OmopTables, codes: Codelists, cfg: HtnConfig): DataFrame = {
    val y = cfg.phenotypeYears
    unionKeys(Seq(
      domainPatients(t.conditionOccurrence, "CONDITION_CONCEPT_ID",
        "CONDITION_START_DATE", codes.esrdCondition, y),
      domainPatients(t.observation, "OBSERVATION_CONCEPT_ID",
        "OBSERVATION_DATE", codes.esrdObservation, y),
      domainPatients(t.procedureOccurrence, "PROCEDURE_CONCEPT_ID",
        "PROCEDURE_DATE", codes.esrdProcedure, y)))
  }

  /** Palliative + hospice care exclusion set: 2 domains each (`:526-611`;
    * LTC disabled in the reference, `:240-249,490-522`). */
  def inCare(t: OmopTables, codes: Codelists, cfg: HtnConfig): DataFrame = {
    val y = cfg.phenotypeYears
    unionKeys(Seq(
      domainPatients(t.observation, "OBSERVATION_CONCEPT_ID",
        "OBSERVATION_DATE", codes.palliativeObservation, y),
      domainPatients(t.procedureOccurrence, "PROCEDURE_CONCEPT_ID",
        "PROCEDURE_DATE", codes.palliativeProcedure, y),
      domainPatients(t.observation, "OBSERVATION_CONCEPT_ID",
        "OBSERVATION_DATE", codes.hospiceObservation, y),
      domainPatients(t.procedureOccurrence, "PROCEDURE_CONCEPT_ID",
        "PROCEDURE_DATE", codes.hospiceProcedure, y)))
  }

  /** Remove an exclusion key set from the cohort (anti-join). */
  def exclude(cohort: DataFrame, keys: DataFrame): DataFrame =
    cohort.join(keys, Seq("PATIENT_LINKAGE"), "left_anti")
}
