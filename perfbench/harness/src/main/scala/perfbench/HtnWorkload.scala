package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.htn._

/** The paper's job: synthetic OMOP tables staged to parquet, turned into
  * the hypertension analytical table three ways per cycle:
  *
  *  1. `htn.fused`: `HtnPipeline.run(checkpointDir = None,
  *     computeMetrics = false)` up to the analytical table's fingerprint;
  *  2. `store.cold`: a run into an empty checkpoint dir, which commits all
  *     seven stages through the stage store with the staged exclusions
  *     and QC counts;
  *  3. `store.restart`: the final stage deleted, the same run again, which
  *     reuses the committed prefix and recomputes the rest.
  *
  * A traced run composes the stage functions itself in place of (1), one
  * span and one materialization per stage, so the stage spans split the
  * wall. All shapes must give the same analytical fingerprint, and the
  * two durable runs the same QC counts. */
final class HtnWorkload(a: Args) extends Workload {
  private val cfg = HtnConfig()
  private val codes = OmopFixtures2.codes
  private val inputs = a.work.resolve(s"htn_inputs/seed${a.seed}_n${HtnWorkload.Patients}")
  private val ckDir = a.work.resolve("htn_ck")
  private var tables: OmopTables = _
  private var expected: Option[HtnWorkload.Fingerprint] = None
  private var expectedMetrics: Option[Stats.ExclusionMetrics] = None

  override def stage(spark: SparkSession): Unit = {
    if (!Files.exists(inputs.resolve("_COMPLETE"))) {
      Dirs.delete(inputs)
      val t = HtnWorkload.generate(spark, HtnWorkload.Patients, a.seed)
      HtnWorkload.Names.zip(HtnWorkload.frames(t)).foreach { case (name, df) =>
        df.write.parquet(inputs.resolve(name).toString)
      }
      Files.createFile(inputs.resolve("_COMPLETE"))
    }
    // one small in-memory pass, so no measured op pays the process's
    // first JIT and code generation
    val warm = HtnPipeline.run(spark, SyntheticOmop.generate(spark, HtnWorkload.WarmupPatients),
      codes, cfg, computeMetrics = false)
    warm.analytical.count()
    warm.release()
  }

  override def setup(spark: SparkSession): Unit = {
    val Seq(person, co, m, o, po, de) =
      HtnWorkload.Names.map(n => spark.read.parquet(inputs.resolve(n).toString))
    tables = OmopTables(person, co, m, o, po, de)
  }

  override def cycle(spark: SparkSession, tr: Tracer): Seq[Op] =
    (if (tr.enabled) composedPass(spark, tr) else fusedPass(spark)) +: durablePair(spark, tr)

  private def check(fp: HtnWorkload.Fingerprint): Boolean = {
    if (expected.isEmpty) expected = Some(fp)
    fp.ruleViolations == 0 && expected.contains(fp)
  }

  /** Time one op; an op that throws counts as failed. */
  private def timed(name: String)(body: => Boolean): Op = {
    val t0 = System.nanoTime()
    val ok = try body catch { case e: Exception =>
      System.err.println(s"[perfbench] $name failed: $e"); false }
    Op(name, (System.nanoTime() - t0) / 1e9, ok)
  }

  private def fusedPass(spark: SparkSession): Op = timed("htn.fused") {
    val r = HtnPipeline.run(spark, tables, codes, cfg, checkpointDir = None, computeMetrics = false)
    try check(HtnWorkload.fingerprint(r.analytical)) finally r.release()
  }

  private def durableRun(spark: SparkSession, tr: Tracer, name: String): Op = timed(name) {
    tr.span(name) {
      val r = HtnPipeline.run(spark, tables, codes, cfg, Some(ckDir.toString))
      if (expectedMetrics.isEmpty) expectedMetrics = r.metrics
      check(HtnWorkload.fingerprint(r.analytical)) && r.metrics.nonEmpty && r.metrics == expectedMetrics
    }
  }

  private def durablePair(spark: SparkSession, tr: Tracer): Seq[Op] = {
    Dirs.delete(ckDir)
    val coldStart = System.currentTimeMillis()
    val cold = durableRun(spark, tr, "store.cold")
    val commits = HtnWorkload.commitTimes(ckDir)
    Dirs.delete(ckDir.resolve(HtnWorkload.Stages.last))
    val restart = durableRun(spark, tr, "store.restart")
    val after = HtnWorkload.commitTimes(ckDir)
    if (tr.enabled) {
      // commit-marker times give each stage's seconds in the cold run
      HtnWorkload.Stages.foldLeft(coldStart) { (prev, st) =>
        val at = commits.getOrElse(st, prev)
        tr.add(s"store.${st}_s", (at - prev) / 1000.0)
        at
      }
      val rewritten = HtnWorkload.Stages.count(st => after.get(st) != commits.get(st))
      tr.add("store.stages_written", commits.size + rewritten)
      tr.add("store.stages_reused", HtnWorkload.Stages.size - rewritten)
      tr.add("store.bytes_written", Dirs.size(ckDir) + Dirs.size(ckDir.resolve(HtnWorkload.Stages.last)))
    }
    Seq(cold.copy(ok = cold.ok && commits.size == HtnWorkload.Stages.size), restart)
  }

  /** The fused pipeline's wiring, stage by stage, each stage materialized
    * inside its own span. */
  private def composedPass(spark: SparkSession, tr: Tracer): Op = timed("htn.composed") {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cut(df: DataFrame, counter: String): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += p
      tr.add(counter, p.count().toDouble)
      p
    }
    try {
      val cohort = tr.span("htn.cohort") {
        cut(Cohort.dedupLocations(Cohort.dropMisBridged(Cohort.demographics(tables.person))),
          "htn.cohort_rows")
      }
      val eligible = tr.span("htn.exclusions") {
        val wraKeys = Cohort.wra(cohort, cfg).select("PATIENT_LINKAGE")
        val afterCare = Exclusions.exclude(cohort, Exclusions.unionKeys(Seq(
          Exclusions.pregnancy(tables, codes, cfg, wraKeys),
          Exclusions.esrd(tables, codes, cfg), Exclusions.inCare(tables, codes, cfg))))
        cut(Cohort.cleanLabels(
          afterCare.join(Cohort.adults(cohort, cfg).select("PATIENT_LINKAGE"),
            Seq("PATIENT_LINKAGE"), "left_semi"), cfg)
          .repartition(col("PATIENT_LINKAGE")), "htn.eligible_rows")
      }
      val denomDays = tr.span("htn.bp_pairs") {
        cut(BloodPressure.denominatorDays(eligible,
          BloodPressure.sameDayPairs(tables.measurement, cfg)), "htn.denominator_days")
      }
      val flags = tr.span("htn.flags") { cut(BloodPressure.bpFlags(denomDays, cfg), "htn.flag_rows") }
      val fp = tr.span("htn.phenotype") {
        HtnWorkload.fingerprint(Phenotype.analyticalFused(
          BloodPressure.denominatorPatients(denomDays), flags,
          Phenotype.dxFlag(tables.conditionOccurrence, codes.htnDx, cfg.phenotypeYears),
          Phenotype.medsFlag(tables.drugExposure, codes.htnRx, cfg.phenotypeYears)))
      }
      tr.add("htn.analytical_rows", fp.rows.toDouble)
      check(fp)
    } finally held.foreach(_.unpersist())
  }

  override def finish(spark: SparkSession, tr: Tracer): Int = {
    Dirs.delete(ckDir)
    val leaked = spark.sparkContext.getRDDStorageInfo.length
    tr.add("spark.persisted_rdds_leaked", leaked.toDouble)
    leaked
  }
}

object HtnWorkload {
  val Patients = 30000L
  val WarmupPatients = 2000L
  val Names = Seq("person", "condition_occurrence", "measurement", "observation",
    "procedure_occurrence", "drug_exposure")
  /** HtnPipeline's checkpointed stages, in commit order. */
  val Stages = Seq("all_pop3c", "all_pop_ex1", "all_pop_ex2", "all_pop_ex3",
    "all_pop_clean", "all_pop_clean3", "analytical_htn")

  def frames(t: OmopTables): Seq[DataFrame] = Seq(t.person, t.conditionOccurrence,
    t.measurement, t.observation, t.procedureOccurrence, t.drugExposure)

  /** Seed 0 is `SyntheticOmop.generate` itself. Any other seed keeps the
    * patients of a population twice the size whose key hashes, under the
    * seed, to even: about `n` patients with every row they own. */
  def generate(spark: SparkSession, n: Long, seed: Long): OmopTables =
    if (seed == 0) SyntheticOmop.generate(spark, n)
    else {
      val pop = SyntheticOmop.generate(spark, 2 * n)
      def keep(df: DataFrame) =
        df.filter(pmod(xxhash64(col("PATIENT_LINKAGE"), lit(seed)), lit(2)) === 0)
      val Seq(person, co, m, o, po, de) = frames(pop).map(keep)
      OmopTables(person, co, m, o, po, de)
    }

  /** Order-independent digest of a table: row count, the sum of a 31-bit
    * row hash over all columns, and the rows breaking
    * `hypertension = dx ∨ meds ∨ highBP_2days` at either threshold. */
  final case class Fingerprint(rows: Long, hashSum: Long, ruleViolations: Long)

  def fingerprint(analytical: DataFrame): Fingerprint = {
    def orZero(c: String) = coalesce(col(c), lit(0))
    def rule(h: String, bp: String) =
      (col(h) === 1) =!= (col("DX") === 1 || col("MEDS") === 1 || orZero(bp) === 1)
    val r = analytical.agg(
      count(lit(1)),
      coalesce(sum(pmod(xxhash64(analytical.columns.map(col).toIndexedSeq: _*), lit(1L << 31))), lit(0L)),
      sum(when(rule("hypertension_140", "HTN140_90") || rule("hypertension_130", "HTN130_80"), 1)
        .otherwise(0))).head()
    Fingerprint(r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.toString.toLong).getOrElse(0L))
  }

  /** Commit-marker modification times (wall ms) of the stages present. */
  def commitTimes(ck: Path): Map[String, Long] =
    Stages.flatMap { st =>
      val marker = ck.resolve(st).resolve("_graft_index.json")
      if (Files.exists(marker)) Some(st -> Files.getLastModifiedTime(marker).toMillis) else None
    }.toMap
}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def size(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}
