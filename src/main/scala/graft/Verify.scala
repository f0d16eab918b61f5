package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare of `tools/check.py`.
  * Usage: runMain graft.Verify <sfDir> <outDir> [q1,q2,...] */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (a subset, or one
    // query for a targeted oracle check)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    // the sweep session refuses a drifted source schema or a mis-decoded
    // events timestamp before 100+ plausible-but-wrong results go out
    val spark = tools.Sweep.session(sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    val json = graft.io.Jsons.obj(
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Capped-kernel audit (r8 advice): the d-queries' exactness guarantees
    // are conditional on ZERO dropped LSH/residue buckets. A non-zero count
    // here means some emitted result silently lost pairs — scream, because
    // the per-query hash gate may or may not catch it depending on which
    // side of the comparison lost them.
    val drops = graft.operators.DedupMetrics.snapshot().filterNot(_._2.isZero)
    if (drops.nonEmpty) {
      System.err.println(
        s"[verify] WARNING: capped dedup kernels dropped buckets this run — " +
          s"exactness guarantees void for: " +
          drops.map { case (k, s) => s"$k(buckets=${s.buckets},rows=${s.rows})" }
            .mkString(", "))
    }
    spark.stop()
  }
}
