package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (local iteration on a
    // subset — the driver always runs the full surface)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.requireExtensions(spark)
    // Source-contract canaries: if any table's physical schema drifted
    // under the declared read schema, or the events timestamp decode is
    // off by a unit scale, fail the whole run loudly here rather than
    // emitting 100+ plausible-but-wrong results (round-7 failure mode).
    graft.io.Tables.assertSchemaContract(spark, sfDir)
    graft.io.Tables.canaryEvents(spark, sfDir)
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
    def q(s: String): String = graft.io.Jsons.str(s)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
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
