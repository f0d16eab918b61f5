package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` of a named SparkEntry query's returned
  * frame to a file — the plans/r16 deliverable. For lifecycle queries
  * whose returned frame is a collected histogram (the folds are side
  * effects), the interesting plans are the internal fold frames; those
  * are captured separately by the phase probes. Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outFile> <q1> [q2 ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSessionForPlans.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$q.txt"), txt)
      println(s"[plandump] wrote $outDir/$q.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}

private object GraftSessionForPlans {
  def session(cpus: String): SparkSession = {
    val spark = graft.GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    graft.GraftSession.requireExtensions(spark)
    spark
  }
}
