package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query profiler: runs the named queries (or the worst
  * offenders by default) N times each in one session and prints
  * cold/warm timings, separating plan+JIT overhead from steady-state
  * execution. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Profile q24_range_join d03_minhash_lsh"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.requireExtensions(spark)
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q24_range_join", "d03_minhash_lsh", "d04_simhash", "d02_jaccard_pairs")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      if (sys.env.contains("PROFILE_EXPLAIN")) fn(spark, sfDir).explain("formatted")
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROFILE $name%-22s cold=${times.head}%6.2f warm=${times.tail.min}%6.2f")
    }
    spark.stop()
  }
}
