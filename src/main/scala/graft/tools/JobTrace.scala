package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-job wall-time attribution for ONE SparkEntry query: registers a
  * listener, runs the query, prints every job's duration + call site +
  * description, then a by-callsite rollup. The gap between summed job
  * time and the query wall is driver-side work (planning, FS listing,
  * commit) — printed too. Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.JobTrace <sfDir> <query> [reps]"
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.requireExtensions(spark)
    val fn = graft.SparkEntry.queries(name)
    fn(spark, "/root/testdata/sf0.001").count() // warm codegen/readers

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        val names = js.stageInfos.map(_.name)
        val site = desc.getOrElse(
          names.filterNot(_.contains("CompletableFuture"))
            .lastOption.orElse(names.lastOption).getOrElse("?"))
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          rows.add((je.jobId, (System.nanoTime() - t0) / 1e9, site))
        }
      }
    }
    (1 to reps).foreach { rep =>
      rows.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async; give it a beat to drain
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val all = rows.asScala.toSeq.sortBy(_._1)
      println(f"%n=== $name rep $rep: wall $wall%.2fs, ${all.size} jobs, " +
        f"sum-of-jobs ${all.map(_._2).sum}%.2fs ===")
      all.foreach { case (id, sec, site) =>
        if (sec > 0.02) println(f"  job $id%4d $sec%7.3fs  $site")
      }
      println("  -- rollup by call site --")
      all.groupBy(_._3).map { case (site, js) =>
        (js.map(_._2).sum, js.size, site) }.toSeq.sortBy(-_._1)
        .foreach { case (sum, n, site) =>
          println(f"  $sum%7.3fs  n=$n%-3d $site") }
    }
    spark.stop()
  }
}
