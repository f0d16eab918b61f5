package graft.tools

import org.apache.spark.sql.SparkSession

/** In-JVM driver profiler for ONE SparkEntry query: a daemon thread
  * samples the main thread's stack at ~100 Hz while the query runs, and
  * the histogram of collapsed top-of-stack frames (filtered to
  * org.apache.spark / graft / hadoop frames) shows where DRIVER wall time
  * goes — the jobs-vs-wall gap the listener traces can't attribute.
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.GapProfile <sfDir> <query> [reps]"
  */
object GapProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.requireExtensions(spark)
    val fn = graft.SparkEntry.queries(name)
    fn(spark, "/root/testdata/sf0.001").count() // warm

    val main = Thread.currentThread()
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = main.getStackTrace
          // first "interesting" frame: spark/graft/hadoop/parquet, skipping
          // pure JDK frames so waits show as the op that waits
          val frame = st.find { e =>
            val c = e.getClassName
            c.startsWith("org.apache.spark") || c.startsWith("graft") ||
            c.startsWith("org.apache.hadoop") || c.startsWith("org.apache.parquet")
          }.map(e => e.getClassName.replaceAll("\\$.*", "") + "." + e.getMethodName)
            .getOrElse(if (st.nonEmpty)
              st.head.getClassName + "." + st.head.getMethodName else "?")
          hist.merge(frame, 1, (a, b) => a + b)
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    (1 to reps).foreach { rep =>
      hist.clear()
      sampling = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      sampling = false
      import scala.jdk.CollectionConverters._
      val rows = hist.asScala.toSeq.sortBy(-_._2)
      val total = rows.map(_._2.toInt).sum.max(1)
      println(f"%n=== $name rep $rep wall $wall%.2fs, $total samples (~5ms each) ===")
      rows.take(25).foreach { case (f, n) =>
        println(f"  ${n.toInt * 100.0 / total}%5.1f%% (${n.toInt * 0.005}%5.2fs) $f")
      }
    }
    spark.stop()
  }
}
