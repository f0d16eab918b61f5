package graft.tools

import org.apache.spark.sql.SparkSession

/** Attribute persisted-RDD residue to its owning query: run every
  * SparkEntry query once (sf0.001 by default), snapshot the persistent-RDD
  * census around each, and report which queries GREW it — separating the
  * expected first-touch growth of the standing index caches (released by
  * SessionIndexes.releaseAll at the end) from true per-query strays.
  * Usage: runMain graft.tools.LeakCensus [sfDir] */
object LeakCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    def census: Map[Int, String] =
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.id -> Option(i.name).getOrElse("")
          .linesIterator.take(2).mkString(" | ").take(120)).toMap
    var before = census
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, sfDir).count()
      catch { case e: Throwable => println(s"ERR $name: ${e.getMessage}") }
      val after = census
      val grew = after.keySet -- before.keySet
      val shrank = before.keySet -- after.keySet
      if (grew.nonEmpty || shrank.nonEmpty)
        println(s"GREW $name +${grew.size} -${shrank.size}: " +
          grew.toSeq.sorted.map(id => s"$id:${after(id)}").mkString(" ;; "))
      before = after
    }
    println(s"=== before releases: ${before.size} cached frames")
    graft.queries.SessionIndexes.releaseAll(spark)
    val leaked = census
    println(s"=== after releases: ${leaked.size} STRAYS")
    leaked.toSeq.sortBy(_._1).foreach { case (id, n) => println(s"  $id: $n") }
    spark.stop()
  }
}
