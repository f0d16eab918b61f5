package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming._

/** Structured Streaming over the committed tables: the events aggregate
  * sink, the tiered rolls of the graph, vector and media families, and the
  * graph serve stream over the roll it just committed. A closed loop: one
  * stream driver, `maxFilesPerTrigger = 1`, each stream run to completion
  * before the next starts. The seed decides which rows land in which
  * micro-batch file.
  *
  * One cycle runs every section from empty roots; each section's output
  * is checked the way `graft.tools.StreamBench` checks it (the folded
  * state holds every staged row exactly once; a serve stream answers). */
final class StreamWorkload(a: Args) extends Workload {
  private val dir = a.data.toString
  private val chunks = 2 // one minor and one major per tiered roll (majorEvery = 2)
  private val land = a.work.resolve(s"stream_inputs/seed${a.seed}_c$chunks")
  private val roots = a.work.resolve("stream_roots")
  private val keys = Map("events" -> "user_id", "edges" -> "src", "vectors" -> "vec_id",
    "media" -> "media_id", "graphq" -> "qid")
  private var rows = Map.empty[String, DataFrame]
  private var total = Map.empty[String, Long]
  private val done = scala.collection.mutable.Map.empty[String, (Double, Double)]
  private val batchSecs = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def path(name: String) = land.resolve(name).toString
  private def root(n: String) = roots.resolve(n).toString
  private def ck(n: String) = roots.resolve(s"ck_$n").toString

  /** Rows of `df` split into `chunks` files by a seeded hash of `key`,
    * written one file at a time so file order is batch order. */
  private def drops(df: DataFrame, name: String): Unit = {
    val tagged = df.withColumn("_drop", pmod(xxhash64(col(keys(name)), lit(a.seed)), lit(chunks.toLong)))
    (0 until chunks).foreach { c =>
      tagged.filter(col("_drop") === c).drop("_drop").coalesce(1)
        .write.mode("append").parquet(path(name))
    }
  }

  /** Directed co-purchase edges: distinct part pairs sharing an order, the
    * edge set the co-purchase queries build their graph from. */
  private def copurchaseEdges(li: DataFrame): DataFrame = {
    val ip = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    ip.as("a").join(ip.as("b"), col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
      .select(col("a.p").cast("long").as("src"), col("b.p").cast("long").as("dst")).distinct()
  }

  override def stage(spark: SparkSession): Unit = {
    if (!java.nio.file.Files.exists(land.resolve("_COMPLETE"))) {
      Dirs.delete(land)
      val t = (n: String) => graft.io.Tables.load(spark, dir, n)
      drops(t("events").select(col("user_id"), col("value")), "events")
      drops(copurchaseEdges(t("lineitem").filter(year(col("l_shipdate")) === 1997)), "edges")
      drops(t("embeddings").select(col("vec_id"), col("embedding")), "vectors")
      drops(graft.operators.Multimodal.syntheticReal(spark, 240).toDF()
        .filter(col("kind") === "image").select(col("media_id"), col("media")), "media")
      // graph probes: sources of the staged edges, ids outside the node space
      drops(spark.read.parquet(path("edges")).select(col("src").as("node")).distinct().limit(200)
        .select((col("node") + 1000000L).as("qid"), col("node")), "graphq")
      java.nio.file.Files.createFile(land.resolve("_COMPLETE"))
    }
    total = keys.keys.map(n => n -> spark.read.parquet(path(n)).count()).toMap
  }

  override def setup(spark: SparkSession): Unit =
    rows = keys.keys.map(n => n -> spark.read.parquet(path(n))).toMap

  private def count(name: String): Long = total(name)

  private def in(spark: SparkSession, name: String): DataFrame =
    spark.readStream.schema(rows(name).schema).option("maxFilesPerTrigger", "1").parquet(path(name))

  /** Run a stream until it has processed every staged file; its batch
    * durations feed the per-batch floor. */
  private def drain(q: StreamingQuery): Unit = {
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.foreach { p =>
      Option(p.durationMs.get("triggerExecution")).foreach(ms => batchSecs += ms.longValue / 1000.0)
    }
    q.exception.foreach(e => throw e)
  }

  private def section(tr: Tracer, name: String, units: => Long)(run: => Boolean): Op = {
    val t0 = System.nanoTime()
    val ok = try tr.span(s"stream.$name")(run) catch { case e: Throwable =>
      System.err.println(s"[perfbench] stream $name failed: $e"); false }
    val sec = (System.nanoTime() - t0) / 1e9
    val kind = if (name.endsWith("_serve")) "serve" else "roll"
    val (u, s) = done.getOrElse(kind, (0.0, 0.0))
    done(kind) = (u + units, s + sec)
    System.err.println(f"[perfbench] stream $name%-14s $sec%7.3fs ok $ok")
    Op(s"stream.$name", sec, ok)
  }

  override def cycle(spark: SparkSession, tr: Tracer): Seq[Op] = {
    Dirs.delete(roots)
    batchSecs.clear()
    done.clear()
    val ops = Seq(
      section(tr, "agg_sink", count("events")) {
        val sink = IncrementalAggSink(root = root("agg"), keys = Seq("user_id"),
          sums = Seq(("value", 2)), nBuckets = 16, appId = "perfbench")
        drain(sink.start(in(spark, "events"), ck("agg")))
        sink.read(spark).agg(sum("n")).head().getLong(0) == count("events")
      },
      section(tr, "graph_roll", count("edges")) {
        drain(GraphTieredStream.start(in(spark, "edges"), root("graph"), ck("graph"), majorEvery = 2))
        val v = GraphTieredStream.loadCurrent(spark, root("graph")).getOrElse(sys.error("no graph tier"))
        try v.mergedEdges.count() == count("edges") finally v.release()
      },
      section(tr, "graph_serve", count("graphq")) {
        drain(GraphServeStream.startTiered(in(spark, "graphq"), root("graph"),
          root("graph_answers"), ck("graph_answers")))
        spark.read.parquet(s"${root("graph_answers")}/batch=*").count() > 0
      },
      section(tr, "vector_roll", count("vectors")) {
        drain(VectorTieredStream.start(in(spark, "vectors"), "vec_id", "embedding",
          root("vector"), ck("vector"), nCells = 16, majorEvery = 2))
        val v = VectorTieredStream.loadCurrent(spark, root("vector"), nCells = 16)
          .getOrElse(sys.error("no vector tier"))
        try v.index.assigned.count() == count("vectors") finally v.release()
      },
      section(tr, "media_roll", count("media")) {
        drain(MediaTieredStream.start(in(spark, "media"), root("media"), ck("media"), majorEvery = 2))
        MediaTieredStream.loadCurrent(spark, root("media"))
          .getOrElse(sys.error("no media tier")).hashes.count() == count("media")
      })
    if (batchSecs.nonEmpty) tr.set("stream.batch_floor_s", batchSecs.min)
    done.get("roll").foreach { case (u, s) => tr.set("stream.roll_rows_per_s", u / s) }
    done.get("serve").foreach { case (u, s) => tr.set("stream.serve_queries_per_s", u / s) }
    ops
  }

  override def finish(spark: SparkSession, tr: Tracer): Int = {
    Dirs.delete(roots)
    val leaked = spark.sparkContext.getRDDStorageInfo.length
    tr.add("spark.persisted_rdds_leaked", leaked.toDouble)
    leaked
  }
}
