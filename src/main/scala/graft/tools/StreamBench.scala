package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.streaming._

/** Streaming throughput micro-bench (r8 verdict task 8): the streaming
  * surface is correctness-proven by specs but had no rate numbers. This
  * main stages the driver events table into a landing directory as N
  * parquet drops, replays it through two representative pipelines, and
  * prints ONE JSON line with events/s for each:
  *
  *  - `windowed`: readEventStream → windowedTypeCounts → memory sink —
  *    the stateful windowed-aggregation path (watermark + window state).
  *  - `agg_sink`: readEventStream → IncrementalAggSink — the maintained-
  *    aggregate path with its ledger, bucket swaps, and exact sums (the
  *    per-batch upsert cost dominates; this is the sink a production
  *    counter table pays).
  *
  * One file per trigger, so N files = N micro-batches: the measured rate
  * includes per-batch overheads (planning, state store, ledger IO), which
  * is the honest number — single-batch throughput flatters the sink by
  * amortizing its fixed costs to zero. Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.StreamBench [nChunks]"
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nChunks = if (args.nonEmpty) args(0).toInt else 8
    val spark = graft.GraftSession.local(Sweep.cores)
    graft.io.Tables.canaryEvents(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("stream_bench").toString
    try run(spark, sfDir, nChunks, tmp)
    finally { graft.io.TempRoots.delete(tmp); spark.stop() }
  }

  /** Every section under the temp root `tmp`, then the JSON line. */
  private def run(spark: SparkSession, sfDir: String, nChunks: Int,
                  tmp: String): Unit = {
    // stage the table as nChunks files — one micro-batch each
    val landing = s"$tmp/landing"
    val events = graft.io.Tables.load(spark, sfDir, "events")
    val total = events.count()
    events.repartition(nChunks).write.parquet(landing)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    // Sections that time out are PARTIAL: the stream is stopped (so it
    // can't keep running concurrently with the next timed section and
    // skew it) and the section is named in the JSON's "partial" list —
    // a truncated-window rate must not read as a completed-workload rate
    // (r12 advice).
    val partials = scala.collection.mutable.ArrayBuffer.empty[String]
    def awaitOrStop(q: StreamingQuery, name: String): Unit =
      if (!q.awaitTermination(600000L)) {
        System.err.println(
          s"[stream_bench] $name did not finish in 600s — stopping; " +
            "its rate is over a truncated window")
        try q.stop() catch { case t: Throwable =>
          System.err.println(s"[stream_bench] $name stop failed: $t") }
        partials += name
      }

    // --- windowed aggregation path
    val winSec = timed {
      val q = EventStreams
        .windowedTypeCounts(EventStreams.readEventStream(spark, landing))
        .writeStream.format("memory").queryName("sb_win")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$tmp/ckpt_win")
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // --- maintained-aggregate sink path (per-user count + exact value sum)
    val sink = IncrementalAggSink(
      root = s"$tmp/aggsink", keys = Seq("user_id"),
      sums = Seq(("value", 2)), nBuckets = 16, appId = "sb")
    val sinkSec = timed {
      val q = sink.start(
        EventStreams.readEventStream(spark, landing)
          .select(col("user_id"), col("value")),
        s"$tmp/ckpt_sink")
      try q.processAllAvailable() finally q.stop()
    }
    // sanity: the maintained state saw every row exactly once
    val stateRows = sink.read(spark).agg(sum("n")).head().getLong(0)
    require(stateRows == total,
      s"agg sink folded $stateRows rows, staged $total — lost or doubled a batch")

    // --- the tiered roll sections: each stages (or reuses) nChunks
    // parquet drops, streams them through one family's roll at full
    // micro-batch machinery cost, timed until drained, then counts the
    // committed view it rolled
    def stage(df: DataFrame, dir: String): String = {
      df.repartition(nChunks).write.parquet(s"$tmp/$dir"); s"$tmp/$dir"
    }
    def rollSection[V](name: String, landing: String, schema: StructType)(
        start: DataFrame => StreamingQuery)(view: => Option[V])(
        count: V => Long): (Double, Long) = {
      val sec = timed(awaitOrStop(start(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(landing)), name))
      (sec, count(view.getOrElse(sys.error(s"$name committed nothing"))))
    }

    // --- the 1997 co-purchase edges staged as nChunks drops for the
    // graph rolls below
    val edges = graft.queries.CoreQueries.copurchasePairs(
      graft.io.Tables.load(spark, sfDir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997)).distinct()
    val eCnt = edges.count()
    val edgeLanding = stage(edges, "edge_landing")

    // --- TIERED graph roll: the staged edge drops through
    // GraphTieredStream (L0 minors + majorEvery-th L1 compaction)
    val (gtrollSec, gtEdges) = rollSection("graph_tiered_roll", edgeLanding,
        edges.schema)(GraphTieredStream.start(_, s"$tmp/graph_tiered",
        s"$tmp/ckpt_gtroll", majorEvery = 4))(
      GraphTieredStream.loadCurrent(spark, s"$tmp/graph_tiered"))(
      v => try v.mergedEdges.count() finally v.release())
    require(gtEdges == eCnt,
      s"tiered graph roll folded $gtEdges edges, staged $eCnt")

    // --- TIERED graph roll WITH scheduled in-stream maintenance (r15
    // verdict #6): the same staged edge drops, plus a MaintenancePolicy
    // compacting tombstoned edges (~9%) after every data major INSIDE the
    // stream's own foreachBatch — this row minus `graph_tiered_roll_sec`
    // is the attributed cost of wrapper-scheduled maintenance on
    // identical data and machinery
    val gmTombs = spark.read.parquet(edgeLanding)
      .filter((col("src") + col("dst")) % 11 === 3)
    val gmDead = gmTombs.count()
    val (gmrollSec, gmEdges) = rollSection("graph_tiered_maint_roll",
        edgeLanding, edges.schema)(GraphTieredStream.start(_,
        s"$tmp/graph_tiered_m", s"$tmp/ckpt_gmroll", majorEvery = 4,
        maintenance = Some(MaintenancePolicy(tombstones = Some(() => gmTombs)))))(
      GraphTieredStream.loadCurrent(spark, s"$tmp/graph_tiered_m"))(
      v => try v.mergedEdges.count() finally v.release())
    // when the LAST batch is a major (nChunks ≡ 0 mod majorEvery) the
    // closing compaction leaves the view exactly the survivor set;
    // otherwise post-major minors may still carry dead edges awaiting the
    // next window — both are the designed semantics
    if (nChunks % 4 == 0)
      require(gmEdges == eCnt - gmDead,
        s"maintained roll kept $gmEdges edges, want ${eCnt - gmDead}")
    else require(gmEdges >= eCnt - gmDead && gmEdges < eCnt,
      s"maintained roll kept $gmEdges of $eCnt with $gmDead tombstoned")

    // --- TIERED raw-line graph roll (fact-stream derivation path): the
    // 1997 order lines staged as nChunks drops; each batch derives its
    // delta edges against the standing lines (cross-batch pairs included)
    // and folds them as an L0 minor — the rate is per RAW LINE, the full
    // ingest-to-index cost
    val rawLines = graft.io.Tables.load(spark, sfDir, "lineitem")
      .filter(year(col("l_shipdate")) === 1997)
      .select(col("l_orderkey"), col("l_partkey"))
    val rlCnt = rawLines.count()
    val (ctrollSec, ctEdges) = rollSection("line_graph_tiered_roll",
        stage(rawLines, "line_landing"), rawLines.schema)(
      CopurchaseStream.startTiered(_, s"$tmp/cpst_lines", s"$tmp/cpst_epochs",
        s"$tmp/ckpt_ctroll", majorEvery = math.max(2, nChunks / 2)))(
      GraphTieredStream.loadCurrent(spark, s"$tmp/cpst_epochs"))(
      v => try v.mergedEdges.count() finally v.release())
    require(ctEdges == eCnt,
      s"tiered raw-line roll derived $ctEdges edges, batch pair-gen has $eCnt")

    // --- the embeddings table staged as nChunks drops for the vector,
    // PQ and IVFADC rolls below
    val vecs = graft.io.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val vCnt = vecs.count()
    val vecLanding = stage(vecs, "vec_landing")

    // --- TIERED vector roll: the staged embedding drops through
    // VectorTieredStream (bootstrap L1, minors under standing centroids,
    // majorEvery-th union major)
    val (vtrollSec, vtVecs) = rollSection("vector_tiered_roll", vecLanding,
        vecs.schema)(VectorTieredStream.start(_, "vec_id", "embedding",
        s"$tmp/vec_tiered", s"$tmp/ckpt_vtroll", nCells = 16, majorEvery = 4))(
      VectorTieredStream.loadCurrent(spark, s"$tmp/vec_tiered", nCells = 16))(
      v => try v.index.assigned.count() finally v.release())
    require(vtVecs == vCnt,
      s"tiered vector roll folded $vtVecs vectors, staged $vCnt")

    // --- TIERED PQ roll: the same staged embedding drops through
    // PqTieredStream (bootstrap trains codebooks, minors encode under
    // the standing model, majorEvery-th union major)
    val (ptrollSec, ptVecs) = rollSection("pq_tiered_roll", vecLanding,
        vecs.schema)(PqTieredStream.start(_, "vec_id", "embedding",
        s"$tmp/pq_tiered", s"$tmp/ckpt_ptroll", dim = 64, majorEvery = 4))(
      PqTieredStream.loadCurrent(spark, s"$tmp/pq_tiered", dim = 64))(
      v => try v.index.encoded.count() finally v.release())
    require(ptVecs == vCnt,
      s"tiered pq roll folded $ptVecs vectors, staged $vCnt")

    // --- TIERED IVFADC roll: same drops through IvfPqTieredStream
    // (bootstrap trains BOTH models, minors route+encode under them)
    val (itrollSec, itVecs) = rollSection("ivfpq_tiered_roll", vecLanding,
        vecs.schema)(IvfPqTieredStream.start(_, "vec_id", "embedding",
        s"$tmp/ivfpq_tiered", s"$tmp/ckpt_itroll", dim = 64, majorEvery = 4))(
      IvfPqTieredStream.loadCurrent(spark, s"$tmp/ivfpq_tiered", dim = 64))(
      v => try v.index.coded.count() finally v.release())
    require(itVecs == vCnt,
      s"tiered ivfpq roll folded $itVecs vectors, staged $vCnt")

    // --- MAINTENANCE majors on the rolled IVFADC root (r14 verdict #3/#4):
    // physical tombstone compaction (~5% of ids dead) and a full model
    // retrain over the retained corpus, each committed as a new L1
    // generation — the cost a deployment's maintenance window pays
    val itTombs = vecs.filter(col("vec_id") % 20 === 3).select("vec_id")
    val icompactSec = timed {
      IvfPqTieredStream.compactMajor(spark, s"$tmp/ivfpq_tiered", itTombs,
        "vec_id", threshold = 0.01, dim = 64)
        .getOrElse(sys.error("compaction major did not fire"))
    }
    val retainedCorpus = vecs.join(itTombs.withColumnRenamed("vec_id", "dead_id"),
      col("vec_id") === col("dead_id"), "left_anti")
    val iretrainSec = timed {
      IvfPqTieredStream.retrainMajor(retainedCorpus, "vec_id", "embedding",
        s"$tmp/ivfpq_tiered", dim = 64)
        .getOrElse(sys.error("retrain major found no standing generation"))
    }

    // --- the documents table staged as nChunks drops for the lex and
    // signature rolls below
    val docsT = graft.io.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val dCnt = docsT.count()
    // empty/whitespace-only docs carry no postings — the index's nDocs
    // counts token-bearing docs only
    val dTok = docsT.filter(trim(col("text")) =!= "").count()
    val docLanding = stage(docsT, "doc_landing")

    // --- TIERED lex roll: the staged document drops through
    // LexTieredStream (self-contained tierFrame minors, mergeTiers majors)
    val (ltrollSec, ltDocs) = rollSection("lex_tiered_roll", docLanding,
        docsT.schema)(LexTieredStream.start(_, s"$tmp/lex_tiered",
        s"$tmp/ckpt_ltroll", majorEvery = 4))(
      LexTieredStream.loadCurrent(spark, s"$tmp/lex_tiered"))(
      v => try v.index.nDocs finally v.release())
    require(ltDocs == dTok,
      s"tiered lex roll folded $ltDocs docs, staged $dTok token-bearing")

    // --- TIERED signature roll: the same staged document drops through
    // SignatureTieredStream (O(|Δ|) tokenize minors, re-aggregate-only
    // bucket majors — the dedup family's LSM path)
    val (strollSec, stDocs) = rollSection("signature_tiered_roll",
        docLanding, docsT.schema)(SignatureTieredStream.start(_, "doc_id",
        "text", s"$tmp/sig_tiered", s"$tmp/ckpt_stroll", majorEvery = 4))(
      SignatureTieredStream.loadCurrent(spark, s"$tmp/sig_tiered"))(
      v => try v.sigs.count() finally v.release())
    // the signature kernel emits only shingle-bearing docs (≥ shingleWidth
    // tokens) — compare against the flat kernel over the same table
    val sigDocs = graft.operators.Dedup
      .signatureFrame(docsT, "doc_id", "text").count()
    require(stDocs == sigDocs,
      s"tiered signature roll folded $stDocs docs, flat kernel has $sigDocs")

    // --- TIERED media roll: real PNG drops through MediaTieredStream
    // (|Δ| decode+aHash minors, model-free union majors)
    val media = graft.operators.Multimodal
      .syntheticReal(spark, 1800).toDF()
      .filter(col("kind") === "image")
      .select(col("media_id"), col("media"))
    val mCnt = media.count()
    val (mtrollSec, mtImgs) = rollSection("media_tiered_roll",
        stage(media, "media_landing"), media.schema)(MediaTieredStream.start(_,
        s"$tmp/media_tiered", s"$tmp/ckpt_mtroll", majorEvery = 4))(
      MediaTieredStream.loadCurrent(spark, s"$tmp/media_tiered"))(
      _.hashes.count())
    require(mtImgs == mCnt,
      s"tiered media roll hashed $mtImgs images, staged $mCnt")

    // --- serve-side rates: the five serving streams probe the tiered
    // roots the roll sections just committed (the production pairing — a
    // single-writer roll underneath, a reader stream on top). Each
    // workload runs TWICE — staged as nChunks drops and again as 32 —
    // with the same total queries, so the two timings solve
    //   T = B * floor + Q * marginal
    // for the per-batch fixed cost (epoch staleness check + answer-dir
    // write — the pinned serve's floor; r12's floor also paid a full
    // epoch reload per batch) and the per-query marginal cost. Reporting
    // both ends the floor-vs-marginal ambiguity the r12 serve section
    // had: 73 q/s at 8 batches was a floor statement, not a throughput
    // statement.
    // keep the two serve points distinct (and their JSON keys) even when
    // the caller passes a large nChunks
    val serveBatchesHi = if (nChunks >= 32) nChunks * 4 else 32
    def serveSection(name: String, queriesDf: DataFrame,
                     run: (String, String, String) => StreamingQuery)
        : (Long, Double, Double, Double, Double) = {
      val qCnt = queriesDf.count()
      def once(batches: Int, tag: String): Double = {
        val landing = s"$tmp/${name}_landing_$tag"
        queriesDf.repartition(batches).write.parquet(landing)
        val sec = timed {
          val q = run(landing, s"$tmp/${name}_answers_$tag",
            s"$tmp/ckpt_${name}_$tag")
          awaitOrStop(q, s"${name}_$tag")
        }
        val ans = spark.read.parquet(s"$tmp/${name}_answers_$tag/batch=*").count()
        require(ans > 0L, s"$name serving ($tag) produced no answers")
        sec
      }
      val secLo = once(nChunks, s"${nChunks}b")
      val secHi = once(serveBatchesHi, s"${serveBatchesHi}b")
      // secHi < secLo can happen on a noisy box — clamp, don't extrapolate
      val floor = math.max(0.0, (secHi - secLo) / (serveBatchesHi - nChunks))
      val marginalMs =
        math.max(0.0, (secLo - nChunks * floor) / qCnt * 1000.0)
      (qCnt, secLo, secHi, floor, marginalMs)
    }

    // lexical serving: 1000 two-term queries drawn from the corpus itself
    val lexQ = docsT.filter(trim(col("text")) =!= "").limit(1000)
      .select(col("doc_id").cast("long").as("qid"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 2)).as("qtext"))
    val (lqCnt, lsecLo, lsecHi, lfloor, lmarg) =
      serveSection("lexq", lexQ, (in, out, ck) =>
        LexServeStream.startTiered(
          spark.readStream.schema(lexQ.schema)
            .option("maxFilesPerTrigger", "1").parquet(in),
          s"$tmp/lex_tiered", out, ck))

    // graph serving: 2000 neighbor-recommendation probes over sources of
    // the rolled co-purchase graph
    val gsrv = GraphTieredStream.loadCurrent(spark,
      s"$tmp/cpst_epochs")
      .getOrElse(sys.error("no co-purchase epoch to serve"))
    val graphQ =
      try gsrv.mergedEdges.select(col("src").as("node")).distinct().limit(2000)
        .select((col("node") + 1000000L).as("qid"), col("node"))
        .localCheckpoint() // pin before release — the q65 lifetime rule
      finally gsrv.release()
    val (gqCnt, gsecLo, gsecHi, gfloor, gmarg) =
      serveSection("graphq", graphQ, (in, out, ck) =>
        GraphServeStream.startTiered(
          spark.readStream.schema(graphQ.schema)
            .option("maxFilesPerTrigger", "1").parquet(in),
          s"$tmp/cpst_epochs", out, ck))
    graft.operators.Checkpoints.release(graphQ)

    // vector serving: 500 ANN probes (query ids offset out of the corpus
    // id namespace — the ivfProbe self-exclusion contract)
    val vecQ = vecs.limit(500)
      .select((col("vec_id") + 1000000L).as("qid"), col("embedding").as("qvec"))
    val (vqCnt, vsecLo, vsecHi, vfloor, vmarg) =
      serveSection("vecq", vecQ, (in, out, ck) =>
        VectorServeStream.startTiered(
          spark.readStream.schema(vecQ.schema)
            .option("maxFilesPerTrigger", "1").parquet(in),
          s"$tmp/vec_tiered", out, ck, nCells = 16))

    // quantized-tier serving: the same ANN probes against the PQ and
    // IVFADC tiered roots just rolled (ADC / coarse-pruned ADC probes)
    val (pqCnt, psecLo, psecHi, pfloor, pmarg) =
      serveSection("pqq", vecQ, (in, out, ck) =>
        PqServeStream.startTiered(
          spark.readStream.schema(vecQ.schema)
            .option("maxFilesPerTrigger", "1").parquet(in),
          s"$tmp/pq_tiered", out, ck, dim = 64))
    val (iqCnt, isecLo, isecHi, ifloor, imarg) =
      serveSection("ipqq", vecQ, (in, out, ck) =>
        IvfPqServeStream.startTiered(
          spark.readStream.schema(vecQ.schema)
            .option("maxFilesPerTrigger", "1").parquet(in),
          s"$tmp/ivfpq_tiered", out, ck, dim = 64))

    def serveJson(q: Long, secLo: Double, secHi: Double,
                  floor: Double, margMs: Double): String =
      f"""{"queries":$q,"sec_${nChunks}b":$secLo%.2f,""" +
        f""""rate_${nChunks}b":${q / secLo}%.0f,""" +
        f""""sec_${serveBatchesHi}b":$secHi%.2f,""" +
        f""""rate_${serveBatchesHi}b":${q / secHi}%.0f,""" +
        f""""batch_floor_sec":$floor%.3f,"per_query_ms":$margMs%.2f}"""

    println(
      f"""{"metric":"stream_events_per_sec","events":$total,"chunks":$nChunks,""" +
        f""""windowed":{"sec":$winSec%.2f,"rate":${total / winSec}%.0f},""" +
        f""""agg_sink":{"sec":$sinkSec%.2f,"rate":${total / sinkSec}%.0f},""" +
        f""""graph_tiered_roll":{"edges":$eCnt,"sec":$gtrollSec%.2f,"rate":${eCnt / gtrollSec}%.0f},""" +
        f""""graph_tiered_maint_roll":{"edges":$eCnt,"dead":$gmDead,""" +
        f""""sec":$gmrollSec%.2f,"rate":${eCnt / gmrollSec}%.0f,""" +
        f""""maint_overhead_sec":${gmrollSec - gtrollSec}%.2f},""" +
        f""""vector_tiered_roll":{"vectors":$vCnt,"sec":$vtrollSec%.2f,"rate":${vCnt / vtrollSec}%.0f},""" +
        f""""pq_tiered_roll":{"vectors":$vCnt,"sec":$ptrollSec%.2f,"rate":${vCnt / ptrollSec}%.0f},""" +
        f""""ivfpq_tiered_roll":{"vectors":$vCnt,"sec":$itrollSec%.2f,"rate":${vCnt / itrollSec}%.0f},""" +
        f""""ivfpq_compact_major":{"vectors":$vCnt,"sec":$icompactSec%.2f},""" +
        f""""ivfpq_retrain_major":{"vectors":$vCnt,"sec":$iretrainSec%.2f},""" +
        f""""line_graph_tiered_roll":{"lines":$rlCnt,"sec":$ctrollSec%.2f,"rate":${rlCnt / ctrollSec}%.0f},""" +
        f""""lex_tiered_roll":{"docs":$dCnt,"sec":$ltrollSec%.2f,"rate":${dCnt / ltrollSec}%.0f},""" +
        f""""signature_tiered_roll":{"docs":$stDocs,"sec":$strollSec%.2f,"rate":${stDocs / strollSec}%.0f},""" +
        f""""media_tiered_roll":{"images":$mCnt,"sec":$mtrollSec%.2f,"rate":${mCnt / mtrollSec}%.0f},""" +
        s""""lex_serve":${serveJson(lqCnt, lsecLo, lsecHi, lfloor, lmarg)},""" +
        s""""graph_serve":${serveJson(gqCnt, gsecLo, gsecHi, gfloor, gmarg)},""" +
        s""""vector_serve":${serveJson(vqCnt, vsecLo, vsecHi, vfloor, vmarg)},""" +
        s""""pq_serve":${serveJson(pqCnt, psecLo, psecHi, pfloor, pmarg)},""" +
        s""""ivfpq_serve":${serveJson(iqCnt, isecLo, isecHi, ifloor, imarg)},""" +
        s""""partial":${partials.map(p => "\"" + p + "\"").mkString("[", ",", "]")}}""")
  }
}
