package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.operators.{IndexStore, Similarity}

/** Similarity-search surface over the `embeddings` table. */
object VectorQueries {

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** `df` bound to the measured width of an embedding-driven body: the
    * embeddings table's parquet-footer row count (ZERO Spark jobs), AQE
    * off only at the tiny floor ([[graft.operators.Checkpoints.sized]]).
    * Lower-only — a cluster-scale corpus keeps the session width. */
  private def embSized(s: SparkSession, dir: String, df: DataFrame): DataFrame =
    graft.operators.Checkpoints.sized(df,
      graft.operators.IndexStore.parquetRowCount(s, s"$dir/embeddings.parquet"))

  // Every vector index lives in the session registry's "ivf" family, one
  // entry per (index, table dir): built by the first probe (or
  // prepareIvfIndex), probe-only afterwards, released by
  // releaseIvfIndexes. With spark.graft.indexDir set, the flat IVF/PQ/
  // IVFADC builds also survive the session as parquet, stamped with the
  // corpus version AND the build params (IndexStore.fromConf).
  private def vecIndex[A](s: SparkSession, dir: String, stat: String)(build: => A)(
      release: A => Unit): A =
    SessionIndexes.get(s, "ivf", s"$stat|$dir", stat)(build)(release)

  private def ivfIndexFor(s: SparkSession, dir: String): Similarity.IvfIndex =
    vecIndex(s, dir, "ivf")(IndexStore.fromConf(s, IndexStore.ivf, "ivf",
      s"$dir/embeddings.parquet", Map("n_cells" -> "16"))(
      Similarity.ivfBuild(emb(s, dir), "vec_id", "embedding", nCells = 16)))(_.release())

  // Appended IVF (v12): a base index trained on ⅞ of the corpus
  // (vec_id % 8 <> 0) with the remaining ⅛ ivfAppend-ed — the
  // index-maintenance path.
  private def appendedIndexFor(s: SparkSession, dir: String): Similarity.IvfIndex =
    vecIndex(s, dir, "ivfAppend") {
      val e = emb(s, dir)
      val base = Similarity.ivfBuild(e.filter(col("vec_id") % 8 =!= 0),
        "vec_id", "embedding", nCells = 16)
      Similarity.ivfAppend(base, e.filter(col("vec_id") % 8 === 0),
        "vec_id", "embedding")
    }(_.release())

  // PQ index: built by the first v08 invocation per (session, dir).
  private def pqIndexFor(s: SparkSession, dir: String): Similarity.PqIndex =
    vecIndex(s, dir, "pq")(IndexStore.fromConf(s, IndexStore.pq, "pq",
      s"$dir/embeddings.parquet", Map("m" -> "4", "k" -> "8", "sub_dim" -> "16"))(
      Similarity.pqBuild(emb(s, dir), "vec_id", "embedding",
        dim = 64, m = 4, k = 8, iters = 4)))(_.release())

  // Appended PQ (v24): codebooks trained on ⅞ of the corpus
  // (vec_id % 8 <> 0) with the remaining ⅛ pqAppend-ed under the standing
  // codebooks — PQ's index-maintenance path, the v12 shape.
  private def appendedPqFor(s: SparkSession, dir: String): Similarity.PqIndex =
    vecIndex(s, dir, "pqAppend") {
      val e = emb(s, dir)
      val base = Similarity.pqBuild(e.filter(col("vec_id") % 8 =!= 0),
        "vec_id", "embedding", dim = 64, m = 4, k = 8, iters = 4)
      Similarity.pqAppend(base, e.filter(col("vec_id") % 8 === 0),
        "vec_id", "embedding")
    }(_.release())

  // IVFADC (v29): coarse quantizer + residual-PQ codebooks + coded
  // corpus — the two-stage index ([[Similarity.ivfPqBuild]]).
  private def ivfPqIndexFor(s: SparkSession, dir: String): Similarity.IvfPqIndex =
    vecIndex(s, dir, "ivfPq")(IndexStore.fromConf(s, IndexStore.ivfPq, "ivfpq",
      s"$dir/embeddings.parquet",
      Map("n_cells" -> "8", "m" -> "4", "k" -> "8", "sub_dim" -> "16"))(
      Similarity.ivfPqBuild(emb(s, dir), "vec_id", "embedding",
        dim = 64, nCells = 8, m = 4, k = 8, coarseIters = 4, pqIters = 4)))(_.release())

  /** The SAME corpus with planted cluster structure — +20 on dimension
    * `vec_id % 8` (float add, so the oracle replays it as round-to-REAL
    * of the exact double sum). v30 measured IVFADC's composed recall on
    * the deliberately unstructured synthetic embeddings (~0.55 — the
    * cell-pruning ceiling when there are no cells to find); a deployment
    * also needs the number on data WITH cluster structure, which is what
    * this derivation plants: 8 well-separated clusters, one per offset
    * dimension. */
  private def clusteredEmb(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"),
      transform(col("embedding").cast("array<float>"),
        (x, i) => when(i.cast("long") === pmod(col("vec_id"), lit(8L)),
          x + lit(20.0f)).otherwise(x)).as("embedding"))

  // Clustered suite (v32): all three index families built over the
  // clustered derivation with MATCHED quantizer budgets (coarse nCells=8
  // iters=4 — identical params for IVF and IVFADC's coarse, so the
  // deterministic training yields the SAME centroids and the oracle
  // trains once; PQ/IVFADC residual codebooks m=4 k=8 iters=4).
  private def clusteredSuiteFor(s: SparkSession, dir: String)
      : (Similarity.IvfIndex, Similarity.PqIndex, Similarity.IvfPqIndex) =
    vecIndex(s, dir, "clusteredSuite") {
      val ec = clusteredEmb(s, dir)
      (Similarity.ivfBuild(ec, "vec_id", "embedding", nCells = 8,
        trainSample = 10000, iters = 4),
        Similarity.pqBuild(ec, "vec_id", "embedding", dim = 64, m = 4,
          k = 8, iters = 4),
        Similarity.ivfPqBuild(ec, "vec_id", "embedding", dim = 64,
          nCells = 8, m = 4, k = 8, coarseIters = 4, pqIters = 4))
    } { case (a, b, c) => a.release(); b.release(); c.release() }

  // Appended IVFADC (v31): coarse centroids + residual codebooks
  // trained on ⅞ of the corpus (vec_id % 8 <> 0), the held-out ⅛
  // ivfPqAppend-ed under BOTH standing models — the v12/v24 maintenance
  // shape for the composed two-stage index.
  private def appendedIvfPqFor(s: SparkSession, dir: String): Similarity.IvfPqIndex =
    vecIndex(s, dir, "ivfPqAppend") {
      val e = emb(s, dir)
      val base = Similarity.ivfPqBuild(e.filter(col("vec_id") % 8 =!= 0),
        "vec_id", "embedding",
        dim = 64, nCells = 8, m = 4, k = 8, coarseIters = 4, pqIters = 4)
      Similarity.ivfPqAppend(base, e.filter(col("vec_id") % 8 === 0),
        "vec_id", "embedding")
    }(_.release())

  /** Drop (and unpersist) every cached index of `s` — session teardown
    * hygiene for JVMs that run many sessions. */
  def releaseIvfIndexes(s: SparkSession): Unit = SessionIndexes.release(s, "ivf")

  /** Build AND materialize the vector indexes for (session, dir) — the
    * explicit index-construction step a query-heavy deployment runs once
    * before serving probes. Bench times this separately so the per-query
    * v04/v08 numbers are probe cost, with build cost reported as its own
    * field. */
  def prepareIvfIndex(s: SparkSession, dir: String): Unit =
    // The family's nine builds are INDEPENDENT (each appended variant
    // trains its own base; entries key by build, not by parent), and
    // since the r17 local-Lloyd's change each chain is job-bound, so full
    // overlap backfills the executors (guide §2.6). The clustered suite's
    // three materializations are their own tasks: the models build once
    // under the registry entry's lock and the counts then run
    // concurrently.
    SessionIndexes.inParallel("graft-ivf-prepare")(
      () => { ivfIndexFor(s, dir).assigned.count(); () },
      () => { pqIndexFor(s, dir).encoded.count(); () },
      () => { appendedIndexFor(s, dir).assigned.count(); () },
      () => { appendedPqFor(s, dir).encoded.count(); () },
      // explicit count: the BUILD path materializes coded itself, but a
      // durable-store load returns a cold persisted frame — without this
      // the first timed v29/v30 probe would pay the cache fill the
      // prepare phase exists to absorb
      () => { ivfPqIndexFor(s, dir).coded.count(); () },
      () => { appendedIvfPqFor(s, dir).coded.count(); () },
      () => { clusteredSuiteFor(s, dir)._1.assigned.count(); () },
      () => { clusteredSuiteFor(s, dir)._2.encoded.count(); () },
      () => { clusteredSuiteFor(s, dir)._3.coded.count(); () })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact brute-force cosine top-5 for the first 8 vectors as queries.
    "v01_cosine_topk" -> { (s, dir) =>
      val e = emb(s, dir)
      Similarity.cosineTopK(
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("rank"), col("nid"), round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // LSH-bucketed approximate variant. Fully oracle-checkable even though
    // it's approximate: the hyperplanes are deterministic constants, so the
    // oracle SQL embeds them as literals and DuckDB reproduces the exact
    // bucketing, probing, and ranking (recall vs v01 additionally asserted
    // in SimilaritySpec).
    "v02_lsh_ann" -> { (s, dir) =>
      val e = emb(s, dir)
      Similarity.lshCosineTopK(
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5, nPlanes = 8, dim = 64)
        .select(col("qid"), col("rank"), col("nid"), round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // IVF (k-means coarse-quantized) ANN — the data-adaptive scale path.
    // The index (training + corpus assignment) is built once per
    // (session, dir) and probed per call — the build/probe split that a
    // query-heavy workload needs (recall vs brute force asserted in
    // SimilaritySpec; full training + probe reproduced by the DuckDB
    // oracle, see v04Oracle).
    "v04_ivf_ann" -> { (s, dir) =>
      Similarity.ivfProbe(ivfIndexFor(s, dir),
          emb(s, dir).filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nProbe = 4)
        .select(col("qid"), col("rank"), col("nid"), round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // IVF index maintenance: the base index is trained on ⅞ of the corpus
    // (vec_id % 8 <> 0) and the held-out ⅛ is ivfAppend-ed — assigned to
    // the EXISTING centroids in one broadcast-map pass, no retraining —
    // then the same v04-shaped probe runs over base ∪ batch. Appended
    // vectors are immediately searchable AND immediately candidates
    // (query 0 is itself an appended vector). The oracle replays training
    // on the ⅞ subset, the batch assignment, and the union probe.
    "v12_ivf_append" -> { (s, dir) =>
      Similarity.ivfProbe(appendedIndexFor(s, dir),
          emb(s, dir).filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nProbe = 4)
        .select(col("qid"), col("rank"), col("nid"), round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // Embedding-space near-dup DEDUP pairs, blocked by the same session
    // IVF index v04 probes: within-cell pairs at exact cosine >= the
    // threshold. The threshold is corpus-calibrated - the synthetic
    // embeddings are near-orthogonal random vectors (max pairwise cosine
    // ~0.5), so 0.3 selects the genuine similarity tail; on a real
    // embedding corpus the same operator runs at 0.9+. Oracle replays
    // training + blocking + verification exactly (v05Oracle).
    "v05_embedding_dedup" -> { (s, dir) =>
      graft.operators.Dedup.embeddingNearDupPairs(ivfIndexFor(s, dir), V05Threshold)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    },

    // Semantic dedup KEEP-LIST (the SemDeDup shape — Abbas et al. 2023:
    // cluster the embedding space, drop within-cluster semantic
    // duplicates): v05's cell-blocked exact-cosine pairs reduced to a
    // per-vector verdict under the dominated rule — a vector is dropped
    // iff SOME lower-id vector in its cell sits at cosine ≥ the
    // threshold. Deterministic and order-free (unlike greedy sequential
    // SemDeDup, whose keep-set depends on scan order — the dominated rule
    // is the parallel-safe variant, same family as d05/d08's min-id
    // canonical). Everything after the pair join is integer arithmetic:
    // a count of dominating neighbors and a null-check. Scale shape =
    // v05's (within-cell quadratic bounded by nCells) + one aggregate on
    // id_b + one left join back to the assignment frame — probe-only
    // against the session IVF index, no new training.
    "d12_semdedup" -> { (s, dir) =>
      val idx = ivfIndexFor(s, dir)
      val dominated = graft.operators.Dedup
        .embeddingNearDupPairs(idx, V05Threshold)
        .groupBy(col("id_b").as("vec_id"))
        .agg(count(lit(1)).as("n_lower_dups"))
      idx.assigned.select(col("nid").as("vec_id"), col("cell"))
        .join(dominated, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("n_lower_dups"), lit(0L)).as("n_lower_dups"),
          col("n_lower_dups").isNull.as("keep"))
        .orderBy("vec_id")
    },

    // ANN recall audit — the eval harness every approximate index needs:
    // per query, |IVF top-k ∩ exact top-k| / k. Both sides are
    // deterministic (v01's and v04's own guarantees), so recall is
    // EXACTLY oracle-checkable — integer intersection counts and one
    // terminal division, no tolerance verdicts needed. At 100 TB this
    // runs on a sampled query set; the exact side is the only brute-force
    // leg and is explicitly the audit's cost.
    "v09_recall_audit" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val exact = Similarity.cosineTopK(q, "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"))
      val ivf = Similarity.ivfProbe(ivfIndexFor(s, dir), q, "vec_id", "embedding",
          k = 5, nProbe = 4)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      exact.join(ivf, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("qid"), col("k"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
        .orderBy("qid")
    },

    // Matryoshka-style dimension truncation audit: rank by cosine over the
    // FIRST 16 of 64 dims (4× less scan IO — the leading-prefix retrieval
    // that matryoshka-trained embeddings are built for) and measure
    // recall@5 against the full-dimension ranking, per query. Everything
    // is exact arithmetic on both sides — the truncated ranking is just
    // cosineTopK over sliced vectors — so the audit is hash-exact, and it
    // quantifies what the 4× IO saving costs in ranking fidelity (on
    // non-matryoshka synthetic embeddings, typically a lot — which is the
    // point of auditing before you deploy the truncation).
    "v14_matryoshka_audit" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val full = Similarity.cosineTopK(q, "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"))
      val qt = q.select(col("vec_id"), slice(col("embedding"), 1, 16).as("emb16"))
      val et = e.select(col("vec_id"), slice(col("embedding"), 1, 16).as("emb16"))
      val trunc = Similarity.cosineTopK(qt, "vec_id", "emb16",
          et, "vec_id", "emb16", k = 5)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      full.join(trunc, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("qid"), col("k"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k"), 4).as("recall_16"))
        .orderBy("qid")
    },

    // Index-maintenance DELETE path: probe the appended IVF index with a
    // tombstone set (vec_id % 97 = 0 — "erased" vectors) excluded BEFORE
    // ranking, so every query still returns k live neighbors. With v12
    // (append) this completes the index lifecycle without a retrain:
    // build → append → delete-by-tombstone → compact-at-threshold.
    "v16_ivf_tombstones" -> { (s, dir) =>
      val e = emb(s, dir)
      Similarity.ivfProbeExcluding(appendedIndexFor(s, dir),
          e.filter(col("vec_id") % 97 === 0), "vec_id",
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nProbe = 4)
        .select(col("qid"), col("rank"), col("nid"), round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // Metadata-filtered vector search: top-5 cosine among corpus vectors
    // sharing the query's label (per-tenant/per-language ANN — the filter
    // rides the JOIN, so mismatched vectors are dropped by the hash probe
    // before any arithmetic). Ranks legitimately differ from v01 whenever
    // a global neighbor has a different label.
    "v15_filtered_ann" -> { (s, dir) =>
      val e = emb(s, dir)
      Similarity.filteredCosineTopK(
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          e, "vec_id", "embedding", filterKeys = Seq("label"), k = 5)
        .select(col("qid"), col("rank"), col("nid"), round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // Filtered-ANN recall audit (r8 verdict task 5) — v09's discipline for
    // the FILTERED probe: per query, |filtered-IVF top-k ∩ exact
    // filtered top-k| / k, where the exact side is brute force over the
    // label-matched subset (v15's arithmetic). This is the audit v09
    // cannot substitute for: a filter can decimate a probed cell (few or
    // no label-matched rows in the nProbe cells) and silently cost recall
    // that plain-IVF recall never shows. Integer intersection counts +
    // one terminal division — exactly oracle-checkable.
    "v17_filtered_recall_audit" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val exact = Similarity.filteredCosineTopK(q, "vec_id", "embedding",
          e, "vec_id", "embedding", filterKeys = Seq("label"), k = 5)
        .select(col("qid"), col("nid"))
      val approx = Similarity.ivfProbeFiltered(ivfIndexFor(s, dir),
          e, "vec_id", q, "vec_id", "embedding", Seq("label"), k = 5, nProbe = 4)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      exact.join(approx, Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("qid"), col("k"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
        .orderBy("qid")
    },

    // Vector norms + label stats: sanity surface for the embedding column.
    "v03_norm_stats" -> { (s, dir) =>
      val v = transform(col("embedding"), x => x.cast("double"))
      emb(s, dir)
        .select(col("label"), Similarity.norm(v).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
             round(min(col("nrm")), 4).as("min_norm"),
             round(max(col("nrm")), 4).as("max_norm"))
        .orderBy("label")
    },

    // K-means document clustering profile — the corpus-structure surface of
    // the same IVF partition v04 probes and v05 blocks on (cluster/topic
    // balancing step of a training-data pipeline: per-cluster volumes drive
    // mixture reweighting). Probe-only against the session index: no
    // training in the query path; per-cluster stats are order-independent
    // aggregates (count / min / max), so no float-reduction trap.
    "v07_cluster_profile" -> { (s, dir) =>
      ivfIndexFor(s, dir).assigned
        .groupBy(col("cell").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          min(col("nid")).as("rep_id"),
          round(min(col("nn")), 4).as("min_norm"),
          round(max(col("nn")), 4).as("max_norm"))
        .orderBy("cluster")
    },

    // Product-quantization ADC top-k — the memory-bound scale path of the
    // ANN family (v01 exact, v02 data-oblivious LSH, v04 IVF): the corpus
    // scan side carries 4 small integer codes per vector instead of 64
    // floats; queries score candidates against 4×8 trained sub-centroids
    // (literals in codegen). Probe-only against the session index; all
    // four subspace trainings replay exactly in the oracle.
    "v08_pq_adc" -> { (s, dir) =>
      Similarity.pqTopK(pqIndexFor(s, dir),
          emb(s, dir).filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
        .select(col("qid"), col("rank"), col("nid"), round(col("adc"), 4).as("adc"))
        .orderBy("qid", "rank")
    },

    // int8 scalar quantization — the embedding-compression step of a
    // training-data pipeline: per-dimension [min,max] codebook over the
    // corpus (a 64-row broadcast), q = round((x-mn)·255/(mx-mn)), plus a
    // reconstruction-error audit. Output avoids every float-reduction
    // trap: the codes are integers (md5 over the dim-ordered code string,
    // exact integer sum) and the error is a MAX (order-independent) of
    // per-element doubles whose arithmetic both engines evaluate
    // identically — no double summation anywhere.
    "v06_quantize" -> { (s, dir) =>
      val ex = emb(s, dir)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "xf")))
        .withColumn("x", col("xf").cast("double"))
      val stats = ex.groupBy("dim").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val q = when(col("mx") === col("mn"), lit(0L))
        .otherwise(round((col("x") - col("mn")) * 255 / (col("mx") - col("mn")))
          .cast("long"))
      val err = when(col("mx") === col("mn"), lit(0.0))
        .otherwise(abs(col("x") -
          (col("mn") + col("q") * (col("mx") - col("mn")) / 255)))
      ex.join(broadcast(stats), "dim")
        .withColumn("q", q)
        .withColumn("err", err)
        .groupBy("vec_id", "label")
        .agg(
          md5(concat_ws(",", transform(
            sort_array(collect_list(struct(col("dim"), col("q")))),
            p => p.getField("q").cast("string")))).as("q_hash"),
          sum(col("q")).as("q_sum"),
          max(col("err")).as("max_abs_err"))
        .orderBy("vec_id")
    },

    // Exact maximum-inner-product top-5 — the two-tower/recommender
    // retrieval semantics, where magnitude matters: ranking legitimately
    // differs from v01's cosine whenever corpus norms vary. Same engine
    // shape as v01 (broadcast queries, codegen'd dot, bounded-heap top-k).
    "v10_mips" -> { (s, dir) =>
      val e = emb(s, dir)
      Similarity.mipsTopK(
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("rank"), col("nid"), round(col("ip"), 4).as("ip"))
        .orderBy("qid", "rank")
    },

    // Two-stage ANN serving: PQ-ADC candidates (corpus side touches only
    // 4 int codes/vector) → exact cosine re-rank of the ~20 survivors per
    // query (coarse recall, exact precision — the standard quantized-
    // search refinement). Probe-only against the session PQ index; the
    // oracle replays all four subspace trainings AND the rerank.
    "v11_pq_rerank" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val cand = Similarity.pqTopK(pqIndexFor(s, dir), q, "vec_id", "embedding",
          k = 20)
        .select(col("qid"), col("nid"))
      Similarity.rerankCosine(cand, q, "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("rank"), col("nid"), round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // Binary (sign) quantization ANN: 64 float dims → ONE 64-bit word per
    // vector; stage 1 ranks by popcount(XOR) over that 8-byte sketch
    // (32× less scan mass than the raw vectors — the quantization that
    // makes a 100-TB corpus's pre-rank fit in RAM), stage 2 re-ranks the
    // top-32 Hamming candidates by exact cosine. Deterministic despite the
    // approximation — ties break on (hamming, nid) — so the oracle replays
    // both stages bit-for-bit.
    "v13_binary_hamming" -> { (s, dir) =>
      val e = emb(s, dir)
      Similarity.hammingRerankTopK(
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5, dim = 64, preK = 32)
        .select(col("qid"), col("rank"), col("nid"), round(col("sim"), 4).as("sim"))
        .orderBy("qid", "rank")
    },

    // Hybrid retrieval: reciprocal-rank fusion of a LEXICAL leg (token-set
    // Jaccard, d02's arithmetic) and a VECTOR leg (v01's exact cosine) —
    // the fusion step every modern search stack runs over its BM25 and
    // embedding retrievers. Practical top-k semantics: each leg
    // contributes its top-50 ranked list; a candidate absent from a leg
    // takes the fixed worst-rank penalty (1000), so fusion is an outer
    // join of two BOUNDED lists — at 100 TB each leg is its own index
    // probe and the fuse moves only k rows per query. Deterministic
    // despite the doubles: each rrf term is one division of exact
    // integers, the two-term sum is written in fixed order, ties break on
    // nid — so DuckDB replays both legs and the fusion bit-for-bit.
    "v18_rrf_fusion" -> { (s, dir) =>
      val t = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          array_distinct(split(trim(col("text")), "\\s+")).as("ts"))
      val q = t.filter(col("doc_id") < 8)
        .select(col("doc_id").as("qid"), col("ts").as("qts"))
      val lp = broadcast(q).join(t, col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id").as("nid"),
          (size(array_intersect(col("qts"), col("ts"))).cast("double") /
            size(array_union(col("qts"), col("ts")))).as("jac"))
      val wl = Window.partitionBy("qid").orderBy(col("jac").desc, col("nid"))
      val la = graft.plans.TopK.perKey(lp,
          Seq("qid"), Seq("jac" -> false, "nid" -> true), 50)
        .withColumn("rank_a", row_number().over(wl))
        .select("qid", "nid", "rank_a")
      val e = emb(s, dir)
      val va = Similarity.cosineTopK(e.filter(col("vec_id") < 8),
          "vec_id", "embedding", e, "vec_id", "embedding", k = 50)
        .select(col("qid"), col("nid"), col("rank").as("rank_b"))
      val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("nid"))
      la.join(va, Seq("qid", "nid"), "full")
        .select(col("qid"), col("nid"),
          round(lit(1.0) / (lit(60) + coalesce(col("rank_a"), lit(1000))) +
            lit(1.0) / (lit(60) + coalesce(col("rank_b"), lit(1000))), 8)
            .as("rrf"),
          coalesce(col("rank_a"), lit(0)).as("lex_rank"),
          coalesce(col("rank_b"), lit(0)).as("vec_rank"))
        .withColumn("rank", row_number().over(wf))
        .filter(col("rank") <= 10)
        .select("qid", "rank", "nid", "rrf", "lex_rank", "vec_rank")
        .orderBy("qid", "rank")
    },

    // Index-maintenance lifecycle, closed: v04 builds, v12 appends, v16
    // deletes — v19 is the REBUILD TRIGGER: a drift audit of fresh
    // arrivals against the standing index's cell distribution. The
    // simulated arrival batch is a single-domain slice (label = 3), the
    // realistic shift shape: new data concentrating in a few cells flips
    // their `drifted` verdicts. Per-cell verdicts are integer
    // cross-multiplications, so the whole audit replays in the oracle's
    // k-means CTEs.
    "v19_centroid_drift" -> { (s, dir) =>
      val e = emb(s, dir)
      Similarity.driftAudit(ivfIndexFor(s, dir),
        e.filter(col("label") === 3), "vec_id", "embedding")
    },

    // The IVF TUNING CURVE — what a deployment actually reads before
    // fixing nProbe: recall@5 against the exact top-5 for nProbe ∈
    // {1,2,4}, one row each. The exact leg is brute-forced ONCE and
    // re-enters the three probe comparisons as a literal 40-row frame
    // (bounded model-class data, the q56/q65 collect contract) — three
    // lazy references to the cosine subtree would re-run the brute force
    // per sweep point. Probes are pure plan construction against the
    // session IVF index (zero re-training).
    "v20_nprobe_sweep" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val exactDf = Similarity.cosineTopK(q, "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"))
      val exactRows = exactDf.collect().toSeq
      val exact = s.createDataFrame(
        s.sparkContext.parallelize(exactRows, 1), exactDf.schema)
      val sweeps = Seq(1, 2, 4).map { np =>
        val ivf = Similarity.ivfProbe(ivfIndexFor(s, dir), q,
            "vec_id", "embedding", k = 5, nProbe = np)
          .select(col("qid"), col("nid"), lit(1).as("hit"))
        exact.join(ivf, Seq("qid", "nid"), "left")
          .agg(count(lit(1)).as("n_pairs"),
            sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
          .select(lit(np).as("n_probe"), col("n_pairs"), col("n_hits"),
            round(col("n_hits").cast("double") / col("n_pairs"), 4)
              .as("recall"))
      }
      sweeps.reduce(_ unionByName _).orderBy("n_probe")
    },

    // Semantic CLUSTER extraction — the composition closing the embedding
    // dedup family: v05's IVF-cell-blocked exact-cosine pairs fed through
    // Components' large-star/small-star min-id resolution, so every
    // vector carries its semantic-cluster id, the canonical flag, and the
    // cluster size (d05 is this shape over text Jaccard pairs; d12 keeps
    // per-vector verdicts but no transitive grouping — this is the
    // grouping). Per-call lifecycle: labels are localCheckpoint-ed, the
    // component loop's edge checkpoint and the lazy label plan released
    // before return, the bounded membership table collected so nothing
    // persists past the call (the q65 pattern). The pair join, the
    // component rounds and the cluster read start from the IVF assignment
    // or the embeddings: both are bound to the embeddings-measured width.
    "v21_semantic_clusters" -> { (s, dir) =>
      val idx = ivfIndexFor(s, dir)
      val pairs = graft.operators.Dedup
        .embeddingNearDupPairs(idx.copy(assigned = embSized(s, dir, idx.assigned)),
          V05Threshold)
        .select(col("id_a"), col("id_b"))
      val lazyLabels = graft.operators.Components.connectedComponents(pairs)
      val labels = lazyLabels.localCheckpoint()
      graft.operators.Components.releaseCheckpoint(lazyLabels)
      val out = graft.operators.Components
        .dupClustersFromLabels(embSized(s, dir, emb(s, dir)).select("vec_id"),
          "vec_id", labels)
        .select(col("id").as("vec_id"), col("cluster"), col("is_canonical"))
        .withColumn("sz",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy("vec_id")
      val rows = out.collect().toSeq
      graft.operators.Components.releaseCheckpoint(labels)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },

    // Hybrid query-by-document retrieval: t37's BM25 core as the LEXICAL
    // leg (query = each query-doc's distinct token set, self excluded)
    // fused by reciprocal rank with v01's exact-cosine VECTOR leg over
    // the aligned embedding — v18's fusion shape with a REAL BM25
    // retriever where v18 abstracts one as token-set Jaccard. Each leg
    // contributes its top-50; absent candidates take the fixed worst-rank
    // penalty (1000); both leg ranks are total orders on exact integers
    // (fixed-point BM25 longs / the deterministic cosine), each rrf term
    // is one division, and the two-term sum is written in fixed order, so
    // DuckDB replays legs and fusion bit-for-bit. Scale shape: legs are
    // independent index probes (inverted postings / ANN index); the fuse
    // is an outer join of two k-bounded lists — k rows per query move.
    // The returned frame runs at the embeddings-measured width.
    "v23_hybrid_bm25" -> { (s, dir) =>
      val qdocs = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 8)
        .select(col("doc_id").as("qid"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        .filter(col("tok") =!= "")
      val lexAgg = TextQueries.bm25Scores(s, dir, qdocs, excludeSelf = true)
      val wl = Window.partitionBy("qid")
        .orderBy(col("score_scaled").desc, col("doc_id"))
      val lex = graft.plans.TopK.perKey(lexAgg, Seq("qid"),
          Seq("score_scaled" -> false, "doc_id" -> true), 50)
        .withColumn("rank_a", row_number().over(wl))
        .select(col("qid"), col("doc_id").as("nid"), col("rank_a"))
      val e = emb(s, dir)
      val vec = Similarity.cosineTopK(e.filter(col("vec_id") < 8),
          "vec_id", "embedding", e, "vec_id", "embedding", k = 50)
        .select(col("qid"), col("nid"), col("rank").as("rank_b"))
      val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("nid"))
      embSized(s, dir, lex).join(vec, Seq("qid", "nid"), "full")
        .select(col("qid"), col("nid"),
          round(lit(1.0) / (lit(60) + coalesce(col("rank_a"), lit(1000))) +
            lit(1.0) / (lit(60) + coalesce(col("rank_b"), lit(1000))), 8)
            .as("rrf"),
          coalesce(col("rank_a"), lit(0)).as("lex_rank"),
          coalesce(col("rank_b"), lit(0)).as("vec_rank"))
        .withColumn("rank", row_number().over(wf))
        .filter(col("rank") <= 10)
        .select("qid", "rank", "nid", "rrf", "lex_rank", "vec_rank")
        .orderBy("qid", "rank")
    },

    // SQ8 (int8 scalar-quantized) retrieval — the memory-bandwidth tier
    // between full-precision MIPS (v10) and PQ-ADC (v08): per-vector
    // maxabs scales, exact integer dot over the codes, one per-pair
    // rescale. Fully oracle-checkable (quantization, integer dot, and
    // rescale all replay in SQL); recall and error bounds vs v10's exact
    // inner product are pinned in Sq8Spec.
    "v22_sq8_topk" -> { (s, dir) =>
      val e = emb(s, dir)
      Similarity.sq8TopK(
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("rank"), col("nid"),
          round(col("score"), 4).as("ip8"))
        .orderBy("qid", "rank")
    },

    // SQ8 retrieval-quality audit — v09's pattern applied to the
    // quantized tier (r11 verdict: Sq8Spec pinned recall in-JVM only;
    // this is the measured fact as an oracle row): recall@5 of v22's
    // int8-code ranking against v10's exact MIPS, per query. Integer
    // n_hits verdicts; the only float is the one terminal division.
    "v26_sq8_recall" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val exact = Similarity.mipsTopK(q, "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"))
      val sq8 = Similarity.sq8TopK(q, "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"), lit(1).as("hit"))
      exact.join(sq8, Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
        .select(col("qid"), col("k"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
        .orderBy("qid")
    },

    // PQ index maintenance — v12's shape for the quantized tier:
    // codebooks train on ⅞ of the corpus, the held-out ⅛ is pqAppend-ed
    // (encoded under the STANDING codebooks, one map pass, no retrain).
    // Output = the appended batch's codes, the encode-under-standing
    // replay: each code is an integer the oracle re-derives by replaying
    // the 4 subspace trainings on the ⅞ subset and assigning the ⅛ under
    // the trained codebooks.
    "v24_pq_append" -> { (s, dir) =>
      appendedPqFor(s, dir).encoded
        .filter(col("nid") % 8 === 0)
        .select(col("nid").cast("long").as("vec_id"),
          col("code_0").cast("long").as("code_0"),
          col("code_1").cast("long").as("code_1"),
          col("code_2").cast("long").as("code_2"),
          col("code_3").cast("long").as("code_3"))
        .orderBy("vec_id")
    },

    // PQ codebook-drift audit — v19's shape for the quantized tier and
    // pqAppend's retrain trigger: the label-3 slice (the planted
    // single-domain shift) is encoded under the session PQ index's
    // standing codebooks and each (subspace, code) compares batch share
    // vs index share with the integer cross-multiplication verdict.
    "v25_pq_drift" -> { (s, dir) =>
      Similarity.pqDriftAudit(pqIndexFor(s, dir),
        emb(s, dir).filter(col("label") === 3), "vec_id", "embedding")
    },

    // IVFADC (Jégou TPAMI'11 §IV): coarse IVF routing + PQ over the CELL
    // RESIDUALS, the production-standard two-stage ANN index — probes
    // touch only nProbe cells' rows AND read m small ints per candidate,
    // the composition neither v04 (prune only) nor v08 (compress only)
    // achieves alone. The oracle replays the whole chain: coarse
    // training, float-rounded residuals (round-to-REAL of the exact
    // double difference ≡ the engine's float subtraction), four residual
    // subspace trainings, per-cell query residuals, ADC in fixed
    // subspace order.
    "v29_ivfadc" -> { (s, dir) =>
      Similarity.ivfPqProbe(ivfPqIndexFor(s, dir),
          emb(s, dir).filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nProbe = 4)
        .select(col("qid"), col("rank"), col("nid"),
          round(col("adc"), 4).as("adc"))
        .orderBy("qid", "rank")
    },

    // Honest quality audit for v29 (the v26/v09 convention), BOTH tiers
    // measured against the exact-MIPS truth as integer verdicts:
    // (a) recall@5 of the raw ADC ranking — the 12-bit code budget is
    // heavily lossy on these embeddings (v08-parity distortion; this
    // audit is what caught the first draft's wrong qr·r̂ estimator), and
    // (b) recall@5 after the PRODUCTION composition: ADC top-50 as a
    // shortlist, exact inner-product re-rank of the survivors — the
    // cheap tier prunes, the exact tier decides. Both legs replay in
    // the oracle.
    "v30_ivfadc_recall" -> { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 8)
      val exact = Similarity.mipsTopK(q, "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"))
      val short = Similarity.ivfPqProbe(ivfPqIndexFor(s, dir), q,
        "vec_id", "embedding", k = 50, nProbe = 4)
      val adc5 = short.filter(col("rank") <= 5)
        .select(col("qid"), col("nid"), lit(1).as("hit_adc"))
      val qv = e.select(col("vec_id").as("qid"),
        col("embedding").cast("array<float>").as("qv"))
      val nv = e.select(col("vec_id").as("nid"),
        col("embedding").cast("array<float>").as("nv"))
      val rr = short.select("qid", "nid")
        .join(broadcast(qv), Seq("qid")).join(nv, Seq("nid"))
        .withColumn("ip", Similarity.dot(col("qv"), col("nv")))
      val rr5 = graft.plans.TopK.perKey(rr, Seq("qid"),
          Seq("ip" -> false, "nid" -> true), 5)
        .select(col("qid"), col("nid"), lit(1).as("hit_rr"))
      exact.join(adc5, Seq("qid", "nid"), "left")
        .join(rr5, Seq("qid", "nid"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit_adc"), lit(0))).cast("long").as("n_hits_adc"),
          sum(coalesce(col("hit_rr"), lit(0))).cast("long").as("n_hits_rerank"))
        .select(col("qid"), col("k"), col("n_hits_adc"), col("n_hits_rerank"),
          round(col("n_hits_adc").cast("double") / col("k"), 4).as("recall_adc"),
          round(col("n_hits_rerank").cast("double") / col("k"), 4)
            .as("recall_rerank"))
        .orderBy("qid")
    },

    // IVFADC index maintenance — v12/v24's shape for the composed
    // two-stage index: coarse centroids + residual codebooks trained on
    // the ⅞ base, the held-out ⅛ ivfPqAppend-ed (assign under standing
    // centroids → float residuals → encode under standing codebooks, no
    // training). Both encode stages are deterministic under fixed
    // models, so the appended slice's coded rows equal what a fresh
    // assignment+encode under the same models produces — the oracle
    // replays exactly that: base-only trainings, then the batch routed
    // and residual-encoded under the trained models.
    "v31_ivfadc_append" -> { (s, dir) =>
      appendedIvfPqFor(s, dir).coded
        .filter(col("nid") % 8 === 0)
        .select(col("nid").cast("long").as("vec_id"),
          col("cell").cast("long").as("cell"),
          col("code_0").cast("long").as("code_0"),
          col("code_1").cast("long").as("code_1"),
          col("code_2").cast("long").as("code_2"),
          col("code_3").cast("long").as("code_3"))
        .orderBy("vec_id")
    },

    // Tiered (L0/L1) epoch-roll identity for the PQ family — v27's
    // pattern at the quantized tier, completing tiering across all four
    // durable index families (graph q81, vector v27, lex t40, PQ here):
    // the corpus in 5 id-keyed batches through the full lifecycle
    // (bootstrap pqBuild at 0, minors 1–2 encoded under the standing
    // codebooks, L1 major at 3, minor 4), then the merged two-tier code
    // frame. Encoding under fixed codebooks commutes, so the tiered
    // chain ≡ pqBuild(batch 0) + pqAppend(1–4) code-for-code; the oracle
    // replays the subspace trainings on the batch-0 slice and encodes
    // the FULL corpus under them.
    "v28_pq_tiered_roll" -> { (s, dir) =>
      // the folds, the merged read and the probe all run in the
      // embeddings-measured session the batches are bound to
      val e = embSized(s, dir, emb(s, dir))
      val root = java.nio.file.Files.createTempDirectory("v28_tiered").toString
      // the outer try spans the FOLDS too: a mid-roll throw must not
      // strand the temp root (review catch, the q81/q82 scope)
      val (rows, schema) = try {
        (0 until 5).foreach { i =>
          graft.streaming.PqTieredStream.foldBatch(
            e.filter(pmod(col("vec_id"), lit(5)) === i), "vec_id", "embedding",
            root, batchId = i.toLong, dim = 64, m = 4, k = 8, iters = 4,
            majorEvery = 3)
        }
        val view = graft.streaming.PqTieredStream
          .loadCurrent(e.sparkSession, root, dim = 64, m = 4, k = 8, iters = 4)
          .getOrElse(sys.error("tiered pq roll committed nothing"))
        val out = view.index.encoded
          .select(col("nid").cast("long").as("vec_id"),
            col("code_0").cast("long").as("code_0"),
            col("code_1").cast("long").as("code_1"),
            col("code_2").cast("long").as("code_2"),
            col("code_3").cast("long").as("code_3"))
          .orderBy("vec_id")
        try (out.collect().toSeq, out.schema) finally view.release()
      } finally graft.io.TempRoots.delete(root)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
    },

    // The tuning curve a deployment reads before picking an ANN tier
    // (v20's sweep widened to all three families on data WITH planted
    // cluster structure — the honest companion to v30's unstructured
    // ~0.55): recall@5 vs the exact-cosine truth for IVF at nProbe
    // 1/2/4, PQ raw-ADC and ADC-shortlist-50 → exact re-rank, and IVFADC
    // at nProbe 1/2/4 plus the production shortlist+re-rank shape. All
    // integer verdicts (pair counts), recall as one rounded division.
    "v32_clustered_tuning" -> { (s, dir) =>
      val ec = clusteredEmb(s, dir)
      val (ivf, pq, ivfpq) = clusteredSuiteFor(s, dir)
      val q = ec.filter(col("vec_id") < 8)
      val exactDf = Similarity.cosineTopK(q, "vec_id", "embedding",
          ec, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"))
      val exactRows = exactDf.collect().toSeq
      val exact = s.createDataFrame(
        s.sparkContext.parallelize(exactRows, 1), exactDf.schema)
      def recallRow(family: String, setting: String,
                    approx: DataFrame): DataFrame =
        exact.join(approx.select(col("qid"), col("nid"), lit(1).as("hit")),
            Seq("qid", "nid"), "left")
          .agg(count(lit(1)).as("n_pairs"),
            sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
          .select(lit(family).as("family"), lit(setting).as("setting"),
            col("n_pairs"), col("n_hits"),
            round(col("n_hits").cast("double") / col("n_pairs"), 4)
              .as("recall"))
      def rerank(cands: DataFrame) = Similarity.rerankCosine(
        cands.select("qid", "nid"), q, "vec_id", "embedding",
        ec, "vec_id", "embedding", k = 5)
      val rows = Seq(
        recallRow("ivf", "nprobe=1",
          Similarity.ivfProbe(ivf, q, "vec_id", "embedding", 5, 1)),
        recallRow("ivf", "nprobe=2",
          Similarity.ivfProbe(ivf, q, "vec_id", "embedding", 5, 2)),
        recallRow("ivf", "nprobe=4",
          Similarity.ivfProbe(ivf, q, "vec_id", "embedding", 5, 4)),
        recallRow("pq", "adc@5",
          Similarity.pqTopK(pq, q, "vec_id", "embedding", 5)),
        recallRow("pq", "adc50+rerank@5",
          rerank(Similarity.pqTopK(pq, q, "vec_id", "embedding", 50))),
        recallRow("ivfadc", "nprobe=1 adc@5",
          Similarity.ivfPqProbe(ivfpq, q, "vec_id", "embedding", 5, 1)),
        recallRow("ivfadc", "nprobe=2 adc@5",
          Similarity.ivfPqProbe(ivfpq, q, "vec_id", "embedding", 5, 2)),
        recallRow("ivfadc", "nprobe=4 adc@5",
          Similarity.ivfPqProbe(ivfpq, q, "vec_id", "embedding", 5, 4)),
        recallRow("ivfadc", "nprobe=4 adc50+rerank@5",
          rerank(Similarity.ivfPqProbe(ivfpq, q, "vec_id", "embedding", 50, 4))))
      rows.reduce(_ unionByName _).orderBy("family", "setting")
    },

    // Tiered (L0/L1) epoch-roll identity for the IVFADC family — v28's
    // pattern for the composed two-stage index, the FIFTH and last tier
    // instance: the corpus in 5 id-keyed batches through the full
    // lifecycle (bootstrap ivfPqBuild at 0 — both models trained on the
    // batch-0 slice, minors 1–2 routed + residual-encoded under the
    // standing models, L1 major at 3, minor 4), then the merged two-tier
    // coded frame. Both encode stages commute under fixed models, so the
    // tiered chain ≡ ivfPqBuild(batch 0) + ivfPqAppend(1–4) code-for-code;
    // the oracle trains both models on the batch-0 slice and routes +
    // encodes the FULL corpus under them (v31's replay, widened).
    "v33_ivfadc_tiered_roll" -> { (s, dir) =>
      // the folds, the merged read and the probe all run in the
      // embeddings-measured session the batches are bound to
      val e = embSized(s, dir, emb(s, dir))
      val root = java.nio.file.Files.createTempDirectory("v33_tiered").toString
      // the outer try spans the FOLDS too (review catch, the q81/q82 scope)
      val (rows, schema) = try {
        (0 until 5).foreach { i =>
          graft.streaming.IvfPqTieredStream.foldBatch(
            e.filter(pmod(col("vec_id"), lit(5)) === i), "vec_id", "embedding",
            root, batchId = i.toLong, dim = 64, nCells = 8, m = 4, k = 8,
            coarseIters = 4, pqIters = 4, majorEvery = 3)
        }
        val view = graft.streaming.IvfPqTieredStream
          .loadCurrent(e.sparkSession, root, dim = 64, nCells = 8, m = 4, k = 8,
            coarseIters = 4, pqIters = 4)
          .getOrElse(sys.error("tiered ivfadc roll committed nothing"))
        val out = view.index.coded
          .select(col("nid").cast("long").as("vec_id"),
            col("cell").cast("long").as("cell"),
            col("code_0").cast("long").as("code_0"),
            col("code_1").cast("long").as("code_1"),
            col("code_2").cast("long").as("code_2"),
            col("code_3").cast("long").as("code_3"))
          .orderBy("vec_id")
        try (out.collect().toSeq, out.schema) finally view.release()
      } finally graft.io.TempRoots.delete(root)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
    },

    // PHYSICAL tombstone compaction certified end-to-end (r14 verdict
    // #3 — until now deletion was query-time exclusion only, and a
    // long-lived index paid the broadcast anti-join on every probe
    // forever): every id with vec_id % 7 = 3 (~14% of the corpus) is
    // marked dead against the STANDING IVFADC index, ivfPqCompact drops
    // the dead codes ONCE (both models untouched — encoding under fixed
    // models commutes with row deletion), and the compacted index is
    // probed PLAIN, no exclusion anywhere on the query path. The oracle
    // replays the full v29 chain — both trainings still on the FULL
    // corpus, deletion does not untrain models — with the dead ids
    // filtered from the scored codes, so hash equality certifies
    // compacted-probe ≡ exclude-at-query ≡ rebuild-encode-without-dead.
    // threshold=0.1 < 14% dead share, so the compaction MUST fire — a
    // None is a bug, not a no-op.
    "v34_ivfadc_compact" -> { (s, dir) =>
      val e = emb(s, dir)
      val tombs = e.filter(col("vec_id") % 7 === 3).select("vec_id")
      // release noop: the standing index is the session cache's, not ours
      val compacted = Similarity.ivfPqCompact(
          ivfPqIndexFor(s, dir).copy(release = () => ()),
          tombs, "vec_id", threshold = 0.1)
        .getOrElse(sys.error("compaction did not fire at ~14% dead"))
      val out = Similarity.ivfPqProbe(compacted,
          e.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nProbe = 4)
        .select(col("qid"), col("rank"), col("nid"),
          round(col("adc"), 4).as("adc"))
        .orderBy("qid", "rank")
      val (rows, schema) =
        try (out.collect().toSeq, out.schema) finally compacted.release()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
    },

    // Tiered (L0/L1) epoch-roll identity for the VECTOR family — q81's
    // pattern applied to the IVF index: the corpus split into 5
    // deterministic id-keyed batches and folded through the FULL tiered
    // lifecycle (bootstrap L1 at batch 0, minors 1–2, the L1 major at
    // batch 3, minor 4 — so the probe below merges BOTH tiers), then the
    // v04-shaped probe over the merged view. Assignment under a fixed
    // quantizer commutes, so the tiered chain ≡ ivfBuild(batch 0) +
    // ivfAppend(1–4) bit-for-bit; the oracle replays training on the
    // batch-0 slice and assignment of the rest (v12's replay with the
    // tiered split), so hash equality certifies minors + major + merged
    // read ≡ the flat chain — the d13/q79/t38/v24/q81 incremental
    // identity at the vector tier. Each call pays a fresh roll into its
    // own temp root (the t38/q81 convention: the maintenance chain IS
    // the measured artifact).
    "v27_tiered_roll" -> { (s, dir) =>
      // the folds, the merged read and the probe all run in the
      // embeddings-measured session the batches are bound to
      val e = embSized(s, dir, emb(s, dir))
      val root = java.nio.file.Files.createTempDirectory("v27_tiered").toString
      // the outer try spans the FOLDS too (review catch, the q81/q82 scope)
      val (rows, schema) = try {
        (0 until 5).foreach { i =>
          graft.streaming.VectorTieredStream.foldBatch(
            e.filter(pmod(col("vec_id"), lit(5)) === i), "vec_id", "embedding",
            root, batchId = i.toLong, nCells = 16, majorEvery = 3)
        }
        val view = graft.streaming.VectorTieredStream
          .loadCurrent(e.sparkSession, root, nCells = 16)
          .getOrElse(sys.error("tiered vector roll committed nothing"))
        val out = Similarity.ivfProbe(view.index,
            e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, nProbe = 4)
          .select(col("qid"), col("rank"), col("nid"),
            round(col("sim"), 4).as("sim"))
          .orderBy("qid", "rank")
        try (out.collect().toSeq, out.schema) finally view.release()
      } finally graft.io.TempRoots.delete(root)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
    }
  )

  /** DuckDB twin of v02: the hyperplanes are deterministic engine constants
    * (Similarity.hyperplanes, fixed seed), embedded here as literal DOUBLE
    * arrays. The Spark side computes dots on float-cast planes with double
    * accumulation (FloatDotProduct), so each literal is the float-rounded
    * plane value widened back to double — `x.toFloat.toDouble` printed via
    * Double.toString round-trips that value exactly. Bucket = sign-pattern
    * bits; probes = the bucket itself plus every single-bit flip (i = -1
    * marks the unflipped probe), mirroring lshCosineTopK's probeRadius=1. */
  private lazy val v02Oracle: String = {
    val planes = Similarity.hyperplanes(8, 64)
    val pl = planes.zipWithIndex.map { case (p, i) =>
      p.map(x => x.toFloat.toDouble.toString).mkString(s"($i, [", ", ", "])")
    }.mkString(",\n        ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |     pl AS (SELECT * FROM (VALUES
       |        $pl) AS t(pi, p)),
       |     bkt AS (SELECT e.vec_id,
       |               CAST(sum(CASE WHEN list_inner_product(e.v, pl.p) >= 0
       |                             THEN 1 << pl.pi ELSE 0 END) AS BIGINT) AS bucket
       |             FROM e CROSS JOIN pl GROUP BY e.vec_id),
       |     n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |     pr AS (SELECT b.vec_id AS qid,
       |              CASE WHEN f.i < 0 THEN b.bucket
       |                   ELSE xor(b.bucket, CAST(1 << f.i AS BIGINT)) END AS probe
       |            FROM bkt b CROSS JOIN (SELECT unnest(range(-1, 8)) AS i) f
       |            WHERE b.vec_id < 8),
       |     cand AS (SELECT DISTINCT pr.qid, c.vec_id AS nid
       |              FROM pr JOIN bkt c ON c.bucket = pr.probe
       |              WHERE pr.qid <> c.vec_id),
       |     p AS (SELECT cand.qid, cand.nid,
       |             list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
       |           FROM cand JOIN n q ON q.vec_id = cand.qid
       |                     JOIN n c ON c.vec_id = cand.nid),
       |     r AS (SELECT qid, nid, sim,
       |             row_number() OVER (PARTITION BY qid
       |                                ORDER BY sim DESC, nid) AS rank
       |           FROM p)
       |SELECT qid, rank, nid, round(sim, 4) AS sim
       |FROM r WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  /** Shared oracle prefix for v04/v05 — RE-RUNS the whole IVF training in
    * SQL: the 8 Lloyd's iterations are unrolled into chained CTEs
    * (recursive CTEs forbid the aggregation each iteration needs), ending
    * in `corpus` (every vector with its final cell, float-widened values,
    * and norm). Every arithmetic step mirrors the Spark side bit-for-bit:
    *
    *  - init order is `Splits.ringHash` — `((sid mod 2³¹)·mult) mod 2³¹`,
    *    closed-form overflow-proof BIGINT math (the reason ivfBuild uses a
    *    multiplicative hash, not xxhash64);
    *  - cell scores use the float-cast centroid (`val::REAL::DOUBLE` = the
    *    `.toFloat` in cellScores) for the dot but the unrounded DOUBLE
    *    centroid for |c|²/2, exactly like cellScores; `list_inner_product`
    *    accumulates left-to-right like FloatDotProduct;
    *  - argmax tie-break is (score DESC, cell DESC) — Spark's greatest()
    *    over (s, c) structs;
    *  - iteration means are fixed-point: `round(x·2²⁰)::BIGINT` summed
    *    exactly, then /count/2²⁰ in the same association order; both
    *    engines round ties away from zero;
    *  - empty cells keep their previous centroid (COALESCE over LEFT JOIN).
    */
  /** One complete k-means training + corpus-assignment CTE chain over the
    * vector expression `vx` ("v" for the IVF full vector; "v[lo:hi]" for a
    * PQ subspace slice), every CTE name prefixed with `px` so several
    * chains coexist in one WITH clause (v08 runs four). Requires an
    * upstream `e(vec_id, v)` CTE; emits `${px}corpus` = (nid, cell, nv,
    * nn) and leaves `${px}centl$iters` (the trained codebook as ordered
    * lists) visible for ADC lookups. */
  private def kmeansCtes(px: String, vx: String, nCells: Int, iters: Int,
                         trainSample: Int, dim: Int,
                         src: String = "e"): String = {
    val iterCtes = (0 until iters).map { i =>
      s"""${px}centl$i AS MATERIALIZED (SELECT c, list(CAST(CAST(val AS REAL) AS DOUBLE) ORDER BY pos) AS cf,
         |                     list(val ORDER BY pos) AS cd
         |              FROM ${px}cent$i GROUP BY c),
         |  ${px}score$i AS MATERIALIZED (SELECT s.sid, l.c,
         |                list_inner_product(s.v, l.cf)
         |                  - list_inner_product(l.cd, l.cd) / 2 AS sc
         |              FROM ${px}samp s CROSS JOIN ${px}centl$i l),
         |  ${px}asg$i AS MATERIALIZED (SELECT sid, c AS cell FROM (
         |              SELECT sid, c, row_number() OVER (PARTITION BY sid
         |                       ORDER BY sc DESC, c DESC) AS rn FROM ${px}score$i)
         |            WHERE rn = 1),
         |  ${px}mean$i AS MATERIALIZED (SELECT a.cell AS c, p.pos,
         |               (CAST(sum(CAST(round(p.x * 1048576.0) AS BIGINT)) AS DOUBLE)
         |                  / count(*)) / 1048576.0 AS m
         |             FROM ${px}asg$i a JOIN ${px}sampx p ON p.sid = a.sid
         |             GROUP BY a.cell, p.pos),
         |  ${px}cent${i + 1} AS MATERIALIZED (SELECT cp.c, cp.pos, COALESCE(m.m, cp.val) AS val
         |                   FROM ${px}cent$i cp LEFT JOIN ${px}mean$i m
         |                     ON m.c = cp.c AND m.pos = cp.pos)""".stripMargin
    }.mkString(",\n  ")
    s"""${px}samp AS MATERIALIZED (SELECT vec_id AS sid, $vx AS v FROM $src e ORDER BY vec_id LIMIT $trainSample),
       |  ${px}pos AS MATERIALIZED (SELECT unnest(range($dim)) AS pos),
       |  ${px}sampx AS MATERIALIZED (SELECT sid, pos, v[pos + 1] AS x FROM ${px}samp CROSS JOIN ${px}pos),
       |  ${px}init AS MATERIALIZED (SELECT row_number() OVER (ORDER BY
       |             ((sid % ${graft.operators.Splits.HashRing}) *
       |              ${graft.operators.Splits.HashMult})
       |               % ${graft.operators.Splits.HashRing}, sid) - 1 AS c, v
       |           FROM ${px}samp ORDER BY
       |             ((sid % ${graft.operators.Splits.HashRing}) *
       |              ${graft.operators.Splits.HashMult})
       |               % ${graft.operators.Splits.HashRing}, sid
       |           LIMIT $nCells),
       |  ${px}cent0 AS MATERIALIZED (SELECT i.c, p.pos, i.v[p.pos + 1] AS val
       |            FROM ${px}init i CROSS JOIN ${px}pos p),
       |  $iterCtes,
       |  ${px}centl$iters AS MATERIALIZED (SELECT c,
       |                    list(CAST(CAST(val AS REAL) AS DOUBLE) ORDER BY pos) AS cf,
       |                    list(val ORDER BY pos) AS cd
       |                  FROM ${px}cent$iters GROUP BY c),
       |  ${px}cscore AS MATERIALIZED (SELECT e.vec_id, l.c,
       |               list_inner_product(e.$vx, l.cf)
       |                 - list_inner_product(l.cd, l.cd) / 2 AS sc
       |             FROM $src e CROSS JOIN ${px}centl$iters l),
       |  ${px}corpus AS MATERIALIZED (SELECT s.vec_id AS nid, s.cell, e.v AS nv,
       |               sqrt(list_inner_product(e.v, e.v)) AS nn
       |             FROM (SELECT vec_id, c AS cell FROM (
       |                     SELECT vec_id, c, row_number() OVER (
       |                       PARTITION BY vec_id ORDER BY sc DESC, c DESC) AS rn
       |                     FROM ${px}cscore) WHERE rn = 1) s
       |             JOIN $src e ON e.vec_id = s.vec_id)""".stripMargin
  }

  private def ivfTrainingCtes(nCells: Int, iters: Int, trainSample: Int,
                              dim: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |  ${kmeansCtes("", "v", nCells, iters, trainSample, dim)}""".stripMargin

  private def v04Oracle(nCells: Int = 16, nProbe: Int = 4, k: Int = 5,
                        iters: Int = 8, trainSample: Int = 10000,
                        dim: Int = 64): String =
    s"""${ivfTrainingCtes(nCells, iters, trainSample, dim)},
       |  probe AS (SELECT vec_id AS qid, c AS cell FROM (
       |              SELECT vec_id, c, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY sc DESC, c DESC) AS rn
       |              FROM cscore WHERE vec_id < 8) WHERE rn <= $nProbe),
       |  q AS (SELECT e.vec_id AS qid, e.v AS qv,
       |          sqrt(list_inner_product(e.v, e.v)) AS qn
       |        FROM e WHERE e.vec_id < 8),
       |  cand AS (SELECT DISTINCT p.qid, c.nid
       |           FROM probe p JOIN corpus c ON c.cell = p.cell
       |           WHERE p.qid <> c.nid),
       |  sims AS (SELECT cand.qid, cand.nid,
       |             list_inner_product(q.qv, c.nv) / (q.qn * c.nn) AS sim
       |           FROM cand JOIN q ON q.qid = cand.qid
       |                     JOIN corpus c ON c.nid = cand.nid),
       |  r AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
       |          ORDER BY sim DESC, nid) AS rank FROM sims)
       |SELECT qid, rank, nid, round(sim, 4) AS sim
       |FROM r WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin

  /** DuckDB twin of v12 — trains on the ⅞ base (kmeansCtes with `e`
    * restricted to vec_id % 8 <> 0), assigns the held-out ⅛ batch to the
    * trained `centl` codebook with the SAME score arithmetic (float-cast
    * centroid for the dot, unrounded double for |c|²/2, (sc DESC, c DESC)
    * argmax — ivfAppend reuses cellScores verbatim), then runs v04's
    * probe over the unioned corpus. Probe cells for base queries come
    * from `cscore`, for appended queries from `bscore` — together exactly
    * the per-query cell scores ivfProbe recomputes. */
  private def v12Oracle(nCells: Int = 16, nProbe: Int = 4, k: Int = 5,
                        iters: Int = 8, trainSample: Int = 10000,
                        dim: Int = 64, excludeNid: String = "",
                        trainPred: String = "vec_id % 8 <> 0",
                        appendPred: String = "vec_id % 8 = 0"): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE $trainPred),
       |  eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |         WHERE $appendPred),
       |  ${kmeansCtes("", "v", nCells, iters, trainSample, dim)},
       |  bscore AS MATERIALIZED (SELECT b.vec_id, l.c,
       |              list_inner_product(b.v, l.cf)
       |                - list_inner_product(l.cd, l.cd) / 2 AS sc
       |            FROM eb b CROSS JOIN centl$iters l),
       |  bcorpus AS MATERIALIZED (SELECT s.vec_id AS nid, s.cell, b.v AS nv,
       |               sqrt(list_inner_product(b.v, b.v)) AS nn
       |             FROM (SELECT vec_id, c AS cell FROM (
       |                     SELECT vec_id, c, row_number() OVER (
       |                       PARTITION BY vec_id ORDER BY sc DESC, c DESC) AS rn
       |                     FROM bscore) WHERE rn = 1) s
       |             JOIN eb b ON b.vec_id = s.vec_id),
       |  uni AS MATERIALIZED (SELECT * FROM corpus
       |                       UNION ALL SELECT * FROM bcorpus),
       |  qsc AS (SELECT vec_id, c, sc FROM cscore WHERE vec_id < 8
       |          UNION ALL SELECT vec_id, c, sc FROM bscore WHERE vec_id < 8),
       |  probe AS (SELECT vec_id AS qid, c AS cell FROM (
       |              SELECT vec_id, c, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY sc DESC, c DESC) AS rn
       |              FROM qsc) WHERE rn <= $nProbe),
       |  q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
       |          sqrt(list_inner_product(embedding::DOUBLE[],
       |                                  embedding::DOUBLE[])) AS qn
       |        FROM embeddings WHERE vec_id < 8),
       |  cand AS (SELECT DISTINCT p.qid, c.nid
       |           FROM probe p JOIN uni c ON c.cell = p.cell
       |           WHERE p.qid <> c.nid$excludeNid),
       |  sims AS (SELECT cand.qid, cand.nid,
       |             list_inner_product(q.qv, c.nv) / (q.qn * c.nn) AS sim
       |           FROM cand JOIN q ON q.qid = cand.qid
       |                     JOIN uni c ON c.nid = cand.nid),
       |  r AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
       |          ORDER BY sim DESC, nid) AS rank FROM sims)
       |SELECT qid, rank, nid, round(sim, 4) AS sim
       |FROM r WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin

  /** DuckDB twin of v09 — v04's training/probe replay for the IVF leg, the
    * v01 brute-force formulation (over the same `corpus` CTE) for the
    * exact leg, then the per-query intersection count. Rank ties on both
    * legs break by (sim DESC, nid) exactly as the engine's rankTopK. */
  /** v20: v09's replay at three probe widths, each reduced to one
    * (n_probe, n_pairs, n_hits, recall) row. */
  private def v20Oracle(nCells: Int = 16, k: Int = 5, iters: Int = 8,
                        trainSample: Int = 10000, dim: Int = 64): String = {
    val per = Seq(1, 2, 4).map { np =>
      s"""  probe$np AS (SELECT vec_id AS qid, c AS cell FROM (
         |              SELECT vec_id, c, row_number() OVER (
         |                PARTITION BY vec_id ORDER BY sc DESC, c DESC) AS rn
         |              FROM cscore WHERE vec_id < 8) WHERE rn <= $np),
         |  cand$np AS (SELECT DISTINCT p.qid, c.nid
         |           FROM probe$np p JOIN corpus c ON c.cell = p.cell
         |           WHERE p.qid <> c.nid),
         |  sims$np AS (SELECT cd.qid, cd.nid,
         |             list_inner_product(q.qv, c.nv) / (q.qn * c.nn) AS sim
         |           FROM cand$np cd JOIN q ON q.qid = cd.qid
         |                     JOIN corpus c ON c.nid = cd.nid),
         |  ivf$np AS (SELECT qid, nid FROM (
         |            SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |              ORDER BY sim DESC, nid) AS rank FROM sims$np)
         |          WHERE rank <= $k),
         |  r$np AS (SELECT $np AS n_probe, count(*) AS n_pairs,
         |            CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END)
         |                 AS BIGINT) AS n_hits
         |          FROM ex LEFT JOIN ivf$np i
         |            ON i.qid = ex.qid AND i.nid = ex.nid)""".stripMargin
    }.mkString(",\n")
    s"""${ivfTrainingCtes(nCells, iters, trainSample, dim)},
       |  q AS (SELECT e.vec_id AS qid, e.v AS qv,
       |          sqrt(list_inner_product(e.v, e.v)) AS qn
       |        FROM e WHERE e.vec_id < 8),
       |  ex AS (SELECT qid, nid FROM (
       |           SELECT q.qid, c.nid,
       |             row_number() OVER (PARTITION BY q.qid
       |               ORDER BY list_inner_product(q.qv, c.nv) / (q.qn * c.nn)
       |                 DESC, c.nid) AS rank
       |           FROM q JOIN corpus c ON c.nid <> q.qid)
       |         WHERE rank <= $k),
       |$per
       |SELECT n_probe, n_pairs, n_hits,
       |  round(CAST(n_hits AS DOUBLE) / n_pairs, 4) AS recall
       |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |      UNION ALL SELECT * FROM r4)
       |ORDER BY n_probe""".stripMargin
  }

  private def v09Oracle(nCells: Int = 16, nProbe: Int = 4, k: Int = 5,
                        iters: Int = 8, trainSample: Int = 10000,
                        dim: Int = 64): String =
    s"""${ivfTrainingCtes(nCells, iters, trainSample, dim)},
       |  probe AS (SELECT vec_id AS qid, c AS cell FROM (
       |              SELECT vec_id, c, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY sc DESC, c DESC) AS rn
       |              FROM cscore WHERE vec_id < 8) WHERE rn <= $nProbe),
       |  q AS (SELECT e.vec_id AS qid, e.v AS qv,
       |          sqrt(list_inner_product(e.v, e.v)) AS qn
       |        FROM e WHERE e.vec_id < 8),
       |  cand AS (SELECT DISTINCT p.qid, c.nid
       |           FROM probe p JOIN corpus c ON c.cell = p.cell
       |           WHERE p.qid <> c.nid),
       |  sims AS (SELECT cand.qid, cand.nid,
       |             list_inner_product(q.qv, c.nv) / (q.qn * c.nn) AS sim
       |           FROM cand JOIN q ON q.qid = cand.qid
       |                     JOIN corpus c ON c.nid = cand.nid),
       |  ivf AS (SELECT qid, nid FROM (
       |            SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |              ORDER BY sim DESC, nid) AS rank FROM sims)
       |          WHERE rank <= $k),
       |  ex AS (SELECT qid, nid FROM (
       |           SELECT q.qid, c.nid,
       |             row_number() OVER (PARTITION BY q.qid
       |               ORDER BY list_inner_product(q.qv, c.nv) / (q.qn * c.nn)
       |                 DESC, c.nid) AS rank
       |           FROM q JOIN corpus c ON c.nid <> q.qid)
       |         WHERE rank <= $k)
       |SELECT ex.qid, count(*) AS k,
       |  CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits,
       |  round(CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END)
       |               AS DOUBLE) / count(*), 4) AS recall
       |FROM ex LEFT JOIN ivf i ON i.qid = ex.qid AND i.nid = ex.nid
       |GROUP BY ex.qid
       |ORDER BY ex.qid""".stripMargin

  /** DuckDB twin of v17 — v09's replay with the label-equality condition
    * on BOTH legs: the IVF leg's candidates require the corpus row's label
    * to equal the query's (exactly where ivfProbeFiltered's join applies
    * it), and the exact leg is brute force over the label-matched subset
    * (v15's formulation). Tie-breaks (sim DESC, nid) as rankTopK. */
  private def v17Oracle(nCells: Int = 16, nProbe: Int = 4, k: Int = 5,
                        iters: Int = 8, trainSample: Int = 10000,
                        dim: Int = 64): String =
    s"""${ivfTrainingCtes(nCells, iters, trainSample, dim)},
       |  lab AS (SELECT vec_id, label FROM embeddings),
       |  probe AS (SELECT vec_id AS qid, c AS cell FROM (
       |              SELECT vec_id, c, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY sc DESC, c DESC) AS rn
       |              FROM cscore WHERE vec_id < 8) WHERE rn <= $nProbe),
       |  q AS (SELECT e.vec_id AS qid, e.v AS qv,
       |          sqrt(list_inner_product(e.v, e.v)) AS qn, l.label
       |        FROM e JOIN lab l ON l.vec_id = e.vec_id WHERE e.vec_id < 8),
       |  cand AS (SELECT DISTINCT p.qid, c.nid
       |           FROM probe p
       |           JOIN q ON q.qid = p.qid
       |           JOIN corpus c ON c.cell = p.cell
       |           JOIN lab cl ON cl.vec_id = c.nid AND cl.label = q.label
       |           WHERE p.qid <> c.nid),
       |  sims AS (SELECT cand.qid, cand.nid,
       |             list_inner_product(q.qv, c.nv) / (q.qn * c.nn) AS sim
       |           FROM cand JOIN q ON q.qid = cand.qid
       |                     JOIN corpus c ON c.nid = cand.nid),
       |  ivf AS (SELECT qid, nid FROM (
       |            SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |              ORDER BY sim DESC, nid) AS rank FROM sims)
       |          WHERE rank <= $k),
       |  ex AS (SELECT qid, nid FROM (
       |           SELECT q.qid, c.nid,
       |             row_number() OVER (PARTITION BY q.qid
       |               ORDER BY list_inner_product(q.qv, c.nv) / (q.qn * c.nn)
       |                 DESC, c.nid) AS rank
       |           FROM q JOIN corpus c ON c.nid <> q.qid
       |                  JOIN lab cl ON cl.vec_id = c.nid AND cl.label = q.label)
       |         WHERE rank <= $k)
       |SELECT ex.qid, count(*) AS k,
       |  CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hits,
       |  round(CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END)
       |               AS DOUBLE) / count(*), 4) AS recall
       |FROM ex LEFT JOIN ivf i ON i.qid = ex.qid AND i.nid = ex.nid
       |GROUP BY ex.qid
       |ORDER BY ex.qid""".stripMargin

  /** DuckDB twin of v05 — same training replay as v04, then the IVF-cell-
    * blocked exact dedup tail: within-cell pairs at exact cosine ≥ the
    * threshold, mirroring Dedup.embeddingNearDupPairs arithmetic
    * (float-widened vectors, float_dot-ordered accumulation, round 4). */
  private def v05Oracle(threshold: Double, nCells: Int = 16, iters: Int = 8,
                        trainSample: Int = 10000, dim: Int = 64): String =
    s"""${ivfTrainingCtes(nCells, iters, trainSample, dim)}
       |SELECT a.nid AS id_a, b.nid AS id_b,
       |  round(list_inner_product(a.nv, b.nv) / (a.nn * b.nn), 4) AS cosine
       |FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.nid < b.nid
       |WHERE list_inner_product(a.nv, b.nv) / (a.nn * b.nn) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  private val V05Threshold = 0.3

  /** DuckDB twin of v21 — v05's pair replay (k-means training + cell
    * blocking + exact-cosine tail), then min-id connected components as a
    * recursive label walk (the d05 oracle's construction), then the
    * membership join with window size. The leading WITH becomes
    * WITH RECURSIVE for the walk; the non-recursive training CTEs are
    * unaffected. */
  private def v21Oracle(threshold: Double, nCells: Int = 16, iters: Int = 8,
                        trainSample: Int = 10000, dim: Int = 64): String =
    s"""${ivfTrainingCtes(nCells, iters, trainSample, dim)
           .replaceFirst("WITH ", "WITH RECURSIVE ")},
       |  p AS (SELECT a.nid AS ia, b.nid AS ib
       |        FROM corpus a JOIN corpus b
       |          ON a.cell = b.cell AND a.nid < b.nid
       |        WHERE list_inner_product(a.nv, b.nv) / (a.nn * b.nn)
       |              >= $threshold),
       |  eg AS (SELECT ia AS src, ib AS dst FROM p
       |         UNION SELECT ib, ia FROM p),
       |  walk(id, lbl) AS (
       |    SELECT src, src FROM eg
       |    UNION
       |    SELECT eg.dst, walk.lbl FROM walk JOIN eg ON eg.src = walk.id),
       |  cc AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id),
       |  mem AS (SELECT CAST(em.vec_id AS BIGINT) AS vec_id,
       |            COALESCE(cc.cluster, CAST(em.vec_id AS BIGINT)) AS cluster
       |          FROM embeddings em
       |          LEFT JOIN cc ON cc.id = CAST(em.vec_id AS BIGINT))
       |SELECT vec_id, cluster, vec_id = cluster AS is_canonical,
       |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS sz
       |FROM mem ORDER BY vec_id""".stripMargin

  /** DuckDB twin of v08 — replays all four subspace k-means trainings
    * (same arithmetic contract as v04's, see [[kmeansCtes]]), encodes the
    * corpus per subspace, then scores ADC = Σ_m q_m·c_{m,code_m} with the
    * same left-to-right subspace addition order as pqTopK's reduceLeft. */
  private def v08Oracle(m: Int = 4, k: Int = 8, iters: Int = 4,
                        trainSample: Int = 10000, dim: Int = 64,
                        topK: Int = 5): String = {
    val subDim = dim / m
    val blocks = (0 until m).map { ms =>
      val lo = ms * subDim
      kmeansCtes(s"m$ms", s"v[${lo + 1}:${lo + subDim}]", k, iters,
        trainSample, subDim)
    }.mkString(",\n  ")
    val codeCols = (0 until m).map(ms => s"m$ms.cell AS c$ms").mkString(", ")
    val codeJoin = (1 until m)
      .map(ms => s"JOIN m${ms}corpus m$ms ON m$ms.nid = m0.nid")
      .mkString("\n            ")
    val cbJoins = (0 until m)
      .map(ms => s"JOIN m${ms}centl$iters b$ms ON b$ms.c = codes.c$ms")
      .mkString("\n           ")
    val adcSum = (0 until m).map { ms =>
      val lo = ms * subDim
      s"list_inner_product(q.v[${lo + 1}:${lo + subDim}], b$ms.cf)"
    }.mkString("\n             + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |  $blocks,
       |  codes AS (SELECT m0.nid, $codeCols
       |            FROM m0corpus m0
       |            $codeJoin),
       |  q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 8),
       |  sims AS (SELECT q.qid, codes.nid,
       |             $adcSum AS adc
       |           FROM q JOIN codes ON codes.nid <> q.qid
       |           $cbJoins),
       |  r AS (SELECT qid, nid, adc, row_number() OVER (PARTITION BY qid
       |          ORDER BY adc DESC, nid) AS rank FROM sims)
       |SELECT qid, rank, nid, round(adc, 4) AS adc
       |FROM r WHERE rank <= $topK
       |ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB twin of v29 — replays the ENTIRE IVFADC chain: the coarse
    * training ([[kmeansCtes]] over `e`), the float-rounded residuals
    * (round-to-REAL of the exact double difference, which IS the
    * engine's float subtraction by IEEE 754), the m residual-subspace
    * trainings ([[kmeansCtes]] re-pointed at the residual table), the
    * per-cell query residuals, and ADC scoring in the fixed
    * left-to-right subspace order ([[v08Oracle]]'s convention). */
  private def v29Oracle(nCells: Int = 8, m: Int = 4, k: Int = 8,
                        coarseIters: Int = 4, pqIters: Int = 4,
                        trainSample: Int = 10000, dim: Int = 64,
                        nProbe: Int = 4, topK: Int = 5,
                        livePred: String = "TRUE"): String =
    s"""${ivfAdcCtes(nCells, m, k, coarseIters, pqIters, trainSample, dim,
          nProbe, livePred)}
       |SELECT qid, rank, nid, round(adc, 4) AS adc
       |FROM r WHERE rank <= $topK
       |ORDER BY qid, rank""".stripMargin

  /** DuckDB twin of v30 — v29's full IVFADC chain and v26's exact-MIPS
    * chain replayed side by side, joined on (qid, nid): recall@5 of the
    * raw ADC ranking AND of the ADC-top-50 → exact-inner-product re-rank
    * composition, both exact integer verdicts (the v26/v09 honest-audit
    * convention). */
  private def v30Oracle(nCells: Int = 8, m: Int = 4, k: Int = 8,
                        coarseIters: Int = 4, pqIters: Int = 4,
                        trainSample: Int = 10000, dim: Int = 64,
                        nProbe: Int = 4, topK: Int = 5,
                        shortlist: Int = 50): String =
    s"""${ivfAdcCtes(nCells, m, k, coarseIters, pqIters, trainSample, dim, nProbe)},
       |  a5 AS (SELECT qid, nid FROM r WHERE rank <= $topK),
       |  a50 AS (SELECT qid, nid FROM r WHERE rank <= $shortlist),
       |  rr AS (SELECT a.qid, a.nid,
       |           list_inner_product(q.v, c.v) AS ip
       |         FROM a50 a JOIN e q ON q.vec_id = a.qid
       |              JOIN e c ON c.vec_id = a.nid),
       |  rr5 AS (SELECT qid, nid FROM (
       |            SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |              ORDER BY ip DESC, nid) AS rank FROM rr)
       |          WHERE rank <= $topK),
       |  xp AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
       |           list_inner_product(q.v, c.v) AS ip
       |         FROM e q JOIN e c ON q.vec_id <> c.vec_id
       |         WHERE q.vec_id < 8),
       |  xr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |           ORDER BY ip DESC, nid) AS rank FROM xp),
       |  x5 AS (SELECT qid, nid FROM xr WHERE rank <= $topK)
       |SELECT x.qid, count(*) AS k,
       |  CAST(sum(CASE WHEN a.nid IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_hits_adc,
       |  CAST(sum(CASE WHEN rr5.nid IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_hits_rerank,
       |  round(sum(CASE WHEN a.nid IS NULL THEN 0 ELSE 1 END)
       |          / CAST(count(*) AS DOUBLE), 4) AS recall_adc,
       |  round(sum(CASE WHEN rr5.nid IS NULL THEN 0 ELSE 1 END)
       |          / CAST(count(*) AS DOUBLE), 4) AS recall_rerank
       |FROM x5 x LEFT JOIN a5 a ON a.qid = x.qid AND a.nid = x.nid
       |          LEFT JOIN rr5 ON rr5.qid = x.qid AND rr5.nid = x.nid
       |GROUP BY x.qid
       |ORDER BY x.qid""".stripMargin

  /** The shared v29/v30/v34 CTE chain: coarse training → residuals → m
    * residual-subspace trainings → codes → probed cells → per-cell query
    * residuals → ADC → ranked `r`, with `e` left visible for consumers.
    * `livePred` (over `codes.nid`) replays a post-compaction probe: both
    * models still train on the FULL corpus — deletion does not untrain
    * them — but only live codes are scored (v34). */
  private def ivfAdcCtes(nCells: Int, m: Int, k: Int,
                         coarseIters: Int, pqIters: Int,
                         trainSample: Int, dim: Int, nProbe: Int,
                         livePred: String = "TRUE"): String = {
    val subDim = dim / m
    val pqBlocks = (0 until m).map { ms =>
      val lo = ms * subDim
      kmeansCtes(s"m$ms", s"v[${lo + 1}:${lo + subDim}]", k, pqIters,
        trainSample, subDim, src = "re")
    }.mkString(",\n  ")
    val codeCols = (0 until m).map(ms => s"m$ms.cell AS c$ms").mkString(", ")
    val codeJoin = (1 until m)
      .map(ms => s"JOIN m${ms}corpus m$ms ON m$ms.nid = m0.nid")
      .mkString("\n            ")
    val cbJoins = (0 until m)
      .map(ms => s"JOIN m${ms}centl$pqIters b$ms ON b$ms.c = codes.c$ms")
      .mkString("\n           ")
    val adcSum = (0 until m).map { ms =>
      val lo = ms * subDim
      s"list_inner_product(qc.qv[${lo + 1}:${lo + subDim}], b$ms.cf)"
    }.mkString("\n             + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |  ${kmeansCtes("g", "v", nCells, coarseIters, trainSample, dim)},
       |  re AS MATERIALIZED (SELECT c.nid AS vec_id,
       |        list_transform(range(1, $dim + 1),
       |          i -> CAST(CAST(c.nv[i] - l.cf[i] AS REAL) AS DOUBLE)) AS v,
       |        c.cell AS gcell
       |      FROM gcorpus c JOIN gcentl$coarseIters l ON l.c = c.cell),
       |  $pqBlocks,
       |  codes AS (SELECT m0.nid, re.gcell AS cell, $codeCols
       |            FROM m0corpus m0
       |            $codeJoin
       |            JOIN re ON re.vec_id = m0.nid),
       |  probe AS (SELECT vec_id AS qid, c AS cell FROM (
       |              SELECT vec_id, c, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY sc DESC, c DESC) AS rn
       |              FROM gcscore WHERE vec_id < 8) WHERE rn <= $nProbe),
       |  q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 8),
       |  qc AS (SELECT p.qid, p.cell, q.qv,
       |           list_inner_product(q.qv, l.cf) AS cdot
       |         FROM probe p JOIN q ON q.qid = p.qid
       |              JOIN gcentl$coarseIters l ON l.c = p.cell),
       |  sims AS (SELECT qc.qid, codes.nid,
       |             qc.cdot
       |             + $adcSum AS adc
       |           FROM qc JOIN codes ON codes.cell = qc.cell
       |                AND codes.nid <> qc.qid
       |                AND ($livePred)
       |           $cbJoins),
       |  r AS (SELECT qid, nid, adc, row_number() OVER (PARTITION BY qid
       |          ORDER BY adc DESC, nid) AS rank FROM sims)""".stripMargin
  }

  /** DuckDB twin of v31 — the IVFADC maintenance identity: replays the
    * COARSE training and the m residual-subspace trainings on the ⅞ base
    * only ([[ivfAdcCtes]]' chain with `e` restricted), then routes the
    * held-out batch under the trained coarse centroids (same score
    * arithmetic and (sc DESC, c DESC) argmax as the engine's
    * assignCells), takes the float-rounded residuals against the
    * ASSIGNED cell, and encodes them under the trained residual
    * codebooks ([[v24Oracle]]'s encode-under-standing pattern). Equality
    * certifies ivfPqAppend ≡ assign+encode-under-the-same-models. */
  private def v31Oracle(nCells: Int = 8, m: Int = 4, k: Int = 8,
                        coarseIters: Int = 4, pqIters: Int = 4,
                        trainSample: Int = 10000, dim: Int = 64,
                        trainPred: String = "vec_id % 8 <> 0",
                        encodePred: String = "vec_id % 8 = 0"): String = {
    val subDim = dim / m
    val pqBlocks = (0 until m).map { ms =>
      val lo = ms * subDim
      kmeansCtes(s"m$ms", s"v[${lo + 1}:${lo + subDim}]", k, pqIters,
        trainSample, subDim, src = "re")
    }.mkString(",\n  ")
    val codeCtes = (0 until m).map { ms =>
      val lo = ms * subDim
      s"""bb$ms AS (SELECT vec_id, c AS code FROM (
         |         SELECT b.vec_id, l.c, row_number() OVER (
         |           PARTITION BY b.vec_id ORDER BY
         |             (list_inner_product(b.rv[${lo + 1}:${lo + subDim}], l.cf)
         |               - list_inner_product(l.cd, l.cd) / 2) DESC, l.c DESC) AS rn
         |         FROM rb b CROSS JOIN m${ms}centl$pqIters l) WHERE rn = 1)""".stripMargin
    }.mkString(",\n  ")
    val codeCols = (0 until m).map(ms => s"bb$ms.code AS code_$ms").mkString(", ")
    val codeJoins = (0 until m)
      .map(ms => s"JOIN bb$ms ON bb$ms.vec_id = rb.vec_id").mkString("\n     ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE $trainPred),
       |  eb AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |        WHERE $encodePred),
       |  ${kmeansCtes("g", "v", nCells, coarseIters, trainSample, dim)},
       |  re AS MATERIALIZED (SELECT c.nid AS vec_id,
       |        list_transform(range(1, $dim + 1),
       |          i -> CAST(CAST(c.nv[i] - l.cf[i] AS REAL) AS DOUBLE)) AS v,
       |        c.cell AS gcell
       |      FROM gcorpus c JOIN gcentl$coarseIters l ON l.c = c.cell),
       |  $pqBlocks,
       |  bcell AS (SELECT vec_id, c AS cell, cf FROM (
       |      SELECT b.vec_id, l.c, l.cf, row_number() OVER (
       |        PARTITION BY b.vec_id ORDER BY
       |          (list_inner_product(b.v, l.cf)
       |            - list_inner_product(l.cd, l.cd) / 2) DESC, l.c DESC) AS rn
       |      FROM eb b CROSS JOIN gcentl$coarseIters l) WHERE rn = 1),
       |  rb AS MATERIALIZED (SELECT b.vec_id, bc.cell,
       |        list_transform(range(1, $dim + 1),
       |          i -> CAST(CAST(b.v[i] - bc.cf[i] AS REAL) AS DOUBLE)) AS rv
       |      FROM eb b JOIN bcell bc ON bc.vec_id = b.vec_id),
       |  $codeCtes
       |SELECT rb.vec_id, CAST(rb.cell AS BIGINT) AS cell, $codeCols
       |FROM rb $codeJoins
       |ORDER BY rb.vec_id""".stripMargin
  }

  /** DuckDB twin of v32 — the full three-family tuning-curve replay over
    * the CLUSTERED derivation (+20 on dim `vec_id % 8`, float-rounded):
    * ONE coarse training (IVF and IVFADC share params, and the training
    * is deterministic, so the engine builds the same centroids twice and
    * the oracle once), m raw-PQ subspace trainings, m residual-subspace
    * trainings, then the exact-cosine truth and every family/setting's
    * approximate top-k joined against it — 9 integer recall verdicts. */
  private def v32Oracle(nCells: Int = 8, m: Int = 4, k: Int = 8,
                        iters: Int = 4, trainSample: Int = 10000,
                        dim: Int = 64, topK: Int = 5,
                        shortlist: Int = 50): String = {
    val subDim = dim / m
    val pqBlocks = (0 until m).map { ms =>
      val lo = ms * subDim
      kmeansCtes(s"p$ms", s"v[${lo + 1}:${lo + subDim}]", k, iters,
        trainSample, subDim, src = "ec")
    }.mkString(",\n  ")
    val resBlocks = (0 until m).map { ms =>
      val lo = ms * subDim
      kmeansCtes(s"m$ms", s"v[${lo + 1}:${lo + subDim}]", k, iters,
        trainSample, subDim, src = "re")
    }.mkString(",\n  ")
    def codesCte(name: String, px: String, withCell: Boolean): String = {
      val cols = (0 until m).map(ms => s"$px$ms.cell AS c$ms").mkString(", ")
      val joins = (1 until m)
        .map(ms => s"JOIN $px${ms}corpus $px$ms ON $px$ms.nid = ${px}0.nid")
        .mkString("\n            ")
      val cell = if (withCell) ", re.gcell AS cell" else ""
      val reJoin = if (withCell) s"\n            JOIN re ON re.vec_id = ${px}0.nid" else ""
      s"""$name AS (SELECT ${px}0.nid$cell, $cols
         |            FROM ${px}0corpus ${px}0
         |            $joins$reJoin)""".stripMargin
    }
    def adcSum(px: String, qcol: String): String = (0 until m).map { ms =>
      val lo = ms * subDim
      s"list_inner_product($qcol[${lo + 1}:${lo + subDim}], b$ms.cf)"
    }.mkString("\n             + ")
    def cbJoins(px: String, codesName: String): String = (0 until m)
      .map(ms => s"JOIN $px${ms}centl$iters b$ms ON b$ms.c = $codesName.c$ms")
      .mkString("\n           ")
    val ivfSweeps = Seq(1, 2, 4).map { np =>
      s"""iprobe$np AS (SELECT vec_id AS qid, c AS cell FROM (
         |              SELECT vec_id, c, row_number() OVER (
         |                PARTITION BY vec_id ORDER BY sc DESC, c DESC) AS rn
         |              FROM gcscore WHERE vec_id < 8) WHERE rn <= $np),
         |  isims$np AS (SELECT p.qid, c.nid,
         |             list_inner_product(q.qv, c.nv) / (q.qn * c.nn) AS sim
         |           FROM iprobe$np p JOIN gcorpus c ON c.cell = p.cell
         |                JOIN q ON q.qid = p.qid
         |           WHERE p.qid <> c.nid),
         |  ivf$np AS (SELECT qid, nid FROM (
         |            SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |              ORDER BY sim DESC, nid) AS rank FROM isims$np)
         |          WHERE rank <= $topK)""".stripMargin
    }.mkString(",\n  ")
    val adcSweeps = Seq(1, 2, 4).map { np =>
      s"""aqc$np AS (SELECT p.qid, p.cell, q.qv,
         |           list_inner_product(q.qv, l.cf) AS cdot
         |         FROM iprobe$np p JOIN q ON q.qid = p.qid
         |              JOIN gcentl$iters l ON l.c = p.cell),
         |  ar$np AS (SELECT qid, nid, adc, row_number() OVER (
         |            PARTITION BY qid ORDER BY adc DESC, nid) AS rank FROM (
         |          SELECT qc.qid, acodes.nid,
         |             qc.cdot
         |             + ${adcSum("m", "qc.qv")} AS adc
         |           FROM aqc$np qc JOIN acodes ON acodes.cell = qc.cell
         |                AND acodes.nid <> qc.qid
         |           ${cbJoins("m", "acodes")})),
         |  a5_$np AS (SELECT qid, nid FROM ar$np WHERE rank <= $topK)""".stripMargin
    }.mkString(",\n  ")
    def recallRow(family: String, setting: String, cte: String): String =
      s"""SELECT '$family' AS family, '$setting' AS setting,
         |  count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  round(CAST(sum(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END)
         |               AS DOUBLE) / count(*), 4) AS recall
         |FROM ex LEFT JOIN $cte a ON a.qid = ex.qid AND a.nid = ex.nid""".stripMargin
    val rows = Seq(
      recallRow("ivf", "nprobe=1", "ivf1"),
      recallRow("ivf", "nprobe=2", "ivf2"),
      recallRow("ivf", "nprobe=4", "ivf4"),
      recallRow("pq", "adc@5", "padc5"),
      recallRow("pq", "adc50+rerank@5", "prr5"),
      recallRow("ivfadc", "nprobe=1 adc@5", "a5_1"),
      recallRow("ivfadc", "nprobe=2 adc@5", "a5_2"),
      recallRow("ivfadc", "nprobe=4 adc@5", "a5_4"),
      recallRow("ivfadc", "nprobe=4 adc50+rerank@5", "arr5"))
      .mkString("\nUNION ALL\n")
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
       |  ec AS MATERIALIZED (SELECT vec_id, list_transform(range(1, $dim + 1),
       |        i -> CASE WHEN i - 1 = vec_id % 8
       |          THEN CAST(CAST(v0[i] + 20 AS REAL) AS DOUBLE) ELSE v0[i] END) AS v
       |      FROM e0),
       |  ${kmeansCtes("g", "v", nCells, iters, trainSample, dim, src = "ec")},
       |  $pqBlocks,
       |  re AS MATERIALIZED (SELECT c.nid AS vec_id,
       |        list_transform(range(1, $dim + 1),
       |          i -> CAST(CAST(c.nv[i] - l.cf[i] AS REAL) AS DOUBLE)) AS v,
       |        c.cell AS gcell
       |      FROM gcorpus c JOIN gcentl$iters l ON l.c = c.cell),
       |  $resBlocks,
       |  q AS (SELECT vec_id AS qid, v AS qv,
       |          sqrt(list_inner_product(v, v)) AS qn
       |        FROM ec WHERE vec_id < 8),
       |  ex AS (SELECT qid, nid FROM (
       |           SELECT q.qid, c.nid,
       |             row_number() OVER (PARTITION BY q.qid
       |               ORDER BY list_inner_product(q.qv, c.nv) / (q.qn * c.nn)
       |                 DESC, c.nid) AS rank
       |           FROM q JOIN gcorpus c ON c.nid <> q.qid)
       |         WHERE rank <= $topK),
       |  $ivfSweeps,
       |  ${codesCte("pcodes", "p", withCell = false)},
       |  pr AS (SELECT qid, nid, adc, row_number() OVER (PARTITION BY qid
       |          ORDER BY adc DESC, nid) AS rank FROM (
       |         SELECT q.qid, pcodes.nid,
       |             ${adcSum("p", "q.qv")} AS adc
       |           FROM q JOIN pcodes ON pcodes.nid <> q.qid
       |           ${cbJoins("p", "pcodes")})),
       |  padc5 AS (SELECT qid, nid FROM pr WHERE rank <= $topK),
       |  prr5 AS (SELECT qid, nid FROM (
       |           SELECT a.qid, a.nid, row_number() OVER (PARTITION BY a.qid
       |             ORDER BY list_inner_product(q.qv, c.nv) / (q.qn * c.nn)
       |               DESC, a.nid) AS rank
       |           FROM (SELECT qid, nid FROM pr WHERE rank <= $shortlist) a
       |             JOIN q ON q.qid = a.qid JOIN gcorpus c ON c.nid = a.nid)
       |         WHERE rank <= $topK),
       |  ${codesCte("acodes", "m", withCell = true)},
       |  $adcSweeps,
       |  arr5 AS (SELECT qid, nid FROM (
       |           SELECT a.qid, a.nid, row_number() OVER (PARTITION BY a.qid
       |             ORDER BY list_inner_product(q.qv, c.nv) / (q.qn * c.nn)
       |               DESC, a.nid) AS rank
       |           FROM (SELECT qid, nid FROM ar4 WHERE rank <= $shortlist) a
       |             JOIN q ON q.qid = a.qid JOIN gcorpus c ON c.nid = a.nid)
       |         WHERE rank <= $topK)
       |SELECT * FROM (
       |$rows
       |) ORDER BY family, setting""".stripMargin
  }

  /** DuckDB twin of v24 — replays the 4 subspace trainings on the ⅞ base
    * (`e` restricted to vec_id % 8 <> 0), then assigns the held-out ⅛
    * batch to each trained `m{ms}centl` codebook with the SAME score
    * arithmetic and (sc DESC, c DESC) argmax the engine's
    * encode-under-codebooks pass uses — the hash-exact
    * encode-under-standing replay. */
  private def v24Oracle(m: Int = 4, k: Int = 8, iters: Int = 4,
                        trainSample: Int = 10000, dim: Int = 64,
                        trainPred: String = "vec_id % 8 <> 0",
                        encodePred: String = "vec_id % 8 = 0"): String = {
    val subDim = dim / m
    val blocks = (0 until m).map { ms =>
      val lo = ms * subDim
      kmeansCtes(s"m$ms", s"v[${lo + 1}:${lo + subDim}]", k, iters,
        trainSample, subDim)
    }.mkString(",\n  ")
    val codeCtes = (0 until m).map { ms =>
      val lo = ms * subDim
      s"""b$ms AS (SELECT vec_id, c AS code FROM (
         |         SELECT b.vec_id, l.c, row_number() OVER (
         |           PARTITION BY b.vec_id ORDER BY
         |             (list_inner_product(b.v[${lo + 1}:${lo + subDim}], l.cf)
         |               - list_inner_product(l.cd, l.cd) / 2) DESC, l.c DESC) AS rn
         |         FROM eb b CROSS JOIN m${ms}centl$iters l) WHERE rn = 1)""".stripMargin
    }.mkString(",\n  ")
    val codeCols = (0 until m).map(ms => s"b$ms.code AS code_$ms").mkString(", ")
    val codeJoins = (1 until m)
      .map(ms => s"JOIN b$ms ON b$ms.vec_id = b0.vec_id").mkString("\n     ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE $trainPred),
       |  eb AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |        WHERE $encodePred),
       |  $blocks,
       |  $codeCtes
       |SELECT b0.vec_id, $codeCols
       |FROM b0 $codeJoins
       |ORDER BY b0.vec_id""".stripMargin
  }

  /** DuckDB twin of v25 — v08's full-corpus PQ training replay, with the
    * per-subspace code assignments melted to (subspace, code, nid) rows;
    * the label-3 batch's codes come from joining the replayed corpus
    * assignment back on nid (sound for the same reason v19's oracle
    * reuses `corpus`: assignment under fixed codebooks is deterministic),
    * then the v19 integer share math per (subspace, code). */
  private def v25Oracle(m: Int = 4, k: Int = 8, iters: Int = 4,
                        trainSample: Int = 10000, dim: Int = 64): String = {
    val subDim = dim / m
    val blocks = (0 until m).map { ms =>
      val lo = ms * subDim
      kmeansCtes(s"m$ms", s"v[${lo + 1}:${lo + subDim}]", k, iters,
        trainSample, subDim)
    }.mkString(",\n  ")
    val melt = (0 until m).map(ms =>
      s"SELECT $ms AS subspace, m$ms.cell AS code, m$ms.nid AS nid " +
        s"FROM m${ms}corpus m$ms")
      .mkString("\n            UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |  $blocks,
       |  codes AS ($melt),
       |  idx AS (SELECT subspace, code, count(*) AS n_idx FROM codes
       |          GROUP BY subspace, code),
       |  tot AS (SELECT count(*) AS n_tot FROM m0corpus),
       |  bat AS (SELECT c.subspace, c.code, count(*) AS n_new
       |          FROM codes c JOIN embeddings b ON b.vec_id = c.nid
       |          WHERE b.label = 3 GROUP BY c.subspace, c.code),
       |  btot AS (SELECT count(*) AS n_btot FROM embeddings WHERE label = 3)
       |SELECT COALESCE(i.subspace, b.subspace) AS subspace,
       |  COALESCE(i.code, b.code) AS code,
       |  COALESCE(i.n_idx, 0) AS n_idx, COALESCE(b.n_new, 0) AS n_new,
       |  (COALESCE(i.n_idx, 0) * 1000) // greatest(t.n_tot, 1)
       |    AS idx_share_pm,
       |  (COALESCE(b.n_new, 0) * 1000)
       |    // greatest(bt.n_btot, 1) AS new_share_pm,
       |  2 * abs(COALESCE(b.n_new, 0) * t.n_tot
       |          - COALESCE(i.n_idx, 0) * bt.n_btot)
       |    > COALESCE(i.n_idx, 0) * bt.n_btot AS drifted
       |FROM idx i FULL JOIN bat b
       |       ON b.subspace = i.subspace AND b.code = i.code
       |     CROSS JOIN tot t CROSS JOIN btot bt
       |ORDER BY subspace, code""".stripMargin
  }

  /** DuckDB twin of v11 — v08's full PQ replay ranks ADC top-`candK`
    * candidates, then the v01-style exact-cosine rerank runs over those
    * candidates only. */
  private def v11Oracle(m: Int = 4, k: Int = 8, iters: Int = 4,
                        trainSample: Int = 10000, dim: Int = 64,
                        candK: Int = 20, topK: Int = 5): String = {
    val subDim = dim / m
    val blocks = (0 until m).map { ms =>
      val lo = ms * subDim
      kmeansCtes(s"m$ms", s"v[${lo + 1}:${lo + subDim}]", k, iters,
        trainSample, subDim)
    }.mkString(",\n  ")
    val codeCols = (0 until m).map(ms => s"m$ms.cell AS c$ms").mkString(", ")
    val codeJoin = (1 until m)
      .map(ms => s"JOIN m${ms}corpus m$ms ON m$ms.nid = m0.nid")
      .mkString("\n            ")
    val cbJoins = (0 until m)
      .map(ms => s"JOIN m${ms}centl$iters b$ms ON b$ms.c = codes.c$ms")
      .mkString("\n           ")
    val adcSum = (0 until m).map { ms =>
      val lo = ms * subDim
      s"list_inner_product(q.v[${lo + 1}:${lo + subDim}], b$ms.cf)"
    }.mkString("\n             + ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |  $blocks,
       |  codes AS (SELECT m0.nid, $codeCols
       |            FROM m0corpus m0
       |            $codeJoin),
       |  q AS MATERIALIZED (SELECT vec_id AS qid, v FROM e WHERE vec_id < 8),
       |  sims AS (SELECT q.qid, codes.nid,
       |             $adcSum AS adc
       |           FROM q JOIN codes ON codes.nid <> q.qid
       |           $cbJoins),
       |  r AS (SELECT qid, nid, adc, row_number() OVER (PARTITION BY qid
       |          ORDER BY adc DESC, nid) AS rank FROM sims),
       |  cand AS (SELECT qid, nid FROM r WHERE rank <= $candK),
       |  nrm AS MATERIALIZED (SELECT vec_id, v,
       |           sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |  ex AS (SELECT c.qid, c.nid,
       |           list_inner_product(nq.v, nc.v) / (nq.nrm * nc.nrm) AS sim
       |         FROM cand c JOIN nrm nq ON nq.vec_id = c.qid
       |                     JOIN nrm nc ON nc.vec_id = c.nid),
       |  rr AS (SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
       |           ORDER BY sim DESC, nid) AS rank FROM ex)
       |SELECT qid, rank, nid, round(sim, 4) AS sim
       |FROM rr WHERE rank <= $topK
       |ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB twin of v07 — same training replay as v04, then the per-cell
    * profile over the assigned corpus. */
  private def v07Oracle(nCells: Int = 16, iters: Int = 8,
                        trainSample: Int = 10000, dim: Int = 64): String =
    s"""${ivfTrainingCtes(nCells, iters, trainSample, dim)}
       |SELECT CAST(cell AS BIGINT) AS cluster, count(*) AS n_members,
       |  min(nid) AS rep_id,
       |  round(min(nn), 4) AS min_norm, round(max(nn), 4) AS max_norm
       |FROM corpus
       |GROUP BY cell
       |ORDER BY cluster""".stripMargin

  val oracle: Map[String, String] = Map(
    // v18: lexical leg = d02's token-set Jaccard arithmetic, vector leg =
    // v01's cosine CTEs, both ranked full then cut at 50; fusion = outer
    // join with the 1000 worst-rank penalty, two rrf terms summed in the
    // same written order as the Spark side.
    "v18_rrf_fusion" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(string_split_regex(trim(text), '\s+')) AS ts
        |  FROM documents),
        |  lp AS (SELECT q.doc_id AS qid, c.doc_id AS nid,
        |           len(list_intersect(q.ts, c.ts)) /
        |             CAST(len(list_distinct(q.ts || c.ts)) AS DOUBLE) AS jac
        |         FROM t q JOIN t c ON c.doc_id <> q.doc_id
        |         WHERE q.doc_id < 8),
        |  la AS (SELECT qid, nid, rank_a FROM (
        |           SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |                    ORDER BY jac DESC, nid) AS rank_a
        |           FROM lp)
        |         WHERE rank_a <= 50),
        |  e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |  n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |  vp AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |           list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |         FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |         WHERE q.vec_id < 8),
        |  va AS (SELECT qid, nid, rank_b FROM (
        |           SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |                    ORDER BY sim DESC, nid) AS rank_b
        |           FROM vp)
        |         WHERE rank_b <= 50),
        |  f AS (SELECT COALESCE(la.qid, va.qid) AS qid,
        |          COALESCE(la.nid, va.nid) AS nid,
        |          round(1.0 / (60 + COALESCE(la.rank_a, 1000)) +
        |                1.0 / (60 + COALESCE(va.rank_b, 1000)), 8) AS rrf,
        |          COALESCE(la.rank_a, 0) AS lex_rank,
        |          COALESCE(va.rank_b, 0) AS vec_rank
        |        FROM la FULL JOIN va
        |          ON la.qid = va.qid AND la.nid = va.nid),
        |  r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |                    ORDER BY rrf DESC, nid) AS rank
        |        FROM f)
        |SELECT qid, rank, nid, rrf, lex_rank, vec_rank
        |FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // Mirrors hammingRerankTopK: sign bits (x >= 0), hamming via the 0/1
    // identity |a|+|b|-2·a·b, pre-rank top-32 by (hamming, nid), exact
    // cosine re-rank of the candidates — v01's arithmetic on the survivors.
    "v13_binary_hamming" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |  b AS (SELECT vec_id, v,
        |          [CASE WHEN x >= 0 THEN 1.0 ELSE 0.0 END FOR x IN v] AS bits
        |        FROM e),
        |  h AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |          CAST(list_sum(q.bits) + list_sum(c.bits)
        |               - 2 * list_inner_product(q.bits, c.bits) AS BIGINT) AS ham
        |        FROM b q JOIN b c ON q.vec_id <> c.vec_id
        |        WHERE q.vec_id < 8),
        |  r1 AS (SELECT qid, nid,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY ham, nid) AS hrank
        |         FROM h),
        |  n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |  p AS (SELECT r1.qid, r1.nid,
        |          list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |        FROM r1 JOIN n q ON q.vec_id = r1.qid
        |                JOIN n c ON c.vec_id = r1.nid
        |        WHERE r1.hrank <= 32),
        |  r2 AS (SELECT qid, nid, sim,
        |           row_number() OVER (PARTITION BY qid
        |                              ORDER BY sim DESC, nid) AS rank
        |         FROM p)
        |SELECT qid, rank, nid, round(sim, 4) AS sim
        |FROM r2 WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // Mirrors v15: v01's arithmetic with the label-equality join condition.
    "v15_filtered_ann" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |     n AS (SELECT vec_id, label, v,
        |             sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |     p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |             list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |           FROM n q JOIN n c
        |             ON q.label = c.label AND q.vec_id <> c.vec_id
        |           WHERE q.vec_id < 8),
        |     r AS (SELECT qid, nid, sim,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY sim DESC, nid) AS rank
        |           FROM p)
        |SELECT qid, rank, nid, round(sim, 4) AS sim
        |FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // Mirrors v14: full-dim top-5 (v01's arithmetic) left-joined to the
    // 16-dim-prefix top-5, per-query hit counts. Slicing in DuckDB is
    // 1-based inclusive like Spark's slice.
    "v14_matryoshka_audit" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |  n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |  pf AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |           list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |         FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |         WHERE q.vec_id < 8),
        |  rf AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |                 ORDER BY sim DESC, nid) AS rank FROM pf),
        |  full5 AS (SELECT qid, nid FROM rf WHERE rank <= 5),
        |  t AS (SELECT vec_id, v[1:16] AS v FROM e),
        |  tn AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM t),
        |  pt AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |           list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |         FROM tn q JOIN tn c ON q.vec_id <> c.vec_id
        |         WHERE q.vec_id < 8),
        |  rt AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |                 ORDER BY sim DESC, nid) AS rank FROM pt),
        |  trunc5 AS (SELECT qid, nid FROM rt WHERE rank <= 5)
        |SELECT f.qid, count(*) AS k,
        |  CAST(sum(CASE WHEN t.nid IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
        |  round(sum(CASE WHEN t.nid IS NULL THEN 0 ELSE 1 END)
        |          / CAST(count(*) AS DOUBLE), 4) AS recall_16
        |FROM full5 f LEFT JOIN trunc5 t ON t.qid = f.qid AND t.nid = f.nid
        |GROUP BY f.qid
        |ORDER BY f.qid""".stripMargin,
    "v02_lsh_ann" -> v02Oracle,
    "v04_ivf_ann" -> v04Oracle(),
    // v19: the index side reuses the training replay's `corpus` CTE; the
    // batch's cells come from joining it back on nid — sound because
    // assignment under fixed centroids is deterministic (the ivfAppend
    // parity SimilaritySpec pins), so reassigning the label-3 slice gives
    // exactly its original cells.
    "v19_centroid_drift" ->
      s"""${ivfTrainingCtes(16, 8, 10000, 64)},
         |  idx AS (SELECT cell, count(*) AS n_idx FROM corpus GROUP BY cell),
         |  tot AS (SELECT count(*) AS n_tot FROM corpus),
         |  bat AS (SELECT c.cell, count(*) AS n_new
         |          FROM corpus c JOIN embeddings b ON b.vec_id = c.nid
         |          WHERE b.label = 3 GROUP BY c.cell),
         |  btot AS (SELECT count(*) AS n_btot FROM embeddings WHERE label = 3)
         |SELECT COALESCE(i.cell, b.cell) AS cell,
         |  COALESCE(i.n_idx, 0) AS n_idx, COALESCE(b.n_new, 0) AS n_new,
         |  (COALESCE(i.n_idx, 0) * 1000) // greatest(t.n_tot, 1)
         |    AS idx_share_pm,
         |  (COALESCE(b.n_new, 0) * 1000)
         |    // greatest(bt.n_btot, 1) AS new_share_pm,
         |  2 * abs(COALESCE(b.n_new, 0) * t.n_tot
         |          - COALESCE(i.n_idx, 0) * bt.n_btot)
         |    > COALESCE(i.n_idx, 0) * bt.n_btot AS drifted
         |FROM idx i FULL JOIN bat b ON b.cell = i.cell
         |     CROSS JOIN tot t CROSS JOIN btot bt
         |ORDER BY cell""".stripMargin,
    "v12_ivf_append" -> v12Oracle(),
    // v27: the flat-chain replay with the tiered split — train on the
    // batch-0 slice (vec_id % 5 = 0), assign the other four batches under
    // the trained centroids, probe the union. The engine side ran the
    // L0/L1 lifecycle; equality certifies tiered ≡ flat.
    "v27_tiered_roll" -> v12Oracle(trainPred = "vec_id % 5 = 0",
      appendPred = "vec_id % 5 <> 0"),
    "v24_pq_append" -> v24Oracle(),
    // v28: v24's replay with the tiered split — train the subspace
    // codebooks on the batch-0 slice (vec_id % 5 = 0), encode the WHOLE
    // corpus under them. The engine ran the L0/L1 lifecycle; equality
    // certifies tiered ≡ flat at the quantized tier.
    "v28_pq_tiered_roll" -> v24Oracle(trainPred = "vec_id % 5 = 0",
      encodePred = "TRUE"),
    "v25_pq_drift" -> v25Oracle(),
    "v29_ivfadc" -> v29Oracle(),
    "v31_ivfadc_append" -> v31Oracle(),
    // v33: v31's replay with the tiered split — train both models on the
    // batch-0 slice (vec_id % 5 = 0), route + encode the WHOLE corpus
    // under them. The engine ran the L0/L1 lifecycle; equality certifies
    // tiered ≡ flat at the composed two-stage tier.
    "v33_ivfadc_tiered_roll" -> v31Oracle(trainPred = "vec_id % 5 = 0",
      encodePred = "TRUE"),
    // v34: v29's chain with the dead ids filtered from the scored codes
    // only — the models still train on the full corpus (see the query's
    // comment: compaction drops rows, it does not untrain)
    "v34_ivfadc_compact" -> v29Oracle(livePred = "codes.nid % 7 <> 3"),
    "v32_clustered_tuning" -> v32Oracle(),
    "v30_ivfadc_recall" -> v30Oracle(),
    // v26: v10's exact-MIPS chain and v22's SQ8 chain replayed side by
    // side, joined on (qid, nid) — n_hits is an exact integer verdict.
    "v26_sq8_recall" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
        |                        FROM embeddings),
        |  xp AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |           list_inner_product(q.v, c.v) AS ip
        |         FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |         WHERE q.vec_id < 8),
        |  xr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |           ORDER BY ip DESC, nid) AS rank FROM xp),
        |  x5 AS (SELECT qid, nid FROM xr WHERE rank <= 5),
        |  m AS (SELECT vec_id, v,
        |          list_max([abs(x) for x in v]) AS s FROM e),
        |  qc AS (SELECT vec_id, s,
        |          CASE WHEN s = 0
        |               THEN [CAST(0 AS DOUBLE) for x in v]
        |               ELSE [CAST(CAST(round(x * 127.0 / s) AS BIGINT)
        |                          AS DOUBLE) for x in v]
        |          END AS qv
        |        FROM m),
        |  p8 AS (SELECT a.vec_id AS qid, c.vec_id AS nid,
        |           CAST(list_inner_product(a.qv, c.qv) AS BIGINT) AS q_dot,
        |           a.s AS qs, c.s AS ns
        |         FROM qc a JOIN qc c ON a.vec_id <> c.vec_id
        |         WHERE a.vec_id < 8),
        |  r8 AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |           ORDER BY CAST(q_dot AS DOUBLE) * qs * ns / 16129.0 DESC,
        |                    nid) AS rank
        |         FROM p8),
        |  s5 AS (SELECT qid, nid FROM r8 WHERE rank <= 5)
        |SELECT x.qid, count(*) AS k,
        |  CAST(sum(CASE WHEN s.nid IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_hits,
        |  round(sum(CASE WHEN s.nid IS NULL THEN 0 ELSE 1 END)
        |          / CAST(count(*) AS DOUBLE), 4) AS recall
        |FROM x5 x LEFT JOIN s5 s ON s.qid = x.qid AND s.nid = x.nid
        |GROUP BY x.qid
        |ORDER BY x.qid""".stripMargin,
    // v16 = v12's appended-index probe with tombstoned nids excluded at
    // the candidate stage (exactly where the engine anti-joins).
    "v16_ivf_tombstones" -> v12Oracle(excludeNid = " AND c.nid % 97 <> 0"),
    "v09_recall_audit" -> v09Oracle(),
    "v20_nprobe_sweep" -> v20Oracle(),
    "v21_semantic_clusters" -> v21Oracle(V05Threshold),
    "v17_filtered_recall_audit" -> v17Oracle(),
    "v05_embedding_dedup" -> v05Oracle(V05Threshold),

    // d12: v05's training+blocking replay, reduced to the dominated-rule
    // keep-list (drop iff a lower-id within-cell neighbor ≥ threshold).
    "d12_semdedup" ->
      s"""${ivfTrainingCtes(16, 8, 10000, 64)},
         |  pairs AS (SELECT a.nid AS id_a, b.nid AS id_b
         |            FROM corpus a JOIN corpus b
         |              ON a.cell = b.cell AND a.nid < b.nid
         |            WHERE list_inner_product(a.nv, b.nv) / (a.nn * b.nn)
         |                    >= $V05Threshold),
         |  dom AS (SELECT id_b AS vec_id, count(*) AS n_lower_dups
         |          FROM pairs GROUP BY id_b)
         |SELECT c.nid AS vec_id, c.cell,
         |  COALESCE(d.n_lower_dups, 0) AS n_lower_dups,
         |  d.vec_id IS NULL AS keep
         |FROM corpus c LEFT JOIN dom d ON d.vec_id = c.nid
         |ORDER BY vec_id""".stripMargin,
    "v07_cluster_profile" -> v07Oracle(),
    "v08_pq_adc" -> v08Oracle(),
    "v11_pq_rerank" -> v11Oracle(),
    // v23: t37's BM25 CTEs as the lexical leg (query-doc distinct token
    // sets, self-excluded scoring over an UNEXCLUDED df — a standing
    // index counts every document), v01's cosine CTEs as the vector leg,
    // v18's fusion shape over both.
    "v23_hybrid_bm25" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |  tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
        |         WHERE tok <> '' GROUP BY doc_id, tok),
        |  dl AS (SELECT doc_id, count(*) AS dl FROM t
        |         WHERE tok <> '' GROUP BY doc_id),
        |  st AS (SELECT count(*) AS n_docs,
        |           CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |  qt AS (SELECT DISTINCT doc_id AS qid, tok FROM tf
        |         WHERE doc_id < 8),
        |  dfq AS (SELECT tok, count(*) AS df FROM tf
        |          WHERE tok IN (SELECT tok FROM qt) GROUP BY tok),
        |  sc AS (SELECT qt.qid, tf.doc_id,
        |           CAST(floor(
        |             ((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
        |             (tf.tf * 2.2) /
        |             (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) *
        |             1000000.0) AS BIGINT) AS cs
        |         FROM tf JOIN qt USING (tok) JOIN dfq USING (tok)
        |           JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
        |         WHERE tf.doc_id <> qt.qid),
        |  lagg AS (SELECT qid, doc_id AS nid,
        |             CAST(sum(cs) AS BIGINT) AS score_scaled
        |           FROM sc GROUP BY qid, doc_id),
        |  la AS (SELECT qid, nid, rank_a FROM (
        |           SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |                    ORDER BY score_scaled DESC, nid) AS rank_a
        |           FROM lagg)
        |         WHERE rank_a <= 50),
        |  e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |  n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |  vp AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |           list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |         FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |         WHERE q.vec_id < 8),
        |  va AS (SELECT qid, nid, rank_b FROM (
        |           SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |                    ORDER BY sim DESC, nid) AS rank_b
        |           FROM vp)
        |         WHERE rank_b <= 50),
        |  f AS (SELECT COALESCE(la.qid, va.qid) AS qid,
        |          COALESCE(la.nid, va.nid) AS nid,
        |          round(1.0 / (60 + COALESCE(la.rank_a, 1000)) +
        |                1.0 / (60 + COALESCE(va.rank_b, 1000)), 8) AS rrf,
        |          COALESCE(la.rank_a, 0) AS lex_rank,
        |          COALESCE(va.rank_b, 0) AS vec_rank
        |        FROM la FULL JOIN va
        |          ON la.qid = va.qid AND la.nid = va.nid),
        |  r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |                    ORDER BY rrf DESC, nid) AS rank
        |        FROM f)
        |SELECT qid, rank, nid, rrf, lex_rank, vec_rank
        |FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,

    // Mirrors sq8TopK bit-for-bit: per-vector maxabs scale, away-from-zero
    // rounding to int8 codes, exact integer dot (computed on exact
    // small-integer doubles, so summation order cannot matter), one
    // fixed-shape rescale.
    "v22_sq8_topk" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
        |           FROM embeddings),
        |  m AS (SELECT vec_id, v,
        |          list_max([abs(x) for x in v]) AS s FROM e),
        |  q AS (SELECT vec_id, s,
        |          CASE WHEN s = 0
        |               THEN [CAST(0 AS DOUBLE) for x in v]
        |               ELSE [CAST(CAST(round(x * 127.0 / s) AS BIGINT)
        |                          AS DOUBLE) for x in v]
        |          END AS qv
        |        FROM m),
        |  p AS (SELECT a.vec_id AS qid, c.vec_id AS nid,
        |          CAST(list_inner_product(a.qv, c.qv) AS BIGINT) AS q_dot,
        |          a.s AS qs, c.s AS ns
        |        FROM q a JOIN q c ON a.vec_id <> c.vec_id
        |        WHERE a.vec_id < 8),
        |  r AS (SELECT qid, nid,
        |          CAST(q_dot AS DOUBLE) * qs * ns / 16129.0 AS score,
        |          row_number() OVER (PARTITION BY qid
        |            ORDER BY CAST(q_dot AS DOUBLE) * qs * ns / 16129.0 DESC,
        |                     nid) AS rank
        |        FROM p)
        |SELECT qid, rank, nid, round(score, 4) AS ip8
        |FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // Mirrors mipsTopK: v01's brute force without the norm division.
    "v10_mips" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |     p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |             list_inner_product(q.v, c.v) AS ip
        |           FROM e q JOIN e c ON q.vec_id <> c.vec_id
        |           WHERE q.vec_id < 8),
        |     r AS (SELECT qid, nid, ip,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY ip DESC, nid) AS rank
        |           FROM p)
        |SELECT qid, rank, nid, round(ip, 4) AS ip
        |FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    // Mirrors cosineTopK arithmetic exactly: double-cast vectors,
    // dot/(sqrt(dot_aa)*sqrt(dot_bb)), ties broken by neighbor id.
    "v01_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |     n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
        |     p AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |             list_inner_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
        |           FROM n q JOIN n c ON q.vec_id <> c.vec_id
        |           WHERE q.vec_id < 8),
        |     r AS (SELECT qid, nid, sim,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY sim DESC, nid) AS rank
        |           FROM p)
        |SELECT qid, rank, nid, round(sim, 4) AS sim
        |FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,

    "v03_norm_stats" ->
      """WITH e AS (SELECT label, sqrt(list_inner_product(embedding::DOUBLE[],
        |                                                 embedding::DOUBLE[])) AS nrm
        |           FROM embeddings)
        |SELECT label, count(*) AS n,
        |  round(min(nrm), 4) AS min_norm, round(max(nrm), 4) AS max_norm
        |FROM e
        |GROUP BY label
        |ORDER BY label""".stripMargin,

    // v06: identical arithmetic (and parenthesization) to the Spark side —
    // round() is half-away-from-zero for the non-negative scaled values in
    // both engines, codes are BIGINT, and the only float reductions are an
    // order-independent max and an exact integer sum.
    "v06_quantize" ->
      """WITH e AS (SELECT vec_id, label,
        |             [CAST(x AS DOUBLE) for x in embedding] AS v
        |           FROM embeddings),
        |  ex AS (SELECT vec_id, label, v,
        |           unnest(range(1, len(v) + 1)) AS dim1 FROM e),
        |  px AS (SELECT vec_id, label, dim1 - 1 AS dim, v[dim1] AS x FROM ex),
        |  st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM px GROUP BY dim),
        |  qq AS (SELECT p.vec_id, p.label, p.dim,
        |           CASE WHEN s.mx = s.mn THEN 0
        |                ELSE CAST(round((p.x - s.mn) * 255 / (s.mx - s.mn)) AS BIGINT)
        |           END AS q,
        |           CASE WHEN s.mx = s.mn THEN 0.0
        |                ELSE abs(p.x - (s.mn +
        |                  CAST(round((p.x - s.mn) * 255 / (s.mx - s.mn)) AS BIGINT)
        |                    * (s.mx - s.mn) / 255))
        |           END AS err
        |         FROM px p JOIN st s ON s.dim = p.dim)
        |SELECT vec_id, label,
        |  md5(string_agg(CAST(q AS VARCHAR), ',' ORDER BY dim)) AS q_hash,
        |  CAST(sum(q) AS BIGINT) AS q_sum,
        |  max(err) AS max_abs_err
        |FROM qq
        |GROUP BY vec_id, label
        |ORDER BY vec_id""".stripMargin
  )
}
