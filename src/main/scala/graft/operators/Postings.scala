package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Standing lexical (inverted-postings) index for BM25-style retrieval:
  * term frequencies `tf(doc_id, tok, tf)`, document lengths
  * `dl(doc_id, dl)`, and the measured corpus stats (`nDocs`, `sumDl`)
  * every probe's idf/length-norm needs — the lexical sibling of
  * [[Adjacency.Hybrid]] (graph) and [[Similarity.IvfIndex]] (vector).
  *
  * Why an index: the corpus-scale cost of BM25 is TOKENIZATION — a pass
  * over every text byte plus two corpus-wide aggregates. The postings are
  * far smaller than the raw text, so building once per ingest epoch and
  * probing per query is the only shape that survives 100 TB. The index
  * round-trips through [[IndexStore.postings]] (counts in the
  * meta, zero-job loads) and folds per-batch deltas with [[foldDocs]] at
  * a cost proportional to |Δ| text + one pass over the COMPACT standing
  * frames (never the standing text).
  */
object Postings {

  /** @param nDocs measured document count (exact, from the build/fold)
    * @param sumDl measured total token count — `sumDl.toDouble / nDocs`
    *              is the avgdl every consumer must use, in exactly that
    *              operation order (one long→double conversion each, one
    *              IEEE division) so engine and oracle agree bitwise
    * @param release frees THIS index's persisted frames only (the
    *                foldEdges ownership contract: a folded index owns its
    *                storage; the standing input is releasable as soon as
    *                foldDocs returns) */
  final case class Index(tf: DataFrame, dl: DataFrame,
                         nDocs: Long, sumDl: Long,
                         release: () => Unit)

  private def toks(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")

  /** Tokenize + aggregate a corpus into a standing index. ONE
    * tokenization pass — the corpus-scale term: `tf` is the only
    * aggregate that reads raw tokens (map-side-partial, shuffled on
    * (doc, tok)); `dl` derives from the persisted COMPACT tf
    * (`dl = Σ tf per doc` — identical values to counting raw tokens,
    * postings-sized work instead of text-sized), and the stats pass rides
    * the dl materialization. Whitespace tokenization matches the
    * engine-wide contract (t01/t16/t37 and their oracles). */
  def build(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): Index = {
    val tf = toks(docs, idCol, textCol)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE job materializes everything: the stats scan reads dl, whose
    // groupBy reads tf — both caches fill (and any build failure fires
    // eagerly, the Index contract) on this single pass over text bytes
    val r = dl.agg(coalesce(sum(col("dl")), lit(0L)).as("sum_dl"),
      count(lit(1)).as("n_docs")).collect()(0)
    Index(tf, dl, r.getLong(1), r.getLong(0),
      () => { tf.unpersist(); dl.unpersist(); () })
  }

  /** Fold a delta batch of documents into a standing index, REPLACEMENT
    * semantics: a delta doc_id already present replaces its standing
    * postings (re-ingested / edited documents), a new doc_id appends.
    * Contract: doc_ids are unique WITHIN a batch — duplicate rows merge
    * their token counts (exactly as [[build]] would merge them in a full
    * rebuild, so fold ≡ rebuild still holds), which is concatenation, not
    * last-writer-wins; callers needing LWW resolve the batch first (the
    * [[Merge]] upsert pattern).
    *
    * Cost shape: the delta tokenizes and aggregates at |Δ| text; the
    * standing side pays one marker-join stats pass over `dl` (doc-grain,
    * ≪ postings) and the anti-join pass-throughs over the COMPACT tf/dl
    * frames when the fold materializes — never a re-tokenization of
    * standing text, which is the corpus-scale term. Counts fold in
    * closed form (nDocs − replaced + |Δ|), so no consumer re-aggregates.
    * The folded index owns its frames: both inputs are releasable
    * immediately after return. */
  def foldDocs(standing: Index, deltaDocs: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               broadcastRowLimit: Long = Adjacency.BroadcastRowLimit): Index = {
    val delta = build(deltaDocs, idCol, textCol)
    // replaced ids come from the delta DOCS, not the delta postings: a
    // re-ingested doc whose new text is empty carries no postings/dl row
    // but must still RETRACT its standing postings (edit-to-empty is a
    // delete)
    val ids = deltaDocs.select(col(idCol).as("doc_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nIds = ids.count()
    val idsB = if (nIds <= broadcastRowLimit) broadcast(ids) else ids
    // replaced-doc bookkeeping: ONE pass over standing.dl via marker join
    val r = standing.dl
      .join(idsB.withColumn("__t", lit(1)), Seq("doc_id"), "left")
      .agg(count(col("__t")).as("n_repl"),
        coalesce(sum(when(col("__t").isNotNull, col("dl"))), lit(0L))
          .as("repl_dl"))
      .collect()(0)
    val (nRepl, replDl) = (r.getLong(0), r.getLong(1))
    val newTf = standing.tf.join(idsB, Seq("doc_id"), "left_anti")
      .unionByName(delta.tf)
      .persist(StorageLevel.MEMORY_AND_DISK)
    newTf.count()
    val newDl = standing.dl.join(idsB, Seq("doc_id"), "left_anti")
      .unionByName(delta.dl)
      .persist(StorageLevel.MEMORY_AND_DISK)
    newDl.count()
    val out = Index(newTf, newDl,
      standing.nDocs - nRepl + delta.nDocs,
      standing.sumDl - replDl + delta.sumDl,
      () => { newTf.unpersist(); newDl.unpersist(); () })
    delta.release()
    ids.unpersist()
    out
  }

  /** One batch of documents as a SELF-CONTAINED tier frame
    * `(doc_id, tok, tf, dl)` — the lex tiered roll's L0 payload:
    * token-bearing docs carry one row per distinct token with the doc's
    * total `dl` repeated; token-FREE docs (deletes / empty re-ingests)
    * carry exactly one `(doc_id, NULL, NULL, NULL)` row, so their
    * retraction of older tiers survives the parquet round-trip (the
    * [[foldDocs]] edit-to-empty contract, tier-shaped). Work linear in
    * |Δ| text; same within-batch doc_id-uniqueness contract as foldDocs. */
  def tierFrame(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    // ONE tokenization pass, ONE tf subtree (the build() discipline): dl
    // rides tf as a doc-grain window sum, and the tombstone rows come
    // from the SAME subtree via the ids LEFT JOIN — a token-free doc
    // matches no postings row and surfaces as exactly one all-NULL row.
    // (The first cut unioned an anti-join branch instead; its
    // column-pruned tf copy defeated exchange reuse and re-tokenized the
    // batch per action — review finding.)
    val withDl = toks(docs, idCol, textCol)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("dl",
        sum(col("tf")).over(org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id")))
    docs.select(col(idCol).as("doc_id")).distinct()
      .join(withDl, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
  }

  /** Merge a standing index with a stack of [[tierFrame]] tiers (ascending
    * epoch order) into ONE logical index — the lex tiered roll's read path
    * and its major compaction. Semantics are exactly a sequential
    * [[foldDocs]] chain: a doc_id in any tier SHADOWS its standing
    * postings, and among tiers the NEWEST version wins (last-writer-wins
    * at doc grain — an LSM point-lookup rule, resolved set-wide here
    * because tiers are |Δ|-sized).
    *
    * Cost shape: three doc-grain jobs at merge time (the tier union's
    * materialization + the two closed-form stats aggregates — one
    * marker-join pass over standing `dl`, one over the winning tier rows);
    * the returned tf/dl are LAZY plans (standing anti-join ∪ winners), so
    * probes pay one |Δ|-sized hash anti-join — never a corpus rewrite.
    * The merged index does NOT own the standing input (a read view over a
    * held L1 handle); `release()` frees only the tier union's persist. */
  def mergeTiers(standing: Index, tiers: Seq[(Long, DataFrame)],
                 broadcastRowLimit: Long = Adjacency.BroadcastRowLimit): Index = {
    if (tiers.isEmpty)
      return Index(standing.tf, standing.dl, standing.nDocs, standing.sumDl,
        () => ())
    val u = tiers.map { case (e, f) => f.withColumn("__e", lit(e)) }
      .reduce(_ unionByName _)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try mergeOverUnion(standing, u, broadcastRowLimit)
    catch { case t: Throwable => u.unpersist(); throw t }
  }

  /** [[mergeTiers]]' body after the tier-union persist — split out so a
    * throw anywhere in the stats jobs unpersists the handles instead of
    * stranding them (the sweepingOnFailure discipline, scoped to what
    * this function owns).
    *
    * The LWW winners (`latest`) are materialized ONCE and the tier union
    * released as soon as they are: every downstream consumer — both stats
    * aggregates, the returned lazy tf/dl plans, and the major's two
    * epoch writes — used to re-run the win-join (plus its broadcast
    * subquery) per action, which multiplied the merge's |Δ| work by the
    * consumer count (measured 5× on t40's major). The persisted frame is
    * |Δ|-sized, so the swap holds at 100 TB. */
  private def mergeOverUnion(standing: Index, u: DataFrame,
                             broadcastRowLimit: Long): Index = {
    // LWW at doc grain: the newest tier containing a doc owns it
    val win = u.groupBy("doc_id").agg(max(col("__e")).as("__e"))
    val nIds = win.count() // one |Δ| doc-grain job; materializes u too
    val small = nIds <= broadcastRowLimit
    def b(df: DataFrame) = if (small) broadcast(df) else df
    val latest = u.join(b(win), Seq("doc_id", "__e")).drop("__e")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // closed-form stats, the foldDocs math applied once across the
      // stack: docs surviving from standing = nDocs − (standing dl-docs ∩
      // tier ids); docs contributed by tiers = token-bearing winners.
      // The d-stats job is latest's materializer; u is released right
      // after — every remaining plan reads only the compact winners.
      val d = latest.filter(col("tok").isNotNull)
        .select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("s"))
        .collect()(0)
      u.unpersist()
      val ids = latest.select("doc_id").distinct()
      val idsB = b(ids)
      val r = standing.dl
        .join(idsB.withColumn("__t", lit(1)), Seq("doc_id"), "left")
        .agg(count(col("__t")).as("n_repl"),
          coalesce(sum(when(col("__t").isNotNull, col("dl"))), lit(0L))
            .as("repl_dl"))
        .collect()(0)
      val newTf = standing.tf.join(idsB, Seq("doc_id"), "left_anti")
        .unionByName(latest.filter(col("tok").isNotNull)
          .select(col("doc_id"), col("tok"), col("tf")))
      val newDl = standing.dl.join(idsB, Seq("doc_id"), "left_anti")
        .unionByName(latest.filter(col("tok").isNotNull)
          .select(col("doc_id"), col("dl")).distinct())
      Index(newTf, newDl,
        standing.nDocs - r.getLong(0) + d.getLong(0),
        standing.sumDl - r.getLong(1) + d.getLong(1),
        () => { latest.unpersist(); () })
    } catch { case t: Throwable => latest.unpersist(); throw t }
  }
}
