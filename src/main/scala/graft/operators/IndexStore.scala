package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.io.Jsons

/** Durable on-disk form of the engine's stored indexes and checkpoints —
  * the ONE home of the format. Eight kinds, one [[Codec]] each: MinHash
  * [[Dedup.SignatureIndex]] (`signature`), [[Similarity.IvfIndex]]
  * (`ivf`), [[Similarity.PqIndex]] (`pq`), [[Similarity.IvfPqIndex]]
  * (`ivfpq`), [[Adjacency.Hybrid]] (`graph`), duplicate-cluster labels
  * (`cluster`), [[Postings.Index]] (`postings`) and pipeline-stage frames
  * (`stage`), all through one [[save]], one [[load]] and one zero-job
  * [[committed]] peek.
  *
  * Why: every index here is a build-once-per-corpus-VERSION artifact — at
  * 100 TB the signature/IVF build is hours of cluster time, and a
  * session-scoped cache silently re-pays it in every new job/session. The
  * store writes each index as plain parquet under one directory plus a
  * tiny JSON meta file carrying the index kind, its build parameters, and
  * a CORPUS VERSION STAMP; loading validates the stamp so a stale index
  * (corpus changed under it) is refused, not silently served.
  *
  * Commit protocol: frames first, `_graft_index.json` LAST — the meta file
  * is the commit marker, so a torn write (job died mid-save) is invisible
  * to loaders. Same discipline as a Spark `_SUCCESS` marker, but carrying
  * the validation payload. Overwrite of a live index is atomic-enough for
  * the single-writer (ingest-epoch) ownership model these artifacts have
  * in production; concurrent writers need an external lock, as with any
  * parquet table.
  *
  * All numeric state round-trips EXACTLY: centroids/codebooks are written
  * as parquet `array<double>` rows (never JSON text, which loses bits),
  * so a probe against a loaded index is bit-identical to one against the
  * just-built index (pinned in IndexStoreSpec).
  */
object IndexStore {

  private val MetaFile = "_graft_index.json"

  /** Content stamp of a corpus path: count + MD5 over every data file's
    * (relative path, length, mtime), listing only — no data read, so it is
    * cheap even on a 100-TB table. Conservative by design: a rewritten
    * file with identical bytes changes the stamp and forces a rebuild —
    * the safe direction. Callers with their own release tags (an ingest
    * epoch, a snapshot id) can pass those as the version instead. */
  def corpusVersion(spark: SparkSession, sourcePath: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(sourcePath)
    val fs = p.getFileSystem(conf)
    val root = fs.getFileStatus(p)
    val base = root.getPath.toString
    val files = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    def walk(st: FileStatus): Unit =
      if (st.isDirectory) fs.listStatus(st.getPath).foreach(walk)
      else {
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          files += ((st.getPath.toString.stripPrefix(base), st.getLen,
            st.getModificationTime))
      }
    walk(root)
    listingStamp(files.toSeq)
  }

  /** The one listing-stamp format of [[corpusVersion]] and
    * [[framesVersion]]: the file count, then the MD5 of each
    * `path:length:mtime` line in path order. Committed stores and HTN
    * checkpoints carry these bytes, so the format never changes. */
  private def listingStamp(files: Seq[(String, Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sortBy(_._1).foreach { case (n, len, mt) =>
      md.update(s"$n:$len:$mt\n".getBytes("UTF-8"))
    }
    files.length + ":" + md.digest().map("%02x".format(_)).mkString
  }

  // ---------- the commit marker: a flat JSON string map

  /** Invalidate the commit marker BEFORE touching frames: overwriting a
    * LIVE index would otherwise leave the old, still-valid meta standing
    * while frame directories are mid-rewrite, and a loader racing (or a
    * save dying) between the frame writes would be served a torn mix of
    * old and new frames under the old stamp. Deleting the meta first
    * makes a torn RE-save look exactly like a torn first save: invisible.
    */
  private def invalidateMeta(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  private def writeMeta(spark: SparkSession, dir: String,
                        fields: Seq[(String, String)]): Unit = {
    val p = new Path(dir, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(Jsons.obj(fields).getBytes("UTF-8")) finally out.close()
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.IndexStore")
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  private val stringMap =
    new com.fasterxml.jackson.core.`type`.TypeReference[java.util.Map[String, String]] {}

  /** None when the meta file is absent (index missing or torn write),
    * fails its checksum sidecar, or is not a flat JSON object — a corrupt
    * marker reads as torn, with one WARN naming the dir, rather than
    * failing every reader. */
  private def readMeta(spark: SparkSession, dir: String): Option[Map[String, String]] = {
    val p = new Path(dir, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(json.readValue(in.readAllBytes(), stringMap).asScala.toMap)
      catch {
        case e @ (_: org.apache.hadoop.fs.ChecksumException |
                  _: com.fasterxml.jackson.core.JacksonException) =>
          log.warn(s"index meta under $dir fails its checksum or does not parse; " +
            s"treating the index as torn: $e")
          None
      } finally in.close()
    }
  }

  /** Meta validation shared by every loader: present, right kind, right
    * corpus version (when the caller pins one), and every expected BUILD
    * parameter matching the recorded one. The parameter check matters as
    * much as the stamp: a store populated under nCells=16 serves
    * hash-WRONG probes to a caller who now builds with nCells=32, and the
    * corpus stamp alone would happily hand it over (a parameter mismatch
    * reads as stale → rebuild-and-save, the same path as a corpus bump). */
  private def validMeta(spark: SparkSession, dir: String, kind: String,
                        expectedVersion: Option[String],
                        expectedParams: Map[String, String])
      : Option[Map[String, String]] =
    readMeta(spark, dir).filter { m =>
      m.get("kind").contains(kind) &&
        expectedVersion.forall(v => m.get("corpus_version").contains(v)) &&
        expectedParams.forall { case (k, v) => m.get(k).contains(v) }
    }

  // ---------- one codec per stored kind

  /** How one kind maps onto the format. A save writes each of [[frames]]
    * as `dir/<name>` parquet and records its schema under [[schemaKey]],
    * writes the vector models ([[centroids]], [[codebooks]]) through the
    * one writer each, and records `kind`, the version stamp, [[scalars]]
    * and the caller's params in the meta. [[read]] rebuilds the value
    * from a [[Reader]] over that meta. */
  trait Codec[A] {
    def kind: String
    def frames(a: A): Seq[(String, DataFrame)]
    /** A frame whose schema is recorded but whose data is not written
      * (the hub-free graph's empty layouts). */
    def stored(a: A, frame: String): Boolean = true
    def scalars(a: A): Seq[(String, Any)] = Nil
    def centroids(a: A): Option[Array[Array[Double]]] = None
    def codebooks(a: A): Option[Array[Array[Array[Double]]]] = None
    def read(r: Reader): A
    def release(a: A): Unit
    def schemaKey(frame: String): String = s"${frame}_schema"
    /** Index kinds persist the frames a load reads and count
      * `<kind>.disk.{save,hit,miss}` in [[IndexStats]]; a stage
      * checkpoint does neither. */
    def cached: Boolean = true
  }

  /** A committed store's meta plus readers of its frames and models.
    * [[frame]] is a lazy parquet read with the schema RECORDED AT SAVE
    * TIME: no footer inference, so a load runs ZERO Spark jobs (pinned in
    * IndexStoreSpec) — and at scale, no listing/footer pass either. */
  final class Reader private[IndexStore] (spark: SparkSession, dir: String,
      meta: Map[String, String], codec: Codec[_]) {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    def apply(key: String): String = meta(key)
    def int(key: String): Int = meta(key).toInt
    def long(key: String): Long = meta(key).toLong

    private def schema(frame: String): StructType =
      DataType.fromJson(meta(codec.schemaKey(frame))).asInstanceOf[StructType]

    def frame(name: String): DataFrame = {
      val df = spark.read.schema(schema(name)).parquet(s"$dir/$name")
      if (codec.cached) held += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

    /** An empty frame of a recorded-but-unwritten frame's schema. */
    def empty(name: String): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema(name))

    /** Unpersists every frame this reader persisted. */
    val release: () => Unit = () => { held.foreach(_.unpersist()); () }

    /** The ONE on-disk-centroid decode (ivf and ivfpq loads and the
      * tiered minors' model reads), so a layout change cannot give minors
      * a different model than readers probe with. */
    def centroids: Array[Array[Double]] = {
      val cs = spark.read.parquet(s"$dir/centroids").collect()
        .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
      require(cs.length == int("n_cells"),
        s"${codec.kind} index at $dir: ${cs.length} centroids, meta says ${meta("n_cells")}")
      cs
    }

    /** The ONE on-disk-codebook decode (pq and ivfpq). */
    def codebooks: Array[Array[Array[Double]]] = {
      val (m, k) = (int("m"), int("k"))
      val rows = spark.read.parquet(s"$dir/codebooks").collect()
      require(rows.length == m * k,
        s"${codec.kind} index at $dir: ${rows.length} codebook rows, meta says ${m * k}")
      val books = Array.ofDim[Array[Double]](m, k)
      rows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
      books
    }
  }

  /** MinHash [[Dedup.SignatureIndex]]. */
  val signature: Codec[Dedup.SignatureIndex] = new Codec[Dedup.SignatureIndex] {
    val kind = "signature"
    def frames(i: Dedup.SignatureIndex) = Seq("sigs" -> i.sigs, "buckets" -> i.buckets)
    override def scalars(i: Dedup.SignatureIndex) =
      Seq("k" -> i.k, "bands" -> i.bands, "shingle_width" -> i.shingleWidth)
    def read(r: Reader) = Dedup.SignatureIndex(r.int("k"), r.int("bands"),
      r.int("shingle_width"), r.frame("sigs"), r.frame("buckets"), r.release)
    def release(i: Dedup.SignatureIndex): Unit = i.release()
  }

  /** [[Similarity.IvfIndex]]: the centroid model is tiny (nCells × dim
    * doubles) and collected eagerly; the assignment is a lazy read. */
  val ivf: Codec[Similarity.IvfIndex] = new Codec[Similarity.IvfIndex] {
    val kind = "ivf"
    def frames(i: Similarity.IvfIndex) = Seq("assigned" -> i.assigned)
    override def scalars(i: Similarity.IvfIndex) = Seq("n_cells" -> i.nCells)
    override def centroids(i: Similarity.IvfIndex) = Some(i.centroids)
    def read(r: Reader) = {
      val cs = r.centroids
      Similarity.IvfIndex(cs, cs.length, r.frame("assigned"), r.release)
    }
    def release(i: Similarity.IvfIndex): Unit = i.release()
  }

  /** [[Similarity.PqIndex]]: codebooks collected, codes lazy. */
  val pq: Codec[Similarity.PqIndex] = new Codec[Similarity.PqIndex] {
    val kind = "pq"
    def frames(i: Similarity.PqIndex) = Seq("encoded" -> i.encoded)
    override def scalars(i: Similarity.PqIndex) =
      Seq("m" -> i.m, "k" -> i.k, "sub_dim" -> i.subDim)
    override def codebooks(i: Similarity.PqIndex) = Some(i.codebooks)
    def read(r: Reader) = Similarity.PqIndex(r.codebooks, r.int("m"), r.int("k"),
      r.int("sub_dim"), r.frame("encoded"), r.release)
    def release(i: Similarity.PqIndex): Unit = i.release()
  }

  /** The two-stage IVFADC [[Similarity.IvfPqIndex]]: BOTH models through
    * the same centroid/codebook writers and readers as ivf and pq, so the
    * layouts can never drift. */
  val ivfPq: Codec[Similarity.IvfPqIndex] = new Codec[Similarity.IvfPqIndex] {
    val kind = "ivfpq"
    def frames(i: Similarity.IvfPqIndex) = Seq("coded" -> i.coded)
    override def scalars(i: Similarity.IvfPqIndex) =
      Seq("n_cells" -> i.nCells, "m" -> i.m, "k" -> i.k, "sub_dim" -> i.subDim)
    override def centroids(i: Similarity.IvfPqIndex) = Some(i.centroids)
    override def codebooks(i: Similarity.IvfPqIndex) = Some(i.codebooks)
    def read(r: Reader) = {
      val cs = r.centroids
      Similarity.IvfPqIndex(cs, cs.length, r.codebooks, r.int("m"), r.int("k"),
        r.int("sub_dim"), r.frame("coded"), r.release)
    }
    def release(i: Similarity.IvfPqIndex): Unit = i.release()
  }

  /** [[Adjacency.Hybrid]]: both layouts plus the hub degree frame, with
    * the measured counts in the meta — so a load re-runs none of the
    * build's count passes. The flat/hubDeg frames are written only when
    * hubs exist; a hub-free graph stores one parquet directory and its
    * load rebuilds the empty frames from their recorded schemas. */
  val graph: Codec[Adjacency.Hybrid] = new Codec[Adjacency.Hybrid] {
    val kind = "graph"
    def frames(h: Adjacency.Hybrid) =
      Seq("array_adj" -> h.arrayAdj, "flat" -> h.flat, "hub_deg" -> h.hubDeg)
    override def stored(h: Adjacency.Hybrid, frame: String) =
      frame == "array_adj" || h.hubCount > 0
    override def scalars(h: Adjacency.Hybrid) = Seq("weighted" -> h.weighted,
      "hub_count" -> h.hubCount, "src_count" -> h.srcCount,
      "edge_count" -> h.edgeCount, "bcast_limit" -> h.bcastLimit)
    def read(r: Reader) = {
      val hubCount = r.long("hub_count")
      def hubFrame(name: String) = if (hubCount > 0) r.frame(name) else r.empty(name)
      Adjacency.Hybrid(r("weighted").toBoolean, r.frame("array_adj"),
        hubFrame("flat"), hubFrame("hub_deg"), hubCount, r.long("src_count"),
        r.long("edge_count"), r.release, bcastLimit = r.long("bcast_limit"))
    }
    def release(h: Adjacency.Hybrid): Unit = h.release()
  }

  /** Duplicate-cluster labels: a plain keyed frame. */
  val cluster: Codec[DataFrame] = new Codec[DataFrame] {
    val kind = "cluster"
    def frames(labels: DataFrame) = Seq("labels" -> labels)
    def read(r: Reader) = r.frame("labels")
    def release(labels: DataFrame): Unit = { labels.unpersist(); () }
  }

  /** BM25 [[Postings.Index]]: tf + dl frames with the measured corpus
    * stats (n_docs, sum_dl) in the meta, so probes size their idf/avgdl
    * exactly as against a just-built index. */
  val postings: Codec[Postings.Index] = new Codec[Postings.Index] {
    val kind = "postings"
    def frames(i: Postings.Index) = Seq("tf" -> i.tf, "dl" -> i.dl)
    override def scalars(i: Postings.Index) = Seq("n_docs" -> i.nDocs, "sum_dl" -> i.sumDl)
    def read(r: Reader) = Postings.Index(r.frame("tf"), r.frame("dl"),
      r.long("n_docs"), r.long("sum_dl"), r.release)
    def release(i: Postings.Index): Unit = i.release()
  }

  /** ONE versioned pipeline-stage frame (HtnPipeline's restart
    * checkpoints, the tiered rolls' L0 deltas, the aHash index): the
    * index discipline applied to stage checkpoints, so a restarted
    * pipeline can PROVE a checkpoint is current instead of assuming it.
    * Loads are lazy and unpersisted, and count nothing. */
  val stage: Codec[DataFrame] = new Codec[DataFrame] {
    val kind = "stage"
    def frames(df: DataFrame) = Seq("data" -> df)
    override def schemaKey(frame: String) = "schema"
    override def cached = false
    def read(r: Reader) = r.frame("data")
    def release(df: DataFrame): Unit = ()
  }

  // ---------- save, load, peek

  /** Write `a` under `dir`, stamped with `version` and `params`: meta
    * invalidated first, frames and models, then the meta LAST. A param
    * already recorded natively (a signature index's `k`) is recorded
    * once, and must agree with the native value. */
  def save[A](spark: SparkSession, codec: Codec[A], a: A, dir: String,
              version: String, params: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    invalidateMeta(spark, dir)
    val frames = codec.frames(a)
    frames.foreach { case (name, df) =>
      if (codec.stored(a, name)) df.write.mode("overwrite").parquet(s"$dir/$name")
    }
    def writeModel(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    codec.centroids(a).foreach(cs => writeModel("centroids",
      cs.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq.toDF("cell", "vec")))
    codec.codebooks(a).foreach(books => writeModel("codebooks", (for {
      (book, ms) <- books.zipWithIndex
      (v, c) <- book.zipWithIndex
    } yield (ms, c, v.toSeq)).toSeq.toDF("m", "c", "vec")))
    val native = Seq("kind" -> codec.kind, "corpus_version" -> version) ++
      codec.scalars(a).map { case (k, v) => k -> v.toString } ++
      frames.map { case (name, df) => codec.schemaKey(name) -> df.schema.json }
    val nativeMap = native.toMap
    require(params.forall { case (k, v) => nativeMap.get(k).forall(_ == v) },
      s"${codec.kind} params $params contradict the recorded ${nativeMap - "corpus_version"}")
    writeMeta(spark, dir,
      native ++ params.toSeq.sorted.filterNot(p => nativeMap.contains(p._1)))
    if (codec.cached) IndexStats.inc(s"${codec.kind}.disk.save")
  }

  /** Load a stored value; `None` on a missing, torn, version-stale or
    * parameter-mismatched store (each reads as "rebuild"). Pure plan
    * construction — ZERO Spark jobs (pinned in IndexStoreSpec); an index
    * kind's frames are persisted so repeated probes pay the scan once,
    * and its `release()` unpersists them. */
  def load[A](spark: SparkSession, codec: Codec[A], dir: String,
              expectedVersion: Option[String] = None,
              expectedParams: Map[String, String] = Map.empty): Option[A] = {
    val out = validMeta(spark, dir, codec.kind, expectedVersion, expectedParams)
      .map(m => codec.read(new Reader(spark, dir, m, codec)))
    if (codec.cached)
      IndexStats.inc(s"${codec.kind}.disk.${if (out.isDefined) "hit" else "miss"}")
    out
  }

  /** Zero-job peek at a committed, `codec`-kinded, parameter-matching
    * store (listing and the meta only, no counter): the tiered rolls'
    * commit-marker check. Its reader serves the model-only reads the
    * tiered minors need (`_.centroids`, `_.codebooks` and scalars) without
    * persisting a frame. */
  def committed[A](spark: SparkSession, codec: Codec[A], dir: String,
                   params: Map[String, String] = Map.empty): Option[Reader] =
    validMeta(spark, dir, codec.kind, None, params)
      .map(new Reader(spark, dir, _, codec))

  /** Conf key consulted by the query-level caches: when set to a store
    * root, indexes are served from disk across sessions/jobs (and written
    * there on first build) instead of living only in the session cache. */
  val IndexDirConf = "spark.graft.indexDir"

  /** Version stamp over the INPUT FILES of a set of frames — the
    * [[corpusVersion]] discipline for pipelines whose inputs arrive as
    * DataFrames rather than one corpus path (HtnPipeline's six OMOP
    * tables): per-file (path, length, mtime) hashed in sorted order,
    * listing-only. `None` when any frame has no file inputs (in-memory /
    * synthetic source — unversionable, so callers must fall back to
    * always-rewrite, the safe direction). */
  def framesVersion(spark: SparkSession,
                    frames: Seq[org.apache.spark.sql.DataFrame])
      : Option[String] = {
    val perFrame = frames.map(_.inputFiles.toSeq)
    if (perFrame.exists(_.isEmpty)) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      Some(listingStamp(perFrame.flatten.map { f =>
        val p = new Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        (f, st.getLen, st.getModificationTime)
      }))
    }
  }

  /** Sum of parquet-footer row counts of the `.parquet` files directly
    * under `dir` (0 when the dir is absent/empty) — a driver-side
    * listing + footer peek, ZERO Spark jobs. Sizes the tiered majors'
    * maintenance windows from already-committed epoch data: the standing
    * tier's row count is in its files' footers, so a major can be
    * [[Checkpoints.sized]] by standing+delta without paying a count job
    * over the standing frames. Cost on an
    * object store is one footer GET per file — the same order as the
    * meta peeks the roll already does per epoch. */
  def parquetRowCount(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, spark.sessionState.newHadoopConf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** MD5 hex of a UTF-8 string — the one digest idiom behind
    * [[storePath]], the HtnPipeline codelist stamp, and friends. */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Stable store subdirectory for (kind, corpus path) under a root — the
    * corpus path is hashed so one root can hold indexes of many corpora. */
  def storePath(root: String, kind: String, sourcePath: String): String =
    s"$root/${kind}_${md5Hex(sourcePath).take(10)}"

  // ---------- load-or-build (the one path every query-level index takes)

  /** The production access pattern in one call. With `spark.graft.indexDir`
    * unset, plain `build`. Otherwise serve the index from the
    * per-(slot, corpus) store dir under that root when its stamp matches
    * the CURRENT corpus version of `sourcePath` AND its recorded build
    * parameters match `params`; else build, and save the result stamped
    * with the version and `params`, so the next session's load accepts it.
    * `slot` names the store dir, so one source table can carry several
    * indexes of one kind (d06's and d13's signature slices, the
    * co-purchase graphs) without collision. */
  def fromConf[A](spark: SparkSession, codec: Codec[A], slot: String,
                  sourcePath: String, params: Map[String, String] = Map.empty)(
      build: => A): A =
    spark.conf.get(IndexDirConf, "") match {
      case "" => build
      case root =>
        val dir = storePath(root, slot, sourcePath)
        val v = corpusVersion(spark, sourcePath)
        load(spark, codec, dir, Some(v), params).getOrElse {
          val idx = build
          save(spark, codec, idx, dir, v, params)
          idx
        }
    }
}
