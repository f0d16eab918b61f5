package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Durable on-disk form of the engine's corpus indexes (r8 verdict task):
  * MinHash [[Dedup.SignatureIndex]], [[Similarity.IvfIndex]],
  * [[Similarity.PqIndex]], and duplicate-cluster label tables.
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
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sortBy(_._1).foreach { case (n, len, mt) =>
      md.update(s"$n:$len:$mt\n".getBytes("UTF-8"))
    }
    files.length + ":" + md.digest().map("%02x".format(_)).mkString
  }

  // ---------- tiny JSON meta (flat string map — no nested values needed)

  private def jsonStr(s: String): String = graft.io.Jsons.str(s)

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
    try out.write(fields.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}").getBytes("UTF-8"))
    finally out.close()
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.IndexStore")

  /** None when the meta file is absent (index missing or torn write) or
    * fails its checksum sidecar — a corrupt marker reads as torn, with
    * one WARN naming the dir, rather than failing every reader. */
  private def readMeta(spark: SparkSession, dir: String): Option[Map[String, String]] = {
    val p = new Path(dir, MetaFile)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try {
        val bs = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bs.write(buf, 0, n); n = in.read(buf) }
        bs.toString("UTF-8")
      } catch { case e: org.apache.hadoop.fs.ChecksumException =>
        log.warn(s"index meta under $dir fails its checksum; treating the index as torn: $e")
        return None
      } finally in.close()
      // flat {"k":"v",...} parser for exactly what writeMeta emits
      val m = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      def unesc(s: String): String = {
        val b = new StringBuilder
        var i = 0
        while (i < s.length) {
          if (s(i) == '\\' && i + 1 < s.length) {
            s(i + 1) match {
              case 'n' => b += '\n'; i += 2
              case 'r' => b += '\r'; i += 2
              case 't' => b += '\t'; i += 2
              case 'u' => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
              case c   => b += c; i += 2
            }
          } else { b += s(i); i += 1 }
        }
        b.result()
      }
      Some(m.findAllMatchIn(text).map(g => unesc(g.group(1)) -> unesc(g.group(2))).toMap)
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
                        expectedParams: Map[String, String] = Map.empty)
      : Option[Map[String, String]] =
    readMeta(spark, dir).filter { m =>
      m.get("kind").contains(kind) &&
        expectedVersion.forall(v => m.get("corpus_version").contains(v)) &&
        expectedParams.forall { case (k, v) => m.get(k).contains(v) }
    }

  // ---------- MinHash signature index

  /** Lazy parquet read with the schema RECORDED AT SAVE TIME: no footer
    * inference, so loading an index runs ZERO Spark jobs (pinned in
    * IndexStoreSpec) — and at scale, no listing/footer pass either. */
  private def readFrame(spark: SparkSession, path: String, schemaJson: String): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .parquet(path)


  def saveSignatureIndex(spark: SparkSession, idx: Dedup.SignatureIndex,
                         dir: String, corpusVersion: String,
                         params: Map[String, String] = Map.empty): Unit = {
    invalidateMeta(spark, dir)
    idx.sigs.write.mode("overwrite").parquet(s"$dir/sigs")
    idx.buckets.write.mode("overwrite").parquet(s"$dir/buckets")
    writeMeta(spark, dir, Seq(
      "kind" -> "signature", "corpus_version" -> corpusVersion,
      "k" -> idx.k.toString, "bands" -> idx.bands.toString,
      "shingle_width" -> idx.shingleWidth.toString,
      "sigs_schema" -> idx.sigs.schema.json,
      "buckets_schema" -> idx.buckets.schema.json) ++ params.toSeq.sorted)
    IndexStats.inc("signature.disk.save")
  }

  /** Load a signature index; `None` on missing/torn/stale store. Pure plan
    * construction — ZERO Spark jobs (pinned in IndexStoreSpec): the frames
    * are lazy parquet reads, persisted so repeated probes pay the scan
    * once; `release()` unpersists them. */
  def loadSignatureIndex(spark: SparkSession, dir: String,
                         expectedVersion: Option[String] = None,
                         expectedParams: Map[String, String] = Map.empty)
      : Option[Dedup.SignatureIndex] = {
    val out = validMeta(spark, dir, "signature", expectedVersion, expectedParams).map { m =>
      val sigs = readFrame(spark, s"$dir/sigs", m("sigs_schema"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val buckets = readFrame(spark, s"$dir/buckets", m("buckets_schema"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      Dedup.SignatureIndex(m("k").toInt, m("bands").toInt, m("shingle_width").toInt,
        sigs, buckets, () => { sigs.unpersist(); buckets.unpersist(); () })
    }
    IndexStats.inc(s"signature.disk.${if (out.isDefined) "hit" else "miss"}")
    out
  }

  /** Zero-job validity peek at a stored signature index (the
    * [[ivfIndexMeta]] / [[graphIndexMeta]] shape): the meta map when
    * present, `signature`-kinded, and parameter-matching — the tiered
    * dedup roll's commit-marker check, no frame load or persist. */
  def loadSignatureIndexMeta(spark: SparkSession, dir: String,
                             expectedParams: Map[String, String] = Map.empty)
      : Option[Map[String, String]] =
    validMeta(spark, dir, "signature", None, expectedParams)

  // ---------- IVF index

  def saveIvfIndex(spark: SparkSession, idx: Similarity.IvfIndex,
                   dir: String, corpusVersion: String,
                   params: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    invalidateMeta(spark, dir)
    idx.assigned.write.mode("overwrite").parquet(s"$dir/assigned")
    idx.centroids.zipWithIndex
      .map { case (v, c) => (c, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    writeMeta(spark, dir, Seq(
      "kind" -> "ivf", "corpus_version" -> corpusVersion,
      "n_cells" -> idx.nCells.toString,
      "assigned_schema" -> idx.assigned.schema.json) ++ params.toSeq.sorted)
    IndexStats.inc("ivf.disk.save")
  }

  /** The committed meta of an IVF index directory, when present,
    * well-formed, and parameter-matching — the [[graphIndexMeta]] twin the
    * vector epoch roll uses to pick the newest valid epoch and detect an
    * already-folded batch without constructing (and persisting) the
    * frames. Listing only, no Spark jobs. */
  def ivfIndexMeta(spark: SparkSession, dir: String,
                   expectedParams: Map[String, String] = Map.empty)
      : Option[Map[String, String]] =
    validMeta(spark, dir, "ivf", None, expectedParams)

  /** Load ONLY the centroid model of a committed IVF epoch — the tiered
    * vector roll's minor path needs the standing quantizer to assign a
    * delta, and paying [[loadIvfIndex]]'s persisted assignment handle for
    * that would leak a cache entry per minor. One tiny parquet read
    * (nCells × dim doubles), no persistent handles, `None` on
    * absent/torn/mismatched meta. */
  def loadIvfCentroids(spark: SparkSession, dir: String,
                       expectedParams: Map[String, String] = Map.empty)
      : Option[Array[Array[Double]]] =
    validMeta(spark, dir, "ivf", None, expectedParams)
      .map(m => readCentroids(spark, dir, m))

  /** The ONE on-disk-centroid decode — shared by [[loadIvfCentroids]] and
    * [[loadIvfIndex]] so a layout change cannot give minors a different
    * model than readers probe with. */
  private def readCentroids(spark: SparkSession, dir: String,
                            meta: Map[String, String]): Array[Array[Double]] = {
    val centroids = spark.read.parquet(s"$dir/centroids")
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
    require(centroids.length == meta("n_cells").toInt,
      s"ivf index at $dir: ${centroids.length} centroids, meta says ${meta("n_cells")}")
    centroids
  }

  /** Load an IVF index. The centroid model is tiny (nCells × dim doubles)
    * and is collected eagerly; the assignment stays a lazy persisted
    * parquet read. */
  def loadIvfIndex(spark: SparkSession, dir: String,
                   expectedVersion: Option[String] = None,
                   expectedParams: Map[String, String] = Map.empty)
      : Option[Similarity.IvfIndex] = {
    val out = validMeta(spark, dir, "ivf", expectedVersion, expectedParams).map { m =>
      val centroids = readCentroids(spark, dir, m)
      val assigned = readFrame(spark, s"$dir/assigned", m("assigned_schema"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      Similarity.IvfIndex(centroids, centroids.length, assigned,
        () => { assigned.unpersist(); () })
    }
    IndexStats.inc(s"ivf.disk.${if (out.isDefined) "hit" else "miss"}")
    out
  }

  // ---------- PQ index

  def savePqIndex(spark: SparkSession, idx: Similarity.PqIndex,
                  dir: String, corpusVersion: String,
                  params: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    invalidateMeta(spark, dir)
    idx.encoded.write.mode("overwrite").parquet(s"$dir/encoded")
    (for {
      (book, ms) <- idx.codebooks.zipWithIndex
      (v, c) <- book.zipWithIndex
    } yield (ms, c, v.toSeq)).toSeq
      .toDF("m", "c", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    writeMeta(spark, dir, Seq(
      "kind" -> "pq", "corpus_version" -> corpusVersion,
      "m" -> idx.m.toString, "k" -> idx.k.toString,
      "sub_dim" -> idx.subDim.toString,
      "encoded_schema" -> idx.encoded.schema.json) ++ params.toSeq.sorted)
    IndexStats.inc("pq.disk.save")
  }

  /** Zero-job validity peek at a stored PQ index (the ivfIndexMeta /
    * graphIndexMeta shape): the meta map when present, `pq`-kinded, and
    * matching every expected parameter — the epoch-roll commit check. */
  def pqIndexMeta(spark: SparkSession, dir: String,
                  expectedParams: Map[String, String] = Map.empty)
      : Option[Map[String, String]] =
    validMeta(spark, dir, "pq", expectedVersion = None, expectedParams)

  /** Load ONLY the codebook model of a committed PQ epoch — the tiered
    * PQ roll's minor path needs the standing quantizer to encode a delta,
    * and paying [[loadPqIndex]]'s persisted encoded handle for that would
    * leak a cache entry per minor. One tiny parquet read (m·k rows), no
    * persistent handles; returns `(codebooks, m, k, subDim)`, `None` on
    * absent/torn/mismatched meta. */
  def loadPqCodebooks(spark: SparkSession, dir: String,
                      expectedParams: Map[String, String] = Map.empty)
      : Option[(Array[Array[Array[Double]]], Int, Int, Int)] =
    validMeta(spark, dir, "pq", expectedVersion = None, expectedParams).map { meta =>
      (readCodebooks(spark, dir, meta), meta("m").toInt, meta("k").toInt,
        meta("sub_dim").toInt)
    }

  /** The ONE on-disk-codebook decode — shared by [[loadPqCodebooks]] and
    * [[loadPqIndex]] (the readCentroids rationale, PQ-shaped). */
  private def readCodebooks(spark: SparkSession, dir: String,
                            meta: Map[String, String]): Array[Array[Array[Double]]] = {
    val (m, k) = (meta("m").toInt, meta("k").toInt)
    val rows = spark.read.parquet(s"$dir/codebooks").collect()
    require(rows.length == m * k,
      s"pq index at $dir: ${rows.length} codebook rows, meta says ${m * k}")
    val codebooks = Array.ofDim[Array[Double]](m, k)
    rows.foreach(r => codebooks(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    codebooks
  }

  def loadPqIndex(spark: SparkSession, dir: String,
                  expectedVersion: Option[String] = None,
                  expectedParams: Map[String, String] = Map.empty)
      : Option[Similarity.PqIndex] = {
    val out = validMeta(spark, dir, "pq", expectedVersion, expectedParams).map { meta =>
      val codebooks = readCodebooks(spark, dir, meta)
      val encoded = readFrame(spark, s"$dir/encoded", meta("encoded_schema"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      Similarity.PqIndex(codebooks, meta("m").toInt, meta("k").toInt,
        meta("sub_dim").toInt, encoded,
        () => { encoded.unpersist(); () })
    }
    IndexStats.inc(s"pq.disk.${if (out.isDefined) "hit" else "miss"}")
    out
  }

  // ---------- IVFADC index ([[Similarity.IvfPqIndex]])

  /** Durable form of the two-stage IVFADC index: the coded corpus plus
    * BOTH models (coarse centroids, residual codebooks) as parquet, with
    * the shape facts in the meta. Loads are zero-job (recorded schema);
    * the model decodes reuse the single centroid/codebook readers shared
    * with the flat IVF/PQ stores, so the layouts can never drift. */
  def saveIvfPqIndex(spark: SparkSession, idx: Similarity.IvfPqIndex,
                     dir: String, corpusVersion: String,
                     params: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    invalidateMeta(spark, dir)
    idx.coded.write.mode("overwrite").parquet(s"$dir/coded")
    idx.centroids.zipWithIndex
      .map { case (v, c) => (c, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    (for {
      (book, ms) <- idx.codebooks.zipWithIndex
      (v, c) <- book.zipWithIndex
    } yield (ms, c, v.toSeq)).toSeq
      .toDF("m", "c", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    writeMeta(spark, dir, Seq(
      "kind" -> "ivfpq", "corpus_version" -> corpusVersion,
      "n_cells" -> idx.nCells.toString,
      "m" -> idx.m.toString, "k" -> idx.k.toString,
      "sub_dim" -> idx.subDim.toString,
      "coded_schema" -> idx.coded.schema.json) ++ params.toSeq.sorted)
    IndexStats.inc("ivfpq.disk.save")
  }

  /** Zero-job validity peek at a stored IVFADC index (the pqIndexMeta
    * shape). */
  def ivfPqIndexMeta(spark: SparkSession, dir: String,
                     expectedParams: Map[String, String] = Map.empty)
      : Option[Map[String, String]] =
    validMeta(spark, dir, "ivfpq", expectedVersion = None, expectedParams)

  def loadIvfPqIndex(spark: SparkSession, dir: String,
                     expectedVersion: Option[String] = None,
                     expectedParams: Map[String, String] = Map.empty)
      : Option[Similarity.IvfPqIndex] = {
    val out = validMeta(spark, dir, "ivfpq", expectedVersion, expectedParams).map { meta =>
      val centroids = readCentroids(spark, dir, meta)
      val codebooks = readCodebooks(spark, dir, meta)
      val coded = readFrame(spark, s"$dir/coded", meta("coded_schema"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      Similarity.IvfPqIndex(centroids, centroids.length, codebooks,
        meta("m").toInt, meta("k").toInt, meta("sub_dim").toInt, coded,
        () => { coded.unpersist(); () })
    }
    IndexStats.inc(s"ivfpq.disk.${if (out.isDefined) "hit" else "miss"}")
    out
  }

  /** Load ONLY the two models of a committed IVFADC epoch — the tiered
    * IVFADC roll's minor path needs the standing coarse centroids +
    * residual codebooks to encode a delta, and paying [[loadIvfPqIndex]]'s
    * persisted coded handle for that would leak a cache entry per minor.
    * Two tiny parquet reads (nCells×dim + m·k rows), no persistent
    * handles; returns `(centroids, codebooks, subDim)`, `None` on
    * absent/torn/mismatched meta. */
  def loadIvfPqModels(spark: SparkSession, dir: String,
                      expectedParams: Map[String, String] = Map.empty)
      : Option[(Array[Array[Double]], Array[Array[Array[Double]]], Int)] =
    validMeta(spark, dir, "ivfpq", expectedVersion = None, expectedParams)
      .map { meta =>
        (readCentroids(spark, dir, meta), readCodebooks(spark, dir, meta),
          meta("sub_dim").toInt)
      }

  // ---------- hybrid graph adjacency ([[Adjacency.Hybrid]])

  /** Durable form of the graph family's build artifact: both layouts plus
    * the hub degree frame as parquet, with the measured counts (src/edge/
    * hub) in the meta — so a LOAD re-runs none of the build's count
    * passes and, like every loader here, zero Spark jobs. The flat/hubDeg
    * frames are written only when hubs exist; a hub-free graph stores one
    * parquet directory and reconstructs the empty frames from their
    * recorded schemas. At 100 TB the adjacency is an ingest-epoch
    * artifact exactly like the signature/IVF indexes: the pair-generation
    * self-join and the collect_set shuffle are hours of cluster time that
    * a session cache silently re-pays per job. */
  def saveGraphIndex(spark: SparkSession, hyb: Adjacency.Hybrid,
                     dir: String, corpusVersion: String,
                     params: Map[String, String] = Map.empty): Unit = {
    invalidateMeta(spark, dir)
    hyb.arrayAdj.write.mode("overwrite").parquet(s"$dir/array_adj")
    if (hyb.hubCount > 0) {
      hyb.flat.write.mode("overwrite").parquet(s"$dir/flat")
      hyb.hubDeg.write.mode("overwrite").parquet(s"$dir/hub_deg")
    }
    writeMeta(spark, dir, Seq(
      "kind" -> "graph", "corpus_version" -> corpusVersion,
      "weighted" -> hyb.weighted.toString,
      "hub_count" -> hyb.hubCount.toString,
      "src_count" -> hyb.srcCount.toString,
      "edge_count" -> hyb.edgeCount.toString,
      "bcast_limit" -> hyb.bcastLimit.toString,
      "array_adj_schema" -> hyb.arrayAdj.schema.json,
      "flat_schema" -> hyb.flat.schema.json,
      "hub_deg_schema" -> hyb.hubDeg.schema.json) ++ params.toSeq.sorted)
    IndexStats.inc("graph.disk.save")
  }

  /** Load a hybrid adjacency; `None` on missing/torn/stale store. Lazy
    * persisted parquet reads with the recorded schemas (zero jobs); the
    * measured counts read off the meta, so operators size their round
    * exchanges identically to the just-built form. */
  def loadGraphIndex(spark: SparkSession, dir: String,
                     expectedVersion: Option[String] = None,
                     expectedParams: Map[String, String] = Map.empty)
      : Option[Adjacency.Hybrid] = {
    val out = validMeta(spark, dir, "graph", expectedVersion, expectedParams).map { m =>
      val hubCount = m("hub_count").toLong
      val arrayAdj = readFrame(spark, s"$dir/array_adj", m("array_adj_schema"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      def empty(schemaJson: String): DataFrame =
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.DataType.fromJson(schemaJson)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
      val (flat, hubDeg) =
        if (hubCount == 0)
          (empty(m("flat_schema")), empty(m("hub_deg_schema")))
        else
          (readFrame(spark, s"$dir/flat", m("flat_schema"))
             .persist(StorageLevel.MEMORY_AND_DISK),
           readFrame(spark, s"$dir/hub_deg", m("hub_deg_schema"))
             .persist(StorageLevel.MEMORY_AND_DISK))
      Adjacency.Hybrid(m("weighted").toBoolean, arrayAdj, flat, hubDeg,
        hubCount, m("src_count").toLong, m("edge_count").toLong,
        () => {
          arrayAdj.unpersist()
          if (hubCount > 0) { flat.unpersist(); hubDeg.unpersist() }
          ()
        },
        bcastLimit = m("bcast_limit").toLong)
    }
    IndexStats.inc(s"graph.disk.${if (out.isDefined) "hit" else "miss"}")
    out
  }

  /** The committed meta of a graph index directory, when present,
    * well-formed, and parameter-matching — the lightweight peek the
    * streaming epoch roll uses to pick the newest valid epoch and detect
    * an already-folded batch without constructing (and persisting) the
    * frames. Listing only, no Spark jobs. */
  def graphIndexMeta(spark: SparkSession, dir: String,
                     expectedParams: Map[String, String] = Map.empty)
      : Option[Map[String, String]] =
    validMeta(spark, dir, "graph", None, expectedParams)

  // ---------- duplicate-cluster labels (a plain keyed frame)

  def saveClusterLabels(spark: SparkSession, labels: DataFrame,
                        dir: String, corpusVersion: String,
                        params: Map[String, String] = Map.empty): Unit = {
    invalidateMeta(spark, dir)
    labels.write.mode("overwrite").parquet(s"$dir/labels")
    writeMeta(spark, dir, Seq("kind" -> "cluster", "corpus_version" -> corpusVersion,
      "labels_schema" -> labels.schema.json) ++ params.toSeq.sorted)
    IndexStats.inc("cluster.disk.save")
  }

  def loadClusterLabels(spark: SparkSession, dir: String,
                        expectedVersion: Option[String] = None,
                        expectedParams: Map[String, String] = Map.empty)
      : Option[DataFrame] = {
    val out = validMeta(spark, dir, "cluster", expectedVersion, expectedParams).map(m =>
      readFrame(spark, s"$dir/labels", m("labels_schema"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    IndexStats.inc(s"cluster.disk.${if (out.isDefined) "hit" else "miss"}")
    out
  }

  // ---------- lexical postings ([[Postings.Index]])

  /** Durable form of the BM25 postings index: tf + dl frames as parquet
    * with the measured corpus stats (n_docs, sum_dl) in the meta — loads
    * run zero Spark jobs and probes size their idf/avgdl off the meta
    * exactly as a just-built index would. */
  def savePostingsIndex(spark: SparkSession, idx: Postings.Index,
                        dir: String, corpusVersion: String,
                        params: Map[String, String] = Map.empty): Unit = {
    invalidateMeta(spark, dir)
    idx.tf.write.mode("overwrite").parquet(s"$dir/tf")
    idx.dl.write.mode("overwrite").parquet(s"$dir/dl")
    writeMeta(spark, dir, Seq(
      "kind" -> "postings", "corpus_version" -> corpusVersion,
      "n_docs" -> idx.nDocs.toString,
      "sum_dl" -> idx.sumDl.toString,
      "tf_schema" -> idx.tf.schema.json,
      "dl_schema" -> idx.dl.schema.json) ++ params.toSeq.sorted)
    IndexStats.inc("postings.disk.save")
  }

  def loadPostingsIndex(spark: SparkSession, dir: String,
                        expectedVersion: Option[String] = None,
                        expectedParams: Map[String, String] = Map.empty)
      : Option[Postings.Index] = {
    val out = validMeta(spark, dir, "postings", expectedVersion, expectedParams)
      .map { m =>
        val tf = readFrame(spark, s"$dir/tf", m("tf_schema"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val dl = readFrame(spark, s"$dir/dl", m("dl_schema"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        Postings.Index(tf, dl, m("n_docs").toLong, m("sum_dl").toLong,
          () => { tf.unpersist(); dl.unpersist(); () })
      }
    IndexStats.inc(s"postings.disk.${if (out.isDefined) "hit" else "miss"}")
    out
  }

  /** Committed meta of a postings index directory when present and
    * parameter-matching — the zero-job peek the streaming epoch roll uses
    * (graph/IVF parity). */
  def postingsIndexMeta(spark: SparkSession, dir: String,
                        expectedParams: Map[String, String] = Map.empty)
      : Option[Map[String, String]] =
    validMeta(spark, dir, "postings", None, expectedParams)

  /** Conf key consulted by the query-level caches: when set to a store
    * root, indexes are served from disk across sessions/jobs (and written
    * there on first build) instead of living only in the session cache. */
  val IndexDirConf = "spark.graft.indexDir"

  // ---------- generic versioned stage checkpoint (pipeline restartability)

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
      val stats = perFrame.flatten.sorted.map { f =>
        val p = new Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        (f, st.getLen, st.getModificationTime)
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      stats.foreach { case (n, len, mt) =>
        md.update(s"$n:$len:$mt\n".getBytes("UTF-8"))
      }
      Some(stats.length + ":" + md.digest().map("%02x".format(_)).mkString)
    }
  }

  /** Save ONE pipeline-stage frame as a versioned durable artifact —
    * the index families' save discipline (meta invalidated first, schema
    * recorded, params stamped) applied to stage checkpoints, so a
    * restarted pipeline can PROVE a checkpoint is current instead of
    * assuming it. */
  def saveStage(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
                dir: String, version: String,
                params: Map[String, String] = Map.empty): Unit = {
    invalidateMeta(spark, dir)
    df.write.mode("overwrite").parquet(s"$dir/data")
    writeMeta(spark, dir,
      Seq("kind" -> "stage", "corpus_version" -> version,
        "schema" -> df.schema.json) ++ params.toSeq.sorted)
  }

  /** Load a stage checkpoint saved by [[saveStage]] — zero Spark jobs
    * (meta peek + recorded-schema lazy read); `None` when absent, torn,
    * version-stale, or parameter-mismatched (each of which must read as
    * "recompute this stage", exactly like a stale index). */
  def loadStage(spark: SparkSession, dir: String,
                expectedVersion: Option[String],
                expectedParams: Map[String, String] = Map.empty)
      : Option[org.apache.spark.sql.DataFrame] =
    validMeta(spark, dir, "stage", expectedVersion, expectedParams).map { m =>
      readFrame(spark, s"$dir/data", m("schema"))
    }

  /** Committed meta of a stage directory when present and parameter-
    * matching — the zero-job peek (graph/IVF/postings parity) the tiered
    * graph roll uses for its L0 commit markers. */
  def stageMeta(spark: SparkSession, dir: String,
                expectedParams: Map[String, String] = Map.empty)
      : Option[Map[String, String]] =
    validMeta(spark, dir, "stage", None, expectedParams)

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
    * per-(kind, corpus) store dir under that root when its stamp matches
    * the CURRENT corpus version of `sourcePath` AND its recorded build
    * parameters match `params`; else build, and `save` the result stamped
    * with the version and `params`, so the next session's load accepts it.
    * `kind` names the store slot, so one source table can carry several
    * indexes of one family (d06's and d13's signature slices, the
    * co-purchase graphs) without collision. `load` and `save` are the
    * family's `loadX` / `saveX`. */
  def fromConf[A](spark: SparkSession, kind: String, sourcePath: String,
                  params: Map[String, String] = Map.empty)(
      load: (SparkSession, String, Option[String], Map[String, String]) => Option[A],
      save: (SparkSession, A, String, String, Map[String, String]) => Unit)(
      build: => A): A =
    spark.conf.get(IndexDirConf, "") match {
      case "" => build
      case root =>
        val dir = storePath(root, kind, sourcePath)
        val v = corpusVersion(spark, sourcePath)
        load(spark, dir, Some(v), params).getOrElse {
          val idx = build
          save(spark, idx, dir, v, params)
          idx
        }
    }
}
