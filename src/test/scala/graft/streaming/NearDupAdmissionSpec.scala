package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

class NearDupAdmissionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docs() = spark.read.parquet(s"$sf/documents.parquet")

  test("admit: kept = batch minus (corpus dups ∪ within-batch larger-id " +
       "dups), with a witness pair for every rejection") {
    val corpus = docs().filter(col("doc_id") % 2 === 0)
    val batch = docs().filter(col("doc_id") % 2 === 1)
    val index = Dedup.signatureBuild(corpus, "doc_id", "text")
    try {
      val mp = Dedup.incrementalExactPairsIndexedManaged(
        batch, index, "doc_id", "text")
      val pairs = try mp.pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        finally mp.release()
      val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
      val expectReject = pairs.map { case (a, b) =>
        if (batchIds(a) && !batchIds(b)) a else b
      }.toSet
      assert(expectReject.nonEmpty, "the sf corpus has cross-parity dups")
      val kept = NearDupAdmission.admit(batch, index, "doc_id", "text")
      val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
      kept.unpersist()
      assert(keptIds === batchIds -- expectReject)
    } finally index.release()
  }

  test("streamed admission over file micro-batches equals the per-chunk " +
       "batch replay; replayed batches overwrite, never double-append") {
    val corpus = docs().filter(col("doc_id") % 2 === 0)
    val index = Dedup.signatureBuild(corpus, "doc_id", "text")
    val landing = Files.createTempDirectory("ndadm_in").toString
    val outDir = Files.createTempDirectory("ndadm_out").toString
    val ckpt = Files.createTempDirectory("ndadm_ck").toString
    try {
      // three chunk files; maxFilesPerTrigger=1 → one micro-batch each
      val odd = docs().filter(col("doc_id") % 2 === 1)
      val chunks = Seq(
        odd.filter(col("doc_id") % 3 === 0),
        odd.filter(col("doc_id") % 3 === 1),
        odd.filter(col("doc_id") % 3 === 2))
      chunks.zipWithIndex.foreach { case (c, i) =>
        c.coalesce(1).write.parquet(s"$landing/chunk$i")
      }
      val schema = docs().schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$landing/chunk*")
      val q = NearDupAdmission.start(stream, index, "doc_id", "text",
        outDir, ckpt)
      q.awaitTermination(120000L)
      val expected = chunks.map { c =>
        val kept = NearDupAdmission.admit(c, index, "doc_id", "text")
        val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
        kept.unpersist(); ids
      }
      val log = NearDupAdmission.acceptLog(spark, outDir)
      val byBatch = log.select(col("doc_id"), col("batch")).collect()
        .groupBy(_.getInt(1)).map { case (b, rs) =>
          b -> rs.map(_.getLong(0)).toSet
        }
      // one stream batch per chunk file, each matching exactly one
      // per-chunk replay; union = the whole admission decision
      assert(byBatch.size === 3, s"expected 3 micro-batches, got $byBatch")
      byBatch.values.foreach { ids =>
        assert(expected.contains(ids), s"no chunk replay matches $ids")
      }
      assert(byBatch.values.flatten.toSet === expected.flatten.toSet)
      // idempotence: re-admitting a chunk and overwriting ITS batch dir
      // yields the same rows (the replayed-batch contract)
      val headBatch = byBatch.find(_._2 == expected.head).get._1
      val replayKept = NearDupAdmission.admit(chunks.head, index,
        "doc_id", "text")
      replayKept.write.mode("overwrite").parquet(s"$outDir/batch=$headBatch")
      replayKept.unpersist()
      val after = NearDupAdmission.acceptLog(spark, outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(after === expected.flatten.toSet)
    } finally index.release()
  }

  test("epoch roll: folding an admitted batch's pairs into the standing " +
       "cluster labels equals a full CC rebuild — the epoch pays |Δ|, " +
       "not a corpus-sized re-run") {
    import graft.operators.Components
    val corpus = docs().filter(col("doc_id") % 2 === 0)
    val batch = docs().filter(col("doc_id") % 2 === 1)
    val index = Dedup.signatureBuild(corpus, "doc_id", "text")
    try {
      // standing epoch: the corpus's own duplicate structure, resolved once
      val mp = Dedup.minhashExactPairsManaged(corpus, "doc_id", "text")
      try {
        val corpusPairs = mp.pairs.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        // the admission filter's own probe IS the delta pair source —
        // exactly what foreachBatch computes per micro-batch
        val md = Dedup.incrementalExactPairsIndexedManaged(
          batch, index, "doc_id", "text")
        val deltaPairs = try md.pairs.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq finally md.release()
        assert(deltaPairs.nonEmpty, "the sf corpus has cross-parity dups")
        import sqlImplicits._
        val standing = Components.connectedComponents(
          corpusPairs.toDF("src", "dst"))
        val foldedDf = Components.foldEdges(standing,
          deltaPairs.toDF("src", "dst"))
        val rebuiltDf = Components.connectedComponents(
          (corpusPairs ++ deltaPairs).toDF("src", "dst"))
        try {
          val folded = foldedDf
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val rebuilt = rebuiltDf
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(folded === rebuilt,
            "epoch fold must be bit-identical to the full rebuild")
        } finally {
          // foldedDf's lazy plan reaches BOTH standing's final checkpoint
          // and the delta-CC remap's — one release covers them (the
          // LEAKCHECK discipline every other spec follows)
          Components.releaseCheckpoint(foldedDf)
          Components.releaseCheckpoint(rebuiltDf)
        }
      } finally mp.release()
    } finally index.release()
  }
}
