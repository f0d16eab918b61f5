package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The driver-local Lloyd's trainer must be BIT-IDENTICAL to Lloyd's
  * written in Spark SQL ([[LloydsParitySpec.Reference]]) — the local
  * trainer serves every oracle-certified training (v04/v08/v27/v28/v33
  * families and the bench prepare builds), so a single differing low bit
  * would show up as an oracle hash break. Each case trains both on the
  * same corpus and asserts Double.doubleToRawLongBits equality per
  * element.
  */
class LloydsParitySpec extends SparkSpec {
  import sqlImplicits._
  import LloydsParitySpec.Reference

  /** Deterministic pseudo-random float in a given range — fixture data. */
  private def f(seed: Long, lo: Double, hi: Double): Float = {
    val x = (seed * 1327217885L % 2147483648L + 2147483648L) % 2147483648L
    (lo + (hi - lo) * (x.toDouble / 2147483648.0)).toFloat
  }

  private def corpus(n: Int, dim: Int,
                     tweak: (Long, Int) => Option[Float] = (_, _) => None) = {
    val rows = (0 until n).map { i =>
      val id = i.toLong * 7 % n // non-monotonic id order, unique for n coprime
      (id, (0 until dim).map(d =>
        tweak(id, d).getOrElse(f(id * 31 + d, -1.0, 1.0))).toArray)
    }
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private def assertBitEqual(a: Array[Array[Double]], b: Array[Array[Double]],
                             what: String): Unit = {
    assert(a.length == b.length, s"$what: centroid count")
    a.indices.foreach { c =>
      assert(a(c).length == b(c).length, s"$what: dim of centroid $c")
      a(c).indices.foreach { p =>
        assert(java.lang.Double.doubleToRawLongBits(a(c)(p)) ==
          java.lang.Double.doubleToRawLongBits(b(c)(p)),
          s"$what: centroid $c pos $p: local=${a(c)(p)} dist=${b(c)(p)}")
      }
    }
  }

  private def trainBoth(df: org.apache.spark.sql.DataFrame, nCells: Int,
                        trainSample: Int, iters: Int): Unit = {
    val dist = Reference.train(df, nCells, trainSample, iters)
    // local path via ivfBuild's exact entry (collect + local init + local
    // iterations) — replicate the caller's wiring here so the spec pins
    // the composed path, not just the kernel
    val rows = df.select(col("vec_id").cast("long"),
        col("embedding").cast("array<float>"))
      .orderBy("vec_id").limit(trainSample).collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    def ring(k: Long): Long = {
      val r = 2147483648L
      (((k % r) + r) % r * 1327217885L % r + r) % r
    }
    val order = ids.indices.sortBy(i => (ring(ids(i)), ids(i))).toArray
    val init = order.take(nCells).map(i => vecs(i).map(_.toDouble))
    val local = Similarity.lloydsLocal(vecs, iters, init)
    assertBitEqual(local, dist, s"nCells=$nCells sample=$trainSample iters=$iters")
  }

  test("local == distributed on a generic corpus (bit-for-bit)") {
    trainBoth(corpus(101, 8), nCells = 4, trainSample = 101, iters = 8)
  }

  test("local == distributed with a sample cap below the corpus") {
    trainBoth(corpus(101, 8), nCells = 4, trainSample = 40, iters = 8)
  }

  test("local == distributed with duplicate vectors and a zero vector") {
    val dup = corpus(60, 6, tweak = (id, d) =>
      if (id % 5 == 0) Some(0.25f) // many identical rows → score ties
      else if (id == 7) Some(0.0f) // a zero vector (score = -|c|²/2 for all)
      else None)
    trainBoth(dup, nCells = 4, trainSample = 60, iters = 6)
  }

  test("local == distributed on exact half-ulp fixed-point ties") {
    // x·2^20 landing exactly on k + 0.5 exercises the HALF_UP edge in both
    // paths: (2k+1)/2^21 is exactly representable as float for small k
    val half = corpus(40, 4, tweak = (id, d) =>
      Some(((2 * (id + d) + 1).toFloat / (1 << 21))))
    trainBoth(half, nCells = 3, trainSample = 40, iters = 5)
  }

  test("local == distributed with negative values (half-up is away from zero)") {
    val neg = corpus(50, 4, tweak = (id, d) =>
      Some((-(2 * (id + d) + 1).toFloat / (1 << 21))))
    trainBoth(neg, nCells = 3, trainSample = 50, iters = 5)
  }

  test("degenerate single-cell quantizer (corpus smaller than nCells path)") {
    trainBoth(corpus(3, 4), nCells = 8, trainSample = 3, iters = 4)
  }

  test("pq subspace slices: local == distributed per subspace") {
    val df = corpus(80, 8)
    val dist = Reference.trainPq(df, m = 4, subDim = 2, k = 4, iters = 4,
      trainSample = 80)
    val rows = df.select(col("vec_id").cast("long"),
        col("embedding").cast("array<float>"))
      .orderBy("vec_id").limit(80).collect()
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    def ring(k: Long): Long = {
      val r = 2147483648L
      (((k % r) + r) % r * 1327217885L % r + r) % r
    }
    val order = ids.indices.sortBy(i => (ring(ids(i)), ids(i))).toArray
    (0 until 4).foreach { ms =>
      val sub = vecs.map(v => java.util.Arrays.copyOfRange(v, ms * 2, (ms + 1) * 2))
      val init = order.take(4).map(i => sub(i).map(_.toDouble))
      val local = Similarity.lloydsLocal(sub, 4, init)
      assertBitEqual(local, dist(ms), s"subspace $ms")
    }
  }

  test("ivfBuild trains identically to the reference") {
    val df = corpus(90, 8)
    val built = Similarity.ivfBuild(df, "vec_id", "embedding",
      nCells = 4, trainSample = 90, iters = 6, persist = false)
    assertBitEqual(built.centroids, Reference.train(df, 4, 90, 6), "ivfBuild")
  }

  test("ivfBuild and pqBuild refuse ragged vectors and oversized samples") {
    val ragged = Seq((1L, Array(1f, 2f)), (2L, Array(1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException](
      Similarity.ivfBuild(ragged, "vec_id", "embedding", nCells = 2))
    assert(e1.getMessage.contains("one length"), e1.getMessage)
    intercept[IllegalArgumentException](
      Similarity.pqBuild(ragged, "vec_id", "embedding", dim = 2, m = 1))
    val e2 = intercept[IllegalArgumentException](
      Similarity.ivfBuild(corpus(10, 4), "vec_id", "embedding",
        trainSample = 65537))
    assert(e2.getMessage.contains("65536"), e2.getMessage)
  }
}

object LloydsParitySpec {
  import org.apache.spark.sql.DataFrame

  /** Lloyd's k-means in Spark SQL — the semantics the driver-local
    * trainer must reproduce. The sample is pinned by id order and the
    * init spread in `Splits.ringHash` order; per iteration every sample
    * row is assigned its nearest cell with the codegen'd cell argmax
    * ([[Similarity.assignCells]]), and new centroids come back from ONE
    * groupBy over (cell, dim) of fixed-point means (per-element
    * `round(x·2^20)` summed as longs — exact and order-independent). */
  object Reference {

    private def centroids(sample: DataFrame, nCells: Int, iters: Int)
        : Array[Array[Double]] = {
      val init = sample
        .orderBy(Splits.ringHash(col("__sid")), col("__sid"))
        .limit(nCells)
        .select(col("__sv")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val scale = (1L << 20).toDouble
      (1 to iters).foldLeft(init) { (cur, _) =>
        val stats = Similarity.assignCells(sample, "__sid", "__sv", cur)
          .select(col("cell"), posexplode(col("nv")).as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg((sum(round(col("x") * scale).cast("long")).cast("double")
            / count(lit(1)) / scale).as("m"))
          .collect()
        val next = cur.map(_.clone())
        stats.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
        next // cells that captured no points keep their old center
      }
    }

    private def sample(df: DataFrame, trainSample: Int): DataFrame =
      df.select(col("vec_id").cast("long").as("__sid"),
          col("embedding").cast("array<float>").as("__sv"))
        .orderBy("__sid").limit(trainSample)

    def train(df: DataFrame, nCells: Int, trainSample: Int, iters: Int)
        : Array[Array[Double]] =
      centroids(sample(df, trainSample), nCells, iters)

    /** Per-subspace codebooks, one subspace after another. */
    def trainPq(df: DataFrame, m: Int, subDim: Int, k: Int, iters: Int,
                trainSample: Int): Array[Array[Array[Double]]] = {
      val s = sample(df, trainSample)
      (0 until m).map { ms =>
        centroids(s.select(col("__sid"),
          slice(col("__sv"), ms * subDim + 1, subDim).as("__sv")), k, iters)
      }.toArray
    }
  }
}
