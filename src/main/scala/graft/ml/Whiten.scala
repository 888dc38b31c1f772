package graft.ml

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** PCA whitening of an embedding column — the standard embedding
  * post-processing (decorrelate dimensions, equalize variance) that
  * retrieval pipelines apply before cosine/ANN indexing: y = W(x − μ)
  * with W = Λ^(−1/2)·Vᵀ from the eigendecomposition of the sample
  * covariance, so the whitened frame has identity covariance (the
  * defining property, spec-pinned).
  *
  * Scale shape: ONE distributed moment pass with a bounded
  * (1 + d + d²)-double accumulator per partition (map-side combine,
  * elementwise-add merge — shuffle volume is one buffer per partition,
  * never per row), then a d×d eigendecomposition on the DRIVER
  * (bounded metadata, the k-means-centroid precedent) and a broadcast
  * closed-form transform: per output dim a native codegen dot product
  * against a literal row of W. No per-row JVM lambda, no d×-fanout
  * join, no gram-matrix shuffle.
  */
object Whiten {

  /** Single-pass raw-moment accumulator: buffer = [n, Σx (d entries),
    * Σxxᵀ (d² entries, row-major)]. Covariance follows as
    * Σxxᵀ/n − μμᵀ; one pass instead of a mean pass + a centered pass
    * (fine at embedding magnitudes ~O(1); a pathological offset would
    * call for the two-pass form). Input and output are primitive
    * arrays, not `Seq[Double]`, for the reason given on
    * [[graft.agg.WeightedVecSum]]: a `Seq` input arrives as a `List`.
    */
  class MomentAgg(d: Int)
      extends Aggregator[Array[Double], Array[Double], Array[Double]] {
    override def zero: Array[Double] = new Array[Double](1 + d + d * d)
    override def reduce(b: Array[Double], x: Array[Double]): Array[Double] = {
      b(0) += 1
      var i = 0
      while (i < d) {
        b(1 + i) += x(i)
        val off = 1 + d + i * d
        var j = 0
        while (j < d) { b(off + j) += x(i) * x(j); j += 1 }
        i += 1
      }
      b
    }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Double]): Array[Double] = b
    override def bufferEncoder: Encoder[Array[Double]] =
      ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Array[Double]] =
      ExpressionEncoder[Array[Double]]()
  }

  /** Fit-or-load the (μ, W) transform as a VERSIONED on-disk artifact
    * — the IvfIndex/Bm25Index contract applied to the whitening
    * matrix: a deployment must apply the SAME transform to queries at
    * serving time that it applied to the corpus at index time, so the
    * transform has to outlive the fitting session. One memo + one
    * atomic two-table snapshot (mu, w as (idx, vec) rows) per
    * (session, dataset); freshness is the source table's filesystem
    * fingerprint, so a regenerated embeddings table republishes
    * instead of serving a stale rotation.
    */
  def loadOrPublish(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (Array[Double], Array[Array[Double]]) =
    graft.sources.VersionedStore.loadOrPublish(spark, "whiten", sfDir,
      graft.Tables.fileFingerprint(spark, sfDir, "embeddings")) {
      (root, meta) =>
        import spark.implicits._
        val emb = graft.Tables.embeddings(spark, sfDir)
        val dim = emb.select(org.apache.spark.sql.functions
          .size(col("embedding"))).head.getInt(0)
        val (mu, w) = fit(emb, dim)
        graft.sources.VersionedStore.publishAll(
          Map(
            "mu" -> Seq((0L, mu.toSeq)).toDF("idx", "vec"),
            "w" -> w.zipWithIndex
              .map { case (r, i) => (i.toLong, r.toSeq) }.toSeq
              .toDF("idx", "vec"),
            "meta" -> meta),
          root)
    }(load(spark, _))

  /** The whitened embedding frame — (vec_id, v: array<double>), each
    * coordinate rounded to 6 dp, computed with the PUBLISHED (μ, W)
    * via [[loadOrPublish]]. One broadcast closed-form pass: per output
    * dim a native codegen dot against a literal W row. Shared by the
    * x129 driver projection (ExtensionQueries.whitenedOf) and the
    * whitened-index composition ([[WhitenedIvf]]) — both sides of the
    * serving contract transform with the SAME index-time (μ, W).
    */
  def whitenedFrame(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val (mu, w) = loadOrPublish(spark, sfDir)
    val dim = mu.length
    graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        zip_with(graft.functions.VecMath.asDouble(col("embedding")),
          typedlit(mu.toSeq), (a, b) => a - b).as("xc"))
      .select(col("vec_id"),
        // the shared cross-engine rounding form (floor(x·10^6 + .5)/10^6
        // — the queries objects' round shadow), NOT functions.round
        array((0 until dim).map(k =>
          floor(graft.functions.VecMath.dot(typedlit(w(k).toSeq), col("xc")) *
            1e6 + lit(0.5)) / 1e6): _*).as("v"))
  }

  /** Read the latest published (μ, W) — row order restored by idx. */
  def load(spark: org.apache.spark.sql.SparkSession,
      root: String): (Array[Double], Array[Array[Double]]) = {
    val v = graft.sources.VersionedStore.latestVersion(root)
      .getOrElse(sys.error(s"no published whitening under $root"))
    val mu = graft.sources.VersionedStore.readTable(spark, root, v, "mu")
      .collect().head.getSeq[Double](1).toArray
    val w = graft.sources.VersionedStore.readTable(spark, root, v, "w")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
    (mu, w)
  }

  /** Fit (μ, W) over `embeddings.embedding`. Eigenvalues are floored
    * at eps·λmax before the inverse square root so a (near-)degenerate
    * direction scales by a huge-but-finite factor instead of
    * overflowing — rank-deficient inputs stay representable, they just
    * don't carry information in that direction.
    */
  def fit(embeddings: DataFrame, dim: Int, eps: Double = 1e-12)
      : (Array[Double], Array[Array[Double]]) = {
    val agg = udaf(new MomentAgg(dim), ExpressionEncoder[Array[Double]]())
    val m = embeddings
      .select(graft.functions.VecMath.asDouble(col("embedding")).as("e"))
      .agg(agg(col("e")).as("m"))
      .head.getSeq[Double](0)
    val n = m(0)
    require(n > 1, s"whitening needs more than one vector, got $n")
    val mu = Array.tabulate(dim)(i => m(1 + i) / n)
    val c = breeze.linalg.DenseMatrix.tabulate(dim, dim)((i, j) =>
      m(1 + dim + i * dim + j) / n - mu(i) * mu(j))
    val es = breeze.linalg.eigSym(c)
    val lmax = math.max(breeze.linalg.max(es.eigenvalues), Double.MinPositiveValue)
    val w = Array.tabulate(dim) { k =>
      val s = 1.0 / math.sqrt(math.max(es.eigenvalues(k), eps * lmax))
      Array.tabulate(dim)(i => es.eigenvectors(i, k) * s)
    }
    (mu, w)
  }
}
