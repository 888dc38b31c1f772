package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.BatchEmbed
import graft.queries.ExtensionQueries

/** Contracts for the MLlib batch embeddings (x15 is rows-only for the
  * oracle): structural invariants (unit norm, determinism) plus the
  * directional ordering dup-pairs > background.
  *
  * Measured on this corpus (exact, unhashed TF-IDF as the reference
  * model): mean cosine 0.665 for planted near-dup pairs vs 0.585 for
  * background pairs — WEAK separation, because the synthetic documents
  * are ~a dozen tokens drawn from a tiny shared vocabulary, so one
  * rare (high-IDF) token can dominate a short doc's vector. This is
  * precisely why the engine's text near-dup path is shingle-based
  * (x02/x04), with embedding-cosine dedup (x14) reserved for the real
  * embedding table; the spec pins the ordering, not a separation the
  * data cannot support.
  */
class EmbedQualitySpec extends AnyFunSuite with SparkSpec {

  test("embeddings are unit-norm, deterministic, and order dups above background") {
    val sfDir = this.sfDir("0.01") // smallest SF with planted pairs

    val stats = ExtensionQueries.x15_mllib_embed(spark, sfDir).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val l2 = r.getAs[Double]("l2")
      val nnz = r.getAs[Int]("nnz")
      assert(nnz > 0, s"doc ${r.getLong(0)} has an empty embedding")
      assert(math.abs(l2 - 1.0) < 1e-6, s"doc ${r.getLong(0)} not unit-norm: $l2")
    }

    val vecs = BatchEmbed.embed(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector]("embedding"))
      .toMap
    // determinism: a second full computation is bit-identical
    val again = BatchEmbed.embed(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector]("embedding"))
      .toMap
    assert(vecs.keySet === again.keySet)
    vecs.foreach { case (id, v) => assert(v === again(id), s"doc $id not deterministic") }

    def cos(a: Long, b: Long): Double = {
      val xs = vecs(a).toArray; val ys = vecs(b).toArray
      var s = 0.0; var i = 0
      while (i < xs.length) { s += xs(i) * ys(i); i += 1 }
      s
    }
    val dupPairs = ExtensionQueries.x04_ngram_jaccard(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dupPairs.nonEmpty)
    val dupSet = dupPairs.toSet
    val ids = vecs.keys.toArray.sorted
    val bg = ids.sliding(2).collect {
      case Array(a, b) if !dupSet((a, b)) && !dupSet((b, a)) => cos(a, b)
    }.toArray
    val dupMean = dupPairs.map { case (a, b) => cos(a, b) }.sum / dupPairs.length
    val bgMean = bg.sum / bg.length
    info(f"dup-pair mean cos = $dupMean%.3f, background mean = $bgMean%.3f")
    assert(dupMean > bgMean + 0.03,
      f"near-dup pairs not ordered above background: $dupMean%.3f vs $bgMean%.3f")
  }

  test("x129: whitened embeddings have identity covariance and zero mean") {
    val rows = ExtensionQueries.whitenedOf(spark, sf).collect()
      .map(r => r.getSeq[Double](1).toArray)
    val n = rows.length
    assert(n > 100, s"only $n whitened vectors")
    val d = rows.head.length
    assert(rows.forall(_.length == d), "ragged whitened output")
    val mu = Array.tabulate(d)(i => rows.map(_(i)).sum / n)
    // y = W(x − μ) with W from the SAME data's eigensystem makes the
    // sample covariance exactly I up to float + the 6-dp output round
    for (i <- 0 until d) {
      assert(math.abs(mu(i)) < 1e-4, s"whitened mean[$i] = ${mu(i)}")
      for (j <- i until d) {
        val cij = rows.map(r => (r(i) - mu(i)) * (r(j) - mu(j))).sum / n
        val want = if (i == j) 1.0 else 0.0
        assert(math.abs(cij - want) < 1e-3,
          s"whitened cov[$i,$j] = $cij, want $want")
      }
    }
  }

  test("x129: artifact round-trip — the loaded transform serves identical output") {
    val first = ExtensionQueries.whitenedOf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // drop the session memo; the on-disk artifact must carry the
    // transform alone (the deployment contract: queries are whitened
    // with the index-time μ/W in a fresh session)
    graft.Caches.clear(sf)
    val second = ExtensionQueries.whitenedOf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    assert(first == second,
      "artifact-served whitening diverges from the fitting session's")
    val root = graft.sources.VersionedStore.artifactRoot("whiten", sf)
    val v = graft.sources.VersionedStore.latestVersion(root)
    assert(v.nonEmpty, s"no published whitening under $root")
    for (t <- Seq("mu", "w", "meta"))
      assert(graft.sources.VersionedStore.readTable(spark, root, v.get, t)
        .count() > 0, s"artifact table $t is empty")
  }

  test("x129: whitening is invertible on this corpus (no collapsed direction)") {
    // every whitened dim must actually vary — a degenerate eigenvalue
    // would surface as a (clamped) near-constant output dimension
    val rows = ExtensionQueries.whitenedOf(spark, sf).collect()
      .map(r => r.getSeq[Double](1).toArray)
    val d = rows.head.length
    for (i <- 0 until d) {
      val col = rows.map(_(i))
      assert(col.max - col.min > 1e-3, s"whitened dim $i is ~constant")
    }
  }

  test("x129: driver-facing output is scalar-sortable and consistent with the frame") {
    // the correctness driver sorts every output column in pandas — the
    // round-11 failure was a raw array column; pin that the query now
    // ships only (vec_id, l2, vsum, d0) scalars that agree with the
    // whitened frame's own algebra
    val out = ExtensionQueries.x129_whiten(spark, sf)
    assert(out.schema.fields.map(_.dataType.typeName).forall(t =>
      t == "long" || t == "double"), s"non-scalar column in ${out.schema}")
    val byId = ExtensionQueries.whitenedOf(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    out.collect().foreach { r =>
      val v = byId(r.getLong(0))
      assert(math.abs(r.getDouble(1) - math.sqrt(v.map(x => x * x).sum)) < 1e-4)
      assert(math.abs(r.getDouble(2) - v.sum) < 1e-4)
      assert(math.abs(r.getDouble(3) - v(0)) < 1e-6)
    }
  }
}
