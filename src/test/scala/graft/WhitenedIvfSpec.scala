package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ExtensionQueries

/** Quality gate for the composed whitened-ANN serving path (x140,
  * rows-only): the Whiten artifact's deployment contract — whiten the
  * query with the index-time (μ, W) — exercised end-to-end against an
  * IVF-PQ index built over the whitened space. Ground truth is exact
  * brute-force cosine IN THE WHITENED SPACE (whitening changes the
  * metric, so the unwhitened x05 truth would grade the wrong
  * question); the recall floor is the same IVF probe bound (P=4 →
  * 0.80) the unwhitened x76 composition is held to, and the baseline
  * comparison pins that whitening did not collapse the index's
  * recall.
  */
class WhitenedIvfSpec extends AnyFunSuite with SparkSpec {

  private def whitenedTruth(): Map[(Long, Long), Double] = {
    val vecs = graft.ml.Whiten.whitenedFrame(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else s / math.sqrt(na * nb)
    }
    (for {
      q <- vecs.keys.filter(_ < 5).toSeq
      (v, c) <- vecs.toSeq.filter(_._1 != q)
        .map { case (v, x) => (v, cos(vecs(q), x)) }
        .sortBy { case (v, c) => (-c, v) }.take(3)
    } yield (q, v) -> c).toMap
  }

  test("x140 recall@3 vs whitened brute force meets the IVF probe bound; scores exact") {
    val truth = whitenedTruth()
    val got = ExtensionQueries.x140_whiten_ivf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(got.length === truth.size)
    got.foreach { case (q, v, c) =>
      truth.get((q, v)).foreach(t => assert(math.abs(t - c) < 1e-4,
        s"whitened cosine mismatch for ($q,$v): $t vs $c"))
    }
    val hits = got.count { case (q, v, _) => truth.contains((q, v)) }
    val recall = hits.toDouble / truth.size
    info(f"whitened IVF-PQ recall@3 = $recall%.2f ($hits/${truth.size})")
    assert(recall >= 0.8, f"recall@3 below the IVF probe bound: $recall%.2f")

    // vs the unwhitened x21/x76 baseline (round-11 verdict ask #4):
    // same probe budget, each graded against ITS OWN space's truth —
    // whitening must not collapse the index's recall
    val bruteTop3 = ExtensionQueries.x05_ann_topk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .filter(_._2 <= 3).map(t => (t._1, t._3)).toSet
    val base = graft.ml.IvfPq.searchTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val baseRecall = base.count(bruteTop3) .toDouble / bruteTop3.size
    info(f"unwhitened baseline recall@3 = $baseRecall%.2f")
    assert(recall >= baseRecall - 0.2,
      f"whitened recall $recall%.2f collapsed vs baseline $baseRecall%.2f")
  }

  test("fresh-session serving: cleared memos re-serve identical rows from the artifacts") {
    val first = ExtensionQueries.x140_whiten_ivf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // drop every session memo on the composed pair; the on-disk
    // artifacts alone must serve the same answer (the deployment
    // contract: a fresh session whitens queries with the index-time
    // μ/W and probes the published index — no refit, no re-encode)
    graft.Caches.clear(sf)
    val second = ExtensionQueries.x140_whiten_ivf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(first === second,
      "artifact-served whitened probe diverges from the building session's")
  }

  test("the composed pair pins ONE source fingerprint across both artifacts") {
    ExtensionQueries.x140_whiten_ivf(spark, sf).collect() // ensure published
    def meta(kind: String): String = {
      val root = graft.sources.VersionedStore.artifactRoot(kind, sf)
      val v = graft.sources.VersionedStore.latestVersion(root)
        .getOrElse(fail(s"no published $kind artifact"))
      graft.sources.VersionedStore.readTable(spark, root, v, "meta")
        .collect().head.getString(0)
    }
    assert(meta("whiten") === meta("whivf"),
      "whiten transform and whitened index were built from different source states")
  }
}
