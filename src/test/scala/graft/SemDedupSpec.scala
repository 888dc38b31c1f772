package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ExtensionQueries

/** Quality contract for the cluster-then-prune semantic dedup (x69 is
  * rows-only for the oracle — k-means isn't SQL-expressible).
  *
  * The guarantee SemDeDup actually makes: NEAR-DUPLICATES co-cluster.
  * A vector and its jittered twin (cos ≈ 0.999) share an argmax
  * centroid unless the pair sits exactly on a cluster boundary, so
  * twin recall must be ~1. No such promise exists for barely-similar
  * pairs — the testdata embeddings are isotropic (max pairwise cos
  * ≈ 0.48), and a cos-0.3 pair in 64-dim isotropic space is nearly
  * orthogonal, co-clustering only by chance. The spec pins the
  * contract the operator makes, on a fixture that plants what the
  * operator hunts.
  */
class SemDedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("planted near-duplicate twins are recovered from cluster blocking") {
    val base = Tables.embeddings(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    assert(base.nonEmpty)
    // deterministic 1%-multiplicative jitter: cos(v, twin) ≈ 0.9999
    val rnd = new scala.util.Random(42)
    val twins = base.map { case (id, emb, label) =>
      (id + 100000L, emb.map(x => x * (1f + (rnd.nextFloat() - 0.5f) * 0.02f)),
        label)
    }
    val work = Files.createTempDirectory("graft_semdedup")
    try {
      (base ++ twins).toSeq.toDF("vec_id", "embedding", "label")
        .write.parquet(s"$work/embeddings.parquet")
      val found = ExtensionQueries.x69_semantic_dedup(spark, work.toString)
        .select("v1", "v2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recovered = base.count { case (id, _, _) =>
        found.contains((id, id + 100000L))
      }
      val recall = recovered.toDouble / base.length
      info(f"twin recall = $recall%.3f ($recovered/${base.length})")
      assert(recall >= 0.95,
        f"near-duplicate twins escaped cluster blocking: $recall%.3f")
    } finally graft.Caches.clear(work.toString)
  }

  test("recovered pairs score the same cosine as x14's exact arithmetic") {
    // the cluster changes WHICH pairs are compared, never the
    // similarity arithmetic: any pair both paths emit must agree
    val exact = ExtensionQueries.x14_embedding_dup(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val sem = ExtensionQueries.x69_semantic_dedup(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val shared = exact.keySet.intersect(sem.keySet)
    assert(shared.nonEmpty, "expected some overlap between blockings")
    shared.foreach(p =>
      assert(exact(p) === sem(p), s"cosine diverged on $p"))
  }
}
