package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ExtensionQueries

/** Quality gate for the IVF ANN path (x21 is rows-only for the oracle —
  * KMeans isn't SQL-expressible — so the accuracy contract lives here):
  * the probed-list search must recover most of the brute-force top-3,
  * and every cosine it reports must equal the brute-force cosine for
  * that (query, vec) pair (IVF changes WHICH pairs are scored, never
  * the score).
  */
class IvfRecallSpec extends AnyFunSuite with SparkSpec {

  test("IVF top-3 recall vs brute force, and exact score agreement") {
    val brute = ExtensionQueries.x05_ann_topk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val ivf = graft.ml.IvfIndex.searchTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))

    val bruteTop3 = brute.filter(_._2 <= 3).map(t => (t._1, t._3)).toSet
    val bruteCos = brute.map(t => (t._1, t._3) -> t._4).toMap

    // exact score agreement on overlapping pairs (both sides round(…,6))
    ivf.foreach { case (q, v, cos) =>
      bruteCos.get((q, v)).foreach { b =>
        assert(math.abs(b - cos) < 1e-9, s"score mismatch for ($q,$v)")
      }
    }

    val hits = ivf.count { case (q, v, _) => bruteTop3((q, v)) }
    val recall = hits.toDouble / bruteTop3.size
    info(f"IVF recall@3 = $recall%.2f (${hits}/${bruteTop3.size})")
    // multi-probe floor (round-8 verdict #4): the default P=4 probe
    // must hold 0.8+ recall@3 on the isotropic fixture — the measured
    // ladder is P=1 0.33 / P=2 0.40 / P=4 0.80 / P=6 0.93; a
    // regression to fewer effective probes (or a broken centroid
    // ranking) lands well below the bar, not fractionally.
    assert(recall >= 0.8, f"recall@3 too low: $recall%.2f")
  }

  test("search rejects a topAvgK above topK") {
    // the fused top-topAvgK average matches the exact truth leg's
    // average over the emitted rows only while topAvgK <= topK
    val none = spark.emptyDataFrame
    val e = intercept[IllegalArgumentException] {
      graft.ml.IvfIndex.search(graft.ml.IvfIndex.Index(none, none), none,
        topK = 3, topAvgK = 4)
    }
    assert(e.getMessage.contains("topAvgK (4) must not exceed topK (3)"))
  }

  test("saved artifact round-trip: the loaded index answers identically to the built one") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/ix"

    val builtRows = graft.ml.IvfIndex.searchTopK(spark, sf).collect().toSeq
    val v = graft.ml.IvfIndex.save(spark, sf, root)
    assert(v === 0L)

    // drop the in-process memo entirely: the load path must stand alone
    Caches.clear(sf)
    val loaded = graft.ml.IvfIndex.load(spark, root)
    val queries = loaded.assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // search now returns the unrounded cosine (round-14 advice); apply
    // x21's serving projection so the comparison is like-for-like
    val loadedRows = graft.ml.IvfIndex.search(loaded, queries)
      .withColumn("cos", org.apache.spark.sql.functions.round(col("cos"), 6))
      .collect().toSeq

    assert(loadedRows === builtRows,
      "x21's result must be row-identical from the loaded artifact")

    // the loaded assignments are released through the Caches registry,
    // keyed by the artifact root
    assert(Caches.registered(root).nonEmpty)
    Caches.clear(root)
    assert(loaded.assigned.storageLevel == org.apache.spark.storage.StorageLevel.NONE)

    // a re-publish allocates the next version; load(version) pins the old one
    val v2 = graft.ml.IvfIndex.save(spark, sf, root)
    assert(v2 === 1L)
    assert(graft.ml.IvfIndex.load(spark, root, Some(0L))
      .centroids.count() === loaded.centroids.count())
    Caches.clear(sf)
    Caches.clear(root)
  }
}
