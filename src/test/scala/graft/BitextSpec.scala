package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ExtensionQueries

/** x144's margin scoring must do the one thing raw cosine can't:
  * demote HUB vectors. The fixture plants an English query whose
  * highest-cosine cross-lingual neighbor is a hub (a vector close to
  * every English doc) while its true translation pair sits at a lower
  * raw cosine but points somewhere the English pool doesn't — the
  * ratio margin divides the hub by its own fat neighborhood average
  * and picks the truth. (Corpus-level value equality is the
  * x144 DuckDB oracle; this pins the SEMANTICS on a constructed
  * geometry.)
  */
class BitextSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("margin picks the true pair where raw cosine picks the hub") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bitext").toString
    val docs = Seq(
      (1L, "en"), (2L, "en"), (3L, "en"), (4L, "en"),
      (11L, "de"), (12L, "de"), (13L, "de"), (14L, "de"))
      .map { case (id, l) => (id, s"doc $id", l, "fixture", 6L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    // dim 5. en pool = 4 axes; de pool: three "translations" that mix
    // 0.6 of an en axis with 0.8 of axis 5 (INVISIBLE to the en pool,
    // so their own neighborhood average stays lean), plus the HUB —
    // tilted toward en1 so its raw cosine with en1 (0.748) BEATS the
    // true pair's (0.6), while its cosine with every other en doc
    // (0.35-0.40) fattens its neighborhood average.
    val embs = Seq(
      (1L, Array(1f, 0f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0f, 0f, 1f, 0f)),
      (11L, Array(0.6f, 0f, 0f, 0f, 0.8f)),
      (12L, Array(0f, 0.6f, 0f, 0f, 0.8f)),
      (13L, Array(0f, 0f, 0.6f, 0f, 0.8f)),
      (14L, Array(0.75f, 0.4f, 0.4f, 0.35f, 0f))) // the hub
      .map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
    embs.write.parquet(s"$dir/embeddings.parquet")

    // raw cosine would hand query 1 to the hub — the failure mode
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        graft.functions.VecMath.asDouble(col("embedding")).as("v"))
    val q1 = e.filter(col("vec_id") === 1L).select(col("v").as("qv"))
    val rawBest = e.filter(col("vec_id") >= 11L).crossJoin(broadcast(q1))
      .select(col("vec_id"),
        graft.functions.VecMath.cosine(col("qv"), col("v")).as("cos"))
      .orderBy(col("cos").desc).head.getLong(0)
    assert(rawBest === 14L, "fixture must make raw cosine prefer the hub")

    val mined = ExtensionQueries.x144_bitext_mining(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getDouble(4)))).toMap
    assert(mined(1L)._1 === 11L,
      s"margin must pick the true pair over the hub: ${mined(1L)}")
    // the other planted translations mine cleanly too
    assert(mined(2L)._1 === 12L && mined(3L)._1 === 13L)
    // and the truth margin clears the global-threshold bar
    // CCMatrix-style mining filters on (~1.85 is the hub's margin on
    // this geometry; the truth pair sits comfortably above it)
    assert(mined(1L)._3 > 2.0,
      s"truth-pair margin unexpectedly low: ${mined(1L)._3}")

    // the ANN-served leg (x145's path) on the same tiny geometry:
    // 4 lists per side, nProbe=4 probes them all — the candidate
    // lists are exhaustive here, so hub demotion must reproduce
    // exactly through the artifact-served margin arithmetic
    val sides = graft.ml.BitextAnn.loadOrPublish(spark, dir)
    val annTiny = ExtensionQueries.bitextMineAnn(sides,
      sides.en.assigned.select(col("vec_id").as("query_id"),
        col("v").as("qv")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(annTiny(1L) === 11L && annTiny(2L) === 12L && annTiny(3L) === 13L,
      s"ANN-served margin must also demote the hub: $annTiny")
  }

  test("pair extraction: mutuality excludes the hub even above threshold") {
    // x146's two gates pull different weight on this geometry: the
    // hub's margin (~1.85) CLEARS the 1.06 extraction threshold, so
    // only the mutual-best rule can keep it out of the corpus — the
    // hub is some query's runner-up everywhere but nobody's mutual
    // argmax (its own best query's best match is that query's true
    // translation). The three planted pairs extract; the hub ships in
    // NO pair. Same fixture as the margin test above.
    val dir = java.nio.file.Files.createTempDirectory("graft_bitext_x146")
      .toString
    val docs = Seq(
      (1L, "en"), (2L, "en"), (3L, "en"), (4L, "en"),
      (11L, "de"), (12L, "de"), (13L, "de"), (14L, "de"))
      .map { case (id, l) => (id, s"doc $id", l, "fixture", 6L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    val embs = Seq(
      (1L, Array(1f, 0f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f, 0f)),
      (4L, Array(0f, 0f, 0f, 1f, 0f)),
      (11L, Array(0.6f, 0f, 0f, 0f, 0.8f)),
      (12L, Array(0f, 0.6f, 0f, 0f, 0.8f)),
      (13L, Array(0f, 0f, 0.6f, 0f, 0.8f)),
      (14L, Array(0.75f, 0.4f, 0.4f, 0.35f, 0f))) // the hub
      .map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
    embs.write.parquet(s"$dir/embeddings.parquet")

    val pairs = ExtensionQueries.x146_bitext_extract(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs === Map(1L -> 11L, 2L -> 12L, 3L -> 13L),
      s"extraction must keep exactly the mutual planted pairs: $pairs")
    assert(!pairs.values.exists(_ == 14L),
      "the hub must never ship in an extracted pair")

    // the ANN-served leg (x147's path) on the same tiny geometry:
    // 4 lists per side, nProbe=4 probes them all — candidate and
    // reverse lists are exhaustive, so the mutual-best + threshold
    // policy must reproduce x146's output EXACTLY through the
    // three-probe serving arithmetic (incl. hub exclusion: the hub's
    // margin clears 1.06 here too, so only the reverse argmax can
    // keep it out)
    val sides = graft.ml.BitextAnn.loadOrPublish(spark, dir)
    val annPairs = ExtensionQueries.bitextExtractAnn(sides,
      sides.en.assigned.select(col("vec_id").as("query_id"),
        col("v").as("qv")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(annPairs === pairs,
      s"ANN-served extraction must match the exact leg exhaustively: $annPairs")
  }

  // 40+40 planted-pair fixture where the ANN path is genuinely
  // approximate: √40 → 7 lists per side, nProbe=4 probes 4/7 —
  // candidate lists are partial, unlike the exhaustive tiny fixtures
  // above. Deterministic throughout (hash-seeded vectors, hash-sampled
  // Lloyd's). Shared by the recall gate and the operating-point
  // ladder, each under its own dir (artifact roots key on the dir).
  private val nPairs = 40
  private val fixDim = 16
  // splitmix-style integer hash → [-1, 1]: sin-seeded components
  // have near-periods (97·16 ≈ 247·2π collides seeds 16 apart)
  private def mix(seed: Int, d: Int): Double = {
    var x = seed.toLong * 1000003L + d.toLong * 7919L + 12345L
    x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL; x ^= (x >>> 33)
    ((x & 0xffffffL).toDouble / 0xffffffL.toDouble) * 2 - 1
  }
  private def unit(seed: Int): Array[Float] = {
    val v = Array.tabulate(fixDim)(d => mix(seed, d))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private def plantedVecs: Seq[(Long, Array[Float], String)] = {
    val enVecs = (0 until nPairs).map(i => (i.toLong, unit(i), "en"))
    val deVecs = (0 until nPairs).map { j =>
      val e = enVecs(j)._2
      val noise = unit(1000 + j)
      val mixed = e.zip(noise).map { case (a, b) => 0.75f * a + 0.25f * b }
      val n = math.sqrt(mixed.map(x => x * x).sum.toDouble).toFloat
      (100L + j, mixed.map(_ / n), "de")
    }
    enVecs ++ deVecs
  }
  private def plantFixture(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    plantedVecs
      .map { case (id, _, l) => (id, s"doc $id", l, "fixture", 6L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    plantedVecs.map { case (id, v, _) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("ANN-served mining recalls >= 0.9 of the exact leg's matches") {
    // round-13 verdict ask #1's done-criterion (fixture: see
    // plantFixture above).
    val dir = plantFixture("graft_bitext_ann")

    val exact = ExtensionQueries.x144_bitext_mining(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sanity: the planted geometry mines cleanly in the exact leg
    assert((0 until nPairs).count(i => exact(i.toLong) == 100L + i)
      >= (nPairs * 9) / 10, s"planted pairs don't dominate: $exact")

    val sides = graft.ml.BitextAnn.loadOrPublish(spark, dir)
    assert(sides.x.centroids.count() === 7L,
      "fixture must exercise a genuinely partial probe (7 lists)")
    val ann = ExtensionQueries.bitextMineAnn(sides,
      sides.en.assigned.select(col("vec_id").as("query_id"),
        col("v").as("qv")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ann.size === nPairs, s"every en query must mine a match: $ann")
    val agree = exact.keys.count(q => ann.get(q).contains(exact(q)))
    assert(agree.toDouble / exact.size >= 0.9,
      s"ANN leg recalled only $agree/${exact.size} of the exact matches")

    // x147's done-criterion (round-14 verdict ask #1): the ANN-served
    // EXTRACTION must recall >= 0.9 of x146's exact pairs through the
    // same partial probe. The fixture must actually extract (a mined
    // match is only a PAIR once mutual-best + threshold agree) or the
    // gate is vacuous.
    val exactPairs = ExtensionQueries.x146_bitext_extract(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exactPairs.size >= nPairs / 2,
      s"fixture must extract a substantial pair set: ${exactPairs.size}")
    val enPool = sides.en.assigned.select(col("vec_id").as("query_id"),
      col("v").as("qv"))
    val annPairs = ExtensionQueries.bitextExtractAnn(sides, enPool)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairAgree = exactPairs.count { case (q, c) =>
      annPairs.get(q).contains(c) }
    assert(pairAgree.toDouble / exactPairs.size >= 0.9,
      s"ANN extraction recalled only $pairAgree/${exactPairs.size} pairs")
    // PRECISION under the genuinely partial probe (round-15 ADVICE:
    // the mutuality check falls back OPEN when a candidate's reverse
    // probe returns no rows, so hub exclusion was only asserted on the
    // exhaustive fixtures). The fallback's failure mode is a hub
    // shipping to EVERY query it forward-wins — so (a) no candidate
    // may ship in more than one pair, and (b) the shipped pairs must
    // overwhelmingly be exact-leg pairs, not fallback artifacts.
    assert(annPairs.values.toSeq.distinct.size === annPairs.size,
      s"a candidate ships in more than one ANN pair (hub leak): $annPairs")
    val truePrec = annPairs.count { case (q, c) =>
      exactPairs.get(q).contains(c) }
    assert(truePrec.toDouble / annPairs.size >= 0.9,
      s"ANN extraction precision $truePrec/${annPairs.size} below the gate")

    // the "embarrassingly parallel sweep" claim, measured (round-14
    // verdict ask #3, spec leg): every per-query quantity (fwd list,
    // ax, each candidate's rev list / ay / reverse argmax, each
    // reverse en id's axr) depends only on ITS OWN probes, so a
    // batched sweep's union must equal the full-pool run ROW FOR ROW
    // — for both the mining and the extraction policy. Batch size 8
    // over 40 queries = 5 genuinely separate batches.
    val enIds = enPool.select("query_id").collect().map(_.getLong(0)).sorted
    def swept(core: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Seq[org.apache.spark.sql.Row] =
      enIds.grouped(8).flatMap { batch =>
        core(enPool.filter(col("query_id").isin(batch: _*))).collect()
      }.toSeq.sortBy(_.getLong(0))
    val minedFull = ExtensionQueries.bitextMineAnn(sides, enPool)
      .collect().toSeq.sortBy(_.getLong(0))
    assert(swept(q => ExtensionQueries.bitextMineAnn(sides, q)) === minedFull,
      "batched mining sweep must union to exactly the full-pool run")
    val extractedFull = ExtensionQueries.bitextExtractAnn(sides, enPool)
      .collect().toSeq.sortBy(_.getLong(0))
    assert(swept(q => ExtensionQueries.bitextExtractAnn(sides, q))
      === extractedFull,
      "batched extraction sweep must union to exactly the full-pool run")
    // the PRODUCTION sweep (bitextExtractSweep — the Pipeline's
    // bitextRelease path, round-15 verdict ask #1): hash-batched,
    // parquet-staged, and its read-back union must still equal the
    // full-pool run row for row (batch size 8 over 40 queries = 5
    // genuinely separate staged batches)
    val stage = java.nio.file.Files
      .createTempDirectory("graft_bitext_sweep").toString
    val sweptProd = ExtensionQueries.bitextExtractSweep(spark, dir,
        stage, batchSize = 8)
      .collect().toSeq.sortBy(_.getLong(0))
    assert(sweptProd === extractedFull,
      "production staged sweep must union to exactly the full-pool run")

    // artifact freshness (the WhitenedIvf contract): a regenerated
    // embeddings table must republish the pair, never serve the stale
    // quantizers — memo cleared to simulate a fresh session
    val root = graft.sources.VersionedStore.artifactRoot("bitext", dir)
    val v1 = graft.sources.VersionedStore.latestVersion(root).get
    graft.Caches.clear(dir)
    val same = graft.ml.BitextAnn.loadOrPublish(spark, dir)
    assert(graft.sources.VersionedStore.latestVersion(root).get === v1,
      "unchanged source must serve the published version, not rebuild")
    assert(same.x.centroids.count() === 7L)
    graft.Caches.clear(dir)
    plantedVecs.map { case (id, v, _) => (id, v.map(_ * 2.0f), 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.Caches.clear(dir)
    graft.ml.BitextAnn.loadOrPublish(spark, dir)
    assert(graft.sources.VersionedStore.latestVersion(root).get > v1,
      "regenerated embeddings must republish the two-sided artifact")
  }

  test("release sweep resumes from committed batches; a stale fingerprint restages") {
    // Round-16 verdict ask #3: a 15k-batch release that dies at batch
    // 14,999 must not restart from zero (the old entry-point
    // fs.delete wiped every staged pair, and append-mode writes meant
    // a rerun WITHOUT the wipe would duplicate). The stage is now
    // fingerprint-pinned with per-batch committed dirs: a rerun skips
    // every batch whose _SUCCESS marker exists and reproduces the full
    // result byte for byte; a changed pool or batch geometry
    // invalidates the fingerprint and restages from scratch.
    val dir = plantFixture("graft_bitext_resume")
    val stage = java.nio.file.Files
      .createTempDirectory("graft_sweep_resume").toString + "/stage"
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marker(b: Int) =
      new org.apache.hadoop.fs.Path(s"$stage/pairs/batch_$b/_SUCCESS")
    def mtimes(): Map[Int, Long] = (0 until 5).flatMap { b =>
      if (fs.exists(marker(b)))
        Some(b -> fs.getFileStatus(marker(b)).getModificationTime)
      else None
    }.toMap
    def sweep(bs: Int) = ExtensionQueries
      .bitextExtractSweep(spark, dir, stage, batchSize = bs)
      .collect().toSeq.sortBy(_.getLong(0))

    // 40 en queries at batchSize 8 = 5 committed batch dirs
    val full = sweep(8)
    assert(full.nonEmpty, "fixture must extract pairs")
    val t1 = mtimes()
    assert(t1.keySet === (0 until 5).toSet, s"committed batches: $t1")

    // a sweep killed after k of n: the kill leaves committed dirs +
    // the fingerprint behind (simulated by deleting two batch dirs —
    // one of them torn, _SUCCESS gone but part files left, the
    // overwrite-mode rewrite must absorb it)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stage/pairs/batch_1"), true)
    fs.delete(marker(3), false)
    val resumed = sweep(8)
    assert(resumed === full,
      "resume must reproduce the full result byte for byte")
    val t2 = mtimes()
    assert(Seq(0, 2, 4).forall(b => t2(b) === t1(b)),
      "surviving batches must be SKIPPED, not recomputed")
    assert(t2(1) > t1(1) && t2(3) > t1(3),
      "killed batches must be recomputed")

    // a no-op rerun of a complete stage: nothing recomputed, nothing
    // duplicated (the old append-mode staging would double every pair)
    assert(sweep(8) === full)
    assert(mtimes() === t2, "a complete stage must be a pure read")

    // changed geometry = changed fingerprint: restaged from scratch
    // (same rows — batching never changes the result — and the old
    // 5-batch layout is gone, so stale dirs can never serve)
    assert(sweep(13) === full)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$stage/pairs/batch_4")),
      "a stale-fingerprint stage must be wiped, not adopted")
    assert(mtimes().keySet === (0 until 4).toSet,
      "40 queries at batchSize 13 stage as 4 batches")
  }

  test("operating point nProbe=4/candK=8 sits on a measured recall ladder") {
    // round-14 verdict ask #5: x140 justifies its probe budget with a
    // measured ladder; the bitext artifact's nProbe=4 / BitextCandK=8
    // defaults get the same discipline. Recall here = share of x144's
    // exact matches the ANN leg reproduces over the full 40-query
    // pool of the partial-probe fixture (7 lists/side). The measured
    // values land in SCALE.md §bitext operating point; the assertions
    // pin only the SHAPE (shipped point holds the 0.9 floor, recall
    // is not decreasing across the probe ladder) so a re-fit Lloyd's
    // sample can't flake the suite on exact thirds.
    val dir = plantFixture("graft_bitext_ladder")
    val exact = ExtensionQueries.x144_bitext_mining(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sides = graft.ml.BitextAnn.loadOrPublish(spark, dir)
    val enPool = sides.en.assigned
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def recallAt(nProbe: Int, candK: Int): Double = {
      val ann = ExtensionQueries.bitextMineAnn(sides, enPool, nProbe, candK)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.keys.count(q => ann.get(q).contains(exact(q))).toDouble / exact.size
    }
    val probeLadder = Seq(1, 2, 4, 8).map(p => p -> recallAt(p, 8))
    val kLadder = Seq(4, 8, 16).map(k => k -> recallAt(4, k))
    info(s"recall vs nProbe (candK=8): " +
      probeLadder.map { case (p, r) => f"P=$p $r%.2f" }.mkString(" / "))
    info(s"recall vs candK (nProbe=4): " +
      kLadder.map { case (k, r) => f"k=$k $r%.2f" }.mkString(" / "))
    val byProbe = probeLadder.toMap
    assert(byProbe(4) >= 0.9,
      s"shipped operating point below the gate: ${byProbe(4)}")
    assert(byProbe(8) >= byProbe(2) - 1e-9,
      s"probe ladder inverted: $probeLadder")
    val byK = kLadder.toMap
    assert(byK(16) >= byK(4) - 1e-9, s"candK ladder inverted: $kLadder")
  }
}
