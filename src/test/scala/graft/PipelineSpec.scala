package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedStore

/** The composed pipeline must behave like its parts: the funnel counts
  * reconcile with the stage queries (verdict x57, near-dup x02,
  * contamination x51, mask x48), the published snapshot is pinned and
  * complete, and a second run publishes a NEW version without touching
  * the first.
  */
// End-to-end pipeline integration suite: ~1040 s of the full suite's
// ~2500 s wall (each test replays whole Pipeline.run stages). Tagged
// Slow so the default `sbt test` fits the driver's test budget (r17
// verdict ask #2); run with SPARK_GRAFT_SLOW_TESTS=1 sbt test.
@org.scalatest.tags.Slow
class PipelineSpec extends AnyFunSuite with SparkSpec {

  test("verdict -> mask -> holdout -> dedup -> contam -> vectorize -> pack" +
      " -> snapshot, counts reconcile") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_pipe").toString + "/store"
    val r = Pipeline.run(spark, sf, store)

    val keptSet = graft.queries.ExtensionQueries.x57_filter_verdict(spark, sf)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r.kept === keptSet.size)
    val trainSet = keptSet.filterNot(_ % 100 == 0)
    assert(r.heldOutEval === keptSet.size - trainSet.size)

    // near-dup reconcile (r9 cross-measure drop policy): the
    // pipeline's pair universe over the restricted train corpus is
    // x04's Jaccard pairs ∪ x70's containment pairs restricted to
    // train docs (pair counts are corpus-independent and the df cap
    // never binds at this SF), and the drop policy keeps exactly the
    // min-doc_id canonical of each cross-measure component — replayed
    // here with a plain driver-side union-find, an INDEPENDENT oracle
    // for clusterLosersOf's distributed min-label propagation. The
    // testdata corpus is PII-free, so masked text == raw text and the
    // oracle-checked whole-corpus queries are the ground truth.
    val keptPairs = (graft.queries.ExtensionQueries
        .x04_ngram_jaccard(spark, sf).select("d1", "d2")
        .collect().map(p => (p.getLong(0), p.getLong(1))) ++
      graft.queries.ExtensionQueries
        .x70_containment(spark, sf).select("d1", "d2")
        .collect().map(p => (p.getLong(0), p.getLong(1))))
      .distinct
      .filter { case (a, b) => trainSet(a) && trainSet(b) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    keptPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = keptPairs.flatMap(p => Seq(p._1, p._2)).distinct
    val losers = members.filter(m => find(m) != m).toSet
    assert(losers.nonEmpty, "testdata should plant near-dup clusters")
    assert(r.prunedNearDup === losers.size)

    // segment-clean reconcile: the boilerplate strip runs on exactly
    // the dedup-survivor corpus; recompute it here with the same core
    // (the core itself is x74's oracle-checked machinery) and check
    // the funnel counters against it
    import spark.implicits._
    val rawById = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    val survDocs = rawById.toSeq
      .filter { case (id, _) => trainSet(id) && !losers(id) }
      .map { case (id, t) => (id, t) }.toDF("doc_id", "text")
    val segExp = graft.queries.ExtensionQueries.segmentCleanOf(survDocs)
      .select("doc_id", "n_dropped", "n_tokens_dropped", "cleaned_text")
      .collect()
      .map(row => row.getLong(0) ->
        ((row.getLong(1), row.getLong(2), row.getString(3)))).toMap
    val emptied = segExp.collect {
      case (id, (nd, _, ct)) if nd > 0 && ct == "" => id
    }.toSet
    assert(r.emptiedBySegClean === emptied.size)
    assert(r.strippedSegTokens === segExp.collect {
      case (id, (nd, nt, ct)) if !emptied(id) => nt
    }.sum)
    assert(segExp.exists { case (_, (nd, _, _)) => nd > 0 },
      "testdata should plant at least one cross-doc duplicated segment")

    // contamination reconcile: contam_frac is per-doc (own grams vs
    // the full-corpus eval slice), so x51's flagged set restricted to
    // the dedup+segclean survivors is the pipeline's drop set (the
    // strip barely perturbs gram sets at this SF — x51 over raw text
    // still predicts the gate's decisions, which this assert checks)
    val flagged = graft.queries.ExtensionQueries.x51_contamination(spark, sf)
      .filter(col("flagged")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val expectSnap = trainSet -- losers -- emptied -- flagged
    assert(r.droppedContaminated ===
      (trainSet -- losers -- emptied).count(flagged))

    val snapDocs = VersionedStore.readTable(spark, store, r.version, "documents")
    val snapIds = snapDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(snapIds === expectSnap)
    assert(snapIds.forall(_ % 100 != 0), "eval slice leaked into snapshot")
    // one representative per dup component: no pair survives whole,
    // every component's canonical (its min) survives unless the
    // contamination gate dropped it
    keptPairs.foreach { case (d1, d2) =>
      assert(!(snapIds.contains(d1) && snapIds.contains(d2)),
        s"dup pair ($d1,$d2) fully kept")
    }
    members.filter(m => find(m) == m).foreach { root =>
      assert(snapIds.contains(root) || flagged(root),
        s"component canonical $root lost without a gate dropping it")
    }

    // published text is the MASKED text (byte-identical to raw on the
    // PII-free testdata — the rewrite itself is pinned by the
    // synthetic-PII test below) AFTER the boilerplate strip: docs that
    // lost a cross-doc duplicated segment carry the reassembled
    // cleaned text, untouched docs carry their original bytes
    assert(r.piiMaskedDocs ===
      snapDocs.filter(col("n_pii") > 0).count())
    snapDocs.select("doc_id", "text").collect().foreach { row =>
      val id = row.getLong(0)
      val expected = segExp.get(id) match {
        case Some((nd, _, ct)) if nd > 0 => ct
        case _ => rawById(id)
      }
      assert(row.getString(1) === expected, s"text mismatch for doc $id")
    }

    assert(r.vectorized > 0)
    // vectorized <= snapshot docs: the doc-vector core drops token-less docs only
    assert(r.vectorized <= snapIds.size)

    // packing reconciles: the packed doc set is exactly the vectorized
    // set (both are the token-having survivors), the token stream is
    // contiguous (max end == total), and the sequence count is
    // ceil(total / capacity)
    val packing = VersionedStore.readTable(spark, store, r.version, "packing")
    assert(packing.count() === r.vectorized)
    val contig = packing.agg(max(col("end_off")), sum(col("n_tokens"))).head()
    assert(contig.getLong(0) === contig.getLong(1),
      "packed offsets must be gap-free")
    assert(r.packedTokens === contig.getLong(1))
    assert(r.sequences === (r.packedTokens + 255) / 256)
    assert(VersionedStore.readTable(spark, store, r.version, "vectors")
      .select("doc_id").collect().map(_.getLong(0)).toSet
      === packing.select("doc_id").collect().map(_.getLong(0)).toSet)

    // the stats sketch table describes EXACTLY the published text:
    // per-lang token totals ride exactly, the distinct-token HLL and
    // heavy-token sketch are capacity-exact at this vocabulary size
    val stats = VersionedStore.readTable(spark, store, r.version, "stats")
      .select(col("lang"), col("n_rows"),
        hll_sketch_estimate(col("token_hll")).as("nd"),
        graft.functions.FreqExpressions.freq_top_k(col("token_freq"), 1)
          .getItem(0).getField("item").as("top"),
        graft.functions.FreqExpressions.freq_top_k(col("token_freq"), 1)
          .getItem(0).getField("est").as("top_n"))
      .collect()
      .map(row => row.getString(0) ->
        ((row.getLong(1), row.getLong(2), row.getString(3), row.getLong(4))))
      .toMap
    val exactTok = snapDocs.select(col("lang"),
      explode(graft.functions.Tokenize.tokensByLang(col("text"), col("lang")))
        .as("token"))
      .groupBy("lang", "token").count().collect()
      .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      .groupBy(_._1)
    assert(stats.keySet === exactTok.keySet)
    exactTok.foreach { case (lang, toks) =>
      val (n, nd, top, topN) = stats(lang)
      assert(n === toks.map(_._3).sum, s"$lang token total")
      assert(math.abs(nd.toDouble / toks.size - 1) <= 0.05, s"$lang distinct")
      val bestExact = toks.map(t => (-t._3, t._2)).min
      assert((top, topN) === ((bestExact._2, -bestExact._1)), s"$lang top token")
    }

    // the tokenizer table is the BPE merge run over EXACTLY the
    // published text's token counts (per-language rule, same stream
    // the stats describe) — replayed here through the same trainer,
    // whose own reference-equivalence is BpeSpec's contract
    val tokTable = VersionedStore.readTable(spark, store, r.version, "tokenizer")
      .orderBy("rank").collect()
      .map(row => (row.getLong(0), row.getString(1), row.getString(2),
        row.getString(3), row.getLong(4)))
    val wordsReplay = snapDocs.select(
        explode(graft.functions.Tokenize.tokensByLang(col("text"), col("lang")))
          .as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val mergesReplay = graft.operators.Bpe.train(spark, wordsReplay, 20)._1
      .map(m => (m.rank.toLong, m.left, m.right, m.merged, m.pair_count))
    assert(tokTable.nonEmpty, "published tokenizer must have merges")
    assert(tokTable.toSeq === mergesReplay)

    // snapshot is pinned: a second pipeline run appends a new version
    // and the first is untouched
    val before = VersionedStore.readTable(spark, store, r.version, "vectors").count()
    val r2 = Pipeline.run(spark, sf, store)
    assert(r2.version === r.version + 1)
    assert(VersionedStore.readTable(spark, store, r.version, "vectors").count()
      === before)

    // cross-snapshot vocabulary overlap from the two PUBLISHED stats
    // artifacts alone (no text scan): the runs released the same
    // corpus, so per-lang intersection == each release's distinct
    // count and the delta is zero — the x66 set-op shape over
    // kilobyte sketches a consumer actually has
    def statsOf(v: Long) = VersionedStore.readTable(spark, store, v, "stats")
      .select(col("lang"), col("token_theta"))
    val overlap = statsOf(r.version).withColumnRenamed("token_theta", "sk_a")
      .join(statsOf(r2.version).withColumnRenamed("token_theta", "sk_b"), Seq("lang"))
      .select(col("lang"),
        graft.functions.ThetaExpressions.theta_estimate(col("sk_a")).as("n_a"),
        graft.functions.ThetaExpressions
          .theta_intersect_estimate(col("sk_a"), col("sk_b")).as("common"),
        graft.functions.ThetaExpressions
          .theta_diff_estimate(col("sk_b"), col("sk_a")).as("new_in_b"))
      .collect()
    assert(overlap.nonEmpty)
    overlap.foreach { row =>
      assert(row.getDouble(1) === row.getDouble(2),
        s"${row.getString(0)}: identical releases must fully overlap")
      assert(row.getDouble(3) === 0.0,
        s"${row.getString(0)}: identical releases have no vocabulary delta")
    }
  }

  test("run() folds funnel metrics into existing jobs; banding roots at the survivor cache") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

    // One cache level of a physical plan: descend AQE wrappers and
    // query stages, stop at InMemoryTableScan leaves (nested caches are
    // inspected at their own level via relation.cachedPlan).
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }

    def body(seed: String) =
      (0 until 120).map(i => s"${seed}tok${i}x").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_fold").toString
    (1L to 6L).map(i => (i, body(s"doc$i"), "en", "fixture", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val qes = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        qes.add((f, qe)); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Pipeline.run(spark, dir, s"$dir/store")
      // the listener bus is async — wait until the event count is
      // stable for a second before asserting on it
      var last = -1; var stable = 0
      while (stable < 10) {
        val n = qes.size
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100)
      }
    } finally spark.listenerManager.unregister(listener)

    // Job folding (round-7 verdict #8): one run is 4 materializing
    // counts + 4 snapshot writes (documents/vectors/packing/stats) —
    // the pii / vector / packing stats ride those as observe()
    // counters. The unfolded shape fired 13 (double counts on the
    // persisted frames, a pii filter count, two snapshot read-backs).
    // Bounded-metadata internals (prefix-sum offsets, vocab-rank
    // zipWithIndex) surface as "rdd" executions; the r9 cluster-drop
    // policy adds the min-label propagation's per-round internals —
    // "localCheckpoint" executions plus convergence counts over the
    // checkpointed rounds (plans rooted at LogicalRDD), bounded by
    // component diameter and pinned by clustersOf's own contract,
    // not this funnel bound.
    import org.apache.spark.sql.execution.LogicalRDD
    val actions = qes.asScala.toVector
    def isPropagationInternal(f: String, qe: QueryExecution): Boolean =
      f == "localCheckpoint" || f == "checkpoint" ||
        qe.analyzed.collectFirst { case r: LogicalRDD => r }.isDefined
    val folded = actions.filter { case (f, qe) =>
      f != "rdd" && !isPropagationInternal(f, qe)
    }
    // 5 counts (4 funnel + the contamination envelope's gram
    // cardinality, which picks broadcast vs bloom) + 4 snapshot writes
    assert(folded.size <= 9,
      s"pipeline fired ${folded.size} count/write executions:\n" +
        actions.map(_._1).mkString(", "))

    // Round-7 ADVICE #4 / round-8 verdict #6: pin that run() itself
    // wires the dup-edge pair frame to the survivor cache. The edge
    // frame materializes through the closure's first localCheckpoint
    // (the fast path's symmetrized (a, b) frame), so its FULL lineage
    // is visible in that execution: no file scan at the edge level (an
    // unpersisted full-corpus rescan), and the run-private shingle
    // posting cache it reads must itself root at an in-memory frame —
    // wiring the SHARED docShingles cache (or re-banding the raw
    // corpus) would show a parquet scan inside that nested cached
    // plan. Physical traversal stops at nested InMemoryTableScan
    // leaves, so each cache is inspected at exactly its own level.
    val edgeQes = actions.filter { case (f, qe) =>
      f == "localCheckpoint" && qe.analyzed.output.map(_.name) == Seq("a", "b")
    }
    assert(edgeQes.nonEmpty, "no dup-edge checkpoint captured")
    edgeQes.foreach { case (_, qe) =>
      val level = nodes(qe.executedPlan)
      assert(level.collect { case f: FileSourceScanExec => f }.isEmpty,
        s"dup edges read a file relation directly:\n${qe.executedPlan}")
      val shCaches = qe.optimizedPlan.collect {
        case m: InMemoryRelation
            if m.output.map(_.name) == Seq("doc_id", "shingle") =>
          m.cachedPlan
      }
      assert(shCaches.nonEmpty,
        s"shingle posting cache missing from the dup-edge plan:\n${qe.optimizedPlan}")
      shCaches.foreach { cached =>
        val inner = nodes(cached)
        assert(inner.collect { case f: FileSourceScanExec => f }.isEmpty,
          s"shingle posting cache roots at a parquet scan, not the " +
            s"survivor frame:\n$cached")
        assert(inner.exists(_.isInstanceOf[InMemoryTableScanExec]),
          s"shingle posting cache must root at the trainCorpus cache:\n$cached")
      }
    }
  }

  test("centrality canonical: same components, keeper is the top-ranked member") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_pipe_cc").toString + "/store"
    val r = Pipeline.run(spark, sf, store, centralityCanonical = true)

    // replay the policy driver-side: train pairs -> union-find
    // components -> keep the (max dense-PageRank, min doc_id) member
    val keptSet = graft.queries.ExtensionQueries.x57_filter_verdict(spark, sf)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val trainSet = keptSet.filterNot(_ % 100 == 0)
    val pairs = (graft.queries.ExtensionQueries
        .x04_ngram_jaccard(spark, sf).select("d1", "d2")
        .collect().map(p => (p.getLong(0), p.getLong(1))) ++
      graft.queries.ExtensionQueries
        .x70_containment(spark, sf).select("d1", "d2")
        .collect().map(p => (p.getLong(0), p.getLong(1))))
      .distinct
      .filter { case (a, b) => trainSet(a) && trainSet(b) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val rr = find(p); parent(x) = rr; rr }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    // dense PageRank, the PageRankSpec reference shape
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    for ((a, b) <- pairs) {
      adj(a) = b :: adj.getOrElse(a, Nil)
      adj(b) = a :: adj.getOrElse(b, Nil)
    }
    var rk = members.map(d => d -> 1.0 / members.size).toMap
    for (_ <- 1 to 10) {
      val in = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      for ((m, nbrs) <- adj; t <- nbrs) in(t) += rk(m) / nbrs.size
      rk = members.map(d => d -> (0.15 / members.size + 0.85 * in(d))).toMap
    }
    // epsilon-tolerant reconcile (round-10 ADVICE: exact keeper-set
    // equality vs the distributed float summation is machine-flaky):
    // one keeper per component is pick-independent, so the pruned
    // count pins exactly; the published keeper per component must be a
    // valid argmax up to relative float epsilon.
    val comps = members.groupBy(find).values.toSeq
    assert(members.size > comps.size, "fixture needs non-trivial components")
    assert(r.prunedNearDup === (members.size - comps.size).toLong)
    val published = VersionedStore
      .readTable(spark, store, r.version, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (comp <- comps) {
      val pub = comp.filter(published)
      assert(pub.size <= 1, s"component $comp published $pub")
      val maxR = comp.map(rk).max
      val eps = 1e-9 * math.max(maxR, 1e-12)
      pub.foreach(d => assert(rk(d) >= maxR - eps,
        s"published $d is not a valid centrality keeper of $comp"))
    }
    assert(comps.exists(_.exists(published)), "some component keeper must " +
      "survive the downstream gates and ship")
  }

  test("contamination gate: the bloom path matches the broadcast gate's keep/drop set") {
    // round-8 verdict missing #2: above the broadcast envelope the
    // pipeline must still have a gate. Force the bloom path by setting
    // the envelope to 0 grams and pin the whole funnel + published id
    // set against the default (broadcast-path) run — the two gates
    // must be observationally identical (the bloom is a pre-filter;
    // the exact semi-join kills its false positives).
    val work = java.nio.file.Files.createTempDirectory("graft_bloomgate")
    val rBroadcast = Pipeline.run(spark, sf, s"$work/a")
    val rBloom = Pipeline.run(spark, sf, s"$work/b",
      maxBroadcastEvalGrams = 0L)
    assert(rBloom.copy(version = rBroadcast.version) === rBroadcast,
      "bloom-path funnel diverges from the broadcast gate")
    def ids(store: String, v: Long) =
      VersionedStore.readTable(spark, store, v, "documents")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(s"$work/a", rBroadcast.version) === ids(s"$work/b", rBloom.version))
  }

  test("snapshot ships its lexical index: loaded index equals a fresh build over the published text") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_pipe_lex").toString + "/store"
    val r = Pipeline.run(spark, sf, store)
    val fromSnap = graft.ml.Bm25Index.fromSnapshot(spark, store)
    val pub = VersionedStore.readTable(spark, store, r.version, "documents")
    val fresh = graft.ml.Bm25Index.buildOf(pub)
    def rows(ix: graft.ml.Bm25Index.Index, terms: Seq[String]) =
      graft.ml.Bm25Index.searchWith(ix, terms, 20)
        .collect().map(x => (x.getLong(0), x.getDouble(1), x.getLong(2))).toSeq
    for (terms <- Seq(Seq("spark", "join", "window"), Seq("data", "table"))) {
      val got = rows(fromSnap, terms)
      assert(got === rows(fresh, terms),
        s"snapshot lexical index diverges from the published text for $terms")
      assert(got.nonEmpty, s"no hits for $terms in the published corpus")
    }
    // the shipped constants describe exactly the published corpus
    val cs = fromSnap.consts.collect().head
    assert(cs.getDouble(0) === pub.count().toDouble,
      "lexical_consts n must be the published doc count")
    // the release carries the forward companion (release-time PRF
    // point-fetches by doc id) with exactly the posting's rows
    assert(fromSnap.forward.nonEmpty,
      "snapshot must ship the doc_id-clustered lexical_forward")
    assert(fromSnap.byDoc.count() === fromSnap.posting.count(),
      "forward projection must carry exactly the posting's rows")
  }

  test("snapshot ships its CCNet operating point; the bucket rule replays") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_pipe_ccnet").toString + "/store"
    val r = Pipeline.run(spark, sf, store)
    val lm = VersionedStore.readTable(spark, store, r.version, "ccnet_lm")
    val cuts = VersionedStore.readTable(spark, store, r.version, "ccnet_cuts")
    val docs = VersionedStore.readTable(spark, store, r.version, "documents")

    // one cut row per published language, cuts ordered
    val langs = docs.select("lang").distinct().collect()
      .map(_.getString(0)).toSet
    val cutRows = cuts.select("lang", "t1", "t2").collect()
      .map(c => (c.getString(0), c.getDouble(1), c.getDouble(2)))
    assert(cutRows.map(_._1).toSet === langs)
    cutRows.foreach { case (l, t1, t2) => assert(t1 <= t2, s"lang $l") }

    // the published LM is exactly the published text's unigram counts
    val lmMap = lm.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val indep = graft.ml.QualityModel.unigramLm(docs).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(lmMap === indep, "ccnet_lm diverges from the published text")

    // replay against the PINNED pair: every tokenizable published doc
    // lands in a bucket, the rule is the pinned comparison, and
    // recomputing the cuts from the published artifacts reproduces
    // the published values (tolerance: one float-sum reassociation
    // ulp, far inside the rule's 6-decimal grid)
    val replay = graft.queries.ExtensionQueries
      .ccnetBucketsWith(lm, cuts, docs).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4), x.getString(5)))
    val tokenizable = docs
      .filter(size(graft.functions.Tokenize.tokens(col("text"))) > 0).count()
    assert(replay.length.toLong === tokenizable)
    replay.foreach { case (id, _, xent, t1, t2, bucket) =>
      val expect = if (xent <= t1) "head"
        else if (xent <= t2) "middle" else "tail"
      assert(bucket === expect, s"doc $id bucket rule")
    }
    // distribution-relative: each language with enough docs splits
    val perLang = replay.groupBy(_._2)
    for ((l, rows) <- perLang if rows.length >= 9)
      assert(rows.map(_._6).distinct.length === 3,
        s"lang $l (${rows.length} docs) should hit all three buckets")

    val recut = graft.queries.ExtensionQueries.ccnetCutsOf(lm, docs)
      .select("lang", "t1", "t2").collect()
      .map(c => c.getString(0) -> (c.getDouble(1), c.getDouble(2))).toMap
    cutRows.foreach { case (l, t1, t2) =>
      val (u1, u2) = recut(l)
      assert(math.abs(u1 - t1) < 1e-6 && math.abs(u2 - t2) < 1e-6,
        s"republished cuts drift for $l: ($t1,$t2) vs ($u1,$u2)")
    }
  }

  test("snapshot ships its training plan; budget and curriculum cuts replay") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_pipe_plan").toString + "/store"
    val r = Pipeline.run(spark, sf, store)
    val plan = VersionedStore.readTable(spark, store, r.version, "budget_plan")
    val cuts = VersionedStore.readTable(spark, store, r.version, "curriculum_cuts")
    val docs = VersionedStore.readTable(spark, store, r.version, "documents")

    // the budget plan covers every published language and conserves
    // the published token budget (each alloc rounds to 4 decimals)
    val rows = plan.collect().map(p => (p.getString(0), p.getLong(1),
      p.getLong(2), p.getDouble(3), p.getDouble(4)))
    val langs = docs.select("lang").distinct().collect()
      .map(_.getString(0)).toSet
    assert(rows.map(_._1).toSet === langs)
    val totalTokens = rows.map(_._2).sum.toDouble
    assert(math.abs(rows.map(_._4).sum - totalTokens) <= rows.length * 5e-5)
    rows.foreach { case (l, _, capped, _, epochs) =>
      if (capped == 1L)
        assert(epochs === graft.queries.ExtensionQueries.UniMaxCap, s"lang $l")
      else assert(epochs < graft.queries.ExtensionQueries.UniMaxCap, s"lang $l")
    }

    // recomputing the allocation from the published text (the
    // snapshot's own per-language tokenizer rule) reproduces the
    // published plan verbatim
    val replan = graft.queries.ExtensionQueries.unimaxAlloc(
      docs.select(col("lang"),
        size(graft.functions.Tokenize.tokensByLang(col("text"), col("lang")))
          .cast("long").as("n_tok"))
        .groupBy("lang").agg(sum(col("n_tok")).as("n_tokens")))
      .collect().map(p => p.getString(0) -> (p.getLong(1), p.getDouble(3),
        p.getDouble(4))).toMap
    rows.foreach { case (l, n, _, alloc, epochs) =>
      val (rn, ra, re) = replan(l)
      assert(rn === n && math.abs(ra - alloc) < 1e-6 &&
        math.abs(re - epochs) < 1e-9, s"budget plan drifts for $l")
    }

    // the published cuts reproduce from the published text, and the
    // phase rule partitions the release
    val c = cuts.collect().head
    val (c1, c2) = (c.getDouble(0), c.getDouble(1))
    assert(c1 <= c2)
    val recut = graft.queries.ExtensionQueries.curriculumCuts(
      graft.queries.ExtensionQueries.qualityStatsOf(docs,
        persistShared = false)).collect().head
    assert(math.abs(recut.getDouble(0) - c1) < 1e-6 &&
      math.abs(recut.getDouble(1) - c2) < 1e-6,
      "republished curriculum cuts drift from the published text")
    val scored = graft.queries.ExtensionQueries.qualityStatsOf(docs,
      persistShared = false).select("quality").collect().map(_.getDouble(0))
    val phased = scored.map(q => if (q <= c1) 3 else if (q <= c2) 2 else 1)
    assert(phased.length.toLong === docs.count())
    assert(phased.toSet === Set(1, 2, 3),
      "the published release should populate all three phases")
  }

  test("snapshot ships mix_plan and source_kl; both replay from the published text") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_pipe_mix").toString + "/store"
    val r = Pipeline.run(spark, sf, store)
    val docs = VersionedStore.readTable(spark, store, r.version, "documents")
    val langSrcTok = docs.select(col("lang"), col("source"),
      graft.functions.Tokenize.tokensByLang(col("text"), col("lang"))
        .as("toks"))

    // the hierarchical plan replays verbatim and preserves the
    // within-language uniform-epochs invariant
    val mix = VersionedStore.readTable(spark, store, r.version, "mix_plan")
      .collect().map(p => (p.getString(0), p.getString(1), p.getLong(2),
        p.getDouble(3), p.getDouble(4)))
    assert(mix.nonEmpty)
    mix.groupBy(_._1).foreach { case (l, cells) =>
      assert(cells.map(_._5).distinct.length === 1,
        s"$l: published plan has non-uniform within-language epochs")
    }
    val remix = graft.queries.ExtensionQueries.hierAllocOf(
      langSrcTok.select(col("lang"), col("source"),
        size(col("toks")).cast("long").as("n_tok"))
        .groupBy("lang", "source").agg(sum(col("n_tok")).as("n_tokens")))
      .collect().map(p => (p.getString(0), p.getString(1)) ->
        (p.getLong(2), p.getDouble(3), p.getDouble(4))).toMap
    mix.foreach { case (l, s, n, alloc, epochs) =>
      val (rn, ra, re) = remix((l, s))
      assert(rn === n && math.abs(ra - alloc) < 1e-6 &&
        math.abs(re - epochs) < 1e-9, s"mix plan drifts for ($l, $s)")
    }

    // the drift fingerprint covers every published source and replays
    val kl = VersionedStore.readTable(spark, store, r.version, "source_kl")
      .collect().map(p => (p.getString(0), p.getLong(1), p.getDouble(2),
        p.getString(3)))
    val sources = docs.select("source").distinct().collect()
      .map(_.getString(0)).toSet
    assert(kl.map(_._1).toSet === sources)
    kl.foreach { case (s, _, k, _) => assert(k >= 0, s"$s: negative KL $k") }
    val rekl = graft.queries.ExtensionQueries.sourceKlOf(
      langSrcTok.select(col("source"), explode(col("toks")).as("token")))
      .collect().map(p => p.getString(0) ->
        (p.getLong(1), p.getDouble(2), p.getString(3))).toMap
    kl.foreach { case (s, n, k, top) =>
      val (rn, rk, rtop) = rekl(s)
      assert(rn === n && math.abs(rk - k) < 1e-6 && rtop === top,
        s"source_kl drifts for $s")
    }
  }

  test("semantic dedup stage: the jittered twin is pruned, quantizer built once") {
    import spark.implicits._
    // 24 docs that pass every text gate (distinct 120-token bodies),
    // with an embeddings table whose directions are spread 15° apart
    // on a plane EXCEPT docs 1 and 2, planted as jittered twins
    // (0.005 rad ≈ cos 0.9999). At semanticCos=0.98 the only prunable
    // pair is (1,2); the policy keeps the min (doc 1).
    def body(seed: String) =
      (0 until 120).map(i => s"${seed}unique${i}word").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_sem").toString
    (1L to 24L).map(i => (i, body(s"doc$i"), "en", "fixture", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    def planar(theta: Double): Array[Float] =
      Array(math.cos(theta).toFloat, math.sin(theta).toFloat) ++
        Array.fill(6)(0f)
    val embs = (1L to 24L).map { i =>
      val theta =
        if (i == 2L) 1L * 2 * math.Pi / 24 + 0.005 // doc 1's twin
        else i * 2 * math.Pi / 24
      (i, planar(theta), 0)
    }
    embs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")

    try {
      // default run: semantic stage off, nothing pruned
      val rOff = Pipeline.run(spark, dir, s"$dir/store_off")
      assert(rOff.prunedSemantic === 0L && rOff.prunedNearDup === 0L)
      assert(VersionedStore.readTable(spark, s"$dir/store_off", rOff.version,
        "documents").count() === 24L)

      val r = Pipeline.run(spark, dir, s"$dir/store_on",
        semanticDedup = true, semanticCos = 0.98, semanticK = 4)
      assert(r.prunedSemantic === 1L,
        s"expected exactly the planted twin pruned, got ${r.prunedSemantic}")
      val snap = VersionedStore.readTable(spark, s"$dir/store_on", r.version,
        "documents").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(snap.contains(1L) && !snap.contains(2L),
        "the component's min-doc_id canonical must survive, the twin drop")
      assert(snap.size === 23)

      // the coarse quantizer is the memoized IVF index: a second
      // semantic run must NOT rebuild it
      val r2 = Pipeline.run(spark, dir, s"$dir/store_on2",
        semanticDedup = true, semanticCos = 0.98, semanticK = 4)
      assert(r2.prunedSemantic === 1L)
      assert(graft.Caches.memoized("ivf", dir) === 1,
        "quantizer rebuilt instead of reusing the memoized index")
    } finally graft.Caches.clear(dir)
  }

  test("quality gate: model drops heuristic-passing gibberish the verdict keeps") {
    import spark.implicits._
    // a long all-hapax doc: passes every x57 heuristic (length 60,
    // zero stopwords, 8-char tokens => quality 0.84; zero repetition;
    // en; unique text) but sits at the far cross-entropy tail the
    // x82 classifier is seeded on. Planted into a copy of the real
    // corpus so the model trains on a realistic distribution.
    val gibberish = (0 until 60).map(i => f"qzx${i}%03dvw").mkString(" ")
    val planted = Seq((900001L, gibberish, "en", "fixture", gibberish.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_qgate").toString
    Tables.documents(spark, sf).unionByName(planted)
      .write.parquet(s"$dir/documents.parquet")

    // sanity: the heuristic verdict KEEPS the planted doc
    val verdict = graft.queries.ExtensionQueries
      .x57_filter_verdict(spark, dir)
      .filter(col("doc_id") === 900001L).select("keep").collect()(0)
    assert(verdict.getBoolean(0), "planted doc must pass the x57 heuristics")

    val off = Pipeline.run(spark, dir, s"$dir/store_off")
    assert(off.droppedLowQuality === 0L)
    assert(VersionedStore.readTable(spark, s"$dir/store_off", off.version,
        "documents").filter(col("doc_id") === 900001L).count() === 1L,
      "without the gate the gibberish ships")

    val on = Pipeline.run(spark, dir, s"$dir/store_on", qualityGate = true)
    assert(on.droppedLowQuality >= 1L)
    assert(VersionedStore.readTable(spark, s"$dir/store_on", on.version,
        "documents").filter(col("doc_id") === 900001L).count() === 0L,
      "the model gate must drop the planted gibberish")
    // the gate is a scalpel, not a chainsaw: the bulk of the real
    // corpus still ships (seed tails are the suspect minority)
    val offDocs = VersionedStore.readTable(spark, s"$dir/store_off",
      off.version, "documents").count()
    val onDocs = VersionedStore.readTable(spark, s"$dir/store_on",
      on.version, "documents").count()
    assert(onDocs >= (offDocs * 6) / 10,
      s"gate dropped too much: $onDocs of $offDocs")

    // the snapshot ships THE gate that curated it: loading the
    // published quality_model and re-scoring the gate's exact input
    // reproduces the run's keep/drop verdicts (tokenizer precedent —
    // a release consumer can re-apply the release's gate to new data)
    val m = graft.ml.QualityModel.fromTable(VersionedStore.readTable(
      spark, s"$dir/store_on", on.version, "quality_model"))
    assert(m.threshold === 0.5 && m.featureNames.nonEmpty &&
      m.coefficients.size === m.featureNames.size)
    val replay = graft.ml.QualityModel
      .scoreWith(m, Pipeline.gateInput(spark, dir)).persist()
    try {
      assert(replay.filter(!col("keep")).count() === on.droppedLowQuality,
        "replayed gate drops a different set than the run's")
      assert(replay.filter(!col("keep"))
          .filter(col("doc_id") === 900001L).count() === 1L,
        "replayed gate must re-drop the planted gibberish")
      // no published doc is one the replayed gate would have dropped
      assert(VersionedStore.readTable(spark, s"$dir/store_on", on.version,
          "documents")
          .join(replay.filter(!col("keep")).select("doc_id"),
            Seq("doc_id"), "left_semi").count() === 0L,
        "published corpus contains docs the replayed gate drops")
    } finally replay.unpersist()
    // the un-gated snapshot ships no model table
    assertThrows[Exception](VersionedStore.readTable(spark,
      s"$dir/store_off", off.version, "quality_model").collect())
  }

  test("synthetic PII is masked in the published snapshot") {
    import spark.implicits._
    // the testdata corpus is PII-free, so the reconcile test above
    // only proves the no-op path; this fixture drives the rewrite
    // end-to-end through the pipeline. Docs must PASS the x57 verdict:
    // ~120 distinct long tokens -> quality 1.0, dup_frac 0, lang en.
    def body(seed: String) =
      (0 until 120).map(i => s"${seed}unique${i}word").mkString(" ")
    val rows = Seq(
      (1L, s"reach Jane.Doe+x@corp.example.org now ${body("alpha")}"),
      (2L, s"see https://example.org/a?b=c then ${body("bravo")}"),
      (3L, s"card 4111222233334444 noted ${body("charlie")}"),
      (4L, body("delta")))
      .map { case (id, t) => (id, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_pii").toString
    rows.write.parquet(s"$dir/documents.parquet")

    val r = Pipeline.run(spark, dir, s"$dir/store")
    assert(r.kept === 4 && r.heldOutEval === 0 && r.prunedNearDup === 0)
    assert(r.piiMaskedDocs === 3)
    val pub = VersionedStore.readTable(spark, s"$dir/store", r.version, "documents")
      .select("doc_id", "text", "n_pii").collect()
      .map(row => row.getLong(0) -> ((row.getString(1), row.getInt(2)))).toMap
    assert(pub(1L)._1.startsWith("reach <EMAIL> now"))
    assert(pub(2L)._1.startsWith("see <URL> then"))
    assert(pub(3L)._1.startsWith("card <NUM> noted"))
    assert(!pub.values.exists(v => v._1.contains("@") || v._1.contains("http")
      || v._1.contains("4111222233334444")))
    assert(pub(1L)._2 === 1 && pub(4L)._2 === 0)
  }

  test("rule batteries: gopher folds into the keep set, C4 rewrites lines, card reconciles") {
    import spark.implicits._
    // Round-12 verdict ask #4. A fixture corpus with REAL line
    // structure (the synthetic tables have none, which is why the
    // batteries are opt-in):
    //  - docs 1-20: pass everything — 17 lines x 5 words, terminal
    //    '.', two required stops per line, doc-unique words (no dup
    //    edges, no shared shingles)
    //  - doc 31: x57-passing all-hapax gibberish with NO required
    //    stops -> the GOPHER battery's marginal drop
    //  - doc 32: gopher-passing text where only 2 of 17 lines carry
    //    terminal punctuation -> C4's page rule (< 3 survivors) drops
    //    the page
    //  - doc 33: gopher-passing text with 3 'javascript' lines -> the
    //    page survives REWRITTEN (14 lines), the battery's line drops
    // word lengths stay well under Gopher's mean-word-len 10 cap
    // (seed + w + j + suffix ≈ 8-10 chars; 'the'/'with' pull the mean
    // down to ~7)
    def goodLine(seed: String, j: Int) =
      s"the ${seed}w${j}a with ${seed}w${j}b ${seed}w${j}c."
    def goodDoc(seed: String) =
      (0 until 17).map(goodLine(seed, _)).mkString("\n")
    val gibberish = (0 until 17).map(j =>
      (0 until 5).map(k => f"qzx$j%02d$k%01dvw").mkString(" ") + ".")
      .mkString("\n")
    val fewTerminals = (0 until 17).map { j =>
      val l = s"the c32w${j}a with c32w${j}b c32w${j}c"
      if (j < 2) l + "." else l
    }.mkString("\n")
    val jsLines = (0 until 17).map { j =>
      if (j % 5 == 4) // lines 4, 9, 14 -> exactly 3 of 17
        s"the c33w${j}a with javascript c33w${j}c."
      else goodLine("c33", j)
    }.mkString("\n")
    val rows = ((1L to 20L).map(i => (i, goodDoc(s"doc$i"))) ++
      Seq((31L, gibberish), (32L, fewTerminals), (33L, jsLines)))
      .map { case (id, t) => (id, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_rules").toString
    rows.write.parquet(s"$dir/documents.parquet")

    // sanity: all 23 docs pass the heuristic verdict — the batteries'
    // drops below are MARGINAL, not rediscoveries
    assert(graft.queries.ExtensionQueries.x57_filter_verdict(spark, dir)
      .filter(col("keep")).count() === 23L)

    // batteries off: everything ships
    val off = Pipeline.run(spark, dir, s"$dir/store_off")
    assert(off.kept === 23L && off.droppedGopher === 0L &&
      off.droppedC4Pages === 0L && off.c4LinesDropped === 0L)
    assert(VersionedStore.readTable(spark, s"$dir/store_off", off.version,
      "documents").count() === 23L)

    // batteries on: the funnel reconciles doc by doc
    val on = Pipeline.run(spark, dir, s"$dir/store_on", ruleBatteries = true)
    assert(on.droppedGopher === 1L, s"gopher must drop exactly doc 31: $on")
    assert(on.kept === 22L, "kept counts AFTER the gopher fold")
    assert(on.droppedC4Pages === 1L, s"C4 must page-drop exactly doc 32: $on")
    assert(on.c4LinesDropped === 3L,
      s"C4 must strip exactly doc 33's three javascript lines: $on")
    assert(on.heldOutEval === 0L, "no fixture id is ≡ 0 mod 100")
    // funnel arithmetic: kept = heldOut + C4 page drops + what ships
    // (no dedup/contam/segclean losses on this fixture)
    assert(on.kept - on.heldOutEval - on.droppedC4Pages === 21L)
    val snap = VersionedStore.readTable(spark, s"$dir/store_on", on.version,
      "documents")
    val ids = snap.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.size === 21 && !ids.contains(31L) && !ids.contains(32L) &&
      ids.contains(33L), s"snapshot ids wrong: $ids")
    // doc 33 ships REWRITTEN: javascript lines gone, 14 lines remain
    val t33 = snap.filter(col("doc_id") === 33L)
      .select("text").head.getString(0)
    assert(!t33.toLowerCase.contains("javascript"))
    assert(t33.split("\n").length === 14)
    // untouched docs ship byte-identical (the rewrite must not launder
    // formatting through the cleaner for pages it doesn't touch)
    val t1 = snap.filter(col("doc_id") === 1L).select("text").head.getString(0)
    assert(t1 === goodDoc("doc1"))

    // gateInput(ruleBatteries = true) reconstructs EXACTLY the frame a
    // battery run gated (round-13 advice: the batteries-off
    // reconstruction silently scored a different frame — docs 31/32
    // present, doc 33 unrewritten). On this fixture the run loses
    // nothing after the gate, so the published corpus IS the gated
    // frame: same ids, same (rewritten) bytes.
    val gi = Pipeline.gateInput(spark, dir, ruleBatteries = true)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gi.keySet === ids, s"replay frame ids diverge: ${gi.keySet}")
    assert(gi(33L) === t33, "replay frame must carry the C4-rewritten text")
    val gi0 = Pipeline.gateInput(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gi0.contains(31L) && gi0.contains(32L) && gi0(33L) != gi(33L),
      "batteries-off reconstruction must visibly differ on this fixture")

    // the snapshot records which stages ran — the replay consumer
    // reads ruleBatteries from here, not from job logs
    val cfgOn = VersionedStore.readTable(spark, s"$dir/store_on", on.version,
      "run_config").head
    assert(cfgOn.getAs[Boolean]("rule_batteries") &&
      !cfgOn.getAs[Boolean]("quality_gate"))
    val cfgOff = VersionedStore.readTable(spark, s"$dir/store_off",
      off.version, "run_config").head
    assert(!cfgOff.getAs[Boolean]("rule_batteries"))

    // the card: per-rule drop counts ride the snapshot
    val card = VersionedStore.readTable(spark, s"$dir/store_on", on.version,
      "rule_drops").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(card(("gopher", "required_stops")) === 1L,
      s"doc 31's violation must be named: $card")
    assert(card(("gopher", "total_docs_dropped")) === 1L)
    assert(card(("c4", "pages_dropped")) === 1L)
    assert(card(("c4", "lines_dropped")) === 3L)
    assert(card(("gopher", "word_count")) === 0L,
      "rules nobody violated report zero")
    // and the off-run snapshot has NO card — the stage didn't run
    assertThrows[Exception](VersionedStore.readTable(spark,
      s"$dir/store_off", off.version, "rule_drops").collect())
  }

  /** The bitext release fixture: the BitextSpec hub geometry over two
    * language pools, so the shipped pairs have a known exact answer
    * (1↔11, 2↔12, 3↔13; hub 14 excluded by mutuality). Pairs come
    * from the RAW crawl (both pools) — the monolingual verdict keeps
    * only en docs, and a parallel corpus is a SIBLING product of the
    * same crawl, so the de docs ship in pairs while never entering
    * the train corpus.
    */
  private def plantBitextFixture(tag: String): String = {
    import spark.implicits._
    def goodLine(seed: String, j: Int) =
      s"the ${seed}w${j}a with ${seed}w${j}b ${seed}w${j}c."
    def goodDoc(seed: String) =
      (0 until 17).map(goodLine(seed, _)).mkString("\n")
    val docs = (Seq(1L, 2L, 3L, 4L).map(i => (i, goodDoc(s"en$i"), "en")) ++
      Seq(11L, 12L, 13L, 14L).map(i => (i, goodDoc(s"de$i"), "de")))
      .map { case (id, t, l) => (id, t, l, "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    docs.write.parquet(s"$dir/documents.parquet")
    Seq(
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
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("bitext release: the snapshot ships extracted pairs beside the train corpus") {
    // The ml/BitextAnn maintenance contract's release half: mining is
    // a batch-release operation, cut at the snapshot boundary (fixture:
    // see plantBitextFixture).
    val dir = plantBitextFixture("graft_bitext_rel")
    val r = Pipeline.run(spark, dir, s"$dir/store", bitextRelease = true)
    assert(r.bitextPairs === 3L, s"pair counter: $r")
    val pairs = VersionedStore.readTable(spark, s"$dir/store", r.version,
      "bitext_pairs").collect()
      .map(rr => rr.getLong(0) -> rr.getLong(1)).toMap
    assert(pairs === Map(1L -> 11L, 2L -> 12L, 3L -> 13L),
      s"shipped pairs wrong: $pairs")
    // the train corpus stays monolingual — the de pool ships ONLY in
    // the pair table
    val langs = VersionedStore.readTable(spark, s"$dir/store", r.version,
      "documents").select("lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs === Set("en"), s"train corpus langs: $langs")
    // which-stages-ran is answerable from the snapshot alone
    assert(VersionedStore.readTable(spark, s"$dir/store", r.version,
      "run_config").head.getAs[Boolean]("bitext_release"))
    // an off-run snapshot carries NO pair table and a zero counter
    val off = Pipeline.run(spark, dir, s"$dir/store_off")
    assert(off.bitextPairs === 0L)
    assert(!VersionedStore.readTable(spark, s"$dir/store_off", off.version,
      "run_config").head.getAs[Boolean]("bitext_release"))
    assertThrows[Exception](VersionedStore.readTable(spark,
      s"$dir/store_off", off.version, "bitext_pairs").collect())
  }

  test("two concurrent bitext publishers on one storeRoot never clobber a stage") {
    // Round-16 ADVICE (medium) + verdict ask #4: the release used to
    // stage through the FIXED $storeRoot/_bitext_stage, and a rival
    // publisher's sweep begins with a fingerprint-mismatch
    // fs.delete(stage) — so two concurrent bitextRelease runs could
    // wipe each other's staged pairs mid-publish and ship a partial or
    // mixed pair table. The stage is now scoped by a per-run nonce;
    // BOTH publishers must ship the complete exact pair set. (The
    // snapshot version claim is a separate, already-serialized
    // concern: a loser that collides on the claim throws before
    // writing any data and simply retries, exactly as a real driver
    // would — the retry below keeps this deterministic.)
    val dir = plantBitextFixture("graft_bitext_race")
    val store = s"$dir/store"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    def publishOnce() =
      Pipeline.run(spark, dir, store, bitextRelease = true)
    val results =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(Seq(
          scala.concurrent.Future(scala.util.Try(publishOnce())),
          scala.concurrent.Future(scala.util.Try(publishOnce())))),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    val done = results.map {
      case scala.util.Success(r) => r
      case scala.util.Failure(_) => publishOnce() // lost the claim: retry
    }
    assert(done.map(_.version).distinct.size === 2,
      s"each publisher must land its own snapshot: $done")
    done.foreach { r =>
      assert(r.bitextPairs === 3L,
        s"v=${r.version} shipped a partial pair table: $r")
      val pairs = VersionedStore.readTable(spark, store, r.version,
        "bitext_pairs").collect()
        .map(rr => rr.getLong(0) -> rr.getLong(1)).toMap
      assert(pairs === Map(1L -> 11L, 2L -> 12L, 3L -> 13L),
        s"v=${r.version} pairs wrong or mixed: $pairs")
    }
  }
}
