package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted lexical-retrieval artifact — the inverted index that
  * turns BM25 from a per-query corpus scan (x91's demo shape) into a
  * posting-list fetch whose cost is ∝ Σ df(query terms). The exact
  * `IvfIndex.save/load` precedent applied to the lexical leg
  * (round-10 verdict "what's missing" #1): build ONCE over the
  * corpus, publish as one atomic [[graft.sources.VersionedStore]]
  * snapshot, and every later query loads the artifact and touches
  * only its own terms' rows.
  *
  * Three tables, one snapshot:
  *
  *   - `posting` — (token, doc_id, tf, dl): one row per distinct
  *     (doc, token), the term frequency, and the document length
  *     DENORMALIZED inline. dl is doc-intrinsic (a doc's token count
  *     never changes after acceptance), so carrying it on the posting
  *     row deletes the corpus-sized dl join from the query path —
  *     the classic Lucene layout (per-doc norm stored with the
  *     posting). Published clustered by token (repartition on token +
  *     sort within partitions) so parquet row-group min/max stats
  *     prune an `In(token, …)` scan to the query's terms — the
  *     on-disk analogue of a posting-list fetch; at 100 TB the same
  *     layout is bucketed by token.
  *   - `df` — (token, df): the per-term document frequency dimension,
  *     vocabulary-sized, broadcast at query time.
  *   - `consts` — one row (n, avgdl): the corpus constants the BM25
  *     denominator needs.
  *
  * Scoring is the Lucene-practical BM25 x91 pins (k1=1.2, b=0.75,
  * idf = ln((N − df + 0.5)/(df + 0.5) + 1)); Bm25IndexSpec pins the
  * index-backed answer row-identical to x91's scan-based answer at
  * all three SFs, and x96 runs the loaded-artifact path under x91's
  * own DuckDB oracle.
  *
  * The STREAMING maintenance path ([[graft.streaming.DedupStream]]'s
  * lexical channel) appends per-batch posting/df/consts slices as
  * accepted docs arrive — [[fromStore]] assembles the same Index
  * shape from the maintained slices, so the index is maintained, not
  * rebuilt (the x52 incremental-idf precedent).
  */
object Bm25Index {

  val K1 = 1.2
  val B = 0.75

  /** The deployment triple. `posting`: (token, doc_id, tf, dl);
    * `df`: (token, df); `consts`: one row (n, avgdl).
    *
    * `forward`: the OPTIONAL doc_id-clustered FORWARD projection of
    * the same posting rows — the standard companion every PRF
    * deployment carries (round-13 verdict ask #2): "give me this
    * doc's terms" is a point fetch on this sort order and a linear
    * posting scan on the token-clustered one. Published artifacts
    * ship it ([[saveIndex]]); session-built and legacy-snapshot
    * indexes don't (None), and by-doc readers fall back to the
    * posting.
    */
  final case class Index(posting: DataFrame, df: DataFrame,
      consts: DataFrame, forward: Option[DataFrame] = None) {
    /** The frame a by-doc_id fetch should read: the forward
      * projection when the artifact ships one, else the posting
      * (same rows, linear scan — the honest fallback).
      */
    def byDoc: DataFrame = forward.getOrElse(posting)
  }

  /** Cross-engine deterministic rounding (ReferenceQueries.round). */
  private def round6(c: Column) =
    floor(c * 1e6 + lit(0.5)) / 1e6

  /** One posting row's BM25 contribution, over a row carrying the
    * posting's (tf, dl), the term's df and the corpus consts (n, avgdl).
    */
  private val termScore: Column =
    log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
      (col("tf") * lit(K1 + 1)) /
      (col("tf") + lit(K1) *
        (lit(1 - B) + lit(B) * col("dl") / col("avgdl")))

  /** Build the index frames from a (doc_id, text) corpus. The ONE
    * corpus-linear tokenize+agg pass a deployment pays at build time;
    * `docs` rows without tokens still count toward N (x91's n is the
    * documents count) but have no posting/dl rows — exactly the
    * frames x91 derives per query.
    */
  def buildOf(docs: DataFrame, persistShared: Boolean = false): Index = {
    val post = graft.queries.ReferenceQueries.docTokens(docs, persistShared)
    val tf = post.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dl = post.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val posting = tf.join(dl, Seq("doc_id"))
      .select("token", "doc_id", "tf", "dl")
    // df and the constants derive FROM the posting (one row per
    // (doc, token) ⇒ per-token row count IS the doc frequency; the
    // distinct (doc_id, dl) pairs re-yield the length table) so a
    // caller that persists the posting pays ONE tokenize for the
    // whole triple — CacheManager substitutes the cached subtree into
    // the derived plans (round-11 review: the previous independent
    // tf/dl/df branches cost ~4 corpus tokenizes at publish).
    val df = posting.groupBy("token").agg(count(lit(1)).as("df"))
    val consts = docs.agg(count(lit(1)).cast("double").as("n"))
      .crossJoin(posting.select("doc_id", "dl").distinct()
        .agg(avg(col("dl")).as("avgdl")))
    Index(posting, df, consts)
  }

  /** Build (memoized per session × dataset) over the documents table.
    * The posting and df frames persist through [[graft.Caches]] so
    * repeated searches (and both bench passes) pay the tokenize once.
    */
  def build(spark: SparkSession, sfDir: String): Index =
    graft.Caches.memo(spark, "bm25", sfDir) {
      // persistShared: the corpus (doc_id, token) projection is THE
      // session-shared working set (SCALE.md §caches) — the build
      // rides the same materialization x91/x09/x52 read
      val ix = buildOf(graft.Tables.documents(spark, sfDir),
        persistShared = true)
      Index(graft.Caches.persist(ix.posting), graft.Caches.persist(ix.df),
        ix.consts)
    }(_ => ())

  /** Publish the triple as one atomic versioned snapshot, plus any
    * `extras` tables (the published-artifact path adds its `meta`
    * fingerprint). The posting goes out clustered by token (see object
    * doc) so a loaded scan prunes to the query's terms via row-group
    * stats; the SAME rows go out a second time clustered by doc_id as
    * the `forward` projection (see [[Index.forward]]) so a by-doc fetch
    * — PRF's feedback-term read — prunes to its doc ids instead of
    * scanning the posting linearly. Second sort order, same bytes; the
    * Lucene stored-fields/postings split.
    */
  def saveIndex(spark: SparkSession, ix: Index, root: String,
      extras: Map[String, DataFrame] = Map.empty): Long =
    graft.sources.VersionedStore.publishAll(
      Map(
        "posting" -> ix.posting.repartition(col("token"))
          .sortWithinPartitions("token"),
        "forward" -> forwardOf(ix.posting),
        "df" -> ix.df,
        "consts" -> ix.consts) ++ extras,
      root)

  /** Load a published index (latest snapshot, or a pinned `version`).
    * No tokenize, no corpus scan — a fresh session searches
    * immediately, and the posting scan stays LAZY so query-time
    * term filters push down into the parquet read.
    */
  def load(spark: SparkSession, root: String,
      version: Option[Long] = None): Index = {
    val v = version.orElse(graft.sources.VersionedStore.latestVersion(root))
      .getOrElse(throw new IllegalStateException(s"no published index under $root"))
    Index(
      graft.sources.VersionedStore.readTable(spark, root, v, "posting"),
      graft.sources.VersionedStore.readTable(spark, root, v, "df"),
      graft.sources.VersionedStore.readTable(spark, root, v, "consts"),
      // a snapshot published before the forward projection existed
      // still loads — by-doc readers fall back to the posting scan
      scala.util.Try(graft.sources.VersionedStore
        .readTable(spark, root, v, "forward")).toOption)
  }

  /** The session's published-artifact path for a dataset: publish the
    * session build ([[build]]) once under the JVM temp root, then serve
    * the LOADED index — the deployment shape (x96/x97 ride this).
    * Freshness is [[graft.sources.VersionedStore.loadOrPublish]]'s:
    * the artifact is reused only while its `meta` fingerprint matches
    * the documents table's filesystem identity.
    */
  def loadOrPublish(spark: SparkSession, sfDir: String): Index =
    served(spark, sfDir, "bm25")(build(spark, sfDir))

  /** [[loadOrPublish]] for a DERIVED corpus — e.g. x123's passages as
    * pseudo-docs — under its own artifact `kind`: the caller supplies
    * the (doc_id, text) frame the index is built over; freshness is
    * still validated against the SOURCE documents table's filesystem
    * fingerprint (a derived frame is stale exactly when its source
    * is). One memo + one versioned artifact per (session, dataset,
    * kind); the loaded posting scan stays lazy so query-time term
    * filters push into the parquet read — the same serving contract
    * as the document-level index.
    */
  def loadOrPublishOf(spark: SparkSession, sfDir: String, kind: String,
      docs: => DataFrame): Index =
    served(spark, sfDir, kind)(buildOf(docs))

  private def served(spark: SparkSession, sfDir: String, kind: String)(
      ix: => Index): Index =
    graft.sources.VersionedStore.loadOrPublish(spark, kind, sfDir,
      graft.Tables.fileFingerprint(spark, sfDir, "documents"))(
      (root, meta) => saveIndex(spark, ix, root, Map("meta" -> meta)))(
      load(spark, _))

  /** The doc_id-clustered forward projection of a posting frame — ONE
    * definition for every publisher ([[saveIndex]] and the Pipeline
    * snapshot), so the forward layout can never drift between
    * artifacts by publisher.
    */
  private[graft] def forwardOf(posting: DataFrame): DataFrame =
    posting.repartition(col("doc_id")).sortWithinPartitions("doc_id")

  /** Search an index: the posting fetch is the term filter (pushed to
    * the scan on a loaded artifact), df rides as a term-count-sized
    * broadcast, consts as a 1-row broadcast, and the score is one
    * doc-keyed agg over ≤ |terms| rows per doc followed by a
    * TakeOrdered — cost ∝ Σ df(query terms), never corpus-linear.
    * Output and ordering are exactly x91's: (doc_id, score rounded to
    * 6, n_terms), ranked on the ROUNDED score with doc_id tiebreak.
    */
  def searchWith(ix: Index, terms: Seq[String], topK: Int): DataFrame =
    scoreAndTop(ix.posting.filter(col("token").isin(terms: _*)),
      ix.df.filter(col("token").isin(terms: _*)), ix.consts, topK)

  /** Boolean-AND posting primitive: ids of documents whose posting
    * contains EVERY given term. The conjunction of the classic
    * inverted-index algebra — a token-pruned posting fetch (cost
    * ∝ Σ df(terms), the filter pushes into the token-clustered scan)
    * plus one doc-keyed count; OR is a union of conjunctions and NOT
    * an anti-join, so arbitrary boolean queries compose from this one
    * primitive plus relational set ops (x111's shape). Posting rows
    * are unique per (doc, token) by construction, so the count needs
    * no distinct.
    */
  def conjunction(ix: Index, terms: Seq[String]): DataFrame = {
    val ts = terms.distinct
    ix.posting.filter(col("token").isin(ts: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("nt"))
      .filter(col("nt") === ts.size)
      .select("doc_id")
  }

  /** Search with a DYNAMIC term frame (one `token` column) — the entry
    * a query-expansion round needs, where the term set is itself a
    * query result. The posting prune is a broadcast equi-join instead
    * of a static pushed filter (at scale: a runtime/DPP-style filter);
    * scoring and ranking are [[searchWith]]'s exactly.
    */
  def searchWithFrame(ix: Index, terms: DataFrame, topK: Int): DataFrame =
    scoreAndTop(ix.posting.join(broadcast(terms), Seq("token")),
      ix.df.join(broadcast(terms), Seq("token")), ix.consts, topK)

  private def scoreAndTop(qpost: DataFrame, qdf: DataFrame,
      consts: DataFrame, topK: Int): DataFrame =
    qpost.join(broadcast(qdf), Seq("token"))
      .crossJoin(broadcast(consts))
      .withColumn("term_score", termScore)
      .groupBy("doc_id").agg(round6(sum(col("term_score"))).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)

  /** BATCH search — the serving-pipeline shape: MANY queries' term
    * sets (query_id, token) score in ONE pass over the union of their
    * posting lists. The query dimension broadcasts, the posting scan
    * prunes to the union term set (still pushed down on a loaded
    * artifact), the score is one (query, doc)-keyed agg, and the
    * per-query top-k is a query-partitioned window over the bounded
    * match sets — cost ∝ Σ_q Σ df(q's terms), scaling out with
    * partitions as query count grows. Ranking ties match
    * [[searchWith]]: rounded score desc, then doc_id.
    */
  def searchBatch(ix: Index, queryTerms: Seq[(Long, String)],
      topK: Int): DataFrame = {
    import ix.posting.sparkSession.implicits._
    val allTerms = queryTerms.map(_._2).distinct
    val qt = queryTerms.toDF("query_id", "token")
    val qpost = ix.posting.filter(col("token").isin(allTerms: _*))
      .join(broadcast(qt), Seq("token"))
    val qdf = ix.df.filter(col("token").isin(allTerms: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    qpost.join(broadcast(qdf), Seq("token"))
      .crossJoin(broadcast(ix.consts))
      .withColumn("term_score", termScore)
      .groupBy("query_id", "doc_id")
      .agg(round6(sum(col("term_score"))).as("score"),
        count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "doc_id", "score", "n_terms")
      .orderBy("query_id", "rank")
  }

  /** Load the lexical index a Pipeline snapshot ships (the
    * lexical_posting / lexical_df / lexical_consts tables riding the
    * release version) — "retrieve over this release" with no corpus
    * pass, the fromSnapshot twin of [[load]].
    */
  def fromSnapshot(spark: SparkSession, root: String,
      version: Option[Long] = None): Index = {
    val v = version.orElse(graft.sources.VersionedStore.latestVersion(root))
      .getOrElse(throw new IllegalStateException(s"no published snapshot under $root"))
    Index(
      graft.sources.VersionedStore.readTable(spark, root, v, "lexical_posting"),
      graft.sources.VersionedStore.readTable(spark, root, v, "lexical_df"),
      graft.sources.VersionedStore.readTable(spark, root, v, "lexical_consts"),
      // releases published before the forward companion existed still
      // load; by-doc readers fall back to the posting scan
      scala.util.Try(graft.sources.VersionedStore
        .readTable(spark, root, v, "lexical_forward")).toOption)
  }

  /** Assemble an Index from a DedupStream store's maintained lexical
    * slices (quiesced store — see the channel doc in DedupStream):
    * posting rows are doc-intrinsic and read verbatim; df sums its
    * per-batch contribution slices; consts re-derive from the summed
    * per-batch totals. No accepted text is ever re-tokenized.
    */
  def fromStore(spark: SparkSession, storeRoot: String): Index = {
    // declared schemas: no footer-inference job per artifact
    def slices(name: String) = spark.read
      .schema(graft.streaming.DedupStream.storeSchemas.toMap.apply(name))
      .parquet(s"$storeRoot/$name")
    val posting = slices("lexpost").select("token", "doc_id", "tf", "dl")
    val df = slices("lexdf")
      .groupBy("token").agg(sum(col("cnt")).as("df"))
    val consts = slices("lexconsts")
      .agg(sum(col("n_docs")).cast("double").as("n"),
        (sum(col("sum_dl")).cast("double") /
          sum(col("n_dl_docs")).cast("double")).as("avgdl"))
    Index(posting, df, consts)
  }

  /** Drop the memoized builds and published-artifact handles (frames
    * persist through Caches, which owns their release).
    */
  def clear(): Unit =
    graft.Caches.clearKinds("bm25", "bm25-artifact", "bm25p-artifact")
}
