package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecMath

/** IVF-PQ: the classic composition of the two index legs — IVF
  * ([[IvfIndex]]) prunes WHICH lists are scanned, PQ ([[PqIndex]])
  * makes each scanned row 32× smaller and scores it by table lookup
  * (ADC) instead of a full dot product. This is the configuration a
  * 100 TB deployment actually runs: the coded frame (vec_id, list_id,
  * codes, vnorm) is the whole hot working set — ~24 bytes/vector,
  * partitioned by list_id — full vectors live cold in the store and
  * are touched ONLY by the final shortlist re-rank join.
  *
  * RESIDUAL encoding (classic IVFADC): PQ codes quantize
  * `r = v − centroid(list)`, not the whole vector, so the codebooks
  * spend their bits on WITHIN-list variation — the part the coarse
  * quantizer already removed is carried exactly by the centroid. The
  * ADC score recomposes the inner product exactly in expectation:
  * q·v = q·c_list + q·r ≈ q·c_list + Σ_m LUT_r[m][code_m], where
  * q·c_list is already computed by the probe ranking and LUT_r is the
  * query's table against the RESIDUAL codebooks. Same code budget,
  * strictly smaller quantization error than whole-vector PQ inside a
  * list.
  *
  * Recall decomposes multiplicatively: probing P of k lists bounds it
  * by IVF's probe recall (P=4 → 0.80 floor, IvfRecallSpec), and the
  * residual-ADC shortlist inside the probed lists is near-exact.
  * Measured composed recall@3 on the sf0.001 fixture at the defaults:
  * see IvfPqSpec, floor pinned there.
  *
  * The built artifact (coded frame + centroids + residual codebooks)
  * ships via save/load as one atomic VersionedStore snapshot — the
  * deployment configuration is precisely this triple; x76 can run
  * against a pinned artifact path with no corpus scan and no retrain.
  */
object IvfPq {

  /** The deployment artifact: compressed coded frame, coarse
    * centroids, and the driver-held RESIDUAL codebooks.
    */
  final case class Index(coded: DataFrame, centroids: DataFrame,
      codebooks: Array[Array[Array[Double]]], m: Int, dsub: Int)

  private def embOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VecMath.asDouble(col("embedding")).as("v"))

  /** Build (memoized per session × dataset): assign lists with the
    * shared IVF quantizer, subtract each vector's list centroid, train
    * residual codebooks on a bounded sample, encode. The coded frame
    * persists through [[graft.Caches]] (canonical-plan dedup — both
    * bench passes and repeated searches hit one materialization).
    */
  def build(spark: SparkSession, sfDir: String,
      m: Int = 16, ksub: Int = 16): Index =
    graft.Caches.memo(spark, "ivfpq", sfDir, m, ksub)(
      encodeWith(IvfIndex.build(spark, sfDir), embOf(spark, sfDir), m, ksub))(
      _ => ())

  /** Build over an EXPLICIT (vec_id, v) frame with its own coarse
    * quantizer — the space-agnostic entry the stream-maintained index
    * rides (a DedupStream store's doc vectors are their own embedding
    * space, with their own dimension). Unmemoized. The coarse
    * assignment frame would otherwise leak (it is neither in the
    * IvfIndex memo nor in Caches — round-11 review): the coded frame
    * is materialized eagerly here, then the assignments release. If
    * the coded cache is later evicted, a recompute re-derives the
    * assignment unpersisted — slower, never wrong.
    */
  def buildFrom(spark: SparkSession, vecs: DataFrame, nLists: Int = 16,
      m: Int = 16, ksub: Int = 16): Index = {
    val ivf = IvfIndex.buildFrom(spark, vecs, nLists)
    val ix = encodeWith(ivf, vecs, m, ksub)
    ix.coded.count()
    ivf.assigned.unpersist(true)
    ix
  }

  /** The shared residual-encode core: assign lists, subtract each
    * vector's list centroid, train residual codebooks on a bounded
    * sample, encode. The coded frame persists through [[graft.Caches]]
    * (canonical-plan dedup — repeated searches hit one
    * materialization).
    */
  private def encodeWith(ivf: IvfIndex.Index, vecs: DataFrame,
      m: Int, ksub: Int): Index = {
    val resid = vecs
      .join(ivf.assigned.select("vec_id", "list_id"), Seq("vec_id"))
      .join(broadcast(ivf.centroids), Seq("list_id"))
      .select(col("vec_id"), col("list_id"),
        zip_with(col("v"), col("centroid"), (a, b) => a - b).as("r"),
        VecMath.l2norm(col("v")).as("vnorm"))
    val codebooks = PqIndex.trainCodebooks(resid, "r", m, ksub)
    val coded = graft.Caches.persist(
      PqIndex.withCodes(resid, "r", codebooks)
        .select("vec_id", "list_id", "codes", "vnorm"))
    Index(coded, ivf.centroids, codebooks, m, codebooks.head.head.length)
  }

  /** Incremental add — the FAISS `add()` contract: new vectors join
    * an EXISTING index without retraining either quantizer. Each
    * vector is assigned to its nearest current centroid (the same
    * `v·c − |c|²/2` argmax the build runs, same first-max tiebreak),
    * residual-encoded against the SAME codebooks, and unioned onto
    * the coded frame. Because both quantizers are immutable across
    * appends, the appended rows are ROW-IDENTICAL to what a full
    * encode of (base ∪ delta) under the same quantizers would produce
    * — IvfPqSpec pins exactly that — so the recall analysis and every
    * search property carry over unchanged. This is the maintenance
    * path a deployed index lives on: the nightly delta encodes in one
    * corpus-linear broadcast pass (no shuffle — centroids and
    * codebooks ride as plan literals) and appends; RETRAINING is a
    * deliberate distribution-drift event, not an ingest side effect.
    * The memoized build cache is not touched — append returns a new
    * Index value.
    */
  def append(index: Index, newVecs: DataFrame): Index = {
    val cents = index.centroids.select("list_id", "centroid")
      .orderBy("list_id").collect()
      .map(r => r.getSeq[Double](1).toArray)
    val centLit = array(cents.toIndexedSeq.map(c =>
      array(c.toIndexedSeq.map(lit(_)): _*)): _*)
    val offLit = array(cents.toIndexedSeq.map(c =>
      lit(0.5 * c.map(x => x * x).sum)): _*)
    val scores = zip_with(transform(centLit, c => VecMath.dot(col("v"), c)),
      offLit, (d, o) => d - o)
    val resid = newVecs
      .withColumn("scores", scores)
      .withColumn("list_id",
        (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int"))
      .join(broadcast(index.centroids), Seq("list_id"))
      .select(col("vec_id"), col("list_id"),
        zip_with(col("v"), col("centroid"), (a, b) => a - b).as("r"),
        VecMath.l2norm(col("v")).as("vnorm"))
    val codedNew = PqIndex.withCodes(resid, "r", index.codebooks)
      .select("vec_id", "list_id", "codes", "vnorm")
    Index(graft.Caches.persist(index.coded.unionByName(codedNew)),
      index.centroids, index.codebooks, index.m, index.dsub)
  }

  /** Publish the deployment triple as one atomic versioned snapshot,
    * plus a `meta` table with the source table's filesystem
    * fingerprint (what [[loadOrPublish]] validates).
    */
  def save(spark: SparkSession, sfDir: String, root: String,
      m: Int = 16, ksub: Int = 16): Long = {
    import spark.implicits._
    val ix = build(spark, sfDir, m, ksub)
    graft.sources.VersionedStore.publishAll(
      Map("coded" -> ix.coded, "centroids" -> ix.centroids,
        "codebooks" -> PqIndex.codebooksTable(spark, ix.codebooks),
        "meta" -> Seq(graft.Tables.fileFingerprint(spark, sfDir, "embeddings"))
          .toDF("fingerprint")),
      root)
  }

  /** Publish an EXPLICIT Index value — the path [[append]]'s result
    * ships on (the stream-maintained index publishes pinned-version-in
    * → new-version-out without rebuilding anything).
    */
  def saveIndex(spark: SparkSession, ix: Index, root: String): Long =
    saveIndexWith(spark, ix, Map.empty, root)

  /** [[saveIndex]] plus caller-supplied side tables in the SAME atomic
    * snapshot — the quantizer-maintenance path ships its fit
    * provenance (`fitted_ids`, `quant_meta`) with the triple so a
    * reader can never pair version N's coded rows with version N−1's
    * certification basis.
    */
  def saveIndexWith(spark: SparkSession, ix: Index,
      extras: Map[String, DataFrame], root: String): Long =
    graft.sources.VersionedStore.publishAll(
      Map("coded" -> ix.coded, "centroids" -> ix.centroids,
        "codebooks" -> PqIndex.codebooksTable(spark, ix.codebooks)) ++ extras,
      root)

  /** The session's published-artifact index for a dataset (the
    * Bm25Index.loadOrPublish twin, same stale-fingerprint republish
    * rule): publish once per (session, dataset) under the JVM temp
    * root, then serve the LOADED index — x97's dense leg rides this.
    */
  def loadOrPublish(spark: SparkSession, sfDir: String): Index =
    graft.sources.VersionedStore.loadOrPublish(spark, "ivfpq", sfDir,
      graft.Tables.fileFingerprint(spark, sfDir, "embeddings"))(
      (root, meta) => saveIndexWith(spark, build(spark, sfDir),
        Map("meta" -> meta), root))(
      load(spark, _))

  /** Load a published index (latest snapshot, or a pinned `version`):
    * no k-means, no corpus scan — a fresh session probes immediately.
    */
  def load(spark: SparkSession, root: String,
      version: Option[Long] = None): Index = {
    val v = version.orElse(graft.sources.VersionedStore.latestVersion(root))
      .getOrElse(throw new IllegalStateException(s"no published index under $root"))
    val cb = PqIndex.codebooksFrom(
      graft.sources.VersionedStore.readTable(spark, root, v, "codebooks"))
    val coded = graft.Caches.persist(
      graft.sources.VersionedStore.readTable(spark, root, v, "coded"))
    val centroids =
      graft.sources.VersionedStore.readTable(spark, root, v, "centroids")
    Index(coded, centroids, cb, cb.length, cb.head.head.length)
  }

  /** Search an explicit index — the path a loaded artifact serves.
    * `reRank` supplies the full vectors for the final shortlist join
    * (the cold store in a deployment).
    */
  def searchWith(spark: SparkSession, index: Index, reRank: DataFrame,
      queries: DataFrame, nProbe: Int = 4, shortlist: Int = 64,
      topK: Int = 3): DataFrame = {
    // probe the P nearest centroid lists (same ranking IvfIndex.search
    // uses: centroid inner product, deterministic list_id tiebreak);
    // the probe's q·centroid rides along — residual ADC adds it back
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("cdist").asc, col("list_id"))
    val probed = queries.crossJoin(broadcast(index.centroids))
      .withColumn("qc", VecMath.dot(col("qv"), col("centroid")))
      .withColumn("cdist", -col("qc"))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qc"),
        lutFor(index, col("qv")).as("lut"),
        VecMath.l2norm(col("qv")).as("qnorm"), col("list_id"))

    // ADC-score ONLY the probed lists' code rows:
    // q·v ≈ q·c_list + ADC_ip(residual LUT, codes)
    val scored = index.coded.join(broadcast(probed), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx_cos",
        (col("qc") + PqIndex.adcIp(col("lut"), col("codes")))
          / (col("qnorm") * col("vnorm")))
    val sw = Window.partitionBy("query_id")
      .orderBy(col("approx_cos").desc, col("vec_id"))
    val short = scored.withColumn("sr", row_number().over(sw))
      .filter(col("sr") <= shortlist)
      .select("query_id", "qv", "vec_id")

    // late materialization: shortlist ids against the full vectors
    val exact = short.join(reRank, Seq("vec_id"))
      .withColumn("cos", VecMath.cosine(col("qv"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    exact.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select(col("query_id"), col("rn"), col("vec_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("query_id", "rn")
  }

  private def lutFor(index: Index, qv: org.apache.spark.sql.Column) =
    PqIndex.lutFor(index.codebooks, index.dsub, qv)

  def search(spark: SparkSession, sfDir: String, queries: DataFrame,
      nProbe: Int = 4, shortlist: Int = 64, topK: Int = 3): DataFrame =
    searchWith(spark, build(spark, sfDir), embOf(spark, sfDir), queries,
      nProbe, shortlist, topK)

  def searchTopK(spark: SparkSession, sfDir: String, nProbe: Int = 4,
      shortlist: Int = 64, topK: Int = 3): DataFrame = {
    val queries = embOf(spark, sfDir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    search(spark, sfDir, queries, nProbe, shortlist, topK)
  }

  /** Drop memoized indexes (Caches holds the coded frames). */
  def clear(): Unit = graft.Caches.clearKinds("ivfpq", "ivfpq-artifact")
}
