package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VecMath

/** Product-quantization (PQ) ANN: each vector is split into M
  * subvectors; each subvector is replaced by the id of its nearest
  * entry in a per-subspace codebook (ksub entries, trained k-means).
  * A vector becomes M small codes — at D=64, M=16, ksub=16 that is
  * 16 4-bit codes = 8 logical bytes against 256 bytes of float32, a
  * 32× compression (the frame stores them as ints; parquet's
  * dictionary/bit-packing gets them to ~4 bits at rest) — and a
  * query scores a candidate WITHOUT touching the original vector:
  * score ≈ Σ_m LUT[m][code_m], where LUT is the query's M×ksub table
  * of subvector dot products (asymmetric distance computation, ADC).
  *
  * Defaults follow the measured recall ladder on the isotropic
  * sf0.001 fixture (recall@3 vs brute-force x05, shortlist 32/64/128):
  * m=8,ksub=16 → 0.40/0.67/0.87; m=8,ksub=64 → 0.80/0.93/1.00;
  * m=16,ksub=16 → 0.87/1.00/1.00; m=16,ksub=64 → 1.00/—/—. At equal
  * logical size (8 B/vec), MORE subspaces with SMALLER codebooks wins
  * on isotropic data (quantization error scales with subspace
  * dimensionality), so the default is m=16, ksub=16, shortlist=64 —
  * measured 1.00, spec floor 0.9.
  *
  * This is the memory leg of the similarity-search story, complementing
  * [[IvfIndex]]'s partition-pruning leg: IVF decides WHICH lists to
  * scan, PQ makes each scanned row 32× smaller. At 100 TB of raw
  * vectors the code table is ~3 TB — a scannable working set — and the
  * classic composition (IVF lists holding PQ codes) follows from these
  * two pieces unchanged. Ranking is by approximate COSINE: the code row
  * carries the stored vector's true norm (8 more bytes), so
  * approx_cos = ADC_ip / (|q|·|v|) ranks on the same scale x05 uses,
  * and the final exact re-rank joins the top-S shortlist — and ONLY
  * the shortlist — back to the full vectors by id (the narrow late
  * materialization a 100 TB deployment does against the vector store).
  *
  * Training mirrors the IVF quantizer: bounded deterministic sample
  * (xxhash64 order), local per-subspace Lloyd's, fixed iterations —
  * deterministic but not SQL-expressible, so the query entry (x75) is
  * rows-only; the accuracy contract is PqRecallSpec (the ADC identity
  * on zero-error reconstructions + a pinned recall floor vs exact
  * x05). Encoding and scoring are pure codegen HOF expressions: the
  * per-m score matrix is projected to an attribute BEFORE the argmax
  * so the ksub dot products evaluate once (HOF args re-evaluate per
  * call — same pitfall IvfIndex documents).
  */
object PqIndex {

  /** The built index: (vec_id, codes array<int>, vnorm) — the
    * compressed frame a deployment keeps hot — plus the driver-held
    * codebooks (M × ksub × dsub, kilobytes) that broadcast as plan
    * literals.
    */
  final case class Index(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
      m: Int, dsub: Int)

  def build(spark: SparkSession, sfDir: String, m: Int = 16, ksub: Int = 16): Index =
    graft.Caches.memo(spark, "pq", sfDir, m, ksub) {
      val emb = graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), VecMath.asDouble(col("embedding")).as("v"))
      val codebooks = trainCodebooks(emb, "v", m, ksub)
      val codes = withCodes(emb, "v", codebooks)
        .select(col("vec_id"), col("codes"),
          VecMath.l2norm(col("v")).as("vnorm"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      Index(codes, codebooks, m, codebooks.head.head.length)
    }(_.codes.unpersist(blocking = true))

  /** Train M per-subspace codebooks from ONE bounded deterministic
    * sample (xxhash64 order) of `vcol` — shared by the flat-PQ build
    * (whole vectors) and the IVF-PQ build (per-list residuals).
    */
  private[ml] def trainCodebooks(vectors: DataFrame, vcol: String,
      m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    val maxTrain = ksub * 256
    val sample = vectors
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(maxTrain)
      .select(vcol).collect().map(_.getSeq[Double](0).toArray)
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { mi =>
      IvfIndex.lloyds(sample.map(_.slice(mi * dsub, (mi + 1) * dsub)), ksub, iters = 20)
    }
  }

  /** Append the `codes` column: per subspace, argmax of
    * (v_m·c − |c|²/2) ≡ Euclidean argmin, with the M×ksub score matrix
    * projected to an attribute first so the dots evaluate once.
    */
  private[ml] def withCodes(vectors: DataFrame, vcol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val scores = transform(sequence(lit(0), lit(m - 1)), mi => {
      val sub = slice(col(vcol), mi * dsub + 1, lit(dsub))
      zip_with(element_at(codebookLit(codebooks), mi + 1),
        element_at(offsetLit(codebooks), mi + 1),
        (c, o) => VecMath.dot(sub, c) - o)
    })
    vectors
      .withColumn("sc", scores) // attribute: the M×ksub dots evaluate once
      .withColumn("codes", transform(col("sc"), s =>
        (array_position(s, array_max(s)) - 1).cast("int")))
      .drop("sc")
  }

  /** Codebooks as a small table — (mi, ki, c) rows — so an index can
    * ship through [[graft.sources.VersionedStore]].
    */
  private[ml] def codebooksTable(spark: SparkSession,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for (mi <- cb.indices; ki <- cb(mi).indices)
      yield (mi, ki, cb(mi)(ki).toSeq)).toDF("mi", "ki", "c")
  }

  private[ml] def codebooksFrom(table: DataFrame): Array[Array[Array[Double]]] = {
    val rows = table.select("mi", "ki", "c").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    val m = rows.keys.map(_._1).max + 1
    val ksub = rows.keys.map(_._2).max + 1
    Array.tabulate(m)(mi => Array.tabulate(ksub)(ki => rows((mi, ki))))
  }

  /** Publish a built index — compressed code frame + codebooks — as
    * one atomic versioned artifact (the IvfIndex.save precedent): the
    * 32×-compressed frame is only useful if another session can load
    * it WITHOUT the original vectors or a retrain. Returns the
    * version.
    */
  def save(spark: SparkSession, sfDir: String, root: String,
      m: Int = 16, ksub: Int = 16): Long = {
    val ix = build(spark, sfDir, m, ksub)
    graft.sources.VersionedStore.publishAll(
      Map("codes" -> ix.codes, "codebooks" -> codebooksTable(spark, ix.codebooks)),
      root)
  }

  /** Load a published index (latest snapshot, or a pinned `version`).
    * Codebooks are kilobytes (one driver collect); the code frame is
    * persisted through [[graft.Caches]] keyed by the artifact root.
    */
  def load(spark: SparkSession, root: String,
      version: Option[Long] = None): Index = {
    val v = version.orElse(graft.sources.VersionedStore.latestVersion(root))
      .getOrElse(throw new IllegalStateException(s"no published index under $root"))
    val cb = codebooksFrom(
      graft.sources.VersionedStore.readTable(spark, root, v, "codebooks"))
    val codes = graft.Caches.persist(
      graft.sources.VersionedStore.readTable(spark, root, v, "codes"))
    Index(codes, cb, cb.length, cb.head.head.length)
  }

  private[graft] def codebookLit(cb: Array[Array[Array[Double]]]): Column =
    array(cb.toIndexedSeq.map(b =>
      array(b.toIndexedSeq.map(c => array(c.toIndexedSeq.map(lit(_)): _*)): _*)): _*)

  private def offsetLit(cb: Array[Array[Array[Double]]]): Column =
    array(cb.toIndexedSeq.map(b =>
      array(b.toIndexedSeq.map(c => lit(0.5 * c.map(x => x * x).sum)): _*)): _*)

  /** The query's ADC lookup table: M×ksub subvector dot products,
    * evaluated once as an attribute of the (small, broadcast) query
    * frame — scoring a candidate is then M array lookups + adds.
    */
  private[graft] def lutFor(cb: Array[Array[Array[Double]]], dsub: Int,
      qv: Column): Column =
    transform(sequence(lit(0), lit(cb.length - 1)), mi =>
      transform(element_at(codebookLit(cb), mi + 1), c =>
        VecMath.dot(slice(qv, mi * dsub + 1, lit(dsub)), c)))

  private[graft] def lutFor(index: Index, qv: Column): Column =
    lutFor(index.codebooks, index.dsub, qv)

  /** The ADC inner product of one code row against a query's LUT. */
  private[graft] def adcIp(lut: Column, codes: Column): Column =
    aggregate(zip_with(lut, codes, (t, c) => element_at(t, c + 1)),
      lit(0.0), (acc, x) => acc + x)

  /** ADC shortlist (top `shortlist` by approximate cosine, scanning
    * only the compressed code frame) → exact re-rank of the shortlist
    * against the full vectors → top-k.
    */
  def search(spark: SparkSession, sfDir: String, index: Index, queries: DataFrame,
      shortlist: Int = 64, topK: Int = 3): DataFrame = {
    val q = queries
      .withColumn("lut", lutFor(index, col("qv")))
      .withColumn("qnorm", VecMath.l2norm(col("qv")))
    val approx = index.codes.join(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx_cos",
        adcIp(col("lut"), col("codes")) / (col("qnorm") * col("vnorm")))
    val sw = Window.partitionBy("query_id")
      .orderBy(col("approx_cos").desc, col("vec_id"))
    val short = approx.withColumn("sr", row_number().over(sw))
      .filter(col("sr") <= shortlist)
      .select("query_id", "qv", "vec_id")

    // late materialization: ONLY the shortlist ids touch full vectors
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VecMath.asDouble(col("embedding")).as("v"))
    val exact = short.join(emb, Seq("vec_id"))
      .withColumn("cos", VecMath.cosine(col("qv"), col("v")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    exact.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select(col("query_id"), col("rn"), col("vec_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("query_id", "rn")
  }

  def searchTopK(spark: SparkSession, sfDir: String, m: Int = 16, ksub: Int = 16,
      shortlist: Int = 64, topK: Int = 3): DataFrame = {
    val index = build(spark, sfDir, m, ksub)
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VecMath.asDouble(col("embedding")).as("v"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    search(spark, sfDir, index, queries, shortlist, topK)
  }

  /** Drop all built indexes (frees the persisted code frames). */
  def clear(): Unit = graft.Caches.clearKinds("pq")
}
