package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Bm25Index
import graft.queries.ExtensionQueries
import graft.streaming.DedupStream

/** Round-10 verdict ask #1: lexical retrieval must stop re-scanning
  * the corpus per query. The contract: (a) the published-artifact
  * search (x96: save → load → search) answers IDENTICALLY to the
  * session-built index (x91) at every SF — same docs, same rounded
  * scores, same order — so the publish/load roundtrip is lossless
  * (the truly independent scan-based formulation is x91's DuckDB
  * oracle, which recomputes everything from the raw table and stays
  * green against BOTH paths); (b) the loaded artifact's posting scan
  * PRUNES to the query's terms (pushed filters, the on-disk
  * posting-list fetch); (c) the DedupStream lexical channel maintains
  * the same index incrementally — an index assembled from the
  * stream's per-batch slices searches row-identically to a batch
  * build over the accepted corpus.
  */
class Bm25IndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Long)] =
    df.select("doc_id", "score", "n_terms").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

  test("published-artifact search is row-identical to the session-built index at all three SFs") {
    for (dir <- Seq(sfDir("0.001"), sfDir("0.01"),
        sfDir("0.1"))) {
      val built = rows(ExtensionQueries.x91_bm25(spark, dir))
      val indexed = rows(ExtensionQueries.x96_bm25_indexed(spark, dir))
      assert(indexed === built,
        s"artifact-served BM25 diverges from the built index at $dir")
      assert(built.nonEmpty, s"empty BM25 result at $dir")
    }
  }

  test("passage-artifact MaxP is row-identical to the scan-based x123 at all three SFs") {
    for (dir <- Seq(sfDir("0.001"), sfDir("0.01"),
        sfDir("0.1"))) {
      val scan = ExtensionQueries.x123_passage_bm25(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val indexed = ExtensionQueries.x124_passage_indexed(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(indexed === scan,
        s"passage-artifact MaxP diverges from the scan answer at $dir")
      assert(scan.nonEmpty, s"empty MaxP result at $dir")
    }
  }

  test("passage artifact publishes the full versioned triple and serves without tokenizing") {
    ExtensionQueries.x124_passage_indexed(spark, sf).collect()
    val root = graft.sources.VersionedStore.artifactRoot("bm25p", sf)
    val v = graft.sources.VersionedStore.latestVersion(root)
    assert(v.nonEmpty, s"no published passage index under $root")
    for (t <- Seq("posting", "df", "consts", "meta"))
      assert(graft.sources.VersionedStore.readTable(spark, root, v.get, t)
        .count() > 0, s"artifact table $t is empty")
    // the query-time plan over the LOADED index never tokenizes —
    // the chunking and regex live entirely at publish time
    val p = ExtensionQueries.x124_passage_indexed(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("split(lower"),
      s"tokenizer leaked into the artifact-served MaxP plan:\n$p")
  }

  test("batch search's query-0 slice equals the single-query search") {
    // x100's query 0 carries x91's exact term set, so its slice must
    // reproduce the single-query ranking verbatim — rank, score, and
    // term count (the searchBatch ↔ searchWith consistency pin)
    val single = ExtensionQueries.x91_bm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .zipWithIndex.map { case ((d, s, n), i) => (i + 1L, d, s, n) }.toSeq
    val batch0 = ExtensionQueries.x100_bm25_batch(spark, sf)
      .filter(org.apache.spark.sql.functions.col("query_id") === 0)
      .select("rank", "doc_id", "score", "n_terms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(batch0 === single, "batch query-0 slice diverges from x91")
    assert(single.length === 20)
  }

  test("loaded posting scan prunes to the query terms (pushed filters)") {
    // force the artifact path, then check the LOADED index's plan: the
    // term filter must reach the parquet scan as a pushed In-filter so
    // row-group stats skip non-query tokens (the build publishes the
    // posting token-clustered for exactly this)
    ExtensionQueries.x96_bm25_indexed(spark, sf).collect()
    val ix = Bm25Index.loadOrPublish(spark, sf)
    val plan = Bm25Index.searchWith(ix, Seq("spark", "join", "window"), 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"),
      "posting scan lost its pushed filters")
    assert(plan.contains("In(token"),
      s"term filter not pushed into the posting scan:\n$plan")
  }

  test("loadOrPublish republishes when the source table changed under the same path") {
    // stale-artifact guard (round-11 review): the artifact is keyed by
    // PATH, so a regenerated dataset at the same path must invalidate
    // it via the published fingerprint — never serve old-corpus answers
    import org.apache.spark.sql.functions.lit
    val work = Files.createTempDirectory("graft_bm25_fp")
    val dir = work.toString
    Tables.documents(spark, sf).write.parquet(s"$dir/documents.parquet")
    val ix1 = Bm25Index.loadOrPublish(spark, dir)
    val r1 = rows(Bm25Index.searchWith(ix1, Seq("spark", "join"), 10))
    assert(r1.nonEmpty)
    val v1 = graft.sources.VersionedStore
      .latestVersion(graft.sources.VersionedStore.artifactRoot("bm25", dir)).get

    // regenerate the corpus at the SAME path with different content
    val half = Tables.documents(spark, sf).filter(col("doc_id") < 250)
      .withColumn("text", concat_ws(" ", col("text"), lit("spark")))
    val tmp2 = work.resolve("re").toString
    half.write.parquet(tmp2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/documents.parquet"), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp2),
      new org.apache.hadoop.fs.Path(s"$dir/documents.parquet"))
    // drop the session memo (a fresh session's state) and re-resolve
    graft.Caches.clear(dir)
    val ix2 = Bm25Index.loadOrPublish(spark, dir)
    val v2 = graft.sources.VersionedStore
      .latestVersion(graft.sources.VersionedStore.artifactRoot("bm25", dir)).get
    assert(v2 > v1, "changed source must republish the artifact")
    val r2 = rows(Bm25Index.searchWith(ix2, Seq("spark", "join"), 10))
    assert(r2 !== r1, "republished index must answer from the NEW corpus")
    val expect = rows(Bm25Index.searchWith(
      Bm25Index.buildOf(spark.read.parquet(s"$dir/documents.parquet")),
      Seq("spark", "join"), 10))
    assert(r2 === expect)

    // unchanged source: resolving again re-uses the artifact (no bump)
    graft.Caches.clear(dir)
    Bm25Index.loadOrPublish(spark, dir)
    assert(graft.sources.VersionedStore
      .latestVersion(graft.sources.VersionedStore.artifactRoot("bm25", dir)).get === v2,
      "unchanged source must not republish")
  }

  test("stream-maintained lexical slices assemble to the batch-built index") {
    val work = Files.createTempDirectory("graft_lexstream")
    val docsDir = work.resolve("docs_in")
    Files.createDirectory(docsDir)
    val store = work.resolve("store").toString
    val ckpt = work.resolve("ckpt").toString
    val wordvecs = graft.queries.ReferenceQueries.wordvecsByLang(spark, sf)

    def stageBatch(name: String, cond: org.apache.spark.sql.Column): Unit = {
      val tmp = work.resolve(s"stage_$name")
      Tables.documents(spark, sf).filter(cond).coalesce(1)
        .write.parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), docsDir.resolve(s"$name.parquet"))
    }

    stageBatch("a", col("doc_id") < 250)
    DedupStream.start(spark, docsDir.toString, wordvecs, 8, store, ckpt,
      lexIndex = true).quiesce()
    stageBatch("b", col("doc_id") >= 250)
    DedupStream.start(spark, docsDir.toString, wordvecs, 8, store, ckpt,
      lexIndex = true).quiesce()

    val accepted = spark.read.parquet(s"$store/docs").select("doc_id", "text")
    val fromStore = Bm25Index.fromStore(spark, store)
    val batchBuilt = Bm25Index.buildOf(accepted)

    // the assembled constants are the batch constants
    val csStream = fromStore.consts.collect().head
    val csBatch = batchBuilt.consts.collect().head
    assert(csStream.getDouble(0) === csBatch.getDouble(0), "n diverges")
    assert(math.abs(csStream.getDouble(1) - csBatch.getDouble(1)) < 1e-9,
      "avgdl diverges")

    // search equality over the maintained artifact — the maintained
    // index IS the index (terms chosen to hit docs in both batches)
    for (terms <- Seq(Seq("spark", "join", "window"), Seq("data", "the"))) {
      val got = rows(Bm25Index.searchWith(fromStore, terms, 20))
      val exp = rows(Bm25Index.searchWith(batchBuilt, terms, 20))
      assert(got === exp, s"stream-maintained index diverges for $terms")
      assert(exp.nonEmpty, s"fixture matched no docs for $terms")
    }

    // posting slices hold exactly the accepted docs' rows (survivor-only
    // channel, like every other artifact)
    val postDocs = spark.read.parquet(s"$store/lexpost")
      .select("doc_id").distinct().as[Long].collect().toSet
    val accIds = accepted.select("doc_id").as[Long].collect().toSet
    assert(postDocs.subsetOf(accIds), "lexical posting holds a dropped doc")
  }

  test("compaction consolidates the lexical slices content-identically") {
    // reuse the maintained store shape on a tiny fixture: two batches,
    // compact, and the assembled index must not change
    val work = Files.createTempDirectory("graft_lexcompact")
    val docsDir = work.resolve("docs_in")
    Files.createDirectory(docsDir)
    val store = work.resolve("store").toString
    val ckpt = work.resolve("ckpt").toString
    val wordvecs = graft.queries.ReferenceQueries.wordvecsByLang(spark, sf)
    def put(name: String, rowsIn: Seq[(Long, String)]): Unit = {
      val tmp = work.resolve(s"stage_$name")
      rowsIn.toDF("doc_id", "text").withColumn("lang", lit("en"))
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), docsDir.resolve(s"$name.parquet"))
    }
    put("a", Seq((1L, "alpha beta gamma alpha"), (2L, "delta beta")))
    DedupStream.start(spark, docsDir.toString, wordvecs, 8, store, ckpt,
      lexIndex = true).quiesce()
    put("b", Seq((3L, "gamma gamma epsilon")))
    DedupStream.start(spark, docsDir.toString, wordvecs, 8, store, ckpt,
      lexIndex = true).quiesce()

    def snapshot(): Seq[(Long, Double, Long)] =
      rows(Bm25Index.searchWith(Bm25Index.fromStore(spark, store),
        Seq("alpha", "gamma"), 10))
    val before = snapshot()
    DedupStream.compactStore(spark, store)
    assert(snapshot() === before,
      "compaction changed the assembled lexical index")
    assert(before.nonEmpty)
  }
}
