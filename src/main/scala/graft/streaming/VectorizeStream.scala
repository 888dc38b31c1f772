package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.Tokenize
import graft.queries.ReferenceQueries
import graft.sources.Upsert

/** The reference's flagship worker loop (`worker.py:110-150`) as a
  * Structured Streaming job.
  *
  * Reference: poll Mongo for posts whose `jobs.vectorizer_<lang>` flag
  * is unset, vectorize a micro-batch, upsert doc vectors + flag.
  * Spark-native: a file stream of documents is the unbounded source
  * (checkpointed offsets replace the job-flag "offset", §2.10), each
  * micro-batch runs the SAME doc-vector core as the batch queries
  * ([[ReferenceQueries.docVectorsOf]]), and `foreachBatch` writes its
  * vectors as the store's `batch=N` slice, through the store's one
  * projection ([[DedupStream.storeVectorRows]]). A replayed batch
  * overwrites its own slice with the same rows, so at-least-once
  * delivery composes to exactly-once; [[readStore]] reads the latest
  * row per doc, the reference's `$set` upsert.
  */
object VectorizeStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Start the vectorizer: stream docs from `docsDir`, vectorize EVERY
    * language in each micro-batch against the (lang, token)-keyed
    * dimension table, write them to `storePath`. The reference deploys
    * one worker process per language (`worker.py:17-20`); the
    * engine-native form is one stream whose per-language dispatch is a
    * column expression (`Tokenize.tokensByLang`) and whose dimension
    * join is keyed by (lang, token) — no language is hard-coded
    * anywhere in the path. A doc whose language has no dimension rows
    * still flows through with known=0 and a NULL vector (F12), exactly
    * as the reference stores `doc_vectors=None`.
    */
  def start(spark: SparkSession, docsDir: String, wordvecsLang: DataFrame,
      dim: Int, storePath: String, checkpoint: String): StreamingQuery = {
    val docs = spark.readStream.schema(docSchema).parquet(docsDir)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DedupStream.storeVectorRows(
            ReferenceQueries.docVectorsByLang(batch, wordvecsLang, dim))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$storePath/batch=$batchId")
      }
      .start()
  }

  /** The reference worker's TRUE loop shape (round-4 verdict #6): text
    * is fetched over the lang-detector RPC INSIDE the poll loop
    * (`worker.py:24-31` runs in `process_post`, per post), not joined
    * from a snapshot. The engine's preferred form is still the join
    * (q05 — bulk data should be snapshotted, not row-polled), but when
    * the corpus genuinely lives behind a service this composition is
    * the honest stream: per micro-batch, RPC-fetch the batch's texts
    * ([[graft.sources.HttpTextSource.fetchTexts]], pooled client, loud
    * non-200), tokenize them by `lang`'s own rule
    * (`Tokenize.tokens(text, lang)`), run the same doc-vector core
    * against the token-keyed dimension `wordvecs`, and write the
    * batch's slice — tagged with `lang`, so both vectorizers write one
    * store schema.
    *
    * Exactly-once still holds WITH the RPC in the loop: checkpointed
    * file-source offsets make each input file process once per
    * checkpoint lineage, and a replayed batch re-fetches and overwrites
    * its own slice — so a crash between fetch and commit costs
    * duplicate HTTP GETs, never duplicate rows.
    */
  def startWithRpc(spark: SparkSession, docsDir: String, wordvecs: DataFrame,
      dim: Int, storePath: String, checkpoint: String, baseUri: String,
      lang: String, target: String = "posts"): StreamingQuery = {
    val docs = spark.readStream.schema(docSchema).parquet(docsDir)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the stream carries only identity; text is the service's
        val pending = batch.filter(col("lang") === lang).select("doc_id")
        val texts = graft.sources.HttpTextSource.fetchTexts(
          pending.select(lit(target).as("target"), col("doc_id")),
          baseUri, lang)
        val dv = ReferenceQueries.docVectorsOf(
          pending.join(texts, Seq("doc_id")), Tokenize.tokens(col("text"), lang),
          wordvecs, Seq("token"), dim)
        DedupStream.storeVectorRows(dv.withColumn("lang", lit(lang)))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$storePath/batch=$batchId")
      }
      .start()
  }

  /** The store a vectorizer wrote, as (doc_id, lang, known_ratio, vec):
    * its latest row per doc ([[Upsert.latestByKey]]), read with the
    * store's declared schema.
    */
  def readStore(spark: SparkSession, storePath: String): DataFrame =
    Upsert.latestByKey(
        DedupStream.readOrEmpty(spark, storePath, DedupStream.vectorsSchema),
        "doc_id")
      .drop("batch")
}
