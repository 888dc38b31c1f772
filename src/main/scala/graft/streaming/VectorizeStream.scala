package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.queries.ReferenceQueries
import graft.sources.Upsert

/** The reference's flagship worker loop (`worker.py:110-150`) as a
  * Structured Streaming job.
  *
  * Reference: poll Mongo for posts whose `jobs.vectorizer_<lang>` flag
  * is unset, vectorize a micro-batch, upsert doc vectors + flag.
  * Spark-native: a file stream of documents is the unbounded source
  * (checkpointed offsets replace the job-flag "offset", §2.10), each
  * micro-batch runs the SAME plan as the batch q12 pipeline via
  * [[ReferenceQueries.docVectors]], and `foreachBatch` merges results
  * into a parquet doc-vector store by key — idempotent, so at-least-once
  * delivery composes to exactly-once.
  */
object VectorizeStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Start the vectorizer: stream docs from `docsDir`, vectorize EVERY
    * language in each micro-batch against the (lang, token)-keyed
    * dimension table, merge into `storePath`. The reference deploys
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
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val vecs = ReferenceQueries
          .docVectorsByLang(batch, wordvecsLang, dim)
          .select("doc_id", "lang", "known_ratio", "vec")
        upsertStore(spark, vecs, storePath)
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
    * non-200), run the same vectorize plan, merge idempotently.
    *
    * Exactly-once still holds WITH the RPC in the loop: checkpointed
    * file-source offsets make each input file process once per
    * checkpoint lineage, and a replayed batch re-fetches and overwrites
    * the same keys — the merge is idempotent, so a crash between fetch
    * and commit costs duplicate HTTP GETs, never duplicate rows.
    */
  def startWithRpc(spark: SparkSession, docsDir: String, wordvecs: DataFrame,
      dim: Int, storePath: String, checkpoint: String, baseUri: String,
      lang: String, target: String = "posts"): StreamingQuery = {
    val docs = spark.readStream.schema(docSchema).parquet(docsDir)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the stream carries only identity; text is the service's
        val pending = batch.filter(col("lang") === lang).select("doc_id")
        val texts = graft.sources.HttpTextSource.fetchTexts(
          pending.select(lit(target).as("target"), col("doc_id")),
          baseUri, lang)
        val vecs = ReferenceQueries
          .docVectors(pending.join(texts, Seq("doc_id")), wordvecs, dim)
          .select("doc_id", "known_ratio", "vec")
        upsertStore(spark, vecs, storePath)
      }
      .start()
  }

  /** Merge-by-key into a parquet store with a write-to-side + swap (a
    * parquet path can't be overwritten while it is being read).
    *
    * The swap is two atomic renames (store→retired, tmp→store) with
    * entry-time recovery, NOT delete-then-move: a crash between a
    * delete and a move would silently lose the ENTIRE accepted store
    * (the restarted batch would find no store and write only itself,
    * while the dedup artifacts still list every prior doc as
    * accepted). With rename+recovery every crash window leaves either
    * the old store or a restorable `.retired` copy, and the replayed
    * batch re-merges idempotently.
    */
  private[graft] def upsertStore(spark: SparkSession, updates: DataFrame,
      storePath: String): Unit = {
    val store = Paths.get(storePath)
    val tmp = Paths.get(storePath + ".tmp")
    val retired = Paths.get(storePath + ".retired")
    // recovery from a previously interrupted swap: `.retired` is the
    // pre-swap store — restore it if the new store never landed,
    // discard it if it did; a stale tmp is always recomputed
    if (Files.exists(retired)) {
      if (!Files.exists(store)) Files.move(retired, store)
      else deleteRecursively(retired)
    }
    deleteRecursively(tmp)
    if (!Files.exists(store)) {
      updates.write.parquet(storePath)
      return
    }
    // a store is fed by one vectorizer, so it holds the columns its
    // updates carry: read it with their schema, and no footer-inference
    // job runs per batch
    val existing = spark.read.schema(updates.schema).parquet(storePath)
    val merged = Upsert.mergeByKey(existing, updates, "doc_id")
    merged.write.mode("overwrite").parquet(tmp.toString)
    Files.move(store, retired)
    Files.move(tmp, store)
    deleteRecursively(retired)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}
