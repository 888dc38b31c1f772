package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.queries.ReferenceQueries

/** Continuous idf maintenance — the streaming form of the reference's
  * periodic `calculate_idf_scores.py` job (and of the batch x52 merge).
  *
  * Each micro-batch contributes its IDF counts
  * ([[ReferenceQueries.idfBatchState]]: per token, occurrences and
  * rows; a `""`-token row with the qualifying-post count), written as
  * an APPEND-ONLY per-batch delta `state/batch=<id>/counts` with a
  * `_done` marker committed last. Append-only is what makes replay
  * exactly-once: foreachBatch is at-least-once, and a replayed batch
  * simply overwrites its own delta with identical deterministic
  * content before re-marking it — no read-modify-write fold exists to
  * double-count, and a crash at ANY point leaves either a complete
  * marked delta or an unmarked one the replay rewrites. `currentIdf`
  * sums all marked deltas by token and runs the one reference rule
  * ([[ReferenceQueries.idfOf]]) over the sum, so the streamed result
  * is bit-identical to a full recompute (IdfStreamSpec pins that
  * against the oracle-checked q11).
  *
  * At 100 TB: per-batch work is proportional to the BATCH (tokenize +
  * one shuffle), each delta is vocabulary-sized, and serving reads
  * sum over #batches deltas — compacting old deltas into one is the
  * same sum, written once. All metadata I/O goes through the Hadoop
  * FileSystem of the state path, so the store works wherever the
  * parquet does.
  */
object IdfStream {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Start the maintainer: stream docs from `docsDir`, write one delta
    * per micro-batch under `stateDir`. One file per micro-batch so
    * multi-batch accumulation is actually exercised.
    */
  def start(spark: SparkSession, docsDir: String, stateDir: String,
      checkpoint: String): StreamingQuery = {
    val docs = spark.readStream.schema(VectorizeStream.docSchema)
      .option("maxFilesPerTrigger", 1).parquet(docsDir)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val dir = s"$stateDir/batch=$id"
        // overwrite, not errorifexists: a replayed batch regenerates
        // the identical delta, and a half-written delta from a crash
        // is simply rewritten before the marker goes back down
        ReferenceQueries.idfBatchState(batch)
          .write.mode("overwrite").parquet(s"$dir/counts")
        val fs = fsOf(batch.sparkSession, dir)
        fs.create(new Path(dir, "_done"), true).close()
      }
      .start()
  }

  /** Completed (marked) batch delta directories under `stateDir`. */
  private def doneBatches(spark: SparkSession, stateDir: String): Seq[String] = {
    val root = new Path(stateDir)
    val fs = fsOf(spark, stateDir)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filter(st => fs.exists(new Path(st.getPath, "_done")))
      .map(_.getPath.toString)
  }

  /** The columns [[ReferenceQueries.idfBatchState]] writes per delta. */
  private val countsSchema = StructType(Seq(StructField("token", StringType),
    StructField("occurrences", LongType), StructField("token_rows", LongType)))

  /** The serving idf table from all completed deltas (q11's shape).
    * The deltas are read with their declared schema, so building the
    * table runs no footer-inference job per batch.
    */
  def currentIdf(spark: SparkSession, stateDir: String): DataFrame = {
    val dirs = doneBatches(spark, stateDir)
    require(dirs.nonEmpty, s"no completed idf state under $stateDir")
    val deltas = spark.read.schema(countsSchema).parquet(dirs.map(d => s"$d/counts"): _*)
    ReferenceQueries.idfRows(
      ReferenceQueries.idfOf(ReferenceQueries.summedCounts(deltas), Nil))
  }
}
