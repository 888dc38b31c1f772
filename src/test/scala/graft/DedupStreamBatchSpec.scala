package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{DedupStream, VectorizeStream}

/** The always-on ingest end to end inside the default suite: two tiny
  * `DedupStream.start` micro-batches over a hand-built dimension, with
  * the exact accepted and dropped ids pinned, and a bound on the size
  * of every SQL plan description the batches produce. The bound guards
  * the lineage-cut rule in `DedupStream.processBatch`: persisted batch
  * frames built on one another make each query's description repeat
  * every earlier cached plan (AQE's final and initial plans each), so
  * the description grows with every frame in the tower and Spark
  * rebuilds it at every execution start and AQE re-plan.
  */
class DedupStreamBatchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val Dim = 4

  /** About twice the measured maximum: 62,328 characters over both
    * batches (the history verify join, local[8], AQE on). Persisting
    * the batch frames instead of pinning them measured about 9.4
    * million.
    */
  private val MaxPlanChars = 125000

  private def words(prefix: String, from: Int, until: Int): String =
    (from until until).map(i => s"$prefix$i").mkString(" ")

  /** Stage `rows` as one parquet file in the watched directory. */
  private def stage(docsDir: Path, work: Path, name: String,
      rows: Seq[(Long, String)]): Unit = {
    val tmp = work.resolve(s"stage_$name")
    rows.map { case (id, text) => (id, text, "en", "test", text.length.toLong) }
      .toDF(VectorizeStream.docSchema.fieldNames.toIndexedSeq: _*)
      .coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(part), docsDir.resolve(s"$name.parquet"))
  }

  test("two micro-batches: exact keep/drop ids, and every plan description stays bounded") {
    val work = Files.createTempDirectory("graft_dstream_batch")
    val docsDir = work.resolve("docs_in")
    Files.createDirectory(docsDir)
    val store = work.resolve("store").toString
    val ckpt = work.resolve("ckpt").toString
    // hand-built dimension: a few known tokens, so vectorize runs
    // against a real join without building an IDF table
    val dim: DataFrame = Seq("tok1", "tok12", "alpha3", "beta4", "gamma5")
      .zipWithIndex.map { case (t, i) =>
        ("en", t, 1.0 + i, Seq.tabulate(Dim)(j => if (j == i % Dim) 1.0 else 0.0))
      }.toDF("lang", "token", "idf", "vec")

    // every SQL execution from here to the drain below: the two
    // batches plus the spec's own small staging writes and reads
    val longest = new AtomicInteger(0)
    val executions = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.incrementAndGet()
          longest.accumulateAndGet(s.physicalPlanDescription.length, math.max)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          longest.accumulateAndGet(u.physicalPlanDescription.length, math.max)
        case _ => ()
      }
    }
    def runBatch(): Unit = {
      val q = DedupStream.start(spark, docsDir.toString, dim, Dim, store, ckpt)
      q.quiesce()
      assert(q.exception.isEmpty, s"batch failed: ${q.exception}")
    }
    def accepted: Set[Long] = spark.read.parquet(s"$store/docs")
      .select("doc_id").as[Long].collect().toSet

    spark.sparkContext.addSparkListener(listener)
    try {
      // batch 1: doc 4 re-posts doc 3 inside the batch (higher id drops)
      stage(docsDir, work, "a", Seq(
        1L -> words("tok", 0, 30), 2L -> words("alpha", 0, 30),
        3L -> words("beta", 0, 20), 4L -> words("beta", 0, 20)))
      runBatch()
      assert(accepted === Set(1L, 2L, 3L), "batch 1 keep/drop")

      // batch 2 against batch-1 survivors: doc 11 is an exact re-post
      // of doc 2 (the banding channel), doc 12 a 10-token excerpt of
      // doc 1 (Jaccard ≈ 0.29, so only the containment probe finds
      // it), doc 13 is new
      stage(docsDir, work, "b", Seq(
        11L -> words("alpha", 0, 30), 12L -> words("tok", 10, 20),
        13L -> words("gamma", 0, 25)))
      runBatch()
      assert(accepted === Set(1L, 2L, 3L, 13L), "batch 2 keep/drop")
      val arrived = Set(1L, 2L, 3L, 4L, 11L, 12L, 13L)
      assert(arrived -- accepted === Set(4L, 11L, 12L))
      // vectorize ran on survivors only
      assert(spark.read.parquet(s"$store/vectors").select("doc_id")
        .as[Long].collect().toSet === accepted)

      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      info(s"${executions.get()} SQL executions, longest plan description " +
        s"${longest.get()} chars")
      assert(executions.get() > 0, "the listener saw no SQL execution")
      assert(longest.get() <= MaxPlanChars,
        s"a per-batch plan description reached ${longest.get()} chars " +
          s"(bound $MaxPlanChars): batch frames are nesting their plans again")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
