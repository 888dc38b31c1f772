package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.DynamicPruning
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.{CheckpointShim, OnePartitionJoin}

/** The one-partition policy: which frames are read as one partition,
  * and how the planner keeps the work over them in that one task.
  *
  * Size rule. AQE reads a shuffle as one partition when coalescing is
  * on and the shuffle writes no more than the minimum partition size
  * ([[coalescesToOne]]). A frame that small is read as one declared
  * partition instead, so the keyed aggregates, windows and joins above
  * it plan no exchange and run no shuffle-map job. Two entry points
  * judge the size:
  *   - [[fitsOnePartition]] judges a frame by the optimizer's estimate,
  *     and [[onePartitionIfSmall]] reads a frame it judges small through
  *     `coalesce(1)`. The estimate runs low: on 4 cores a `doc_id`
  *     redistribution of the documents wrote 90,172, 88,081 and 868,630
  *     shuffle bytes at sf0.001, sf0.01 and sf0.1, each read back as ONE
  *     partition under the 1 MB default floor, while Spark's estimates
  *     for the (doc_id, text, lang) scans are 43,676, 43,366 and 396,378
  *     bytes (65,515, 65,049 and 594,568 for all five columns):
  *     compressed parquet reads about 2× smaller than the rows a shuffle
  *     writes, and text that compresses better reads smaller still. A
  *     frame misjudged small is thus some multiple of the floor, and
  *     what AQE would have split into that many partitions runs in one
  *     task. A plan Spark cannot size (an RDD leaf without statistics)
  *     reports `Long.MaxValue` and is judged large; a streaming frame is
  *     never judged small. `idfCounts` and `docVectorsOf` read their
  *     input as `parallelized(onePartitionIfSmall(docs))`; the stream
  *     reads its history artifacts and unions through it.
  *   - [[pin]] judges a checkpoint by the bytes its eager job measured
  *     and declares a small one-partition checkpoint `SinglePartition`.
  *     The stream pins every batch frame it reads more than once.
  *
  * Joins. Spark broadcasts one side of a join between two such frames,
  * a job of its own that moves rows that already sit in the same task.
  * `graftshim.OnePartitionJoin` plans that join inside the one task
  * instead. Every frame handed out by [[pin]] or [[onePartitionIfSmall]]
  * comes with the rule installed in its session, so `graft.Verify`,
  * `graft.Bench`, `Pipeline`, the stream and the tests all plan such a
  * join the same way.
  *
  * Spread. [[parallelized]] is the guard the other way: it
  * redistributes a small-SF scan that sits on too few tasks, and
  * leaves a frame declared one partition as it is.
  */
object Partitioning {

  /** Whether AQE would read a shuffle that writes `bytes` as one
    * partition: coalescing is on and it never splits below the minimum
    * partition size.
    */
  private[graft] def coalescesToOne(spark: SparkSession, bytes: Long): Boolean = {
    val conf = spark.conf
    conf.get("spark.sql.adaptive.enabled").toBoolean &&
      conf.get("spark.sql.adaptive.coalescePartitions.enabled").toBoolean &&
      bytes <= org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
  }

  /** [[coalescesToOne]] of the optimizer's size estimate for `docs`;
    * no job runs. For a file scan the estimate is the files' bytes
    * scaled to the projected columns.
    */
  private[graft] def fitsOnePartition(docs: DataFrame): Boolean = !docs.isStreaming && {
    val est = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    est.isValidLong && coalescesToOne(docs.sparkSession, est.toLong)
  }

  /** `df` as one declared partition (`coalesce(1)`) when
    * [[fitsOnePartition]] judges it small, else `df` unchanged.
    */
  private[graft] def onePartitionIfSmall(df: DataFrame): DataFrame = {
    OnePartitionJoin.install(df.sparkSession)
    if (fitsOnePartition(df)) df.coalesce(1) else df
  }

  /** Lineage cut for a frame that lives only inside one micro-batch:
    * an eager local checkpoint, so every downstream query plans
    * against a `LogicalRDD` leaf. `persist()` would keep the full
    * plan under an `InMemoryRelation`, and a cached plan prints its
    * cached plans (AQE's final and initial plan each) — with the
    * batch's frames built on one another, every query description
    * repeated all the earlier ones, and Spark rebuilt that string at
    * each execution start and AQE re-plan. Executor-local storage is
    * enough for a stream batch: a lost block fails the batch loudly,
    * the stream replays it from its checkpointed offsets, and every
    * slice write is an idempotent `batch=N` overwrite, so
    * `Caches.iterCheckpoint`'s reliable mode is not needed.
    *
    * In Spark 4.1 a checkpoint of an adaptive plan keeps no output
    * partitioning (`CheckpointShim`), so every keyed operator over it
    * would shuffle it again. A checkpoint of one partition whose
    * measured bytes pass [[coalescesToOne]] is returned as ONE declared
    * partition; a larger one, or one of several partitions (whose
    * narrow work then stays spread over its tasks), keeps a plain
    * checkpoint and its shuffles. The rows are the same either way.
    *
    * Release with [[unpin]] (`unpersist` is a silent no-op on a
    * checkpoint); a pin that fails mid-batch leaves the earlier pins
    * to the ContextCleaner, since the batch fails and replays anyway.
    */
  private[graft] def pin(df: DataFrame): DataFrame = {
    OnePartitionJoin.install(df.sparkSession)
    CheckpointShim.localCheckpoint(df)(coalescesToOne(df.sparkSession, _))
  }

  /** Release a [[pin]]ned frame's blocks; the frame is unusable after. */
  private[graft] def unpin(df: DataFrame): Unit = {
    CheckpointShim.releaseCheckpoint(df)
    ()
  }

  /** Small-input parallelism guard for the tokenize-heavy posting
    * builders: a small-SF documents file is a single parquet ROW GROUP,
    * so the scan — and the tokenization riding on it, the most
    * expensive scalar step — lands on one task no matter how file
    * splits are tuned (a row group is the minimum read unit). An input
    * with fewer partitions than half the cores is redistributed; a
    * warehouse-scale scan has thousands of splits, so the condition is
    * false and NO shuffle is added. (Measured at sf0.1 on 4 cores, a
    * (doc_id, token) count: 0.40-0.49 s hash-redistributed, 0.47-0.56 s
    * round-robin over 4 partitions, 0.50-0.59 s on the one scan task;
    * the regex tokenizer this guard was written for took 4.9 s on one
    * task.)
    *
    * The count is read off the physical plan ([[plannedPartitions]]),
    * never by running it: `.rdd.getNumPartitions` on an adaptive plan
    * executes the plan's shuffle stages just to count, and the real
    * query then runs them again.
    *
    * The redistribution hashes by `doc_id` with no fixed count, so AQE
    * may coalesce it. Every caller tokenizes per document and keys
    * what follows by `doc_id`; a `doc_id` distribution satisfies their
    * doc-keyed aggregates and windows, and persisted postings carry it
    * to their doc-keyed consumers. A fixed count would also keep one
    * output file per partition downstream.
    *
    * That holds under AQE's coalescing floor too, where the
    * redistribution is read back as one partition: the `doc_id`
    * distribution it leaves is what the cached posting and its
    * `docTokenCounts` rollup hand their consumers. Without it, eight
    * of the rollup's nine consumers planned one to six more exchanges
    * on every call at sf0.1. Callers that would rather read a small
    * input as one partition pass it through [[onePartitionIfSmall]]
    * first.
    *
    * An input whose physical plan already reports `SinglePartition`
    * (read inside the adaptive wrapper, which reports no partitioning
    * before it runs) is returned unchanged, and so is a streaming
    * frame, which has no physical plan of its own and is split by its
    * source's own planning.
    */
  private[graft] def parallelized(docs: DataFrame): DataFrame = {
    if (docs.isStreaming) return docs
    val target = docs.sparkSession.sparkContext.defaultParallelism
    val planned = docs.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    if (planned.outputPartitioning == SinglePartition ||
        plannedPartitions(planned).exists(_ >= target / 2)) docs
    else docs.repartition(col("doc_id"))
  }

  /** The number of partitions `p` will produce, read off the plan
    * without executing it; None when the plan does not say. Leaves
    * report the partitions of their input RDD, which is built (file
    * splits listed, a checkpoint's blocks named) but never run. A
    * shuffle reports its planned count: if AQE later coalesces it, the
    * data is too small to be worth spreading, and a coalescable
    * redistribution would be coalesced the same way. An adaptive plan
    * that has already run reports its final, coalesced reads.
    */
  private[graft] def plannedPartitions(p: SparkPlan): Option[Int] = p match {
    case a: AdaptiveSparkPlanExec => plannedPartitions(a.executedPlan)
    case s: QueryStageExec => plannedPartitions(s.plan)
    case m: InMemoryTableScanExec => plannedPartitions(m.relation.cachedPlan)
    case s: FileSourceScanExec =>
      // a dynamic-pruning filter is only known once its subquery runs
      if (s.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruning]))) None
      else Some(s.inputRDD.getNumPartitions)
    case r: RDDScanExec => Some(r.rdd.getNumPartitions)
    case l: LocalTableScanExec => Some(l.inputRDD.getNumPartitions)
    case _ => p.outputPartitioning match {
      case _: UnknownPartitioning => p match {
        case j: BroadcastHashJoinExec =>
          plannedPartitions(if (j.buildSide == BuildLeft) j.right else j.left)
        case _ => p.children match {
          case Seq(child) => plannedPartitions(child)
          case _ => None
        }
      }
      case known => Some(known.numPartitions)
    }
  }
}
