package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.FloatType
import org.apache.spark.unsafe.types.UTF8String

/** Bridge to the `private[sql]` Column <-> Expression converters that
  * Spark 4 hid behind `org.apache.spark.sql.classic`. Lives under the
  * `org.apache.spark.sql` package solely to satisfy the access modifier;
  * the rest of the engine goes through this one object.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Local checkpoints whose partitioning the planner can use, and their
  * release.
  *
  * A `localCheckpoint` of an adaptive plan keeps no output partitioning
  * in Spark 4.1: the final plan reads its shuffles through AQE's
  * coalescing reader, which reports `UnknownPartitioning`, even when the
  * plan ends in `coalesce(1)` or `repartition(n, key)`. Every keyed
  * aggregate, window or join over such a checkpoint shuffles its rows
  * again, and when the rows are few AQE coalesces that shuffle straight
  * back into one partition.
  */
object CheckpointShim {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
  import org.apache.spark.sql.catalyst.plans.logical.Statistics
  import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
  import org.apache.spark.sql.classic
  import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
  import org.apache.spark.sql.types.StructType

  /** `df.localCheckpoint(eager = true)`, run the way
    * `Dataset.localCheckpoint` runs it (its adaptive stages and its one
    * eager job inside a SQL execution of its own), except that the
    * eager job also sums the rows' `UnsafeRow` sizes: the bytes a
    * shuffle of the frame would write.
    *
    * When the checkpoint has exactly one partition and
    * `singlePartition(bytes)` holds, the frame is a `LogicalRDD` that
    * reports `SinglePartition`, with `bytes` as its size statistic.
    * Otherwise it is the frame `localCheckpoint` returns: a checkpoint
    * of several partitions keeps them, so the narrow work over it
    * stays spread over as many tasks.
    *
    * This repeats what `Dataset.checkpoint` does (execute the plan,
    * copy the rows, `localCheckpoint` the RDD, one eager job) because
    * that job is the only pass over the rows, and the size must come
    * from it. The block sizes Spark records for the cached RDD are
    * no substitute: they estimate the deserialized row objects, which
    * overstate the shuffle bytes of narrow rows several-fold (a
    * `stream_ingest` batch's shingles: 713,744 row bytes held as
    * 1,692,560; its survivor hashes: 351,072 as 1,226,528), so those
    * pins would fall above the 1 MB default floor. Keep this in step
    * with `Dataset.checkpoint` on a Spark upgrade.
    */
  def localCheckpoint(df: org.apache.spark.sql.DataFrame)(
      singlePartition: Long => Boolean): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val (rdd, bytes) = SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val plan = qe.executedPlan
      plan.resetMetrics()
      val rows = plan.execute().map(_.copy())
      rows.localCheckpoint()
      // the job caches every partition, so runJob's closing
      // doCheckpoint finds no block missing and starts no second job
      val perPartition = ds.sparkSession.sparkContext.runJob(rows, rowBytes(plan.schema) _)
      (rows, perPartition.sum)
    }
    val pinned = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
    val plan =
      if (rdd.getNumPartitions != 1 || !singlePartition(bytes)) pinned
      else LogicalRDD(pinned.output, rdd, SinglePartition, pinned.outputOrdering,
        pinned.isStreaming)(ds.sparkSession,
        Some(Statistics(sizeInBytes = bytes)), Some(pinned.constraints))
    classic.Dataset.ofRows(ds.sparkSession, plan)
  }

  private def rowBytes(schema: StructType)(rows: Iterator[InternalRow]): Long = {
    lazy val unsafe = UnsafeProjection.create(schema)
    rows.foldLeft(0L) { (n, r) =>
      n + (r match { case u: UnsafeRow => u; case o => unsafe(o) }).getSizeInBytes
    }
  }

  /** Release the storage behind a `localCheckpoint`ed Dataset.
    * `Dataset.unpersist` only consults the CacheManager, which has no
    * entry for a checkpoint's `LogicalRDD` — so on a checkpointed frame
    * it is a silent no-op and the blocks stay pinned until the
    * ContextCleaner GCs the RDD. This unpersists the underlying RDD
    * directly. AFTER the call the frame is unusable (checkpoint
    * lineage is truncated, the data is gone), so callers must drop
    * every reference first — it is a teardown primitive, the
    * checkpoint analogue of `unpersist(blocking)`.
    */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = true)
        true
      case _ => false
    }
}

/** The session's `private[sql]` UUID — unique per `SparkSession`
  * (`newSession()` included) and never reused, unlike an identity
  * hash, so session-scoped memo keys cannot alias a dead session.
  */
object SessionShim {
  def uuid(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}

/** The error an ANSI-mode `CAST(s AS FLOAT)` raises on a malformed
  * string (`CAST_INVALID_INPUT`), for native expressions that parse
  * floats themselves and must fail exactly like the cast they replace.
  */
object CastShim {
  def invalidFloat(s: UTF8String): Throwable =
    QueryExecutionErrors.invalidInputInCastToNumberError(FloatType, s, null)
}

/** Plans an equi-join over one-partition frames as a hash join inside
  * that one task: no exchange and no broadcast.
  *
  * A one-partition frame is a `LogicalRDD` that reports
  * `SinglePartition` (a small `DedupStream` pin), a `coalesce(1)`, a
  * projection, filter, aggregate, window or generator over one, or a
  * join this rule plans. The rule plans a join
  *   - whose two sides are one-partition frames, or
  *   - that sits right under a `coalesce(1)`, when the side it hashes
  *     is a one-partition frame small enough to broadcast. The other
  *     side already runs in the coalesced task, and so does every join
  *     below it that the optimizer pushed under the `coalesce(1)` (it
  *     pushes semi and anti joins through one): the coalesce is
  *     planned again over each side, so such a join below is planned
  *     here too.
  *
  * Spark's own planner broadcasts one side of such a join, a job of
  * its own that moves rows that are, or could be, in the same single
  * task. When it shuffles instead, it keeps two `SinglePartition`
  * sides exchange-free only while each side's size estimate is at
  * most `spark.sql.maxSinglePartitionBytes`, and an inner join's
  * estimate is the product of its inputs', so a join over a join
  * shuffles both sides again.
  *
  * The join is Spark's `ShuffledHashJoinExec` with no distribution
  * requirement (its `isSkewJoin` form: the children's partitioning is
  * arranged here, not by an exchange, so plans print it as
  * `ShuffledHashJoin(skew=true)`). Each side is coalesced to one
  * partition, which starts no job, so a side misjudged as one
  * partition still meets every row of the other in the one task; the
  * output is coalesced to one partition too, so the operators above
  * see `SinglePartition`. A join with no equi-key, a full outer or
  * existence join, a streaming join and any other join keep Spark's
  * planning.
  */
object OnePartitionJoin extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide}
  import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
  import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Filter, Generate, HintInfo, Join, LogicalPlan, Project, Repartition, Window}
  import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
  import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, LogicalRDD, ProjectExec, SparkPlan}
  import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
  import org.apache.spark.sql.internal.SQLConf

  /** Adds the rule to `spark`'s planner strategies, once. */
  def install(spark: SparkSession): Unit = spark.experimental.synchronized {
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: Join => buildSide(j).map(inPlace(j, _, coalesced = false)).toSeq
    case Repartition(1, false, child) if joinUnderCoalesce(child) => child match {
      case j: Join =>
        Seq(inPlace(j, buildSide(j).orElse(coalescedBuildSide(j)).get, coalesced = true))
      // the optimizer prunes columns and pushes filters below a
      // coalesce: plan the coalesce below them, where the join is
      case Project(projectList, c) =>
        Seq(ProjectExec(projectList, planLater(Repartition(1, shuffle = false, c))))
      case Filter(condition, c) =>
        Seq(FilterExec(condition, planLater(Repartition(1, shuffle = false, c))))
    }
    case _ => Nil
  }

  /** Whether `p`, right under a `coalesce(1)`, is a join planned here,
    * or a deterministic projection or filter over one (a
    * nondeterministic one may read the partition it runs in).
    */
  private def joinUnderCoalesce(p: LogicalPlan): Boolean = p match {
    case j: Join => buildSide(j).orElse(coalescedBuildSide(j)).isDefined
    case Project(projectList, c) => projectList.forall(_.deterministic) && joinUnderCoalesce(c)
    case Filter(condition, c) => condition.deterministic && joinUnderCoalesce(c)
    case _ => false
  }

  /** `j` as a hash join in one task, over each side coalesced to one
    * partition; under a `coalesce(1)`, each side is planned as that
    * side's `coalesce(1)`, so a join below it is planned here too.
    */
  private def inPlace(j: Join, side: BuildSide, coalesced: Boolean): SparkPlan = {
    val ExtractEquiJoinKeys(joinType, leftKeys, rightKeys, condition, _, left, right, _) = j
    def child(p: LogicalPlan): SparkPlan =
      if (coalesced) planLater(Repartition(1, shuffle = false, p)) else one(planLater(p))
    one(ShuffledHashJoinExec(leftKeys, rightKeys, joinType, side, condition,
      child(left), child(right), isSkewJoin = true))
  }

  /** The sides a hash join of `joinType` can build, the preferred first. */
  private def sides(joinType: JoinType, left: LogicalPlan, right: LogicalPlan): Seq[BuildSide] =
    joinType match {
      case Inner =>
        if (right.stats.sizeInBytes <= left.stats.sizeInBytes) Seq(BuildRight, BuildLeft)
        else Seq(BuildLeft, BuildRight)
      case LeftOuter | LeftSemi | LeftAnti => Seq(BuildRight)
      case RightOuter => Seq(BuildLeft)
      case _ => Nil
    }

  /** The side to hash when both sides of `j` are one-partition frames. */
  private def buildSide(j: Join): Option[BuildSide] = j match {
    case ExtractEquiJoinKeys(joinType, _, _, _, _, left, right, _) if !j.isStreaming =>
      sides(joinType, left, right).headOption
        .filter(_ => onePartition(left) && onePartition(right))
    case _ => None
  }

  /** Under a `coalesce(1)`: the side to hash when it is a one-partition
    * frame that Spark could broadcast, by size or by hint.
    */
  private def coalescedBuildSide(j: Join): Option[BuildSide] = j match {
    case ExtractEquiJoinKeys(joinType, _, _, _, _, left, right, hint) if !j.isStreaming =>
      def hinted(h: Option[HintInfo]) = h.exists(_.strategy.contains(BROADCAST))
      sides(joinType, left, right).find { side =>
        val (built, h) = if (side == BuildRight) (right, hint.rightHint) else (left, hint.leftHint)
        onePartition(built) && (hinted(h) ||
          built.stats.sizeInBytes <= SQLConf.get.autoBroadcastJoinThreshold)
      }
    case _ => None
  }

  private def one(p: SparkPlan): SparkPlan = CoalesceExec(1, p)

  private def onePartition(p: LogicalPlan): Boolean = p match {
    case r: LogicalRDD => r.outputPartitioning == SinglePartition
    case Repartition(1, false, _) => true
    case j: Join => buildSide(j).isDefined
    case _: Project | _: Filter | _: Aggregate | _: Window | _: Generate =>
      onePartition(p.children.head)
    case _ => false
  }
}
