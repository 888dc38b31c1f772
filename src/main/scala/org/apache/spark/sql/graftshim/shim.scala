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
