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

/** Release the storage behind a `localCheckpoint`ed Dataset.
  * `Dataset.unpersist` only consults the CacheManager, which has no
  * entry for a checkpoint's `LogicalRDD` — so on a checkpointed frame
  * it is a silent no-op and the blocks stay pinned until the
  * ContextCleaner GCs the RDD (round-11 review finding). This shim
  * unpersists the underlying RDD directly. AFTER the call the frame is
  * unusable (checkpoint lineage is truncated, the data is gone), so
  * callers must drop every reference first — it is a teardown
  * primitive, the checkpoint analogue of `unpersist(blocking)`.
  */
object CheckpointShim {
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
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
