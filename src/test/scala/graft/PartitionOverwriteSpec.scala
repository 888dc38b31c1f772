package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark's partition-targeted write: with dynamic partition
  * overwrite, a batch write replaces ONLY the partitions it contains
  * rows for — untouched partitions survive
  * byte-for-byte, so a day-partitioned store absorbs a late batch
  * without rewriting history.
  */
class PartitionOverwriteSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("dynamic mode rewrites only the partitions present in the batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dpo").toString + "/t"
    Seq((1L, "d1", "a"), (2L, "d2", "b"), (3L, "d3", "c"))
      .toDF("id", "day", "v")
      .write.partitionBy("day").parquet(dir)

    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // the update batch touches ONLY day=d2
      Seq((20L, "d2", "B!")).toDF("id", "day", "v")
        .write.mode("overwrite").partitionBy("day").parquet(dir)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }

    // partition column reads back LAST: (id, v, day)
    val got = spark.read.parquet(dir).orderBy("id")
      .as[(Long, String, String)].collect().toSeq
    // d1/d3 survive untouched; d2 is fully replaced by the batch
    assert(got === Seq((1L, "a", "d1"), (3L, "c", "d3"), (20L, "B!", "d2")))
  }

  test("static mode (the default) would have dropped the other partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dpo2").toString + "/t"
    Seq((1L, "d1", "a"), (2L, "d2", "b")).toDF("id", "day", "v")
      .write.partitionBy("day").parquet(dir)
    Seq((20L, "d2", "B!")).toDF("id", "day", "v")
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    // static overwrite replaced the WHOLE table — this is the failure
    // mode the dynamic recipe exists to avoid
    assert(spark.read.parquet(dir).count() === 1)
  }
}
