package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.{OnePartitionJoin, PlannerAccess}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Partitioning
import graft.queries.ReferenceQueries

/** `OnePartitionJoin`: an equi-join of two one-partition frames runs
  * as a hash join inside that one task, with no exchange and no
  * broadcast, and returns the rows the default planner returns.
  */
class OnePartitionJoinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val leftRows = Seq[(Option[Long], String)](
    Some(1L) -> "a", Some(2L) -> "b", Some(2L) -> "b2", Some(3L) -> "c", None -> "n")
  private val rightRows = Seq[(Option[Long], String)](
    Some(2L) -> "x", Some(3L) -> "y", Some(3L) -> "y2", Some(4L) -> "z", None -> "m")

  /** Local frames, which the rule never plans: the default planner's
    * answer.
    */
  private def left: DataFrame = leftRows.toDF("k", "l")
  private def right: DataFrame = rightRows.toDF("k", "r")

  private def pinned[T](df: DataFrame)(body: DataFrame => T): T = {
    val p = Partitioning.pin(df.coalesce(1))
    try body(p) finally Partitioning.unpin(p)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Operators of the executed plan whose name says `what`. */
  private def ops(df: DataFrame, what: String): Seq[String] =
    executedOps(df).filter(_.contains(what))

  private def inPlace(df: DataFrame): Seq[String] = ops(df, "ShuffledHashJoin(skew=true)")

  test("two pins, and a join over a join, plan no exchange and no broadcast") {
    pinned(left) { l =>
      pinned(right) { r =>
        pinned(Seq(2L -> 20, 3L -> 30).toDF("k", "w")) { w =>
          val two = l.join(r, Seq("k"))
          val nested = two.join(w, Seq("k")).join(l.select(col("k"), col("l").as("l2")), Seq("k"))
          for ((df, expected) <- Seq(
              two -> left.join(right, Seq("k")),
              nested -> left.join(right, Seq("k"))
                .join(Seq(2L -> 20, 3L -> 30).toDF("k", "w"), Seq("k"))
                .join(left.select(col("k"), col("l").as("l2")), Seq("k")))) {
            assert(rows(df) === rows(expected))
            assert(ops(df, "Exchange").isEmpty, executedOps(df).mkString("\n"))
            assert(inPlace(df).nonEmpty, executedOps(df).mkString("\n"))
          }
          assert(inPlace(nested).size === 3)
        }
      }
    }
  }

  test("inner, left semi, left anti and left outer joins return the default planner's rows, null keys included") {
    pinned(left) { l =>
      pinned(right) { r =>
        for (how <- Seq("inner", "left_semi", "left_anti", "left_outer", "right_outer")) {
          val expected = left.join(right, Seq("k"), how)
          assert(inPlace(expected).isEmpty, s"$how: local frames must keep the default plan")
          val got = l.join(r, Seq("k"), how)
          assert(rows(got) === rows(expected), how)
          assert(inPlace(got).nonEmpty, s"$how: ${executedOps(got).mkString("\n")}")
          assert(ops(got, "Exchange").isEmpty, s"$how: ${executedOps(got).mkString("\n")}")
        }
        // a non-equi condition beside the key
        val (lf, rf) = (left, right)
        val cond = l.join(r, l("k") === r("k") && l("l") < r("r"))
        assert(rows(cond) === rows(lf.join(rf, lf("k") === rf("k") && lf("l") < rf("r"))))
        assert(inPlace(cond).nonEmpty)
      }
    }
  }

  test("a several-partition side keeps the default plan; a side misjudged as one partition still joins right") {
    pinned(left) { l =>
      val wide = Partitioning.pin(right.repartition(4))
      try {
        val df = l.join(wide, Seq("k"))
        assert(inPlace(df).isEmpty, executedOps(df).mkString("\n"))
        assert(rows(df) === rows(left.join(right, Seq("k"))))
      } finally Partitioning.unpin(wide)
      // four partitions declared as one: each child is coalesced to
      // one partition, so every left row still meets every right row
      val misjudged = PlannerAccess.declaredOnePartition(right.repartition(4, col("r")))
      assert(misjudged.rdd.getNumPartitions === 4)
      for (how <- Seq("inner", "left_anti", "left_outer")) {
        val df = l.join(misjudged, Seq("k"), how)
        assert(inPlace(df).nonEmpty, executedOps(df).mkString("\n"))
        assert(rows(df) === rows(left.join(right, Seq("k"), how)), how)
      }
    }
  }

  test("a join under coalesce(1) runs in place when the side it hashes is a small one-partition frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft_one_join").resolve("left").toString
    left.write.parquet(dir)
    // a file scan is no one-partition frame, but under coalesce(1) it
    // runs in the coalesced task anyway; the optimizer pushes the anti
    // and semi joins below the coalesce and prunes columns between
    def scan = spark.read.parquet(dir).coalesce(1)
    pinned(right.select("k")) { r =>
      pinned(Seq(1L, 2L).toDF("k")) { ids =>
        val df = scan.join(org.apache.spark.sql.functions.broadcast(ids), Seq("k"), "left_anti")
          .join(r, Seq("k"), "left_semi")
          .filter(col("l") =!= "x").select("k")
        val expected = left.join(Seq(1L, 2L).toDF("k"), Seq("k"), "left_anti")
          .join(right.select("k"), Seq("k"), "left_semi")
          .filter(col("l") =!= "x").select("k")
        assert(rows(df) === rows(expected))
        assert(ops(df, "Exchange").isEmpty, executedOps(df).mkString("\n"))
        assert(inPlace(df).size === 2, executedOps(df).mkString("\n"))
        // a nondeterministic projection between may read the partition
        // it runs in: the coalesce stays above it, and so does the join
        val numbered = spark.read.parquet(dir).join(r, Seq("k"), "left_semi")
          .select(col("k"), org.apache.spark.sql.functions.monotonically_increasing_id().as("m"))
          .coalesce(1)
        assert(inPlace(numbered).isEmpty, executedOps(numbered).mkString("\n"))
        // too large to broadcast and not hinted: Spark's plan
        withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val big = scan.join(r, Seq("k"), "left_semi")
          assert(inPlace(big).isEmpty, executedOps(big).mkString("\n"))
          assert(rows(big) === rows(left.join(right.select("k"), Seq("k"), "left_semi")))
        }
      }
    }
  }

  test("installing the rule twice lists it once") {
    OnePartitionJoin.install(spark)
    OnePartitionJoin.install(spark)
    assert(spark.experimental.extraStrategies.count(_ == OnePartitionJoin) === 1)
  }

  test("a fresh session plans q32 and a join of two pins in place, as the shared session does") {
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(OnePartitionJoin))
    def exchanges(df: DataFrame) = {
      val c = PlanCensus.of(df)
      (c.shuffles, c.broadcasts)
    }
    val q32 = ReferenceQueries.q32_multilang_vectors(fresh, sf)
    assert(exchanges(q32) === (0 -> 0), q32.queryExecution.executedPlan.treeString)
    val (l, r) = (Partitioning.pin(fresh.createDataFrame(leftRows).toDF("k", "l").coalesce(1)),
      Partitioning.pin(fresh.createDataFrame(rightRows).toDF("k", "r").coalesce(1)))
    try {
      assert(l.sparkSession eq fresh)
      val two = l.join(r, Seq("k"))
      assert(exchanges(two) === (0 -> 0), two.queryExecution.executedPlan.treeString)
      assert(rows(two) === rows(left.join(right, Seq("k"))))
    } finally { Partitioning.unpin(l); Partitioning.unpin(r) }
  }
}
