package graft

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.Whiten

class WhitenSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("MomentAgg at dim 64 is exactly the plain-Scala moment fold") {
    val d = 64
    val rnd = new scala.util.Random(17)
    val xs = Seq.fill(300)(Array.fill(d)(rnd.nextGaussian()))
    val expected = new Array[Double](1 + d + d * d)
    for (x <- xs) {
      expected(0) += 1
      for (i <- 0 until d) {
        expected(1 + i) += x(i)
        for (j <- 0 until d) expected(1 + d + i * d + j) += x(i) * x(j)
      }
    }
    // one partition, rows in input order: the fold order is the same,
    // so the sums must agree to the bit
    val agg = udaf(new Whiten.MomentAgg(d), ExpressionEncoder[Array[Double]]())
    val got = xs.toDF("e").coalesce(1).agg(agg(col("e"))).head().getSeq[Double](0)
    assert(got === expected.toSeq)
  }
}
