package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecMath

class VecMathSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def one(colv: org.apache.spark.sql.Column): Double =
    Seq(1).toDF("x").select(colv.as("r")).as[Double].head()

  test("dot / norm / cosine with known values") {
    val a = typedlit(Seq(1.0, 2.0, 3.0))
    val b = typedlit(Seq(4.0, -5.0, 6.0))
    assert(one(VecMath.dot(a, b)) === 4.0 - 10.0 + 18.0)
    assert(math.abs(one(VecMath.l2norm(a)) - math.sqrt(14.0)) < 1e-12)
    val cos = one(VecMath.cosine(a, a))
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("cosine zero-norm guard returns 0 (F7 pattern)") {
    val z = typedlit(Seq(0.0, 0.0))
    val a = typedlit(Seq(1.0, 1.0))
    assert(one(VecMath.cosine(z, a)) === 0.0)
  }

  test("add / scale / zeros elementwise (F8/F9/F10)") {
    val got = Seq(1).toDF("x").select(
      VecMath.add(typedlit(Seq(1.0, 2.0)), typedlit(Seq(10.0, 20.0))).as("s"))
      .as[Seq[Double]].head()
    assert(got === Seq(11.0, 22.0))
    val sc = Seq(1).toDF("x").select(
      VecMath.scale(typedlit(Seq(1.5, -2.0)), lit(2.0)).as("s"))
      .as[Seq[Double]].head()
    assert(sc === Seq(3.0, -4.0))
    val z = Seq(1).toDF("x").select(VecMath.zeros(3).as("z"))
      .as[Seq[Double]].head()
    assert(z === Seq(0.0, 0.0, 0.0))
  }

  test("dot truncates to shorter array (defensive)") {
    assert(one(VecMath.dot(typedlit(Seq(1.0, 2.0, 3.0)),
      typedlit(Seq(10.0, 10.0)))) === 30.0)
  }

  test("dot takes float arrays, bit for bit the dot of their double widening; doubles plan no cast") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((Seq.fill(9)(rnd.nextFloat() * 4 - 2), Seq.fill(9)(rnd.nextFloat() - 0.5f)))
    val df = rows.map { case (a, b) => (a, b, a.map(_.toDouble), b.map(_.toDouble)) }
      .toDF("fa", "fb", "da", "db")
    val got = df.select(VecMath.dot(col("fa"), col("fb")), VecMath.dot(col("da"), col("db")),
        VecMath.dot(col("fa"), col("db")))
      .as[(Double, Double, Double)].collect().toSeq
    val expected = rows.map { case (a, b) =>
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble } }
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    assert(got.map(r => bits(r._1)) === expected.map(bits))
    assert(got.map(r => bits(r._2)) === expected.map(bits))
    assert(got.map(r => bits(r._3)) === expected.map(bits))
    val doubles = df.select(VecMath.dot(col("da"), col("db")))
    assert(doubles.queryExecution.analyzed.expressions.forall(_.collect {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => c }.isEmpty),
      doubles.queryExecution.analyzed.toString)
  }
}
