package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.agg.VecAgg
import graft.functions.GraftFunctions

class VecAggSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Dyadic values (k/16 vectors, k/8 weights): every product and
    * partial sum below is exact in a double, so the result cannot
    * depend on how Spark splits and merges the fold, and a sequential
    * fold is an exact oracle.
    */
  private def dyadicRows(n: Int, groups: Int, lens: Seq[Int],
      seed: Int): Seq[(Long, Double, Seq[Double])] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      (i % groups.toLong, (rnd.nextInt(16) + 1) / 8.0,
        Seq.fill(lens(i % lens.size))((rnd.nextInt(65) - 32) / 16.0))
    }
  }

  /** The zero-padded sequential fold, one array per group. */
  private def fold(rows: Seq[(Long, Double, Seq[Double])])
      : Map[Long, Seq[Double]] =
    rows.groupBy(_._1).map { case (g, rs) =>
      val acc = new Array[Double](rs.map(_._3.length).max)
      for ((_, w, v) <- rs; i <- v.indices) acc(i) += w * v(i)
      g -> acc.toSeq
    }

  test("dim 300: exactly the sequential fold over 1, 3 and 8 partitions") {
    val dim = 300
    val rows = dyadicRows(600, 7, Seq(dim), seed = 11)
    val expected = fold(rows)
    for (parts <- Seq(1, 3, 8)) {
      val got = rows.toDF("g", "w", "vec").repartition(parts)
        .groupBy("g").agg(VecAgg.weightedSum(dim)(col("w"), col("vec")).as("v"))
        .as[(Long, Seq[Double])].collect().toMap
      assert(got === expected, s"parts $parts")
    }
  }

  test("array<float> input (FastTextVec.read's column) sums the upcast floats") {
    val dim = 300
    val rnd = new scala.util.Random(5)
    val rows = (1 to 200).map { i =>
      (i % 5L, (rnd.nextInt(16) + 1) / 8.0,
        Array.fill(dim)((rnd.nextInt(65) - 32) / 16f))
    }
    val df = rows.toDF("g", "w", "vec").repartition(3)
    assert(df.schema("vec").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))
    val got = df.groupBy("g")
      .agg(VecAgg.weightedSum(dim)(col("w"), col("vec")).as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got === fold(rows.map { case (g, w, v) => (g, w, v.toSeq.map(_.toDouble)) }))
  }

  test("SQL vec_weighted_sum over mixed vector lengths at dim 300 zero-pads") {
    GraftFunctions.register(spark)
    val rows = dyadicRows(400, 6, Seq(300, 299, 150, 1, 0), seed = 3)
    rows.toDF("g", "w", "vec").repartition(4).createOrReplaceTempView("mixed_vecs")
    val got = spark.sql(
      "SELECT g, vec_weighted_sum(w, vec) AS v FROM mixed_vecs GROUP BY g")
      .as[(Long, Seq[Double])].collect().toMap
    assert(got === fold(rows))
    assert(got.values.map(_.length).toSet === Set(300))
  }

  test("weighted vector sum matches sequential fold across partitionings") {
    val rnd = new scala.util.Random(7)
    val dim = 5
    val rows = (1 to 500).map { i =>
      (i % 7L, rnd.nextDouble(), Seq.fill(dim)(rnd.nextDouble()))
    }
    val expected: Map[Long, Seq[Double]] = rows.groupBy(_._1).map {
      case (g, rs) =>
        g -> rs.foldLeft(Array.fill(dim)(0.0)) { (acc, r) =>
          var i = 0
          while (i < dim) { acc(i) += r._2 * r._3(i); i += 1 }
          acc
        }.toSeq
    }
    for (parts <- Seq(1, 3, 8)) {
      val got = rows.toDF("g", "w", "vec").repartition(parts)
        .groupBy("g").agg(VecAgg.weightedSum(dim)(col("w"), col("vec")).as("v"))
        .as[(Long, Seq[Double])].collect().toMap
      assert(got.keySet === expected.keySet)
      for ((g, v) <- got; i <- 0 until dim)
        assert(math.abs(v(i) - expected(g)(i)) < 1e-9,
          s"group $g dim $i parts $parts")
    }
  }

  test("empty groups produce no rows; zero-length input gives zero vector") {
    val got = Seq((1L, 0.5, Seq(1.0, 2.0)))
      .toDF("g", "w", "vec").filter(col("g") > 100)
      .groupBy("g").agg(VecAgg.weightedSum(2)(col("w"), col("vec")))
    assert(got.count() === 0)
  }

  test("shorter vectors than dim contribute to their prefix only") {
    val got = Seq((1L, 1.0, Seq(3.0)))
      .toDF("g", "w", "vec")
      .groupBy("g").agg(VecAgg.weightedSum(3)(col("w"), col("vec")).as("v"))
      .as[(Long, Seq[Double])].head()
    assert(got._2 === Seq(3.0, 0.0, 0.0))
  }

  test("a null vector element adds 0.0, in the Column and the SQL form") {
    // the element deserializes to 0.0 instead of failing the job, as it
    // did when the input was a Seq[Double]; this pins that behaviour
    GraftFunctions.register(spark)
    val df = Seq((1L, 1.0, Seq[java.lang.Double](1.0, null, 3.0)),
      (1L, 2.0, Seq[java.lang.Double](1.0, 1.0, 1.0))).toDF("g", "w", "vec")
    df.createOrReplaceTempView("null_elem_vecs")
    val col0 = df.groupBy("g")
      .agg(VecAgg.weightedSum(3)(col("w"), col("vec")).as("v"))
      .as[(Long, Seq[Double])].head()
    val sql = spark.sql(
      "SELECT g, vec_weighted_sum(w, vec) AS v FROM null_elem_vecs GROUP BY g")
      .as[(Long, Seq[Double])].head()
    assert(col0 === ((1L, Seq(3.0, 2.0, 5.0))))
    assert(sql === col0)
  }
}
