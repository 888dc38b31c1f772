package graft.agg

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Weighted-vector-sum input row: one (weight, vector) pair per token.
  * The vector is a primitive array on purpose (see [[WeightedVecSum]]).
  */
case class WeightedVec(w: Double, vec: Array[Double])

/** Per-group axpy aggregation: `doc_vector = Σ w_i · vec_i` (SURVEY.md A3).
  *
  * The reference folds `tf * idf * wordvec` into a single mutable
  * 300-float buffer per document (`worker.py:78-84`). The naive Spark
  * translations either materialize a per-doc `collect_list` (OOM at
  * 100 TB) or explode by dimension (300× shuffle volume). This
  * `Aggregator` restores the reference's single-buffer property and gets
  * map-side partial aggregation + final merge from Spark's agg physical
  * operators, so shuffle traffic is one `dim`-length vector per
  * (partition, group) — the right shape for a 1000-executor cluster.
  *
  * Weights are applied in `reduce` (axpy), so the caller passes the raw
  * vector and a combined weight (e.g. tf·idf) — no intermediate scaled
  * array is allocated per row.
  *
  * The input vector is an `Array[Double]`, not a `Seq[Double]`: Spark's
  * encoder deserializes a `Seq` field into a linked `List` of boxed
  * doubles, on which `v(i)` walks `i` cells (~45k steps for one
  * dim-300 row). An `Array[Double]` field is one bulk `toDoubleArray`
  * copy of the `array<double>` column (an `array<float>` column is
  * upcast element-wise on the way), O(dim) per row with no boxing.
  * The output is an `Array[Double]` too, still an `array<double>`
  * column.
  */
class WeightedVecSum(dim: Int)
    extends Aggregator[WeightedVec, Array[Double], Array[Double]] {
  override def zero: Array[Double] = new Array[Double](dim)
  override def reduce(buf: Array[Double], in: WeightedVec): Array[Double] = {
    val v = in.vec
    var i = 0
    val n = math.min(dim, v.length)
    while (i < n) { buf(i) += in.w * v(i); i += 1 }
    buf
  }
  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < dim) { a(i) += b(i); i += 1 }
    a
  }
  override def finish(buf: Array[Double]): Array[Double] = buf
  override def bufferEncoder: Encoder[Array[Double]] = VecAgg.arrayEncoder
  override def outputEncoder: Encoder[Array[Double]] = VecAgg.arrayEncoder
}

/** Dimension-adaptive form for the SQL registration (a SQL caller has
  * no way to pass a dim parameter): the buffer grows to the longest
  * vector seen, so mixed partitions merge correctly (shorter buffers
  * zero-pad). Identical results to WeightedVecSum(d) when every vector
  * has length d.
  */
class WeightedVecSumAny
    extends Aggregator[WeightedVec, Array[Double], Array[Double]] {
  private def grown(buf: Array[Double], n: Int): Array[Double] =
    if (buf.length >= n) buf else java.util.Arrays.copyOf(buf, n)
  override def zero: Array[Double] = Array.emptyDoubleArray
  override def reduce(buf: Array[Double], in: WeightedVec): Array[Double] = {
    val v = in.vec
    val b = grown(buf, v.length)
    var i = 0
    while (i < v.length) { b(i) += in.w * v(i); i += 1 }
    b
  }
  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    val (big, small) = if (a.length >= b.length) (a, b) else (b, a)
    var i = 0
    while (i < small.length) { big(i) += small(i); i += 1 }
    big
  }
  override def finish(buf: Array[Double]): Array[Double] = buf
  override def bufferEncoder: Encoder[Array[Double]] = VecAgg.arrayEncoder
  override def outputEncoder: Encoder[Array[Double]] = VecAgg.arrayEncoder
}

object VecAgg {
  private[agg] def arrayEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()

  /** Untyped-DataFrame entry: `.agg(VecAgg.weightedSum(dim)($"w", $"vec"))`. */
  def weightedSum(dim: Int): (Column, Column) => Column = {
    val fn = udaf(new WeightedVecSum(dim))
    (w: Column, vec: Column) => fn(w, vec)
  }
}
