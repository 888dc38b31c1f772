package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.{BinaryToFloats, DotProduct, FloatsToBinary, FreqMergeAgg, FreqSketchAgg, FreqTopK, KllMergeAgg, KllQuantile, KllSketchAgg, ThetaEstimate, ThetaSetEstimate, ThetaSketchAgg, ThetaUnionAgg, TokenCount}

/** Config-time Catalyst integration: `--conf
  * spark.sql.extensions=graft.plans.GraftExtensions` gives every session
  * the engine's native expressions as SQL functions plus the codec
  * round-trip elimination rule — no per-session register() call needed.
  * (`GraftFunctions.register` remains the runtime-registration path for
  * sessions that already exist.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Arity-checked builder: a wrong-arity SQL call gets a clear
    * function-named error out of analysis instead of an
    * IndexOutOfBoundsException from a bare exprs(i).
    */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == n,
        s"$name expects $n argument(s), got ${exprs.length}")
      build(exprs)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      arity("dot_product", 2)(exprs => DotProduct(exprs(0), exprs(1)))))
    ext.injectFunction((FunctionIdentifier("floats_to_binary"),
      new ExpressionInfo(classOf[FloatsToBinary].getName, "floats_to_binary"),
      arity("floats_to_binary", 1)(exprs => FloatsToBinary(exprs.head))))
    ext.injectFunction((FunctionIdentifier("binary_to_floats"),
      new ExpressionInfo(classOf[BinaryToFloats].getName, "binary_to_floats"),
      arity("binary_to_floats", 1)(exprs => BinaryToFloats(exprs.head))))
    ext.injectFunction((FunctionIdentifier("graft_token_count"),
      new ExpressionInfo(classOf[TokenCount].getName, "graft_token_count"),
      arity("graft_token_count", 1)(exprs => TokenCount(
        org.apache.spark.sql.catalyst.expressions.Lower(exprs.head)))))
    // mergeable KLL quantile sketches (hll_sketch_agg's quantile
    // sibling, which Spark SQL lacks): k comes in as a foldable int
    // literal, matching how hll_sketch_agg takes lgConfigK
    ext.injectFunction((FunctionIdentifier("graft_kll_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "graft_kll_agg"),
      arity("graft_kll_agg", 2)(graft.functions.KllExpressions.kllAggBuilder)))
    ext.injectFunction((FunctionIdentifier("graft_kll_merge"),
      new ExpressionInfo(classOf[KllMergeAgg].getName, "graft_kll_merge"),
      graft.functions.KllExpressions.kllMergeBuilder))
    ext.injectFunction((FunctionIdentifier("graft_kll_quantile"),
      new ExpressionInfo(classOf[KllQuantile].getName, "graft_kll_quantile"),
      arity("graft_kll_quantile", 2)(exprs =>
        KllQuantile(exprs(0), exprs(1)))))
    // mergeable frequent-items sketches (the frequency leg)
    ext.injectFunction((FunctionIdentifier("graft_freq_agg"),
      new ExpressionInfo(classOf[FreqSketchAgg].getName, "graft_freq_agg"),
      arity("graft_freq_agg", 2)(graft.functions.FreqExpressions.freqAggBuilder)))
    ext.injectFunction((FunctionIdentifier("graft_freq_merge"),
      new ExpressionInfo(classOf[FreqMergeAgg].getName, "graft_freq_merge"),
      graft.functions.FreqExpressions.freqMergeBuilder))
    ext.injectFunction((FunctionIdentifier("graft_freq_top_k"),
      new ExpressionInfo(classOf[FreqTopK].getName, "graft_freq_top_k"),
      arity("graft_freq_top_k", 2)(exprs => FreqTopK(exprs(0), exprs(1)))))
    // theta sketches (distincts with set operations — release overlap)
    ext.injectFunction((FunctionIdentifier("graft_theta_agg"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "graft_theta_agg"),
      arity("graft_theta_agg", 2)(graft.functions.ThetaExpressions.thetaAggBuilder)))
    ext.injectFunction((FunctionIdentifier("graft_theta_union"),
      new ExpressionInfo(classOf[ThetaUnionAgg].getName, "graft_theta_union"),
      graft.functions.ThetaExpressions.thetaUnionBuilder))
    ext.injectFunction((FunctionIdentifier("graft_theta_estimate"),
      new ExpressionInfo(classOf[ThetaEstimate].getName, "graft_theta_estimate"),
      arity("graft_theta_estimate", 1)(exprs => ThetaEstimate(exprs.head))))
    Seq("intersect", "diff", "union").foreach { op =>
      ext.injectFunction((FunctionIdentifier(s"graft_theta_${op}_estimate"),
        new ExpressionInfo(classOf[ThetaSetEstimate].getName,
          s"graft_theta_${op}_estimate"),
        arity(s"graft_theta_${op}_estimate", 2)(
          graft.functions.ThetaExpressions.setEstimateBuilder(op))))
    }
    ext.injectOptimizerRule(_ => CodecRoundTripElimination)
  }
}

/** Optimizer rule: `binary_to_floats(floats_to_binary(x)) = x` whenever
  * `x` is a non-null-element float array (the codec is bit-exact there —
  * put/getFloat preserve raw IEEE bits, VecCodecSpec's property test).
  * The reverse direction is NOT eliminated: decode drops trailing bytes
  * of a binary whose length is not a multiple of 4, so
  * `floats_to_binary(binary_to_floats(b))` is not the identity on
  * arbitrary blobs.
  *
  * This is the storage-boundary no-op a pipeline hits when a stage
  * re-encodes vectors it just decoded (the reference round-trips every
  * doc vector through bytes at each step, `worker.py:64,90`).
  */
object CodecRoundTripElimination extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case BinaryToFloats(FloatsToBinary(child))
          if child.dataType == ArrayType(FloatType, containsNull = false) =>
        child
    }
}
