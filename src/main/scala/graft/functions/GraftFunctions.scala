package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL registration for the native graft expressions, so `spark.sql` users
  * get them too:
  *
  *   - at submit time: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  *   - at runtime: `GraftFunctions.registerAll(spark)`
  *
  * `minhash_band_buckets(hashes, bands, rowsPerBand)` takes its shape
  * parameters as integer literals (they parameterize generated code, so they
  * must be compile-time constants).
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def doubleLit(e: Expression, what: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: Int, _) => v.toDouble
    // SQL fractional literals parse as exact decimals (ANSI)
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> (args => RollingHash(args.head)),
    "vector_dot" -> (args => VectorDot(args(0), args(1))),
    "sorted_intersect_size" -> (args => SortedIntersectSize(args(0), args(1))),
    "minhash_sig" -> (args => MinHashSig(args(0), intLit(args(1), "k"))),
    "minhash_band_buckets" -> (args =>
      MinHashBandBuckets(args(0), intLit(args(1), "bands"), intLit(args(2), "rowsPerBand"))),
    "shingle_hashes" -> (args => ShingleHashes(args(0), intLit(args(1), "n"))),
    "winnow_hashes" -> (args =>
      WinnowHashes(args(0), intLit(args(1), "k"), intLit(args(2), "w"))),
    "topk_by" -> (args =>
      TopKBy(args(0), args(1), intLit(args(2), "k")).toAggregateExpression()),
    "cosine_pairs" -> (args =>
      CosinePairs(args(0), doubleLit(args(1), "cutoff"))),
    "jaccard_band_pairs" -> (args =>
      JaccardBandPairs(args(0), args(1),
        doubleLit(args(2), "margin"), doubleLit(args(3), "cutoff"))),
    "kll_sketch_agg" -> (args =>
      KllSketchAgg(args(0), if (args.length > 1) intLit(args(1), "k") else 200)
        .toAggregateExpression()),
    "kll_merge_agg" -> (args =>
      KllMergeAgg(args(0), if (args.length > 1) intLit(args(1), "k") else 200)
        .toAggregateExpression()),
    "kll_quantile" -> (args => KllQuantile(args(0), args(1))),
    "kll_n" -> (args => KllN(args(0))),
    "theta_sketch_agg" -> (args =>
      ThetaSketchAgg(args(0), if (args.length > 1) intLit(args(1), "k") else 4096)
        .toAggregateExpression()),
    "theta_union_agg" -> (args =>
      ThetaUnionAgg(args(0), if (args.length > 1) intLit(args(1), "k") else 4096)
        .toAggregateExpression()),
    "theta_intersect" -> (args => ThetaIntersect(args(0), args(1))),
    "theta_a_not_b" -> (args => ThetaANotB(args(0), args(1))),
    "theta_estimate" -> (args => ThetaEstimate(args(0))),
    "theta_is_estimation" -> (args => ThetaIsEstimation(args(0))),
    "theta_lb" -> (args => ThetaBound(args(0), intLit(args(1), "nStd"), upper = false)),
    "theta_ub" -> (args => ThetaBound(args(0), intLit(args(1), "nStd"), upper = true)),
    "freq_sketch_agg" -> (args =>
      FreqSketchAgg(args(0), if (args.length > 1) intLit(args(1), "maxMapSize") else 1024)
        .toAggregateExpression()),
    "freq_merge_agg" -> (args =>
      FreqMergeAgg(args(0), if (args.length > 1) intLit(args(1), "maxMapSize") else 1024)
        .toAggregateExpression()),
    "freq_items" -> (args => FreqItems(args(0))),
    "freq_max_error" -> (args => FreqMaxError(args(0))),
    "freq_n" -> (args => FreqN(args(0))))

  /** Register on a live session (classic path, via the sql-package shim). */
  def registerAll(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      org.apache.spark.sql.graftshim.ColumnBridge.registerFunction(spark, name, builder)
    }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))
    }
    // analysis-phase guardrail (opt-in via its conf key; see CartesianGuard)
    ext.injectCheckRule(session => graft.plans.CartesianGuard.check(session))
    // small batch plans run as one job of one task (see SingleTaskPlan)
    ext.injectQueryPostPlannerStrategyRule(_ => graft.plans.SingleTaskPlan)
  }
}
