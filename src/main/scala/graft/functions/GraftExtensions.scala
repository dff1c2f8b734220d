package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL registration for the engine's native expressions, so
  * `spark.sql("SELECT vector_dot(a, b) ...")` works anywhere DataFrame code
  * does. Two installation paths:
  *  - at session build: `.withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.functions.GraftExtensions`;
  *  - on a live session: `GraftFunctions.register(spark)`.
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (name, builder) for every SQL-exposed native function. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vector_dot" -> ((args: Seq[Expression]) => VectorDot(args(0), args(1))),
    "word_shingles" -> ((args: Seq[Expression]) =>
      WordShingles(args(0), intArg(args(1), "shingle size"))),
    "minhash_sig" -> ((args: Seq[Expression]) =>
      MinHashSigAgg(args(0), intArg(args(1), "k"),
        args.lift(2).map(intArg(_, "seed").toLong).getOrElse(42L))
        .toAggregateExpression()),
    "simhash64" -> ((args: Seq[Expression]) =>
      SimHashAgg(args(0)).toAggregateExpression()),
    "z_order" -> ((args: Seq[Expression]) => ZOrder2(args(0), args(1))),
    "topk_by" -> ((args: Seq[Expression]) =>
      TopKByAgg(args(0), args(1), intArg(args(2), "k"))
        .toAggregateExpression()),
    "topk_by_pay" -> ((args: Seq[Expression]) =>
      TopKPayByAgg(args(0), args(1), args(2), intArg(args(3), "k"))
        .toAggregateExpression()),
    "hyperplane_bands" -> ((args: Seq[Expression]) =>
      HyperplaneBands(args(0), intArg(args(1), "rowsPerBand"),
        intArg(args(2), "nBands"))),
    "gram_micro" -> ((args: Seq[Expression]) =>
      GramMicroAgg(args(0), intArg(args(1), "dims"))
        .toAggregateExpression()),
    "cms_sketch" -> ((args: Seq[Expression]) =>
      CmsSketchAgg(args(0), intArg(args(1), "depth"), intArg(args(2), "width"))
        .toAggregateExpression()),
    "hll_registers" -> ((args: Seq[Expression]) =>
      HllRegisterAgg(args(0), intArg(args(1), "p"))
        .toAggregateExpression()),
    "misra_gries" -> ((args: Seq[Expression]) =>
      MisraGriesAgg(args(0), intArg(args(1), "k"))
        .toAggregateExpression()))

  /** Register on an already-running session (temp-function scope). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}

/** Session-extension wrapper: SQL functions, the nanos-pushdown
  * optimizer rule, the as-of merge planner strategy, and the small
  * global-sort query-stage rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), b))
    }
    ext.injectOptimizerRule(_ => graft.plans.NanosPredicatePushdown)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallGlobalSort)
  }
}
