package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import graft.functions.{CosineSim, Hash60, IntL2, SimHash}

/** Session extension registering graft's native expressions with the
  * SQL function registry, so `spark.sql("... graft_cosine(a, b) ...")`
  * and `call_function("graft_cosine", ...)` resolve everywhere —
  * enable via `spark.sql.extensions=graft.plans.GraftExtensions`
  * (GraftSession does) or [[GraftExtensions.register]] on a live
  * session.
  *
  * It also adds one physical rule, [[HoldLiterals]]: the primitive
  * literals of filter comparisons and `IN` lists are read by generated
  * code from the plan's references instead of being written into its
  * source, so a query that differs from an earlier one only in its
  * bounds hits Spark's codegen cache and compiles no new class. The
  * rule runs before columnar transitions, so it covers adaptive query
  * stages and streaming micro-batches. Only `spark.sql.extensions`
  * installs it: [[GraftExtensions.register]] adds the functions alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = HoldLiterals
    })
    ext.injectOptimizerRule(FuseCosine)
    // answer aggregates over a fact table from a FRESH materialized
    // view built on it (exact-group projection or group-subset
    // rollup) — the read-side half of the MV contract
    ext.injectOptimizerRule(MvRewrite)
    // persisted SQL views over graft catalogs (Spark 4.1 ships the
    // ViewCatalog interface with no analyzer wiring — see GraftViews)
    ext.injectParser((session, delegate) => new GraftViewParser(session, delegate))
    ext.injectResolutionRule(ResolveGraftViews)
  }
}

object GraftExtensions {
  private val descriptors = Seq(
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cosine(arrayA, arrayB)")
        CosineSim(children.head, children(1))
      }),
    (FunctionIdentifier("graft_hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "graft_hash60"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_hash60(str)")
        Hash60(children.head)
      }),
    (FunctionIdentifier("graft_d2i"),
      new ExpressionInfo(classOf[IntL2].getName, "graft_d2i"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_d2i(arrayA, arrayB)")
        IntL2(children.head, children(1))
      }),
    (FunctionIdentifier("graft_dv_contains"),
      new ExpressionInfo(classOf[graft.functions.DvContains].getName,
        "graft_dv_contains"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dv_contains(binary, bigint)")
        graft.functions.DvContains(children.head, children(1))
      }),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_simhash(array<bigint>, bits)")
        val bits = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_simhash bits must be an int literal, got $other")
        }
        SimHash(children.head, bits)
      }))

  /** Register on an already-built session (idempotent). */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
