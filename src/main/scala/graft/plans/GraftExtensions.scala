package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.{CosineSimilarity, Fnv1a32, GraftFunctions, PolyHash, SimHash30}

/** Catalyst extension layer (SURVEY §7 preference step (c), used where
  * it genuinely pays):
  *
  *  - [[FuseCosineSimilarity]] — an optimizer `Rule[LogicalPlan]` that
  *    recognizes the portable builtin spelling of cosine similarity
  *    (`aggregate(zip_with(cast a, cast b, *)) / sqrt(…) / sqrt(…)`) and
  *    rewrites it to the fused codegen [[CosineSimilarity]] expression.
  *    Users can write the declarative form — e.g. ported straight from
  *    another engine — and still get the single-pass kernel: the three
  *    interpreted array traversals (higher-order functions are
  *    CodegenFallback) become one codegen'd loop, ~10× on the pair-join
  *    hot path, with bit-identical results (same fold order).
  *  - function injection so plain SQL sees `poly_hash` / `simhash30` /
  *    `fnv1a32` / `cosine_similarity` without per-session registration
  *    (the builders of [[GraftFunctions.register]]'s table).
  *
  * Activate with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => FuseCosineSimilarity)
    ext.injectOptimizerRule(_ => RewriteRankLimitToTopK)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    Seq(classOf[PolyHash] -> "poly_hash", classOf[SimHash30] -> "simhash30",
        classOf[Fnv1a32] -> "fnv1a32", classOf[CosineSimilarity] -> "cosine_similarity")
      .foreach { case (cls, name) =>
        ext.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new ExpressionInfo(cls.getName, name), GraftFunctions.checkedBuilder(name)))
      }
  }
}

/** Rewrite `dot(a,b) / sqrt(dot(a,a)) / sqrt(dot(b,b))` — with dot the
  * zip_with/aggregate spelling over float arrays cast to double — into
  * [[CosineSimilarity]](a, b). Conservative: only fires when the whole
  * shape matches with the same two base arrays, so it can never change
  * semantics (the fused kernel uses the identical fold order). */
object FuseCosineSimilarity extends Rule[LogicalPlan] {

  /** Matches the builtin dot-product fold and returns the two (pre-cast)
    * array inputs. */
  private object BuiltinDot {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
        ZipWith(CastToDoubleArray(x), CastToDoubleArray(y),
          LambdaFunction(Multiply(_: NamedLambdaVariable, _: NamedLambdaVariable, _), _, _)),
        zero, LambdaFunction(Add(_: NamedLambdaVariable, _: NamedLambdaVariable, _), _, _),
        LambdaFunction(v: NamedLambdaVariable, _, _))
        if isZeroDouble(zero) && v.dataType == DoubleType =>
        Some((x, y))
      case _ => None
    }
    private def isZeroDouble(e: Expression): Boolean = e match {
      case Literal(0.0, DoubleType) => true
      case Cast(Literal(0.0, DoubleType), DoubleType, _, _) => true
      case _ => false
    }
  }

  private object CastToDoubleArray {
    def unapply(e: Expression): Option[Expression] = e match {
      case Cast(x, ArrayType(DoubleType, _), _, _)
        if x.dataType.isInstanceOf[ArrayType] &&
          x.dataType.asInstanceOf[ArrayType].elementType == FloatType => Some(x)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Divide(Divide(BuiltinDot(a, b), Sqrt(BuiltinDot(a2, a3)), _),
                Sqrt(BuiltinDot(b2, b3)), _)
      if a.semanticEquals(a2) && a.semanticEquals(a3) &&
        b.semanticEquals(b2) && b.semanticEquals(b3) =>
      CosineSimilarity(a, b)
  }
}

/** Rewrite the declarative top-k-per-key spelling —
  * `SELECT <cols w/o rn> FROM (… row_number() OVER (PARTITION BY p
  * ORDER BY o) AS rn …) WHERE rn <= k` — into the [[TopKPerKey]]
  * operator, so a query written the portable way still gets the
  * sort-free partial+final heap path (Spark's own InferWindowGroupLimit
  * prunes rows per group but keeps the per-partition sort; the heap
  * operator removes the sort entirely).
  *
  * Conservative by construction — fires only when:
  *  - the Window computes EXACTLY ONE expression, a plain
  *    `row_number()` (any other window column must survive, so the
  *    Window node must stay);
  *  - the filter is a sole `rn <= k` / `rn < k` / `rn = 1` conjunct
  *    with literal k in (0, [[RewriteRankLimitToTopK.maxK]]];
  *  - the projection above drops `rn` (the operator does not emit
  *    ranks);
  *  - the rank's window spec matches the Window node's own
  *    partition/order spec (always true post-analysis; checked anyway).
  *
  * Regime guard: the rewrite is free to UNDO at runtime on the map
  * side — the partial exec degrades to pass-through past the group
  * cap — and the final exec's cap failure names the
  * `spark.graft.topk.autoRewrite=false` escape hatch alongside the
  * windowed spelling. Disable wholesale with that flag.
  */
object RewriteRankLimitToTopK extends Rule[LogicalPlan] {
  val enabledKey = TopK.autoRewriteKey
  /** The largest k rewritten (the heap holds up to k rows per key);
    * a larger k keeps the window plan. */
  val maxK = 1000

  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Window}

  /** `rn <= k` in its equivalent literal spellings → k. */
  private object RankLimit {
    def unapply(e: Expression): Option[(ExprId, Int)] = e match {
      case LessThanOrEqual(a: AttributeReference, Literal(kk: Int, _)) => Some((a.exprId, kk))
      case LessThan(a: AttributeReference, Literal(kk: Int, _)) => Some((a.exprId, kk - 1))
      case EqualTo(a: AttributeReference, Literal(kk: Int, _)) if kk == 1 => Some((a.exprId, 1))
      case GreaterThanOrEqual(Literal(kk: Int, _), a: AttributeReference) => Some((a.exprId, kk))
      case GreaterThan(Literal(kk: Int, _), a: AttributeReference) => Some((a.exprId, kk - 1))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(enabledKey, "true").toBoolean) return plan
    plan.transformUp {
      case Project(plist,
          Filter(RankLimit(rnId, k),
            Window(Seq(alias @ Alias(
                WindowExpression(RowNumber(), WindowSpecDefinition(ps, os, _)), _)),
              partSpec, ordSpec, child, _)))
        // ps.nonEmpty: a global top-k (empty PARTITION BY) has no
        // clustering keys — TopKPerKey's final exec would build the
        // forbidden ClusteredDistribution(Nil); that shape belongs to
        // TakeOrderedAndProject / the window plan, not this operator
        if ps.nonEmpty && k > 0 && k <= maxK && alias.exprId == rnId &&
          // TopK.windowed names its rank __graft_rn as a deliberate
          // opt-out marker: that spelling IS the high-group-cardinality
          // escape hatch, so rewriting it back would defeat the routing
          alias.name != "__graft_rn" &&
          plist.forall(ne => !ne.references.exists(_.exprId == rnId)) &&
          ps.length == partSpec.length && os.length == ordSpec.length &&
          ps.zip(partSpec).forall { case (x, y) => x.semanticEquals(y) } &&
          os.zip(ordSpec).forall { case (x, y) => x.semanticEquals(y) } =>
        Project(plist, TopKPerKey(partSpec, ordSpec, k, child))
    }
  }
}
