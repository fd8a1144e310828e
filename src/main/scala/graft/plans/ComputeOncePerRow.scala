package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, Join, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions._

/** Computes each costly per-row expression once per row when a Filter
  * and its consumer would both evaluate it.
  *
  * Predicate pushdown copies a projection alias into the Filter below
  * it, and Filter codegen has no common-subexpression elimination
  * across conjuncts or with the operator above. So a gate such as
  * `n_tokens >= 2 AND round(rs[0] / n_tokens, 6) <= 0.2` over
  * `size(split(text, ' ')) AS n_tokens, repeat_stats(split(text, ' '))
  * AS rs` runs `split` once per conjunct and again in the Project.
  *
  * The rule finds a costly expression (the closed list [[isCostly]])
  * that a Filter evaluates and that either its consumer (the Project,
  * Aggregate or Generate above it, directly or past a column-pruning
  * Project, a round-robin shuffle or the row-preserving side of a
  * join) also evaluates, or that the Filter repeats. It computes the
  * expression once in a one-row `Generate explode(array(e))` under the
  * Filter and rewrites every use to read the generated attribute:
  *
  *  - only deterministic expressions over the Filter's input, with at
  *    least one occurrence the Filter evaluates unconditionally (not in
  *    a CASE branch, the right side of a nested AND/OR or a lambda), so
  *    the Generate evaluates nothing the Filter would not;
  *  - conjuncts that do not read the expression stay below the
  *    Generate, so the expression runs only for rows they keep;
  *  - nested costly calls are computed innermost first, one Generate
  *    each (`split` before `repeat_stats` over it), unless the inner
  *    call only ever appears inside the outer one;
  *  - a Filter under a round-robin shuffle moves above it with the
  *    Generate, so the expression runs on the spread rows;
  *  - a Project under the Generate keeps only the columns the consumers
  *    read, so the scan's `ReadSchema` does not widen; the consumer's
  *    output is unchanged.
  *
  * `explode(array(e))` yields exactly one row per input row, null `e`
  * included, so row counts and order are untouched. The rule runs in
  * `spark.experimental.extraOptimizations`, after every pushdown batch,
  * so no later rule moves a predicate back below the Generate;
  * [[GraftFunctions.register]] installs it.
  */
object ComputeOncePerRow extends Rule[LogicalPlan] with PredicateHelper {

  /** The per-row expressions worth computing once: the graft row
    * kernels, and the builtins the text queries tokenize and clean
    * with — `split`, `regexp_replace`, and `filter` over a token array
    * (an interpreted lambda call per element). */
  private val costly: Set[Class[_]] = Set(
    classOf[StringSplit], classOf[RegExpReplace], classOf[ArrayFilter],
    classOf[Fnv1a32], classOf[CosineSimilarity], classOf[PolyHash], classOf[SimHash30],
    classOf[ShingleHashes], classOf[GramHashes], classOf[SpanCut], classOf[MinHash16],
    classOf[LshBucket8], classOf[LshBandSigs], classOf[L2SquaredDistance],
    classOf[BpeTokenCount], classOf[CharTrigrams], classOf[StopHits],
    classOf[StrideSampleTokens], classOf[RepetitionStats], classOf[CharStats],
    classOf[NfcNormalize], classOf[Int8QuantStats], classOf[SubwordCount],
    classOf[BpeApplyCount], classOf[DeletionNbhHashes], classOf[NearestCellLabel],
    classOf[NearestCells], classOf[BloomMaybe])

  def isCostly(e: Expression): Boolean = costly.contains(e.getClass)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case p @ Project(list, Under(f, refs, put)) =>
      once(f, list, refs).fold(p: LogicalPlan) { case (nf, l) =>
        val np = Project(l.map(_.asInstanceOf[NamedExpression]), put(nf))
        if (np.child.sameOutput(np)) np.child else np }
    case a @ Aggregate(groups, aggs, Under(f, refs, put), hint) =>
      once(f, groups ++ aggs, refs).fold(a: LogicalPlan) { case (nf, l) =>
        Aggregate(l.take(groups.size),
          l.drop(groups.size).map(_.asInstanceOf[NamedExpression]), put(nf), hint) }
    case g @ Generate(gen, _, outer, qual, out, Under(f, refs, put)) =>
      val keep = AttributeSet(g.requiredChildOutput)
      once(f, Seq(gen), refs ++ keep).fold(g: LogicalPlan) { case (nf, l) =>
        val child = put(nf)
        Generate(l.head.asInstanceOf[Generator],
          child.output.indices.filterNot(i => keep.contains(child.output(i))), outer, qual, out, child) }
    case f: Filter =>
      once(f, Nil, f.child.outputSet).fold(f: LogicalPlan) { case (nf, _) =>
        Project(f.child.output, nf) }
  }

  /** The Filter under a consumer, directly or through operators that
    * pass its rows and columns on unchanged. Gives the Filter, the
    * columns those operators read, and how to put a new Filter in its
    * place. A Filter under a shuffle is given as if it sat above it. */
  private object Under {
    def unapply(p: LogicalPlan): Option[(Filter, AttributeSet, LogicalPlan => LogicalPlan)] = p match {
      case f: Filter => Some((f, AttributeSet.empty, identity))
      case Project(list, c) if list.forall(_.isInstanceOf[Attribute]) => unapply(c).map {
        case (f, refs, put) => (f, refs, (n: LogicalPlan) => {
          val m = put(n)
          Project(m.output.filter(a => p.outputSet.contains(a) || !c.outputSet.contains(a)), m)
        }) }
      // the conjuncts over the shuffle's columns move above it (those
      // that read no costly expression go back below it in `once`), so
      // the costly expression runs on the spread rows, not in the scan
      case r: Repartition if pruningOnly(r.child) =>
        unapply(r.child).filter(_._1.condition.deterministic).flatMap { case (f, refs, put) =>
          val (up, down) = splitConjunctivePredicates(f.condition)
            .partition(_.references.subsetOf(r.outputSet))
          val below = down.reduceOption(And).fold(f.child)(Filter(_, f.child))
          up.reduceOption(And).map(c => (Filter(c, r.copy(child = put(below))), refs, identity[LogicalPlan] _))
        }
      case j: Join =>
        def side(c: LogicalPlan, rebuild: LogicalPlan => Join) = unapply(c).map { case (f, refs, put) =>
          (f, refs ++ j.references, (n: LogicalPlan) => rebuild(put(n))) }
        val left = j.joinType match {
          case Inner | LeftOuter | LeftSemi | LeftAnti => side(j.left, n => j.copy(left = n))
          case _ => None
        }
        left.orElse(j.joinType match {
          case Inner | RightOuter => side(j.right, n => j.copy(right = n))
          case _ => None
        })
      case _ => None
    }

    private def pruningOnly(p: LogicalPlan): Boolean = p match {
      case _: Filter => true
      case Project(list, c) => list.forall(_.isInstanceOf[Attribute]) && pruningOnly(c)
      case _ => false
    }
  }

  /** The rewritten Filter and consumer expressions, or None when no
    * costly expression is shared. `passed` are the Filter's output
    * columns the consumer passes through without reading them. */
  private def once(f: Filter, consumer: Seq[Expression],
                   passed: AttributeSet): Option[(Filter, Seq[Expression])] = {
    if (!f.condition.deterministic) return None
    var (c, in, uses) = (f.condition, f.child, consumer)
    var e = pick(c, uses, in.outputSet)
    while (e.isDefined) {
      val x = e.get
      // a consumer alias of exactly `x` becomes the generated attribute
      val alias = uses.flatMap(_.collectFirst { case a: Alias if a.child.semanticEquals(x) => a })
      val attr = alias.headOption.fold(AttributeReference(x.prettyName, x.dataType, x.nullable)())(
        a => AttributeReference(a.name, x.dataType, x.nullable)(a.exprId))
      def swap(y: Expression) = y.transformDown {
        case a: Alias if a.exprId == attr.exprId => attr
        case v if v.semanticEquals(x) => attr
      }
      val (reads, rest) = splitConjunctivePredicates(c).partition(_.exists(_.semanticEquals(x)))
      c = reads.map(swap).reduce(And)
      uses = uses.map(swap)
      val above = (passed ++ c.references ++ AttributeSet(uses.flatMap(_.references))) -- Seq(attr)
      val kept = (rest.reduceOption(And), in) match {
        case (None, _) => in
        case (Some(r), s: Repartition) => s.copy(child = Filter(r, s.child))
        case (Some(r), _) => Filter(r, in)
      }
      val cols = kept.output.filter(a => above.contains(a) || x.references.contains(a))
      val pruned = if (cols.size < kept.output.size) Project(cols, kept) else kept
      in = Generate(Explode(CreateArray(Seq(x))),
        cols.indices.filterNot(i => above.contains(cols(i))), outer = false, None, Seq(attr), pruned)
      e = pick(c, uses, in.outputSet)
    }
    if (in eq f.child) None else Some((Filter(c, in), uses))
  }

  /** The next costly expression to compute once: shared, eligible, and
    * innermost among those that occur outside every other candidate —
    * the first such in the condition's evaluation order. */
  private def pick(cond: Expression, consumer: Seq[Expression], input: AttributeSet): Option[Expression] = {
    def calls(e: Expression) = e.collect { case x if isCostly(x) => x }
    val inCond = calls(cond)
    val inUses = consumer.flatMap(calls)
    val firm = splitConjunctivePredicates(cond).flatMap(unconditional)
    val candidates = firm.filter(x => isCostly(x) && x.deterministic && !x.foldable &&
      x.references.subsetOf(input) &&
      (inCond.count(_.semanticEquals(x)) > 1 || inUses.exists(_.semanticEquals(x))))
    // an occurrence that sits inside another candidate is computed by it
    def outermost(e: Expression): Seq[Expression] =
      if (candidates.exists(_.semanticEquals(e))) Seq(e) else e.children.flatMap(outermost)
    val alone = (cond +: consumer).flatMap(outermost)
    val standalone = candidates.filter(x => alone.exists(_.semanticEquals(x)))
    standalone.find(x => !standalone.exists(o => !o.semanticEquals(x) && x.exists(_.semanticEquals(o))))
  }

  /** The subexpressions evaluated for every row that reaches `e`. */
  private def unconditional(e: Expression): Seq[Expression] = e +: (e match {
    case c: ConditionalExpression => c.alwaysEvaluatedInputs.flatMap(unconditional)
    case And(l, _) => unconditional(l)
    case Or(l, _) => unconditional(l)
    case h: HigherOrderFunction => h.arguments.flatMap(unconditional)
    case _ => e.children.flatMap(unconditional)
  })
}
