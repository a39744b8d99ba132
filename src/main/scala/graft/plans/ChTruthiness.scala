package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, NumericType}

/** ClickHouse numeric truthiness for logical contexts (ref
  * src/Functions/FunctionsLogical.cpp: UInt8/numeric operands of
  * AND/OR/NOT and WHERE are true when non-zero). Spark's And/Or/Not and
  * Filter require BOOLEAN, so `SELECT 1 AND 2` or `WHERE 3` fail to
  * analyze; this resolution rule rewrites a resolved numeric operand in
  * those positions to `operand <> 0`. Runs in the analyzer's fixed
  * point; the rewrite result is boolean, so it applies at most once per
  * operand.
  */
object ChTruthinessRule extends Rule[LogicalPlan] {

  private def toBool(e: Expression): Expression = e match {
    case _ if !e.resolved => e
    case _ if e.dataType == BooleanType => e
    case _ if e.dataType.isInstanceOf[NumericType] =>
      Not(EqualTo(Cast(e, DoubleType), Literal(0.0d)))
    case _ => e
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_ => true) {
      case a @ And(l, r)
          if (isNum(l) || isNum(r)) && l.resolved && r.resolved =>
        And(toBool(l), toBool(r))
      case o @ Or(l, r)
          if (isNum(l) || isNum(r)) && l.resolved && r.resolved =>
        Or(toBool(l), toBool(r))
      case n @ Not(c) if isNum(c) => Not(toBool(c))
      // numeric CASE WHEN / If conditions: non-zero is true (ref
      // FunctionsConditional if.cpp UInt8 condition)
      case cw: CaseWhen if cw.branches.exists(b => isNum(b._1)) ||
          mixedBoolNum(cw.branches.map(_._2) ++ cw.elseValue) =>
        cw.copy(branches = cw.branches.map { case (c, v) =>
          (toBool(c), boolToInt(v)) },
          elseValue = cw.elseValue.map(boolToInt))
      case i @ If(p, a, b) if isNum(p) || mixedBoolNum(Seq(a, b)) =>
        If(toBool(p), boolToInt(a), boolToInt(b))
      // CH booleans are UInt8 in comparisons too: `x >= (expr IS NOT
      // NULL)` compares against 0/1 (ref FunctionsComparison.cpp)
      case c: BinaryComparison
          if c.left.resolved && c.right.resolved &&
            c.left.dataType == BooleanType &&
            c.right.dataType.isInstanceOf[NumericType] =>
        c.withNewChildren(Seq(
          Cast(c.left, IntegerType), c.right)).asInstanceOf[Expression]
      case c: BinaryComparison
          if c.left.resolved && c.right.resolved &&
            c.right.dataType == BooleanType &&
            c.left.dataType.isInstanceOf[NumericType] =>
        c.withNewChildren(Seq(
          c.left, Cast(c.right, IntegerType))).asInstanceOf[Expression]
    } match {
      case p =>
        p.transformWithPruning(_ => true) {
          case f @ Filter(cond, child) if isNum(cond) =>
            Filter(toBool(cond), child)
        }
    }

  private def isNum(e: Expression): Boolean =
    e.resolved && e.dataType.isInstanceOf[NumericType]

  /** mixed boolean/numeric RESULT branches unify to UInt8-style ints —
    * CH `if(cond, x <= 3, 1)` returns UInt8 (01882). */
  private def mixedBoolNum(es: Seq[Expression]): Boolean =
    es.forall(_.resolved) &&
      es.exists(_.dataType == BooleanType) &&
      es.exists(_.dataType.isInstanceOf[NumericType])

  private def boolToInt(e: Expression): Expression =
    if (e.resolved && e.dataType == BooleanType) Cast(e, IntegerType)
    else e
}

/** CH treats booleans as UInt8 everywhere, including as aggregate inputs
  * (`sum(x = y)` is the standard predicate-count idiom; ref
  * FunctionsLogical UInt8 representation). Spark's Sum/Average reject
  * BOOLEAN, so cast it to INT at resolution.
  */
object ChBoolAggRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Sum}
  import org.apache.spark.sql.types.IntegerType

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_ => true) {
      case s: Sum if s.child.resolved && s.child.dataType == BooleanType =>
        s.withNewChildren(Seq(Cast(s.child, IntegerType)))
          .asInstanceOf[Expression]
      // math functions take UInt8 booleans in CH (sin(x >= y))
      case m: UnaryMathExpression
          if m.child.resolved && m.child.dataType == BooleanType =>
        m.withNewChildren(Seq(Cast(m.child, DoubleType)))
          .asInstanceOf[Expression]
      case a: Average
          if a.child.resolved && a.child.dataType == BooleanType =>
        a.withNewChildren(Seq(Cast(a.child, IntegerType)))
          .asInstanceOf[Expression]
    }
}

/** Marks analysis triggered from the CH translation path (ChSql.sql).
  * CH-only analysis rules that would be wrong for Spark-native pipelines
  * sharing the session gate on it; analysis runs eagerly on the calling
  * thread (Dataset.ofRows), so a DynamicVariable scopes it exactly. */
object ChAnalysisScope {
  val active = new scala.util.DynamicVariable[Boolean](false)
}

/** CH integer arithmetic WRAPS on overflow (two's-complement; ref
  * src/Functions/FunctionBinaryArithmetic.h — plain C++ arithmetic, no
  * overflow checks), while Spark's ANSI operators throw. Downgrade
  * +,-,* over integral operands to legacy (wrapping) evaluation.
  * Decimal arithmetic stays ANSI — CH DOES raise DECIMAL_OVERFLOW.
  * Scoped to CH statement analysis ([[ChAnalysisScope]]) — Spark-native
  * DataFrame pipelines in the same session keep ANSI overflow errors. */
object ChWrapArithmeticRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
  private def integral(e: Expression): Boolean =
    e.resolved && (e.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  private def legacyCtx(c: NumericEvalContext): NumericEvalContext =
    c.copy(evalMode = EvalMode.LEGACY)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!ChAnalysisScope.active.value) plan
    else plan.transformAllExpressionsWithPruning(_ => true) {
      case a: Add if a.evalContext.evalMode == EvalMode.ANSI &&
          integral(a.left) && integral(a.right) =>
        a.copy(evalContext = legacyCtx(a.evalContext))
      case s: Subtract if s.evalContext.evalMode == EvalMode.ANSI &&
          integral(s.left) && integral(s.right) =>
        s.copy(evalContext = legacyCtx(s.evalContext))
      case m: Multiply if m.evalContext.evalMode == EvalMode.ANSI &&
          integral(m.left) && integral(m.right) =>
        m.copy(evalContext = legacyCtx(m.evalContext))
    }
}

/** Map-typed arguments where CH overloads array semantics (ref
  * src/Functions/array/has.cpp Map path, FunctionsComparison.cpp over
  * Map columns; tests 01550/02021): `has(map, k)` built as
  * array_contains resolves to the key-membership test, and map
  * equality — which Spark rejects as unorderable — compares the
  * key-sorted entry arrays (keys are unique, so sorted-entry equality
  * IS map equality). */
object ChMapArgRule extends Rule[LogicalPlan] {
  private def isMap(e: Expression): Boolean =
    e.resolved && e.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]
  private def entries(e: Expression): Expression =
    SortArray(MapEntries(e), Literal(true))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_ => true) {
      case ArrayContains(m, k) if isMap(m) => MapContainsKey(m, k)
      case eq @ EqualTo(l, r) if isMap(l) && isMap(r) =>
        EqualTo(entries(l), entries(r))
      case eq @ EqualNullSafe(l, r) if isMap(l) && isMap(r) =>
        EqualNullSafe(entries(l), entries(r))
    }
}

/** GROUPING SETS / ROLLUP / CUBE key fill (ref
  * src/Interpreters/Aggregator.cpp + 02165/01883/02313 tests): a key
  * column not participating in a grouping set takes the TYPE DEFAULT
  * (0, '', zero-date) — CH has no NULL outside Nullable — while a
  * declared-Nullable key keeps NULL. Spark models the sets as an Expand
  * whose non-participating keys are `Literal(null, dt)`; replacing those
  * literals with the type default at analysis time reproduces the
  * reference exactly, and `grouping()` stays correct because it reads
  * the grouping-id bitmask, not the key value. Gated to grouping-set
  * Expands (spark_grouping_id output) so the optimizer's
  * distinct-aggregate Expand is never touched. */
/** Analysis-time companion of [[ChGroupingSetDefaultsRule]]: the
  * optimizer runs after EliminateSubqueryAliases, so the source-table
  * names needed to SCOPE the declared-nullability lookup are gone by
  * then. This no-op resolution rule records, per grouping-set key
  * exprId, whether the key is declared Nullable on one of the tables
  * actually feeding the Expand. ExprIds are JVM-unique, so the map
  * never aliases across queries; it is pruned when it grows. */
object ChGroupingScopeCapture extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{Expand,
    SubqueryAlias}
  // per-THREAD capture: analysis and the eagerly-forced optimization of
  // one CH statement run on the same thread (ChSql.sql forces
  // optimizedPlan inside ChAnalysisScope), so a thread-local map makes
  // concurrent sessions unable to wipe each other's capture between a
  // query's analysis and its optimization (a JVM-global map with a
  // size-triggered clear() could)
  private val tl =
    new ThreadLocal[java.util.HashMap[Long, Boolean]] {
      override def initialValue() = new java.util.HashMap[Long, Boolean]()
    }
  def captured: java.util.HashMap[Long, Boolean] = tl.get()

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (ChAnalysisScope.active.value) {
      if (captured.size > 100000) captured.clear()
      plan.foreach {
        case e: Expand if e.resolved &&
            e.output.exists(_.name.contains("spark_grouping_id")) =>
          val srcTables = e.child.collect {
            case s: SubqueryAlias => s.alias
          }.toSet
          e.output.foreach { a =>
            if (!a.name.contains("spark_grouping_id"))
              captured.put(a.exprId.id,
                graft.golden.DdlEmu.isDeclaredNullableIn(a.name, srcTables))
          }
        case _ =>
      }
    }
    plan
  }
}

object ChGroupingSetDefaultsRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand,
    SubqueryAlias}
  import org.apache.spark.sql.catalyst.expressions.aggregate
    .AggregateExpression

  private val appliedTag = org.apache.spark.sql.catalyst.trees
    .TreeNodeTag[Boolean]("chGroupingDefaultsApplied")

  // the grouping-set Expand sits directly under the Aggregate (a
  // pruning Project may intervene post-analysis; attrs pass through)
  private def expandOf(agg: Aggregate): Option[Expand] = agg.child match {
    case e: Expand
        if e.output.exists(_.name.contains("spark_grouping_id")) => Some(e)
    case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
      p.child match {
        case e: Expand
            if e.output.exists(_.name.contains("spark_grouping_id")) =>
          Some(e)
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!ChAnalysisScope.active.value) plan
    else plan.transformWithPruning(_ => true) {
      case agg: Aggregate if agg.resolved &&
          agg.getTagValue(appliedTag).isEmpty &&
          expandOf(agg).isDefined =>
        val e = expandOf(agg).get
        // nullability resolves against the tables that fed this Expand,
        // captured at analysis time (see ChGroupingScopeCapture) — a
        // same-named Nullable column declared on an unrelated table
        // must not suppress (or force) the fill
        def declaredNullable(a: Attribute): Boolean = {
          val m = ChGroupingScopeCapture.captured
          if (m.containsKey(a.exprId.id)) m.get(a.exprId.id)
          else graft.golden.DdlEmu.isDeclaredNullable(a.name)
        }
        val out = e.output
        val gidIdx = out.indexWhere(_.name.contains("spark_grouping_id"))
        val gidAttr = out(gidIdx)
        def gidOf(p: Seq[Expression]): Option[Long] =
          if (gidIdx < p.length) p(gidIdx) match {
            case Literal(v: Long, _) => Some(v)
            case Literal(v: Int, _) => Some(v.toLong)
            case _ => None
          } else None
        // key positions that SOME grouping set leaves out (a null
        // literal in its projection) and whose declared type is
        // non-Nullable take the CH type default in the OUTPUT — but
        // ONLY on the subtotal rows (gid values whose set omits the
        // key): a genuine NULL data value on a detail row survives.
        // The aggregate itself still hashes the NULL, so the engine's
        // emission order (pinned by unsorted goldens) is unchanged.
        val fillable: Map[ExprId,
            (org.apache.spark.sql.types.DataType, Seq[Long])] =
          out.zipWithIndex.flatMap { case (a, i) =>
            if (i == gidIdx) None
            else {
              val nullGids = e.projections.flatMap(p =>
                if (i < p.length && (p(i) match {
                  case Literal(null, dt)
                      if dt != org.apache.spark.sql.types.NullType => true
                  case _ => false
                })) gidOf(p) else None)
              if (nullGids.nonEmpty && !declaredNullable(a))
                Some(a.exprId -> (a.dataType, nullGids.distinct))
              else None
            }
          }.toMap
        if (fillable.isEmpty) agg
        else {
          def mkFill(a: AttributeReference): Expression = {
            val (dt, gids) = fillable(a.exprId)
            If(In(gidAttr, gids.map(Literal(_))), Literal.default(dt), a)
          }
          // an If(gid IN …, default, a) over a fillable attribute IS
          // the fill — recognizing it keeps the rewrite idempotent
          // across fixpoint passes (tags don't survive rules that
          // rebuild Aggregate via case-class copy)
          def isFilled(e: Expression): Boolean = e match {
            case If(In(g: AttributeReference, _), _,
                a2: AttributeReference) =>
              g.exprId == gidAttr.exprId && fillable.contains(a2.exprId)
            case If(_: InSet, _, a2: AttributeReference) =>
              fillable.contains(a2.exprId)
            case _ => false
          }
          // aggregate-function arguments read the pass-through child
          // columns (different exprIds), never the grouping-set key
          // attributes — skip their subtrees anyway for safety
          def fill(expr: Expression): Expression = expr match {
            case ae: AggregateExpression => ae
            case e if isFilled(e) => e
            case a: AttributeReference if fillable.contains(a.exprId) =>
              mkFill(a)
            case other => other.mapChildren(fill)
          }
          val newResult = agg.aggregateExpressions.map {
            case a: AttributeReference if fillable.contains(a.exprId) =>
              Alias(mkFill(a),
                a.name)(exprId = a.exprId, qualifier = a.qualifier)
            case al: Alias if isFilled(al.child) => al
            case al: Alias =>
              val nc = fill(al.child)
              if (nc eq al.child) al
              else Alias(nc, al.name)(al.exprId, al.qualifier,
                al.explicitMetadata)
            case other => other
          }
          if (newResult.zip(agg.aggregateExpressions)
              .forall { case (n, o) => n eq o }) agg
          else {
            val res = agg.copy(aggregateExpressions = newResult)
            res.copyTagsFrom(agg)
            res.setTagValue(appliedTag, true)
            res
          }
        }
    }
}

/** IEEE NaN comparison semantics for foldable nan literals (ref
  * FunctionsComparison.cpp: CH compares floats per IEEE, so every
  * comparison against nan is false). Spark instead orders NaN greatest
  * and equal to itself. Only comparisons where one side is a FOLDABLE
  * NaN literal are rewritten (00712_nan_comparison, 02480_tlp_nan) —
  * data-dependent NaN stays on Spark's ordering, which matches the sort
  * order the engine already documents. `!=` parses as Not(EqualTo) and
  * flips the literal false to true automatically. */
object ChNanCompareRule extends Rule[LogicalPlan] {
  private def isNanLit(e: Expression): Boolean =
    e.resolved && e.foldable && (e.dataType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType =>
        e.eval(null) match {
          case d: java.lang.Double => d.isNaN
          case f: java.lang.Float => f.isNaN
          case _ => false
        }
      case _ => false
    })

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_ => true) {
      case c: BinaryComparison
          if !c.isInstanceOf[EqualNullSafe] &&
            (isNanLit(c.left) || isNanLit(c.right)) =>
        // CH yields NULL for NULL-vs-nan (Nullable comparison), false
        // otherwise — an unconditional false would print 0 where the
        // reference prints \N
        val other = if (isNanLit(c.left)) c.right else c.left
        if (other.nullable)
          If(IsNull(other), Literal(null, BooleanType), Literal(false))
        else Literal(false)
    }
}
