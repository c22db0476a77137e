package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: derive a pushable bounding-box prefilter from
  * a raw circle predicate.
  *
  * The reference implements circle queries as a hand-written two-phase
  * plan — bbox prefilter (prunable by file/row-group statistics) plus the
  * exact `(x-cx)² + (y-cy)² < r²` re-filter (pc-cli/src/benchmark.rs:
  * 183-220). Spark-first, that belongs in the OPTIMIZER: this rule spots
  * the circle conjunct
  *
  *   (x - cx)*(x - cx) + (y - cy)*(y - cy) < r²    (cx, cy, r² literals)
  *
  * and conjoins the implied ranges `cx-r ≤ x ≤ cx+r`, `cy-r ≤ y ≤ cy+r`.
  * The added conjuncts are simple attribute comparisons, so Catalyst
  * pushes them into the Parquet scan (`PushedFilters`) where row-group
  * min/max stats prune — a user can now write the naive predicate and
  * still get the reference's two-phase plan, on ANY source with
  * statistics. The exact predicate stays, so semantics are unchanged.
  *
  * Registered via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) or per-session
  * with `spark.experimental.extraOptimizations`. The rewrite is guarded
  * to be idempotent (fixed-point safe): it skips circles whose bbox
  * conjuncts are already present.
  */
object CirclePrefilterRule extends Rule[LogicalPlan] {

  private object Lit {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v: Double, _) => Some(v)
      case Literal(v: Float, _) => Some(v.toDouble)
      case Literal(v: Int, _) => Some(v.toDouble)
      case Literal(v: Long, _) => Some(v.toDouble)
      case _ => None
    }
  }

  /** (attr - c)*(attr - c) or pow(attr - c, 2) with literal c — one
    * squared axis distance. Both spellings occur in the wild (SURVEY §2.2
    * P3 itself writes the `pow` form); `Pow` literal exponents are already
    * constant-folded to doubles by the time extra optimizer rules run.
    * Restricted to DoubleType attributes: the derived bounds are double
    * literals, and a float/int attribute would make the new comparison
    * ill-typed post-analysis (the naive predicate would carry casts and
    * not match this pattern anyway). */
  private object SquaredDist {
    private def isDoubleAttr(a: Attribute): Boolean =
      a.dataType == org.apache.spark.sql.types.DoubleType
    def unapply(e: Expression): Option[(Attribute, Double)] = e match {
      case Multiply(s1 @ Subtract(a: Attribute, Lit(c), _), s2, _)
          if s1.semanticEquals(s2) && isDoubleAttr(a) => Some((a, c))
      case Pow(Subtract(a: Attribute, Lit(c), _), Lit(p))
          if p == 2.0 && isDoubleAttr(a) => Some((a, c))
      case _ => None
    }
  }

  /** The circle conjunct: d²(x) + d²(y) < r² (or ≤ — the bbox implied by
    * the closed disc is the same, and both spellings occur in user SQL). */
  private object Circle {
    def unapply(e: Expression): Option[(Attribute, Double, Attribute, Double, Double)] = {
      val sumAndR2 = e match {
        case LessThan(add: Add, Lit(r2)) => Some((add, r2))
        case LessThanOrEqual(add: Add, Lit(r2)) => Some((add, r2))
        case _ => None
      }
      sumAndR2.collect {
        case (Add(SquaredDist(ax, cx), SquaredDist(ay, cy), _), r2)
            if r2 > 0 && !ax.semanticEquals(ay) =>
          (ax, cx, ay, cy, math.sqrt(r2))
      }
    }
  }

  /** Derived bounds must be a SUPERSET of the circle under floating-point
    * evaluation: `(x-cx)²+(y-cy)²` is computed with rounded ops, so a
    * boundary row can satisfy the circle predicate while `x` sits a few
    * ulps outside the real-arithmetic `cx ± √r²`. Widen the radius by a
    * relative 1e-12 (≫ the ≤4-ulp evaluation error) and nudge the final
    * literals one ulp outward — the implication `circle ⇒ bbox` then
    * holds for every representable double, at immeasurable pruning cost. */
  private def bboxConjuncts(ax: Attribute, cx: Double, ay: Attribute,
      cy: Double, r0: Double): Seq[Expression] = {
    val r = math.nextUp(r0 * (1.0 + 1e-12))
    Seq(
      GreaterThanOrEqual(ax, Literal(math.nextDown(cx - r))),
      LessThanOrEqual(ax, Literal(math.nextUp(cx + r))),
      GreaterThanOrEqual(ay, Literal(math.nextDown(cy - r))),
      LessThanOrEqual(ay, Literal(math.nextUp(cy + r))))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjuncts(cond)
      val existing = ExpressionSet(conjuncts)
      val derived = conjuncts.collect { case Circle(ax, cx, ay, cy, r) =>
        bboxConjuncts(ax, cx, ay, cy, r).filterNot(existing.contains)
      }.flatten
      if (derived.isEmpty) f
      else Filter(derived.foldLeft(cond)(And(_, _)), child)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}

/** `SparkSessionExtensions` entry point — the whole library surface a
  * SQL-only user needs, wired through the public extension API:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` gives every
  * session the circle-prefilter optimizer rule, the lake's SQL
  * INSERT/UPDATE/MERGE rewrites and the `fvec_dot`, `hll_sketch` and
  * `mg_sketch` SQL functions, with no library calls. Bare lake
  * `COUNT`/`MIN`/`MAX` need no extension: the lake source answers them
  * from its log ([[graft.lake.LakeScanBuilder]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => CirclePrefilterRule)
    // UPDATE must rewrite during RESOLUTION: Spark eagerly plans Command
    // nodes straight from the analyzed plan, so an optimizer-batch rule
    // never sees UpdateTable
    e.injectPostHocResolutionRule(_ => graft.lake.LakeSqlUpdate)
    // INSERT must rewrite inside the MAIN resolution batch: the built-in
    // DataSourceAnalysis post-hoc rule rejects the multi-path V1
    // fallback relation before custom post-hoc rules run
    e.injectResolutionRule(_ => graft.lake.LakeSqlInsert)
    e.injectPostHocResolutionRule(_ => graft.lake.LakeSqlMerge)
    e.injectFunction(GraftExtensions.fvecDotDescriptor)
    e.injectFunction(GraftExtensions.hllSketchDescriptor)
    e.injectFunction(GraftExtensions.mgSketchDescriptor)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  /** (name, info, builder) triple for the extension injector — shared
    * with the per-session fallback registration in
    * [[graft.sim.FloatVecDot.register]]. */
  private[graft] val fvecDotDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("fvec_dot"),
    new ExpressionInfo(classOf[graft.sim.FloatVecDot].getName, "fvec_dot"),
    (exprs: Seq[Expression]) => graft.sim.FloatVecDot(exprs.head, exprs(1)))

  private[graft] val hllSketchDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("hll_sketch"),
    new ExpressionInfo(classOf[graft.functions.HllSketchAgg].getName, "hll_sketch"),
    (exprs: Seq[Expression]) => graft.functions.HllSketchAgg(exprs.head))

  private[graft] val mgSketchDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("mg_sketch"),
    new ExpressionInfo(classOf[graft.functions.MgSketchAgg].getName, "mg_sketch"),
    (exprs: Seq[Expression]) => graft.functions.MgSketchAgg.build(exprs))

  /** Attach the optimizer rule + functions to an already-built session
    * (tests / notebooks without the conf). */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(CirclePrefilterRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CirclePrefilterRule
    graft.sim.FloatVecDot.register(spark)
    graft.functions.HllSketchAgg.register(spark)
  }
}
