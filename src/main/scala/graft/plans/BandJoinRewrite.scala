package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Catalyst optimizer rule: rewrite naive band joins into bucketed band
  * joins so they execute as hash joins instead of nested loops.
  *
  * An inner join whose condition contains a band predicate
  * `abs(lt - rt) <= tol` (or `tol >= abs(lt - rt)`), with `lt` from one
  * side, `rt` from the other, and `tol` a foldable positive literal, has no
  * equi-join conjunct Spark can hash on (beyond whatever keys are present):
  * band-only joins plan as BroadcastNestedLoopJoin / CartesianProduct —
  * O(|L| x |R|) comparisons — and keyed band joins degrade to quadratic work
  * inside each key group.
  *
  * The rewrite quantizes both times into buckets of width `tol`: any
  * qualifying pair (|lt - rt| <= tol) lands in the same or an adjacent
  * bucket, so it explodes the left side to {b-1, b, b+1} via a Generate and
  * adds `bucket_l = bucket_r` to the join condition — now a plain equi-join
  * Catalyst plans as a shuffled/broadcast HASH join, with the original band
  * predicate retained as a residual filter. Each qualifying pair matches in
  * exactly one bucket (the right row's bucket is exactly one of the left
  * row's three), so no dedup is needed and the join's row multiplicity
  * (hence aggregates above it) is unchanged; the cost is 3x|L| + |R|
  * shuffled rows instead of the sum-of-squares of the key-group sizes. A
  * wrapping Project restores the original output, so the rewrite is
  * invisible to everything above. q7 (`q7_range_proximity`) is written
  * this way.
  *
  * Scope: both band operands must be integral (bigint/int/...) — one
  *`unix_micros(ts)` away from timestamps. Double times would need an
  * epsilon analysis at bucket edges that integers don't, so they are left
  * alone. Registered through [[SparkSessionExtensions]] (see
  * [[BandJoinRewrite.extension]]), the sanctioned plug-in seam — no Spark
  * source is modified.
  */
object BandJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val BucketPrefix = "__band_bucket"

  /** `injectOptimizerRule` target: `Session.builder.withExtensions(...)`. */
  val extension: SparkSessionExtensions => Unit =
    _.injectOptimizerRule(_ => BandJoinRewrite)

  private def isIntegral(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** (leftTime, rightTime, tolerance) if `c` is a band conjunct. */
  private def bandOf(c: Expression, l: LogicalPlan, r: LogicalPlan)
      : Option[(Expression, Expression, Long)] = {
    def sides(diff: Expression, tol: Expression, adj: Long = 0L) = diff match {
      case Subtract(a, b, _) if isIntegral(a) && isIntegral(b) =>
        val (ra, rb) = (a.references, b.references)
        val tolV = (tol.eval() match {
          case i: java.lang.Integer => i.longValue()
          case j: java.lang.Long => j.longValue()
          case _ => Long.MinValue
        }) match {
          case Long.MinValue => -1L
          case v => v + adj // strict `<` bands shrink to an inclusive tol-1
        }
        if (tolV <= 0) None
        else if (ra.subsetOf(l.outputSet) && rb.subsetOf(r.outputSet) &&
          ra.nonEmpty && rb.nonEmpty) Some((a, b, tolV))
        else if (ra.subsetOf(r.outputSet) && rb.subsetOf(l.outputSet) &&
          ra.nonEmpty && rb.nonEmpty) Some((b, a, tolV))
        else None
      case _ => None
    }
    c match {
      case LessThanOrEqual(Abs(diff, _), tol) if tol.foldable => sides(diff, tol)
      case GreaterThanOrEqual(tol, Abs(diff, _)) if tol.foldable => sides(diff, tol)
      // strict `<` is the inclusive band at tol−1 (integral operands); the
      // original strict predicate stays in the condition as the residual
      case LessThan(Abs(diff, _), tol) if tol.foldable => sides(diff, tol, -1L)
      case GreaterThan(tol, Abs(diff, _)) if tol.foldable => sides(diff, tol, -1L)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(l, r, Inner, Some(cond), hint)
        // marker: never re-match a join this rule already produced
        if !cond.references.exists(_.name.startsWith(BucketPrefix)) =>
      val conjuncts = splitConjunctivePredicates(cond)
      conjuncts.iterator.flatMap(c => bandOf(c, l, r).map(c -> _))
        .nextOption() match {
        case Some((_, (lt, rt, tol))) =>
          def bucket(t: Expression): Expression = {
            // optimizer-constructed expressions get no re-analysis, so the
            // widening cast ImplicitCasts would insert must be explicit —
            // IntegralDivide(int, longLiteral) is otherwise unresolved
            // (sub-long operands, e.g. length() bands, hit this)
            val tl = if (t.dataType == LongType) t else Cast(t, LongType)
            // floor division on integral types: negative-safe bucketing
            FloorDiv(tl, Literal(tol))
          }
          // explode the left side to its bucket and both neighbors
          val lb = bucket(lt)
          val explodedBucket = AttributeReference(
            s"${BucketPrefix}_l", LongType, nullable = true)()
          val gen = Generate(
            Explode(CreateArray(Seq(
              Subtract(lb, Literal(1L)), lb, Add(lb, Literal(1L))))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(explodedBucket), child = l)
          val rightBucket = Alias(bucket(rt), s"${BucketPrefix}_r")()
          val rp = Project(r.output :+ rightBucket, r)
          val newCond = (conjuncts :+
            EqualTo(explodedBucket, rightBucket.toAttribute))
            .reduce(And)
          // restore the original output above the rewritten join
          Project(j.output,
            Join(gen, rp, Inner, Some(newCond), hint))
        case None => j
      }
  }

  /** Integral floor division (Spark's IntegralDivide truncates toward zero;
    * bucket boundaries need floor semantics for pre-epoch / negative times).
    */
  private def FloorDiv(a: Expression, b: Expression): Expression = {
    val q = Cast(IntegralDivide(a, b, evalMode = EvalMode.LEGACY), LongType)
    val rem = Remainder(Cast(a, LongType), Cast(b, LongType), EvalMode.LEGACY)
    // if remainder < 0, truncation rounded toward zero: subtract 1
    If(LessThan(rem, Literal(0L)), Subtract(q, Literal(1L)), q)
  }
}
