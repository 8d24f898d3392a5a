package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Abs, Add, Alias, And, ArrayAggregate, AttributeReference, CaseWhen, Cast, Ceil, Coalesce, CreateMap, DenseRank, Divide, ElementAt, ExprId, Expression, Floor, Greatest, If, IntegralDivide, Lag, LambdaFunction, Lead, Length, Literal, Log, Log1p, Log2, Log10, Logarithm, Multiply, NamedLambdaVariable, NTile, NullIf, Pow, Rank, RowNumber, Size, Sqrt, StringSplit, SubqueryExpression, Subtract, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, CentralMomentAgg, Count, First, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, LongType}

/** Mechanized overflow-widening audit.
  *
  * Three rounds of review found one-off instances of the same silent
  * cross-engine divergence class (markov → psi/dsir → shard_manifest):
  * a BIGINT product aggregated or fed into log2 wraps silently in
  * Spark while DuckDB widens to HUGEINT, so both engines "succeed" and
  * the gate flakes only at the corpus size that crosses 2⁶³. The
  * repo's rule is to widen through DECIMAL(38,0) at the 100 TB design
  * point; this spec walks every registered query's ANALYZED plan and
  * flags the two reviewed shapes:
  *
  *   D1 — `Sum` whose LongType input subtree contains a long×long
  *        `Multiply` (the Σ(x·y) / Σ(x²) shape) with no decimal bridge;
  *   D2 — a log-family expression whose subtree contains a long×long
  *        `Multiply` (the log2-of-product shape).
  *
  * Every hit must either be widened or appear in the allowlist below
  * with a written domain bound proving the product cannot reach 2⁶³ at
  * any corpus size. New unwidened sums fail this suite.
  */
class OverflowAuditSpec extends SparkTestBase
    with org.scalatest.BeforeAndAfterAll {

  // the two full-surface walks below build every registered query —
  // the session-memoized keys (near-dup trio, substring pair, reach
  // paths) each pin a lazy persisted relation + its analyzed plan in
  // the engine's session memo (graft.engine.Shared). In the shared
  // single-JVM test run that heap stays pinned for every LATER suite
  // (the r12 inherited-state OOM); release it when this suite is done.
  override def afterAll(): Unit = {
    try graft.engine.Shared.clear()
    finally super.afterAll()
  }

  /** name → justification for keys whose flagged products carry a
    * static domain bound (documented here, enforced nowhere else —
    * adding a key here requires writing the bound).
    */
  private val allowlist: Map[String, String] = Map(
    "q_chunk_dedup" ->
      ("Σ(copies·c_len) over chunk digests = physically stored corpus " +
        "bytes: ≤ 10¹⁴ at 100 TB (4.7 orders under 2⁶³) and still " +
        "inside BIGINT at exabyte scale"),
    "q_payload_dedup" ->
      ("Σ(copies·n_bytes) over payload digests = physically stored " +
        "corpus bytes — same bound as q_chunk_dedup"),
    "q_classifier_eval" ->
      ("y, p ∈ {0,1}: every product is a 0/1 indicator, so each sum " +
        "is ≤ the row count — a confusion-matrix cell can never " +
        "outgrow the corpus"),
    "q_dsir_sample" ->
      ("bits ∈ [−127, 127] (floor-log2 difference of DECIMAL(38,0)-" +
        "widened ratios) and c ≤ the doc's bigram count: the per-doc " +
        "Σ(c·bits) is ≤ 127 × doc length, a row-local bound"),
    "q_gopher_repetition" ->
      ("every Σ(c·len) / Σ((c−1)·len) is grouped PER DOCUMENT and " +
        "bounded by that doc's character count (a line/gram occurrence " +
        "contributes at most its own chars) — doc-local, like " +
        "q_dsir_sample"),
    "q_zipf" ->
      ("x = floor(log2(term freq)) ≤ 63, y = floor(log2(type count)) " +
        "≤ 63, and there are ≤ 64 log2 buckets: every moment sum is " +
        "≤ 64·63² ≈ 2.5×10⁵, an absolute constant"))

  private def longMulsUnder(e: Expression): Seq[Multiply] = e.collect {
    case m: Multiply
        if m.left.dataType == LongType && m.right.dataType == LongType => m
  }

  /** All D1/D2 hits in one query's analyzed plan, as compact strings. */
  private def audit(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.analyzed
    val hits = scala.collection.mutable.LinkedHashSet[String]()
    def walk(root: Expression): Unit = root.foreach {
      case s: Sum if s.child.dataType == LongType =>
        longMulsUnder(s.child).foreach(m =>
          hits += s"sum-of-long-product: ${m.sql}")
      case l @ (_: Log | _: Log2 | _: Log10 | _: Log1p | _: Logarithm) =>
        longMulsUnder(l).foreach(m =>
          hits += s"log-of-long-product: ${m.sql}")
      case _ => ()
    }
    def walkPlan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
      p.foreach { node =>
        node.expressions.foreach { e =>
          walk(e)
          // subquery expressions carry their own plans
          e.foreach {
            case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
              walkPlan(sq.plan)
            case _ => ()
          }
        }
      }
    }
    walkPlan(plan)
    hits.toSeq
  }

  test("a deliberately-unwidened long-product sum IS flagged (detector works)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bad = docs.agg(sum(col("n_chars") * col("n_chars")).as("sq"))
    assert(audit(bad).exists(_.startsWith("sum-of-long-product")),
      "the Σ(x²) fixture must trip D1")
    val badLog = docs.select(log2(col("n_chars") * col("n_chars")).as("l"))
    assert(audit(badLog).exists(_.startsWith("log-of-long-product")),
      "the log2(x·y) fixture must trip D2")
    // and the DECIMAL(38,0) bridge silences it — the prescribed fix
    val widened = docs.agg(
      sum(col("n_chars").cast("decimal(38,0)") *
        col("n_chars").cast("decimal(38,0)")).as("sq"))
    assert(audit(widened).isEmpty, "the decimal bridge must NOT trip D1")
  }

  // ---- D3/D4/D5: unguarded divide / sqrt / log (the r8 mannWhitney class)
  //
  // A denominator that can be ZERO yields Infinity/NaN with ANSI off
  // (the session default) while DuckDB may error or return NULL —
  // another silent cross-engine divergence class, found by hand in r8
  // (mannWhitney's U-variance) and mechanized here per the r10 verdict.
  // The walk resolves attributes through every Alias in the plan (a
  // Divide in a Project above an Aggregate sees what its denominator
  // attribute really is), then structurally proves each denominator
  // non-zero / each sqrt argument non-negative with a small
  // positive/non-negative/non-zero lattice:
  //
  //   pos  (null or > 0):  positive literal; count(non-nullable) in a
  //        GROUPED aggregate (an emitted group has ≥ 1 row) or over a
  //        window frame (includes the current row); rank/row_number/
  //        ntile; size(split(s)) (split always yields ≥ 1 element);
  //        pos + nonneg; pos · pos; pos / pos; sum/min/max/avg/first of
  //        a pos argument; greatest(_, posLit); CASE/IF/coalesce with
  //        all-pos branches.
  //   nonneg (null or ≥ 0): pos; literal ≥ 0; abs; x·x; pow(x, 2);
  //        sqrt; count/size/length; central moments (variance ≥ 0);
  //        max(x) − min(x) over the same x; floor/ceil/round of nonneg;
  //        nonneg {+,·,/} nonneg; sum/min/max/avg/first of nonneg;
  //        greatest(_, lit ≥ 0); CASE/IF/coalesce all-nonneg.
  //   nonzero (null or ≠ 0): pos; non-zero literal; nullif(x, 0);
  //        nonzero · nonzero; CASE/IF/coalesce whose value branches are
  //        all null-or-nonzero.
  //
  // D5 extends the same machinery to the log family: Spark (ANSI off)
  // returns NULL on log(x ≤ 0) where DuckDB ERRORS the whole oracle
  // query — the argument must be provably positive (log1p: ≥ 0).
  //
  // A division/sqrt/log inside a CASE/IF branch is additionally considered
  // guarded when the branch PREDICATE references an attribute of the
  // denominator/argument subtree (the `when(varr > 0, x / sqrt(varr))`
  // idiom). Anything else must be guarded at the use site or
  // allowlisted below with a written domain bound.

  /** Alias definitions across the whole plan (subqueries included),
    * each tagged with whether it was defined by a GROUPED aggregate
    * (count there is ≥ 1 per emitted group; a global aggregate over an
    * empty relation yields count = 0).
    */
  private def collectDefs(plan: LogicalPlan,
      m: scala.collection.mutable.Map[ExprId, (Expression, Boolean)]): Unit =
    plan.foreach { node =>
      val grouped = node match {
        case a: Aggregate => a.groupingExpressions.nonEmpty
        case _ => false
      }
      node.expressions.foreach(_.foreach {
        case al: Alias => m(al.exprId) = (al.child, grouped)
        case sq: SubqueryExpression => collectDefs(sq.plan, m)
        case _ => ()
      })
    }

  private def isNullLit(e: Expression): Boolean = e match {
    case Literal(null, _) => true
    case c: Cast => isNullLit(c.child)
    case _ => false
  }
  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case al: Alias => stripCast(al.child)
    case other => other
  }
  private def nullAgreeingMean(d: Divide): Boolean =
    (stripCast(d.left), stripCast(d.right)) match {
      case (l: AggregateExpression, r: AggregateExpression) =>
        (l.aggregateFunction match {
          case _: Sum | _: Average | _: Min | _: Max | _: First => true
          case _ => false
        }) && r.aggregateFunction.isInstanceOf[Count]
      case _ => false
    }
  private def litNum(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case d: Decimal => Some(d.toDouble)
    case _ => None
  }

  /** frame provably includes the current row: default frames do
    * (RANGE UNBOUNDED PRECEDING..CURRENT ROW with ORDER BY, the whole
    * partition without), and a specified frame must span offset 0 */
  private def frameIncludesCurrentRow(we: WindowExpression): Boolean =
    we.windowSpec.frameSpecification match {
      case f: org.apache.spark.sql.catalyst.expressions.SpecifiedWindowFrame =>
        // the analyzer casts frame-bound literals to the order key's
        // type — strip before matching
        val lowerOk = stripCast(f.lower) match {
          case org.apache.spark.sql.catalyst.expressions.UnboundedPreceding => true
          case org.apache.spark.sql.catalyst.expressions.CurrentRow => true
          case Literal(v, _) => litNum(v).exists(_ <= 0.0)
          case _ => false
        }
        val upperOk = stripCast(f.upper) match {
          case org.apache.spark.sql.catalyst.expressions.UnboundedFollowing => true
          case org.apache.spark.sql.catalyst.expressions.CurrentRow => true
          case Literal(v, _) => litNum(v).exists(_ >= 0.0)
          case _ => false
        }
        lowerOk && upperOk
      case _ => true // UnspecifiedFrame: both defaults include the current row
    }

  /** Structural value-domain prover over one plan's alias definitions. */
  private class DomainProver(defs: Map[ExprId, (Expression, Boolean)]) {

    private def viaAttr(e: AttributeReference, seen: Set[ExprId],
        check: (Expression, Boolean, Set[ExprId]) => Boolean): Boolean =
      !seen(e.exprId) && defs.get(e.exprId).exists { case (d, g) =>
        check(d, g, seen + e.exprId) }

    /** null or > 0 */
    def pos(e: Expression, grouped: Boolean, seen: Set[ExprId] = Set.empty): Boolean = e match {
      case Literal(v, _) => v == null || litNum(v).exists(_ > 0.0)
      case a: AttributeReference => viaAttr(a, seen, pos)
      case al: Alias => pos(al.child, grouped, seen)
      case c: Cast => pos(c.child, grouped, seen)
      case g: Greatest => g.children.exists(c => stripCast(c) match {
        case Literal(v, _) => litNum(v).exists(_ > 0.0)
        case _ => false
      })
      case a: Add =>
        (pos(a.left, grouped, seen) && nonNeg(a.right, grouped, seen)) ||
          (nonNeg(a.left, grouped, seen) && pos(a.right, grouped, seen))
      case m: Multiply =>
        pos(m.left, grouped, seen) && pos(m.right, grouped, seen)
      case d: Divide =>
        pos(d.left, grouped, seen) && pos(d.right, grouped, seen)
      // split always yields ≥ 1 element (resolved through aliases)
      case s: Size => headOf(s.child, seen).isInstanceOf[StringSplit]
      // element_at over a literal map with all-positive values
      case ea: ElementAt => headOf(ea.left, seen) match {
        case cm: CreateMap => cm.children.grouped(2).forall {
          case Seq(_, Literal(v, _)) => litNum(v).exists(_ > 0.0)
          case _ => false
        }
        case _ => false
      }
      case l: Lag =>
        pos(l.input, grouped, seen) &&
          (isNullLit(l.default) || pos(l.default, grouped, seen))
      case l: Lead =>
        pos(l.input, grouped, seen) &&
          (isNullLit(l.default) || pos(l.default, grouped, seen))
      case ae: AggregateExpression => ae.aggregateFunction match {
        case c: Count => grouped && c.children.forall(!_.nullable)
        case s: Sum => pos(s.child, grouped, seen)
        case m: Min => pos(m.child, grouped, seen)
        case m: Max => pos(m.child, grouped, seen)
        case f: First => pos(f.child, grouped, seen)
        case a: Average => pos(a.child, grouped, seen)
        case _ => false
      }
      case we: WindowExpression => we.windowFunction match {
        case ae: AggregateExpression => ae.aggregateFunction match {
          // a window count is ≥ 1 only when the FRAME provably
          // includes the current row (r11 ADVICE: a
          // rowsBetween(MinValue, -1) frame is empty on its first row
          // and counts 0); sum/min/max/avg over an empty frame yield
          // NULL, which the null-or-positive lattice already admits
          case c: Count =>
            frameIncludesCurrentRow(we) && c.children.forall(!_.nullable)
          case s: Sum => pos(s.child, grouped, seen)
          case m: Min => pos(m.child, grouped, seen)
          case m: Max => pos(m.child, grouped, seen)
          case f: First => pos(f.child, grouped, seen)
          case a: Average => pos(a.child, grouped, seen)
          case _ => false
        }
        case _: RowNumber | _: Rank | _: DenseRank | _: NTile => true
        case other => pos(other, grouped, seen) // Lag/Lead etc.
      }
      case i: If =>
        Seq(i.trueValue, i.falseValue).forall(b =>
          isNullLit(b) || pos(b, grouped, seen))
      case cw: CaseWhen =>
        (cw.branches.map(_._2) ++ cw.elseValue).forall(b =>
          isNullLit(b) || pos(b, grouped, seen))
      case co: Coalesce => co.children.forall(c =>
        isNullLit(c) || pos(c, grouped, seen))
      case _ => false
    }

    /** strip Alias/Cast and follow single-attr chains (for shape
      * matches like max(x) − min(x) whose operands are attributes) */
    private def headOf(e: Expression, seen: Set[ExprId]): Expression = e match {
      case al: Alias => headOf(al.child, seen)
      case c: Cast => headOf(c.child, seen)
      case a: AttributeReference if !seen(a.exprId) && defs.contains(a.exprId) =>
        headOf(defs(a.exprId)._1, seen + a.exprId)
      case other => other
    }
    private def aggFn(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => Some(ae.aggregateFunction)
      case we: WindowExpression => we.windowFunction match {
        case ae: AggregateExpression => Some(ae.aggregateFunction)
        case _ => None
      }
      case _ => None
    }

    /** null or ≥ 0 */
    def nonNeg(e: Expression, grouped: Boolean, seen: Set[ExprId] = Set.empty): Boolean = e match {
      case _ if pos(e, grouped, seen) => true
      case Literal(v, _) => v == null || litNum(v).exists(_ >= 0.0)
      case a: AttributeReference => viaAttr(a, seen, nonNeg)
      case al: Alias => nonNeg(al.child, grouped, seen)
      case c: Cast => nonNeg(c.child, grouped, seen)
      case g: Greatest => g.children.exists(c => stripCast(c) match {
        case Literal(v, _) => litNum(v).exists(_ >= 0.0)
        case _ => false
      })
      case _: Abs | _: Size | _: Length | _: Sqrt => true
      case m: Multiply if m.left.semanticEquals(m.right) => true
      case p: Pow => p.right match {
        case Literal(v, _) => litNum(v).contains(2.0)
        case _ => false
      }
      case s: Subtract => // max(x) − min(x) over the same x
        (aggFn(headOf(s.left, seen)), aggFn(headOf(s.right, seen))) match {
          case (Some(mx: Max), Some(mn: Min)) => mx.child.semanticEquals(mn.child)
          case _ => false
        }
      case a: Add =>
        nonNeg(a.left, grouped, seen) && nonNeg(a.right, grouped, seen)
      case m: Multiply =>
        nonNeg(m.left, grouped, seen) && nonNeg(m.right, grouped, seen)
      case d: Divide =>
        nonNeg(d.left, grouped, seen) && nonNeg(d.right, grouped, seen)
      case f: Floor => nonNeg(f.child, grouped, seen)
      case c: Ceil => nonNeg(c.child, grouped, seen)
      case ae: AggregateExpression => ae.aggregateFunction match {
        case _: Count => true
        case _: CentralMomentAgg => true // m2-based: variance/stddev ≥ 0
        case s: Sum => nonNeg(s.child, grouped, seen)
        case m: Min => nonNeg(m.child, grouped, seen)
        case m: Max => nonNeg(m.child, grouped, seen)
        case f: First => nonNeg(f.child, grouped, seen)
        case a: Average => nonNeg(a.child, grouped, seen)
        case _ => false
      }
      case we: WindowExpression => we.windowFunction match {
        case ae: AggregateExpression => nonNeg(ae, grouped, seen)
        case _: RowNumber | _: Rank | _: DenseRank | _: NTile => true
        case other => nonNeg(other, grouped, seen) // Lag/Lead etc.
      }
      case l: Lag =>
        nonNeg(l.input, grouped, seen) &&
          (isNullLit(l.default) || nonNeg(l.default, grouped, seen))
      case l: Lead =>
        nonNeg(l.input, grouped, seen) &&
          (isNullLit(l.default) || nonNeg(l.default, grouped, seen))
      // fold accumulating non-negative increments from a non-negative
      // zero with an identity finisher: Σ x², Σ |x| over an array
      case aa: ArrayAggregate =>
        nonNeg(aa.zero, grouped, seen) && (aa.merge match {
          case LambdaFunction(add: Add, _, _) =>
            (add.left.isInstanceOf[NamedLambdaVariable] &&
              nonNeg(add.right, grouped, seen)) ||
              (add.right.isInstanceOf[NamedLambdaVariable] &&
                nonNeg(add.left, grouped, seen))
          case _ => false
        }) && (aa.finish match {
          case LambdaFunction(_: NamedLambdaVariable, _, _) => true
          case _ => false
        })
      case i: If =>
        Seq(i.trueValue, i.falseValue).forall(b =>
          isNullLit(b) || nonNeg(b, grouped, seen))
      case cw: CaseWhen =>
        (cw.branches.map(_._2) ++ cw.elseValue).forall(b =>
          isNullLit(b) || nonNeg(b, grouped, seen))
      case co: Coalesce => co.children.forall(c =>
        isNullLit(c) || nonNeg(c, grouped, seen))
      case _ => false
    }

    /** expressions a predicate proves ≠ 0 when it holds: NOT(w = 0),
      * w ≠ 0 via Not(EqualTo), w > 0, w < 0, 0 < w, 0 > w, conjunctions */
    private def nonZeroWitnesses(p: Expression): Seq[Expression] = p match {
      case org.apache.spark.sql.catalyst.expressions.Not(
          org.apache.spark.sql.catalyst.expressions.EqualTo(a, b)) =>
        (a, b) match {
          case (Literal(v, _), w) if litNum(v).contains(0.0) => Seq(w)
          case (w, Literal(v, _)) if litNum(v).contains(0.0) => Seq(w)
          case _ => Nil
        }
      case org.apache.spark.sql.catalyst.expressions.GreaterThan(w, Literal(v, _))
          if litNum(v).exists(_ >= 0.0) => Seq(w)
      case org.apache.spark.sql.catalyst.expressions.LessThan(Literal(v, _), w)
          if litNum(v).exists(_ >= 0.0) => Seq(w)
      case org.apache.spark.sql.catalyst.expressions.LessThan(w, Literal(v, _))
          if litNum(v).exists(_ <= 0.0) => Seq(w)
      case org.apache.spark.sql.catalyst.expressions.GreaterThan(Literal(v, _), w)
          if litNum(v).exists(_ <= 0.0) => Seq(w)
      case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
        nonZeroWitnesses(a) ++ nonZeroWitnesses(b)
      case _ => Nil
    }

    /** null or ≠ 0. `witnesses`: expressions an enclosing predicate
      * already proves non-zero (the hand-written
      * `CASE WHEN d <> 0 THEN x / d END` guard shape). */
    def nonZero(e: Expression, grouped: Boolean, seen: Set[ExprId] = Set.empty,
        witnesses: Seq[Expression] = Nil): Boolean = e match {
      case _ if witnesses.exists(_.semanticEquals(e)) => true
      case _ if pos(e, grouped, seen) => true
      case Literal(v, _) => v == null || litNum(v).exists(_ != 0.0)
      case a: AttributeReference => !seen(a.exprId) &&
        defs.get(a.exprId).exists { case (d, g) =>
          nonZero(d, g, seen + a.exprId, witnesses) }
      case al: Alias => nonZero(al.child, grouped, seen, witnesses)
      case c: Cast => nonZero(c.child, grouped, seen, witnesses)
      case n: NullIf => n.right match { // nullif(x, 0): null or non-zero
        case Literal(v, _) => litNum(v).contains(0.0)
        case _ => false
      }
      case m: Multiply =>
        nonZero(m.left, grouped, seen, witnesses) &&
          nonZero(m.right, grouped, seen, witnesses)
      case i: If =>
        (isNullLit(i.trueValue) || nonZero(i.trueValue, grouped, seen,
          witnesses ++ nonZeroWitnesses(i.predicate))) &&
          (isNullLit(i.falseValue) ||
            nonZero(i.falseValue, grouped, seen, witnesses))
      case cw: CaseWhen =>
        cw.branches.forall { case (p, v) =>
          isNullLit(v) || nonZero(v, grouped, seen,
            witnesses ++ nonZeroWitnesses(p))
        } && cw.elseValue.forall(b =>
          isNullLit(b) || nonZero(b, grouped, seen, witnesses))
      case co: Coalesce => co.children.forall(c =>
        isNullLit(c) || nonZero(c, grouped, seen, witnesses))
      case _ => false
    }

    /** semantic identity of two expressions across cast/alias strips
      * and attribute-definition hops (bounded) — the matcher guards
      * use to tie a predicate's witness to the flagged denominator */
    def sameAs(a: Expression, b: Expression, depth: Int = 4): Boolean = {
      val x = stripCast(a); val y = stripCast(b)
      if (x.semanticEquals(y)) true
      else if (depth <= 0) false
      else (x, y) match {
        case (ar: AttributeReference, _) if defs.contains(ar.exprId) =>
          sameAs(defs(ar.exprId)._1, y, depth - 1)
        case (_, br: AttributeReference) if defs.contains(br.exprId) =>
          sameAs(x, defs(br.exprId)._1, depth - 1)
        case _ => false
      }
    }
  }

  /** typed guard witnesses: the expressions this predicate proves
    * positive ('p'), negative ('g'), merely non-zero ('z'), or
    * non-negative ('n') WHEN IT HOLDS */
  private def typedWitnesses(p: Expression): Seq[(Expression, Char)] = {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Not}
    // the analyzer wraps comparison literals in casts (`s > 0` is
    // GreaterThan(s, cast(0 as bigint)) in the analyzed plan) — strip
    // before matching; a cast around a numeric literal preserves value
    def lit(e: Expression): Option[Double] = stripCast(e) match {
      case Literal(v, _) => litNum(v)
      case _ => None
    }
    p match {
      case Not(EqualTo(a, b)) =>
        if (lit(a).contains(0.0)) Seq((b, 'z'))
        else if (lit(b).contains(0.0)) Seq((a, 'z'))
        else Nil
      case GreaterThan(w, l) if lit(l).exists(_ >= 0.0) => Seq((w, 'p'))
      case GreaterThanOrEqual(w, l) if lit(l).exists(_ > 0.0) => Seq((w, 'p'))
      case GreaterThanOrEqual(w, l) if lit(l).contains(0.0) => Seq((w, 'n'))
      case LessThan(l, w) if lit(l).exists(_ >= 0.0) => Seq((w, 'p'))
      case LessThanOrEqual(l, w) if lit(l).exists(_ > 0.0) => Seq((w, 'p'))
      case LessThanOrEqual(l, w) if lit(l).contains(0.0) => Seq((w, 'n'))
      case LessThan(w, l) if lit(l).exists(_ <= 0.0) => Seq((w, 'g'))
      case GreaterThan(l, w) if lit(l).exists(_ <= 0.0) => Seq((w, 'g'))
      // negated comparisons — the CASE/IF ELSE-branch guards arrive as
      // Not(predicate): ¬(w ≤ l) ≡ w > l, ¬(w < l) ≡ w ≥ l, …
      case Not(LessThanOrEqual(w, l)) if lit(l).exists(_ >= 0.0) => Seq((w, 'p'))
      case Not(LessThan(w, l)) if lit(l).exists(_ > 0.0) => Seq((w, 'p'))
      case Not(LessThan(w, l)) if lit(l).contains(0.0) => Seq((w, 'n'))
      case Not(GreaterThanOrEqual(w, l)) if lit(l).exists(_ <= 0.0) => Seq((w, 'g'))
      case Not(GreaterThan(w, l)) if lit(l).exists(_ < 0.0) => Seq((w, 'g'))
      case Not(GreaterThanOrEqual(l, w)) if lit(l).exists(_ <= 0.0) => Seq((w, 'p'))
      case Not(GreaterThan(l, w)) if lit(l).exists(_ > 0.0) => Seq((w, 'p'))
      case And(a, b) => typedWitnesses(a) ++ typedWitnesses(b)
      case _ => Nil
    }
  }

  /** All D3/D4 hits in one query's analyzed plan. */
  private def auditDivSqrt(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.analyzed
    val defsM = scala.collection.mutable.Map[ExprId, (Expression, Boolean)]()
    collectDefs(plan, defsM)
    val prover = new DomainProver(defsM.toMap)
    val hits = scala.collection.mutable.LinkedHashSet[String]()
    // plan-level Filter/Join predicates also guard (the
    // `.where(col("n_docs") > 0)` annihilation-guard shape and
    // HAVING-style guards) — collected once for the whole plan
    val filterGuards: List[Expression] = {
      val fs = scala.collection.mutable.ListBuffer[Expression]()
      plan.foreach {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          fs += f.condition
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.condition.foreach(fs += _)
        case _ => ()
      }
      fs.toList
    }
    // `guards`: predicates of the enclosing CASE/IF branches plus the
    // plan's filters. need ∈ 'z' (non-zero: divide), 'n' (non-negative:
    // sqrt/log1p), 'p' (positive: log): a guard counts ONLY when one of
    // its typed witnesses IS the flagged denominator/argument (semantic
    // identity across casts/aliases/attribute-definition hops) and the
    // witness kind implies the need — merely sharing an attribute with
    // the denominator proves nothing (the r11 ADVICE vacuous-guard
    // class: any broad base-column filter silenced D3/D4/D5)
    def guarded(guards: List[Expression], target: Expression,
        need: Char, grouped: Boolean): Boolean = {
      def implies(need: Char, kind: Char): Boolean = need match {
        case 'z' => kind == 'p' || kind == 'g' || kind == 'z'
        case 'n' => kind == 'p' || kind == 'n'
        case 'p' => kind == 'p'
        case _ => false
      }
      // a sqrt-wrapped denominator is non-zero when its ARGUMENT is
      // witnessed positive (sqrt(x > 0) > 0), or witnessed non-zero
      // with a provably non-negative argument (sqrt(x ≥ 0, x ≠ 0) > 0;
      // a negative x would give NaN, itself a divergence)
      val targets: Seq[(Expression, Char)] = (target, stripCast(target)) match {
        case (_, sq: Sqrt) if need == 'z' =>
          Seq((target, need), (sq.child, 'p')) ++
            (if (prover.nonNeg(sq.child, grouped)) Seq((sq.child, 'z')) else Nil)
        case _ => Seq((target, need))
      }
      val ws = (guards ::: filterGuards).flatMap(typedWitnesses)
      targets.exists { case (t, n) =>
        ws.exists { case (w, kind) => implies(n, kind) && prover.sameAs(w, t) } }
    }
    // witness expressions usable INSIDE the prover's nonZero walk (the
    // .where(held_us > 0) … x / (held_us · k) shape: the witness sits
    // under a Multiply the guard matcher alone cannot decompose)
    def nonZeroWs(guards: List[Expression]): Seq[Expression] =
      (guards ::: filterGuards).flatMap(typedWitnesses)
        .collect { case (w, k) if k == 'p' || k == 'g' || k == 'z' => w }
    def walkExpr(e: Expression, guards: List[Expression], grouped: Boolean): Unit = e match {
      case i: If =>
        walkExpr(i.predicate, guards, grouped)
        walkExpr(i.trueValue, i.predicate :: guards, grouped)
        // the FALSE branch is guarded by the predicate's NEGATION
        // (the when(d === 0, fallback).otherwise(x / d) idiom)
        walkExpr(i.falseValue,
          org.apache.spark.sql.catalyst.expressions.Not(i.predicate) :: guards,
          grouped)
      // SQL AND is evaluated with the left conjunct guarding the right
      // in every author-written `d > 0 AND x / d ...` idiom
      case a: And =>
        walkExpr(a.left, guards, grouped)
        walkExpr(a.right, a.left :: guards, grouped)
      case cw: CaseWhen =>
        cw.branches.foreach { case (p, v) =>
          walkExpr(p, guards, grouped)
          walkExpr(v, p :: guards, grouped)
        }
        // the ELSE branch runs only when EVERY branch predicate is
        // false — its guards are their negations
        cw.elseValue.foreach(v =>
          walkExpr(v, cw.branches.map(b =>
            org.apache.spark.sql.catalyst.expressions.Not(b._1): Expression)
            .toList ::: guards, grouped))
      // sum(x)/count(y) written inside ONE aggregate: the denominator
      // is 0 only on empty input, where the null-on-empty numerator
      // already nulls the division on BOTH engines (null/0 = NULL in
      // Spark and DuckDB alike — NaN needs a non-null numerator)
      case d: Divide if nullAgreeingMean(d) =>
        d.children.foreach(walkExpr(_, guards, grouped))
      case d: Divide =>
        if (!prover.nonZero(d.right, grouped, witnesses = nonZeroWs(guards)) &&
            !guarded(guards, d.right, 'z', grouped))
          hits += s"unguarded-divide: ${d.sql.take(160)}"
        d.children.foreach(walkExpr(_, guards, grouped))
      case d: IntegralDivide =>
        if (!prover.nonZero(d.right, grouped, witnesses = nonZeroWs(guards)) &&
            !guarded(guards, d.right, 'z', grouped))
          hits += s"unguarded-divide: ${d.sql.take(160)}"
        d.children.foreach(walkExpr(_, guards, grouped))
      case s: Sqrt =>
        if (!prover.nonNeg(s.child, grouped) && !guarded(guards, s.child, 'n', grouped))
          hits += s"unguarded-sqrt: ${s.sql.take(160)}"
        s.children.foreach(walkExpr(_, guards, grouped))
      // D5 — log domain: Spark (ANSI off) returns NULL on log(x ≤ 0)
      // where DuckDB ERRORS the whole oracle query; the argument must
      // be provably POSITIVE (log1p: ≥ 0)
      case l: Log =>
        if (!prover.pos(l.child, grouped) && !guarded(guards, l.child, 'p', grouped))
          hits += s"unguarded-log: ${l.sql.take(160)}"
        l.children.foreach(walkExpr(_, guards, grouped))
      case l: Log2 =>
        if (!prover.pos(l.child, grouped) && !guarded(guards, l.child, 'p', grouped))
          hits += s"unguarded-log: ${l.sql.take(160)}"
        l.children.foreach(walkExpr(_, guards, grouped))
      case l: Log10 =>
        if (!prover.pos(l.child, grouped) && !guarded(guards, l.child, 'p', grouped))
          hits += s"unguarded-log: ${l.sql.take(160)}"
        l.children.foreach(walkExpr(_, guards, grouped))
      case l: Log1p =>
        if (!prover.nonNeg(l.child, grouped) && !guarded(guards, l.child, 'n', grouped))
          hits += s"unguarded-log: ${l.sql.take(160)}"
        l.children.foreach(walkExpr(_, guards, grouped))
      case l: Logarithm =>
        if (l.children.exists(c =>
          !prover.pos(c, grouped) && !guarded(guards, c, 'p', grouped)))
          hits += s"unguarded-log: ${l.sql.take(160)}"
        l.children.foreach(walkExpr(_, guards, grouped))
      case sq: SubqueryExpression =>
        walkPlan(sq.plan)
        sq.children.foreach(walkExpr(_, guards, grouped))
      case other => other.children.foreach(walkExpr(_, guards, grouped))
    }
    def walkPlan(p: LogicalPlan): Unit = p.foreach { node =>
      val grouped = node match {
        case a: Aggregate => a.groupingExpressions.nonEmpty
        case _ => false
      }
      node.expressions.foreach(walkExpr(_, Nil, grouped))
    }
    walkPlan(plan)
    hits.toSeq
  }

  test("a deliberately-unguarded divide and sqrt ARE flagged (D3/D4 detector works)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the r8 mannWhitney shape: variance denominator that is 0 for a
    // single-element group, sqrt of a subtraction that FP can push < 0
    val bad = docs.groupBy("lang").agg(count(lit(1)).as("n"),
        sum("n_chars").as("s"), sum(col("n_chars") * col("n_chars")).as("s2"))
      .select(col("lang"),
        (col("s") / (col("n") - 1)).as("d3"),
        sqrt(col("s2") / col("n") - (col("s") / col("n")) * (col("s") / col("n")))
          .as("d4"))
    val got = auditDivSqrt(bad)
    assert(got.exists(_.startsWith("unguarded-divide")),
      s"the n-1 denominator must trip D3: $got")
    assert(got.exists(_.startsWith("unguarded-sqrt")),
      s"the raw variance sqrt must trip D4: $got")
    // and the prescribed guards silence both
    val guarded = docs.groupBy("lang").agg(count(lit(1)).as("n"),
        sum("n_chars").as("s"), sum(col("n_chars") * col("n_chars")).as("s2"))
      .select(col("lang"),
        (col("s") / nullif(col("n") - 1, lit(0L))).as("d3"),
        sqrt(greatest(
          col("s2") / col("n") - (col("s") / col("n")) * (col("s") / col("n")),
          lit(0.0))).as("d4"),
        (col("s") / col("n")).as("count_denom_is_safe_when_grouped"))
    assert(auditDivSqrt(guarded).isEmpty,
      s"guards must silence D3/D4: ${auditDivSqrt(guarded)}")
    // the branch-predicate idiom is recognized too
    val branchGuarded = docs.groupBy("lang")
      .agg(sum("n_chars").as("s"), count(lit(1)).as("n"))
      .select(col("lang"),
        when(col("s") > 0, col("n").cast("double") / col("s")).as("r"))
    assert(auditDivSqrt(branchGuarded).isEmpty,
      s"when(s > 0, n / s) must not be flagged: ${auditDivSqrt(branchGuarded)}")
    // D5: log of a possibly-non-positive argument (Spark NULL, DuckDB
    // ERRORS the whole oracle query) is flagged; log of a grouped
    // count is not
    val badLog = docs.groupBy("lang").agg(count(lit(1)).as("n"),
        sum("n_chars").as("s"))
      .select(col("lang"), log2(col("s") - col("n")).as("l"))
    assert(auditDivSqrt(badLog).exists(_.startsWith("unguarded-log")),
      "log2 of a subtraction must trip D5")
    val okLog = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .select(col("lang"), log2(col("n")).as("l"))
    assert(auditDivSqrt(okLog).isEmpty,
      s"log2(grouped count) must not be flagged: ${auditDivSqrt(okLog)}")
  }

  test("registered surface: every divide denominator / sqrt argument is guarded or allowlisted") {
    val findings = Catalog.byName.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val hits =
          try auditDivSqrt(q.build(spark, sfDir))
          catch { case e: Throwable => Seq(s"BUILD FAILED: ${e.getMessage}") }
        if (hits.isEmpty || divSqrtAllowlist.contains(name)) Nil
        else hits.map(h => s"$name  $h")
    }
    assert(findings.isEmpty,
      "unguarded divides/sqrts (guard via nullif(x,0)/greatest(x,0) or " +
        "allowlist with a domain bound):\n" + findings.mkString("\n"))
  }

  /** name → written domain bound for keys whose flagged
    * denominators/arguments are provably safe for reasons the
    * structural classifier cannot see. The dominant pattern is
    * CROSS-JOIN-TOTAL: the denominator is an aggregate over the very
    * rows the output row derives from, so an output row's existence
    * implies the total ≥ its own positive contribution — invisible to
    * a per-expression prover. The remainder are corpus-level
    * degenerates (zero only for an empty / all-empty corpus, where the
    * engines null-agree or the key's report is meaningless) and
    * schema-contract positivity (TPC-H prices/quantities > 0).
    */
  private val divSqrtAllowlist: Map[String, String] = Map(
    "q_approx_distinct_twin" -> ("denominator = exact global distinct " +
      "count; 0 only for an empty table, where the twin ratio row is " +
      "itself the degenerate being compared"),
    "q_bloom_filter" -> ("n_absent_probes counts the CONSTRUCTED probe " +
      "set (distinct planted-miss keys of a non-empty customer table); " +
      "empty only if the table is"),
    "q_chunk_dedup" -> ("bytes_total = physically stored corpus bytes " +
      "(Σ chunk lengths ≥ 1 per chunk row present)"),
    "q_payload_dedup" -> "same bound as q_chunk_dedup over payload bytes",
    "q_cosine_profile" -> ("cross-join-total: a bucket row implies " +
      "total ≥ 1; half_n = floor(n/2) = 0 only for a ≤ 1-vector corpus, " +
      "which yields no verified pairs and hence no rows"),
    "q_cusum" -> ("n is the day count cross-joined into every row — a " +
      "row exists only when daily revenue is non-empty, so n ≥ 1"),
    "q_decile_report" -> ("total_cents = Σ of o_totalprice cents; " +
      "TPC-H prices are > 0 by schema contract, so any row present " +
      "implies a positive total"),
    "q_pareto_share" -> ("n_customers/total_cents: cross-join totals " +
      "over the same per-customer rows + TPC-H price positivity"),
    "q_ratio_to_report" -> ("cust_total = Σ positive prices over the " +
      "customer's own rows (window total: the row contributes itself)"),
    "q_seasonality" -> ("total_days/total_days totals cross-joined " +
      "from the same daily relation the dow rows aggregate"),
    "q_hits" -> ("mh/ma = max over coalesced hub/authority masses; 0 " +
      "only for an edgeless event graph, where the scores are all-zero " +
      "anyway and the report is vacuous"),
    "q_interarrival" -> ("cross-join-total: a gap-days row implies " +
      "total ≥ n_pairs ≥ 1"),
    "q_markov_stationary" -> ("tp = the observed state's total outgoing " +
      "transition mass — ≥ 1 for any state that appears as a source"),
    "q_pagerank_docs" -> ("ow = Σ of weight-1 quote edges per citer, " +
      "grouped from those same edges — ≥ 1 whenever the citer appears"),
    "q_mom_growth" -> ("prev_cents = lag of a month's revenue cents; " +
      "TPC-H prices > 0, so any month present has cents ≥ 1 (first " +
      "month: lag is NULL → NULL growth on both engines)"),
    "q_yoy_growth" -> "same bound as q_mom_growth at year grain",
    "q_ngram_jaccard" -> ("candidate pairs arise from shared shingles, " +
      "so both shingle sets are non-empty and the union has size ≥ 1"),
    "q_rank_stats" -> ("denominators are literal per-segment row " +
      "counts (23..40) and the same minus 1 — compile-time constants " +
      "≥ 22 baked into the oracle contract"),
    "q_rrf_fusion" -> ("avgdl/n_docs are corpus-level BM25 constants; " +
      "zero only for an empty or zero-token corpus, where no scored " +
      "rows exist"),
    "q_substring_dup_spans" -> ("n_chars joins back only for docs with " +
      "duplicated spans, which requires length ≥ L = 30 > 0"),
    "q_temperature_mix" -> ("w_total = Σ floor(√n_docs·10⁶ + ½) ≥ 10⁶ " +
      "per present language (n_docs ≥ 1 per group)"),
    "q_token_budget" -> ("total = corpus token count; 0 only for a " +
      "zero-token corpus — both engines then agree on NULL shares " +
      "only when numerators are also NULL-free zeros of 0/0, i.e. the " +
      "report is vacuous"),
    "q_kn_surprisal" -> ("log arguments are join-construction positive: " +
      "a row exists only after joining the bigram to its type/census " +
      "rows, so c12 ≥ 1 (hence 4·c12 − 3 ≥ 1), c1 ≥ c12 ≥ 1, and " +
      "nbt/n1p/n1pr ≥ 1 — every product under a log2 is ≥ 4"),
    "q_domain_shift" -> ("add-one smoothing makes both log2 arguments " +
      "positive by construction: (cp + 1) ≥ 1 and (cq + 1) ≥ 1, and " +
      "(Nq + V)/(Np + V) ≥ V ≥ 1 because the row's own token is in " +
      "the vocabulary"),
    "q_survival_km" -> ("n_risk = tot − cum(d+c) + d + c ≥ d + c ≥ 1 " +
      "for any emitted life-table row (the row's own events/censored " +
      "are still at risk at its own time)"),
    "q_benford" -> ("the chi-square denominator is total·benford_p: " +
      "benford_p is a positive literal CASE over digits 1..9, and " +
      "total = Σ cnt over the SAME first-digit census that emitted the " +
      "row (cross-join-total), so total ≥ cnt ≥ 1"),
    "q_bm25_topk" -> ("avgdl = total_tokens/n_docs and n_docs are " +
      "corpus constants computed from the posting rows themselves: a " +
      "scored row exists only via a posting, so total_tokens ≥ df ≥ 1 " +
      "and n_docs ≥ 1; the IDF log argument is 1 + (n_docs − df + " +
      "0.5)/(df + 0.5) with n_docs ≥ df ≥ 1, hence > 1 — same family " +
      "as the allowlisted q_rrf_fusion constants"),
    "q_char_entropy" -> ("the log2 argument is the occurrence count of " +
      "character c in s, for c drawn from s's OWN distinct characters " +
      "— ≥ 1 by construction"),
    "q_chunk_dup_docs" -> ("total_bytes = the doc's own chunk byte sum " +
      "(Σ chunk lengths ≥ 4-byte floor per chunk) over the same census " +
      "emitting the row — a doc without chunks emits no row"),
    "q_containment_join" -> ("size(sh1) ≥ 1: a candidate pair arises " +
      "only from a SHARED shingle (inverted-index construction), so " +
      "both shingle sets are non-empty — the q_ngram_jaccard bound, " +
      "directed"),
    "q_dedup_incremental" -> ("size(array_union(sh1, sh2)) ≥ 1: LSH " +
      "candidates band-join on shared signatures of non-empty shingle " +
      "sets (empty sets produce no bands), so the verify union is " +
      "non-empty"),
    "q_minhash_neardup" -> "same band-join bound as q_dedup_incremental",
    "q_neardup_topm" -> ("reduces the SAME verified pair relation as " +
      "q_minhash_neardup — the size(array_union) denominator carries " +
      "the identical band-join bound"),
    "q_seasonal_anomalies" -> ("s1/n, s2/n: cross-join-total — n is " +
      "the residual-census row count cross-joined into every row, so " +
      "a row's existence implies n ≥ 1; the z division itself is " +
      "CASE-guarded (now witness-matched) on both engines"),
    "q_setsim_join" -> ("same non-empty-set bound via the prefix " +
      "inverted index: a candidate pair shares at least one prefix " +
      "shingle, so the union size is ≥ 1"),
    "q_triangle_stats" -> ("lcc is branch-guarded by deg ≥ 2, which " +
      "bounds BOTH factors of deg·(deg−1) ≥ 2·1 > 0 — subtraction " +
      "arithmetic the structural lattice cannot derive from the " +
      "witness deg ≥ 2"),
    "q_zipf" -> ("intercept divides by the log2-bucket count n from " +
      "the same global aggregate emitting the row; on an empty bucket " +
      "set the numerator (sy − slope·sx) is NULL, so both engines " +
      "null-agree; slope and r² are already NULLIF-guarded"))
  test("registered surface: every long-product sum/log is widened or allowlisted") {
    val findings = Catalog.byName.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val hits =
          try audit(q.build(spark, sfDir))
          catch { case e: Throwable => Seq(s"BUILD FAILED: ${e.getMessage}") }
        if (hits.isEmpty || allowlist.contains(name)) Nil
        else hits.map(h => s"$name  $h")
    }
    assert(findings.isEmpty,
      "unwidened long-product aggregates (widen via DECIMAL(38,0) or " +
        "allowlist with a domain bound):\n" + findings.mkString("\n"))
  }
}
