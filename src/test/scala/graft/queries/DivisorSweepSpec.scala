package graft.queries

import org.apache.spark.sql.catalyst.expressions.{Abs, Add, Alias, And, Attribute, CaseWhen, Cast, Coalesce, DenseRank, Divide, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, Greatest, If, IntegralDivide, Least, LessThan, LessThanOrEqual, Literal, Multiply, Not, NTile, Pmod, Rank, Remainder, RowNumber, Size, StringSplit, Subtract}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.WindowExpression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Class-A robustness sweep (VERDICT r11 item 2): no query may carry
  * an integer/decimal division, remainder, or pmod whose divisor can
  * be ZERO on data the generator merely happens not to produce —
  * under Spark 4's default ANSI mode that is a DIVIDE_BY_ZERO crash
  * that kills the whole Verify run (fuzz seed 1 hit exactly this:
  * q345's corpus-total admitted tokens went to 0 under a value-domain
  * redraw and six queries after it never executed). ANSI throws for
  * EVERY numeric type including DOUBLE — `1.0D / 0.0D` is an error,
  * not IEEE infinity (verified on this Spark; the degenerate-corpus
  * probe crashed 24 queries, most through double variance/total
  * denominators).
  *
  * Mechanism: sweep EVERY registered query's optimized plan (final
  * plan + checkpointed segments via `Ckpt.withAudit`, in the pass
  * shared with PlanSweepSpec), collect each IntegralDivide /
  * Remainder / Pmod / decimal Divide, resolve the divisor through the optimizer's alias
  * projections, and require it PROVABLY ≥ 1:
  *
  *  - a nonzero numeric literal;
  *  - `greatest(lit ≥ 1, …)` — the canonical guard (greatest never
  *    returns null when one argument is a non-null literal);
  *  - `count(…)` — grouped aggregation only emits a row when the
  *    group has ≥ 1 member, and every count window frame here
  *    includes the current row. (Caveat: a GLOBAL count over a
  *    value-filtered frame can be 0 on one output row; that residue
  *    is what the fuzz redraw + permutation stages catch
  *    empirically.);
  *  - sums / mins / maxes / products / branches of provably-≥1
  *    terms (`sum(freq)` where freq is itself a per-row count, …);
  *  - `size(split(…))` — split never returns an empty array for a
  *    non-null string (minimum [""]), and a null input nulls the
  *    division instead of crashing.
  *
  * Anything else must either be FIXED (guard with `greatest(1, d)` /
  * `try_divide` in the Spark plan — and identically in the oracle
  * text whenever zero is reachable inside the fuzz domain, so the
  * corpus hashes the same on both sides) or consciously added to the
  * [[DivisorSweepBaseline]] ratchet; entries that stop firing fail
  * the spec until the baseline is regenerated (the ratchet only
  * tightens).
  *
  * The companion object holds the checker; [[SurfaceAudit]] runs it on
  * each query's audit in the single pass shared with the other sweeps.
  */
object DivisorSweepSpec {

  /** Column domain floors pinned by the generator AND preserved by
    * every fuzz redraw (TESTDATA.md; tools/fuzz_oracle.py gen: keys
    * stay non-negative, doc_id < 1e6, l_quantity is
    * `1 + floor(random()*50)`, linenumbers are 1-based). Matched by
    * NAME after alias resolution fails — a derived column that merely
    * reuses one of these names propagates the base column through
    * joins/selects in this codebase, never a rebinding. */
  private val domainMins: Map[String, Long] = Map(
    "doc_id" -> 0L, "vec_id" -> 0L, "event_id" -> 0L, "user_id" -> 0L,
    "c_custkey" -> 0L, "s_suppkey" -> 0L, "p_partkey" -> 0L,
    "o_orderkey" -> 0L, "o_custkey" -> 0L, "n_nationkey" -> 0L,
    "r_regionkey" -> 0L, "l_orderkey" -> 0L, "l_partkey" -> 0L,
    "l_suppkey" -> 0L, "l_quantity" -> 1L, "l_linenumber" -> 1L)

  private def numericAtLeastOne(v: Any): Boolean = v match {
    case null => false
    case i: Int => i >= 1
    case l: Long => l >= 1
    case s: Short => s >= 1
    case b: Byte => b >= 1
    case d: Double => d >= 1
    case f: Float => f >= 1
    case d: org.apache.spark.sql.types.Decimal => d.toDouble >= 1
    case _ => false
  }

  private def nonzeroLiteral(e: Expression): Boolean = e match {
    case Literal(v, _) if v != null => v match {
      case i: Int => i != 0
      case l: Long => l != 0
      case s: Short => s != 0
      case b: Byte => b != 0
      case d: Double => d != 0
      case f: Float => f != 0
      case d: org.apache.spark.sql.types.Decimal => d.toDouble != 0
      case _ => false
    }
    case Cast(c, _, _, _) => nonzeroLiteral(c)
    case _ => false
  }

  /** Provably ≥ 0 whenever it evaluates non-null (the helper lattice
    * under [[atLeastOne]]: floor-bucket shapes like
    * `cast((n - pmod(n, k)) / k.0 as bigint) + 1` prove ≥ 1 only
    * through "n is a count, n - pmod(n, k) ≥ 0, / k ≥ 0, + 1 ≥ 1"). */
  private def atLeastZero(
      e: Expression,
      aliases: Map[Long, Expression],
      depth: Int = 0): Boolean = {
    if (depth > 24) return false
    def rec0(x: Expression) = atLeastZero(x, aliases, depth + 1)
    def rec1(x: Expression) = atLeastOne(x, aliases, depth + 1)
    e match {
      case Literal(v, _) => numericAtLeastOne(v) || isZero(v)
      case a: Attribute =>
        aliases.get(a.exprId.id).exists(rec0) ||
          domainMins.get(a.name).exists(_ >= 0)
      case Alias(c, _) => rec0(c)
      case Cast(c, _, _, _) => rec0(c)
      case _: Abs => true
      case Pmod(_, m, _) => rec1(m) // nonneg for a positive modulus
      case Size(_, _) => true // ANSI sizeOfNull=null, else >= 0
      case Add(a, b, _) => rec0(a) && rec0(b)
      case Multiply(a, b, _) => rec0(a) && rec0(b)
      // the floor-bucket core: x - pmod(x, k) >= 0 when x >= 0
      case Subtract(a, Pmod(a2, _, _), _) if a.semanticEquals(a2) => rec0(a)
      case Divide(a, b, _) => rec0(a) && rec1(b)
      case d: IntegralDivide => rec0(d.left) && rec1(d.right)
      case Greatest(children) => children.exists(rec0)
      case Least(children) => children.forall(rec0)
      case Coalesce(children) => children.forall(rec0)
      case If(_, t, f) => rec0(t) && rec0(f)
      case cw: CaseWhen =>
        cw.branches.forall(b => rec0(b._2)) && cw.elseValue.forall(rec0)
      case ae: AggregateExpression => ae.aggregateFunction match {
        case _: Count => true
        case s: Sum => rec0(s.child)
        case m: Max => rec0(m.child)
        case m: Min => rec0(m.child)
        case _ => false
      }
      case we: WindowExpression => we.windowFunction match {
        case ae: AggregateExpression => rec0(ae)
        case _: RowNumber | _: Rank | _: DenseRank | _: NTile => true
        case _ => false
      }
      case _ => false
    }
  }

  private def isZero(v: Any): Boolean = v match {
    case i: Int => i == 0
    case l: Long => l == 0
    case s: Short => s == 0
    case b: Byte => b == 0
    case d: Double => d == 0
    case f: Float => f == 0
    case d: org.apache.spark.sql.types.Decimal => d.toDouble == 0
    case _ => false
  }

  /** The canonical guard shape: `nullif(x, 0)` optimizes to
    * `IF(x = 0, NULL, x)` — null-or-NONZERO by construction, which is
    * exactly the divisor-safety property (a null divisor nulls the
    * division; only a zero VALUE crashes). */
  private def nullifGuarded(e: Expression): Boolean = {
    def strip(x: Expression): Expression = x match {
      case Cast(c, _, _, _) => strip(c)
      case Alias(c, _) => strip(c)
      case o => o
    }
    e match {
      case If(EqualTo(a, Literal(v, _)), Literal(null, _), b)
        if isZero(v) && strip(a).semanticEquals(strip(b)) => true
      case If(EqualTo(Literal(v, _), a), Literal(null, _), b)
        if isZero(v) && strip(a).semanticEquals(strip(b)) => true
      case Cast(c, _, _, _) => nullifGuarded(c)
      case Alias(c, _) => nullifGuarded(c)
      case _ => false
    }
  }

  /** Provably ≥ 1 whenever it evaluates non-null. */
  private def atLeastOne(
      e: Expression,
      aliases: Map[Long, Expression],
      depth: Int = 0): Boolean = {
    if (depth > 24) return false
    def rec(x: Expression) = atLeastOne(x, aliases, depth + 1)
    def rec0(x: Expression) = atLeastZero(x, aliases, depth + 1)
    e match {
      case Literal(v, _) => numericAtLeastOne(v)
      case a: Attribute =>
        aliases.get(a.exprId.id).exists(rec) ||
          domainMins.get(a.name).exists(_ >= 1)
      case Alias(c, _) => rec(c)
      case Cast(c, _, _, _) => rec(c)
      case Greatest(children) => children.exists {
        case l: Literal => numericAtLeastOne(l.value)
        case Cast(l: Literal, _, _, _) => numericAtLeastOne(l.value)
        case _ => false
      }
      case Coalesce(children) => children.forall(rec)
      case Multiply(a, b, _) => rec(a) && rec(b)
      case Add(a, b, _) =>
        (rec(a) && rec0(b)) || (rec0(a) && rec(b))
      case If(_, t, f) => rec(t) && rec(f)
      case cw: CaseWhen =>
        cw.branches.forall(b => rec(b._2)) &&
          cw.elseValue.exists(rec)
      case ae: AggregateExpression => ae.aggregateFunction match {
        case _: Count => true
        case s: Sum => rec(s.child)
        case m: Max => rec(m.child)
        case m: Min => rec(m.child)
        case _ => false
      }
      case we: WindowExpression => we.windowFunction match {
        case ae: AggregateExpression => rec(ae)
        case _: RowNumber | _: Rank | _: DenseRank | _: NTile => true
        case _ => false
      }
      case Size(c, _) => c match {
        case _: StringSplit => true
        case Alias(a, _) => a.isInstanceOf[StringSplit]
        case a: Attribute =>
          aliases.get(a.exprId.id).exists(_.isInstanceOf[StringSplit])
        case _ => false
      }
      case _ => false
    }
  }

  /** A row-level fact a predicate establishes: either "expr is
    * NONZERO" (bound = None: x != 0, x < 0, x = negative-literal) or
    * "expr > bound" for an integer bound (x > v, x >= v+1 — carrying
    * the bound lets [[guardedBy]] discharge shifted divisors:
    * `WHEN n > 1 THEN … div (n - 1)` needs n > 1 ⇒ n−1 ≥ 1). */
  private case class Fact(x: Expression, lowerStrict: Option[Long])

  private def longOf(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => b.toLong match { case x => Some(x) }
    case d: org.apache.spark.sql.types.Decimal
      if d.toDouble == d.toDouble.floor => Some(d.toDouble.toLong)
    case d: Double if d == d.floor => Some(d.toLong)
    case _ => None
  }

  private def nonzeroFacts(pred: Expression): Seq[Fact] = {
    def conj(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conj(a) ++ conj(b)
      case x => Seq(x)
    }
    def neg(v: Any): Boolean = longOf(v).exists(_ <= -1)
    conj(pred).flatMap {
      case GreaterThan(x, Literal(v, _)) if longOf(v).exists(_ >= 0) =>
        Some(Fact(x, longOf(v)))
      case GreaterThanOrEqual(x, Literal(v, _)) if longOf(v).exists(_ >= 1) =>
        Some(Fact(x, longOf(v).map(_ - 1)))
      case LessThan(Literal(v, _), x) if longOf(v).exists(_ >= 0) =>
        Some(Fact(x, longOf(v)))
      case LessThanOrEqual(Literal(v, _), x) if longOf(v).exists(_ >= 1) =>
        Some(Fact(x, longOf(v).map(_ - 1)))
      case LessThan(x, Literal(v, _)) if isZero(v) || neg(v) =>
        Some(Fact(x, None))
      case LessThanOrEqual(x, Literal(v, _)) if neg(v) => Some(Fact(x, None))
      case GreaterThan(Literal(v, _), x) if isZero(v) || neg(v) =>
        Some(Fact(x, None))
      case Not(EqualTo(x, Literal(v, _))) if isZero(v) => Some(Fact(x, None))
      case Not(EqualTo(Literal(v, _), x)) if isZero(v) => Some(Fact(x, None))
      case EqualTo(x, Literal(v, _)) if numericAtLeastOne(v) || neg(v) =>
        Some(Fact(x, None))
      case EqualTo(Literal(v, _), x) if numericAtLeastOne(v) || neg(v) =>
        Some(Fact(x, None))
      case _ => None
    }
  }

  /** The divisor is nonzero whenever some collected fact holds:
    * directly, through a Cast, or as `x - k` / `x + k` against a
    * fact `x > L` (integers: x > L ⇒ x − k ≥ L+1−k ≥ 1 iff k ≤ L). */
  private def guardedBy(d: Expression, facts: Seq[Fact]): Boolean = {
    def strip(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => strip(c)
      case Alias(c, _) => strip(c)
      case x => x
    }
    val dd = strip(d)
    facts.exists { f =>
      val fx = strip(f.x)
      if (fx.semanticEquals(dd)) f.lowerStrict.forall(_ >= 0)
      else f.lowerStrict.exists { l =>
        dd match {
          case Subtract(y, Literal(k, _), _) =>
            strip(y).semanticEquals(fx) && longOf(k).exists(_ <= l)
          case Add(y, Literal(k, _), _) =>
            strip(y).semanticEquals(fx) && longOf(k).exists(_ >= -l)
          case _ => false
        }
      }
    }
  }

  /** Facts established when a predicate is FALSE — the
    * `if(x = 0, null, a div x)` guard idiom puts the division in the
    * ELSE branch, where x = 0 has just been ruled out. */
  private def negatedNonzeroFacts(pred: Expression): Seq[Fact] = pred match {
    case EqualTo(x, Literal(v, _)) if isZero(v) => Seq(Fact(x, None))
    case EqualTo(Literal(v, _), x) if isZero(v) => Seq(Fact(x, None))
    case org.apache.spark.sql.catalyst.expressions.Or(a, b) =>
      // NOT(a OR b) = NOT a AND NOT b: both negations hold
      negatedNonzeroFacts(a) ++ negatedNonzeroFacts(b)
    case _ => Nil
  }

  /** Collect divisors NOT protected by an enclosing CASE/IF predicate
    * that establishes them nonzero — the house guard idiom
    * (`CASE WHEN n > 0 THEN x div n END`, q449/q168 pattern). */
  private def unguardedDivisors(
      e: Expression,
      guards: Seq[Fact]): Seq[Expression] = {
    def guarded(d: Expression, gs: Seq[Fact]): Boolean = guardedBy(d, gs)
    e match {
      case cw: CaseWhen =>
        // else-branch facts: sound only when every branch predicate's
        // negation is accumulated — done here for the common
        // single-branch guard
        val elseFacts =
          if (cw.branches.size == 1)
            guards ++ negatedNonzeroFacts(cw.branches.head._1)
          else guards
        cw.branches.flatMap { case (pred, value) =>
          unguardedDivisors(pred, guards) ++
            unguardedDivisors(value, guards ++ nonzeroFacts(pred))
        } ++ cw.elseValue.toSeq.flatMap(unguardedDivisors(_, elseFacts))
      case If(pred, t, f) =>
        unguardedDivisors(pred, guards) ++
          unguardedDivisors(t, guards ++ nonzeroFacts(pred)) ++
          unguardedDivisors(f, guards ++ negatedNonzeroFacts(pred))
      case d: IntegralDivide =>
        (if (guarded(d.right, guards)) Nil else Seq(d.right)) ++
          d.children.flatMap(unguardedDivisors(_, guards))
      case r: Remainder =>
        (if (guarded(r.right, guards)) Nil else Seq(r.right)) ++
          r.children.flatMap(unguardedDivisors(_, guards))
      case p: Pmod =>
        (if (guarded(p.right, guards)) Nil else Seq(p.right)) ++
          p.children.flatMap(unguardedDivisors(_, guards))
      // ALL numeric types: Spark 4 ANSI throws DIVIDE_BY_ZERO even for
      // DOUBLE / 0.0 (verified against local[1] — it is NOT IEEE inf)
      case d: Divide =>
        (if (guarded(d.right, guards)) Nil else Seq(d.right)) ++
          d.children.flatMap(unguardedDivisors(_, guards))
      case other => other.children.flatMap(unguardedDivisors(_, guards))
    }
  }

  /** This sweep's findings on one query's audit: one line per divisor
    * in the final plan or a checkpointed segment that is not provably
    * nonzero. */
  def check(a: QueryAudit): Seq[String] = {
    val found = collection.mutable.ArrayBuffer[String]()
    val plans = a.plans
    // one alias map across all of this query's plans, so a divisor
    // attribute in the final plan resolves to its defining
    // expression even when that definition lives in an earlier
    // ckpt'd segment. A dedup'd self-join re-instances LogicalRDD
    // leaves with FRESH exprIds, so additionally bridge every
    // LogicalRDD output attr to the recorded segment's output by
    // POSITION (the audit's segmentFor map) — resolution then
    // continues inside the segment through the ordinary alias entries.
    val bridges: Seq[(Long, Expression)] = plans.flatMap(_.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.flatMap { l =>
      a.segmentFor.get(l.rdd.id).toSeq
        .filter(_.output.size == l.output.size)
        .flatMap(seg => l.output.map(_.exprId.id)
          .zip(seg.output.map(o => o: Expression))
          .filter { case (x, y) =>
            x != y.asInstanceOf[Attribute].exprId.id })
    })
    // bridges first: a real Alias definition under the same exprId
    // (ids preserved across the checkpoint) must win over the bridge
    val aliases: Map[Long, Expression] = (bridges ++ plans.flatMap(
      _.collect { case n => n }.flatMap(_.expressions).flatMap(_.collect {
        case al: Alias => al.exprId.id -> (al.child: Expression)
      }))).toMap
    // Row-level facts established by Filters flow STRICTLY BOTTOM-UP:
    // a division in node N only evaluates on rows that already passed
    // every Filter BELOW N, so only descendants' facts guard it. (A
    // filter ABOVE the division prunes after the fact — the first cut
    // of this sweep applied facts plan-wide and false-passed the
    // q18-class `div (n - 1)` under a later `HAVING n > 1`; the
    // degenerate-corpus probe caught the unsoundness.) Outer-join
    // null extension void facts only on rows where the referenced
    // column is null — and a null divisor nulls the division instead
    // of crashing, so the union over children stays sound for the
    // crash property. A Filter's own condition does not guard
    // divisions inside itself (conjunct evaluation order is
    // undefined).
    val divisors = collection.mutable.ArrayBuffer[Expression]()
    def sweepNode(p: LogicalPlan): Seq[Fact] = {
      val below = p.children.flatMap(sweepNode)
      p.expressions.foreach(e =>
        divisors ++= unguardedDivisors(e, below))
      p match {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          below ++ nonzeroFacts(f.condition)
        case _ => below
      }
    }
    plans.foreach(sweepNode)
    for (d <- divisors) {
      if (!nonzeroLiteral(d) && !nullifGuarded(d) &&
        !atLeastOne(d, aliases)) {
        found += s"${a.name}: divisor not provably nonzero: ${d.sql}"
      }
    }
    found.toSeq
  }
}

class DivisorSweepSpec extends AnyFunSuite {
  test("every division's divisor is provably nonzero or ratchet-baselined") {
    val cur = SurfaceAudit.findings.get.divisor.toSet
    // dump the current set so regenerating the baseline is a copy,
    // not a log-scrape (tools/regen_sweep_baselines.py)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("target/divisor_sweep_current.txt"),
      cur.toSeq.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    val added = cur -- DivisorSweepBaseline.entries
    val stale = DivisorSweepBaseline.entries -- cur
    assert(added.isEmpty,
      s"\nNEW unproven divisors (not in the ratchet baseline):\n" +
        s"${added.toSeq.sorted.mkString("\n")}\n" +
        "Guard with greatest(1, d) / try_divide in BOTH the Spark " +
        "plan and the oracle text, or consciously regenerate " +
        "DivisorSweepBaseline in the same commit and say why.")
    assert(stale.isEmpty,
      s"\nstale DivisorSweepBaseline entries (no longer fire — " +
        s"regenerate to tighten the ratchet):\n" +
        s"${stale.toSeq.sorted.mkString("\n")}")
  }
}
