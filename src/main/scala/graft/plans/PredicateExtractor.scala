package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{
  And => CAnd, Or => COr, EqualTo, GreaterThan, GreaterThanOrEqual,
  LessThan, LessThanOrEqual, Not, In => CIn, AttributeReference,
  Cast, CommonExpressionRef, Expression, IsNotNull, IsNull, Literal, With}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Best-effort conversion of Catalyst filter conditions into the
  * zone-map predicate algebra.
  *
  * Plays the role sqlglot plays in the reference (parse the SQL, find
  * the WHERE clause, walk AND/OR/BETWEEN/IN/comparisons —
  * query_enginev5.py:66-105) — but works on Catalyst expressions, with
  * literals typed. Optimizer-rule callers see BETWEEN already rewritten
  * to >= AND <=; analyzed-plan callers ([[graft.engine.GraftEngine.sql]])
  * see a `Between` whose replacement binds its input through a `With`,
  * which [[inlineWith]] resolves to the same tree. Unconvertible subtrees
  * degrade conservatively: an unknown AND-conjunct is dropped (pruning
  * with fewer conjuncts only keeps more blocks), an unknown OR-branch
  * poisons the whole OR (can't bound a disjunction you can't read).
  */
object PredicateExtractor {

  /** All Filter conditions in a DataFrame's analyzed plan, AND-ed. */
  def fromDataFrame(df: DataFrame): Option[Pred] = {
    val conds = df.queryExecution.analyzed.collect {
      case f: LFilter => convert(f.condition)
    }.flatten
    conds.reduceOption(And(_, _))
  }

  def convert(e: Expression): Option[Pred] = e match {
    // BETWEEN (and friends) analyze to RuntimeReplaceable wrappers;
    // their `replacement` is the desugared >=/AND/<= tree.
    case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
      convert(r.replacement)
    case w: With => convert(inlineWith(w))

    case CAnd(l, r) => (convert(l), convert(r)) match {
      case (Some(a), Some(b)) => Some(And(a, b))
      case (Some(a), None)    => Some(a)
      case (None, Some(b))    => Some(b)
      case _                  => None
    }
    case COr(l, r) =>
      for { a <- convert(l); b <- convert(r) } yield Or(a, b)

    case EqualTo(a, b)            => cmp("=", a, b)
    case GreaterThan(a, b)        => cmp(">", a, b)
    case GreaterThanOrEqual(a, b) => cmp(">=", a, b)
    case LessThan(a, b)           => cmp("<", a, b)
    case LessThanOrEqual(a, b)    => cmp("<=", a, b)
    case Not(EqualTo(a, b))       => cmp("!=", a, b)

    case IsNull(attrOf(c))         => Some(NullCheck(c, negated = false))
    case IsNotNull(attrOf(c))      => Some(NullCheck(c, negated = true))
    case Not(IsNull(attrOf(c)))    => Some(NullCheck(c, negated = true))
    case Not(IsNotNull(attrOf(c))) => Some(NullCheck(c, negated = false))

    case CIn(attrOf(name), list) =>
      val vs = list.flatMap { case litOf(l) => literal(l); case _ => None }
      if (vs.size == list.size) Some(In(name, vs)) else None

    case _ => None
  }

  /** COMPLETE conversion: None unless EVERY subtree converts — no
    * conjunct dropping. [[convert]]'s weakening is sound only for
    * REFUTATION (fewer conjuncts keep more); an ALL-ROWS-MATCH proof
    * ([[ZoneMapPruner.allMatch]], the filtered dictionary serve)
    * over a weakened predicate would claim rows the dropped conjunct
    * rejects. */
  def convertComplete(e: Expression): Option[Pred] = e match {
    case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
      convertComplete(r.replacement)
    case w: With => convertComplete(inlineWith(w))
    case CAnd(l, r) =>
      for { a <- convertComplete(l); b <- convertComplete(r) } yield And(a, b)
    case COr(l, r) =>
      for { a <- convertComplete(l); b <- convertComplete(r) } yield Or(a, b)
    case leaf => convert(leaf) // every non-AND/OR conversion is exact
  }

  /** A `With` (Spark's common-subexpression binding, e.g. BETWEEN's
    * replacement `With(input){ref >= lo AND ref <= hi}`) with every
    * reference replaced by the expression it names. */
  private def inlineWith(w: With): Expression = {
    val defs = w.defs.map(d => d.id -> d.child).toMap
    w.child.transform { case r: CommonExpressionRef if defs.contains(r.id) => defs(r.id) }
  }

  /** column-vs-constant comparison in either direction (flips the op).
    * The constant side is usually `cast(<literal> as <coltype>)` after
    * analysis — any foldable expression constant-folds to a Literal. */
  private def cmp(op: String, a: Expression, b: Expression): Option[Pred] =
    (a, b) match {
      case (attrOf(c), litOf(l)) => literal(l).map(Cmp(op, c, _))
      case (litOf(l), attrOf(c)) => literal(l).map(Cmp(flip(op), c, _))
      case _                     => None
    }

  /** Constant-fold a literal-valued subtree (casts of literals etc.). */
  private object litOf {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case _ if e.foldable && e.deterministic =>
        try Some(Literal.create(e.eval(null), e.dataType))
        catch { case _: Exception => None }
      case _ => None
    }
  }

  private def flip(op: String): String = op match {
    case ">" => "<"; case ">=" => "<="; case "<" => ">"; case "<=" => ">="
    case other => other
  }

  /** Attribute possibly wrapped in a WIDENING cast only. Stripping a
    * narrowing cast (e.g. CAST(dbl AS INT) = 5) would compare the raw
    * column's stats in the wrong value domain and mis-prune blocks. */
  private object attrOf {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case Cast(a: AttributeReference, to, _, _)
          if org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(a.dataType, to) =>
        Some(a.name)
      case _ => None
    }
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")

  def literal(l: Literal): Option[PredValue] = (l.value, l.dataType) match {
    case (null, _) => None
    case (v: Number, _: ByteType | _: ShortType | _: IntegerType | _: LongType |
                     _: FloatType | _: DoubleType) =>
      // a NaN literal is unprunable: Spark orders NaN above every
      // value (NaN = NaN matches!) while the stats algebra — and the
      // driver-side Scala mirror with IEEE semantics — would compare
      // it as never-matching. Refuse conversion; the conjunct drops
      // (refutation) or the whole predicate refuses (T-proof serves).
      val d = v.doubleValue
      if (d.isNaN) None else Some(PredValue(d))
    case (v: java.math.BigDecimal, _) => Some(PredValue(v.doubleValue))
    case (v: Decimal, _)              => Some(PredValue(v.toDouble))
    case (v: UTF8String, _: StringType) => Some(PredValue(v.toString))
    case (micros: java.lang.Long, _: TimestampType | _: TimestampNTZType) =>
      val str = java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC).format(tsFmt)
      Some(PredValue(Some(micros.toDouble), None, Some(str)))
    case (days: java.lang.Integer, _: DateType) =>
      Some(PredValue(days.doubleValue))
    case _ => None
  }
}
