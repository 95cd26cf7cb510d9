package graft.dsl

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.{functions => F}

/** Validator-DSL expression AST.
  *
  * Re-expression of the reference DSL (flycatcher
  * validators/core.py:19 `FieldRef`, validators/ops.py:286 `BinaryOp` /
  * ops.py:416 `UnaryOp`, validators/string.py:618 `StringOp`,
  * validators/datetime.py:809 `DateTimeOp`,
  * validators/membership.py:963 `MembershipOp`)
  * with ONE compiler and two evaluators of its output:
  *
  *   - [[Expr!.toColumn]] — an `org.apache.spark.sql.Column`, run in bulk
  *     (whole-stage-codegen'd, pushdown-eligible). Analog of the
  *     reference's `to_polars`.
  *   - [[Expr!.eval]] / [[graft.schema.RowValidator]] — the SAME Column,
  *     evaluated per row by Catalyst's interpreter ([[RowEval]]; no
  *     SparkSession, no job). Analog of the reference's `to_python`.
  *
  * So both paths share one semantics: nulls propagate, and/or are Kleene
  * (the reference's Polars path), `/` and `%` by zero give null, and a
  * long overflow raises (ANSI).
  */
sealed trait Expr {
  def toColumn: Column = columnWith(_.column)

  /** The Column, with each [[Raw]] node compiled by `raw` (the row
    * evaluator swaps a Raw for an input of its own). */
  private[dsl] def columnWith(raw: Raw => Column): Column

  /** This expression over one row of plain values (a `null` is a
    * NullType input), analyzed anew on every call. */
  def eval(row: Map[String, Any]): Any = {
    val ev = RowEval(Seq(this), row.toSeq.map { case (k, v) => k -> Literal(v).dataType })
    ev.refs(0).find(!row.contains(_)).foreach(n =>
      throw new NoSuchElementException(s"Field '$n' not found in values"))
    ev(row)(0)
  }

  // ---- comparisons / arithmetic / boolean (reference core.py FieldRef ops)
  def >(o: Any): Expr  = Bin(this, ">", Expr.lift(o))
  def >=(o: Any): Expr = Bin(this, ">=", Expr.lift(o))
  def <(o: Any): Expr  = Bin(this, "<", Expr.lift(o))
  def <=(o: Any): Expr = Bin(this, "<=", Expr.lift(o))
  def ===(o: Any): Expr = Bin(this, "==", Expr.lift(o))
  def !==(o: Any): Expr = Bin(this, "!=", Expr.lift(o))
  def +(o: Any): Expr  = Bin(this, "+", Expr.lift(o))
  def -(o: Any): Expr  = Bin(this, "-", Expr.lift(o))
  def *(o: Any): Expr  = Bin(this, "*", Expr.lift(o))
  def /(o: Any): Expr  = Bin(this, "/", Expr.lift(o))
  def %(o: Any): Expr  = Bin(this, "%", Expr.lift(o))
  def &(o: Expr): Expr = Bin(this, "&", o)
  def |(o: Expr): Expr = Bin(this, "|", o)
  def unary_! : Expr   = Un("~", this)

  def isNull: Expr    = Un("is_null", this)
  def isNotNull: Expr = Un("is_not_null", this)

  // ---- math (reference ops.py _MathOpsMixin)
  def abs: Expr               = Un("abs", this)
  def round(d: Int = 0): Expr = Un("round", this, Some(d))
  def floor: Expr             = Un("floor", this)
  def ceil: Expr              = Un("ceil", this)
  def sqrt: Expr              = Un("sqrt", this)
  def pow(e: Double): Expr    = Un("pow", this, Some(e))

  // ---- accessors
  def str: StringAcc = StringAcc(this)
  def dt: DtAcc      = DtAcc(this)

  // ---- membership (reference membership.py)
  def isIn(values: Seq[Any]): Expr = InOp(this, values, nullsEqual = false)
  def isIn(values: Seq[Any], nullsEqual: Boolean): Expr = InOp(this, values, nullsEqual)
  def isBetween(lo: Any, hi: Any, closed: String = "both"): Expr =
    BetweenOp(this, Expr.lift(lo), Expr.lift(hi), closed)
}

object Expr {
  def lift(o: Any): Expr = o match {
    case e: Expr => e
    case other   => Lit(other)
  }
}

/** Field reference — `col("name")`. */
final case class Col(name: String) extends Expr {
  private[dsl] def columnWith(raw: Raw => Column): Column = F.col(name)
}

/** Escape hatch mirroring the reference's dict-result validators
  * (validators/base.py ValidatorResult dict form): a raw engine
  * expression for the bulk path plus an optional row-level callable.
  * A bulk-only check evaluates to null (pass) on the row path — the
  * analog of `get_pydantic_validator()` returning None. */
final case class Raw(column: Column,
    rowFn: Option[Map[String, Any] => Any] = None) extends Expr {
  private[dsl] def columnWith(raw: Raw => Column): Column = raw(this)
}

final case class Lit(value: Any) extends Expr {
  private[dsl] def columnWith(raw: Raw => Column): Column = F.lit(value)
}

final case class Bin(left: Expr, op: String, right: Expr) extends Expr {
  private[dsl] def columnWith(raw: Raw => Column): Column = {
    val l = left.columnWith(raw); val r = right.columnWith(raw)
    op match {
      case ">"  => l > r
      case ">=" => l >= r
      case "<"  => l < r
      case "<=" => l <= r
      case "==" => l === r
      case "!=" => l =!= r
      case "+"  => l + r
      case "-"  => l - r
      case "*"  => l * r
      // total division: zero divisor → null (plain `/`/`%` throw under
      // Spark 4's default ANSI and returned null pre-ANSI; try_divide/
      // try_mod pin the null semantics whatever the session's mode)
      case "/"  => F.try_divide(l, r)
      case "%"  => F.try_mod(l, r)
      case "&"  => l && r
      case "|"  => l || r
    }
  }
}

final case class Un(op: String, operand: Expr, arg: Option[Any] = None) extends Expr {
  private[dsl] def columnWith(raw: Raw => Column): Column = {
    val c = operand.columnWith(raw)
    op match {
      case "~"           => !c
      case "is_null"     => c.isNull
      case "is_not_null" => c.isNotNull
      case "abs"         => F.abs(c)
      case "round"       => F.round(c, arg.fold(0)(_.asInstanceOf[Int]))
      case "floor"       => F.floor(c)
      case "ceil"        => F.ceil(c)
      case "sqrt"        => F.sqrt(c)
      case "pow"         => F.pow(c, arg.get.asInstanceOf[Double])
    }
  }
}

/** String ops accessor (reference validators/string.py:578 StringAccessor). */
final case class StringAcc(e: Expr) {
  def contains(pattern: String): Expr   = StrOp("contains", e, Seq(pattern))
  def startsWith(prefix: String): Expr  = StrOp("starts_with", e, Seq(prefix))
  def endsWith(suffix: String): Expr    = StrOp("ends_with", e, Seq(suffix))
  def lenChars: Expr                    = StrOp("len_chars", e, Nil)
  def stripChars: Expr                  = StrOp("strip_chars", e, Nil)
  def toLowercase: Expr                 = StrOp("to_lowercase", e, Nil)
  def toUppercase: Expr                 = StrOp("to_uppercase", e, Nil)
  def replace(pattern: String, value: String): Expr = StrOp("replace", e, Seq(pattern, value))
  def extract(pattern: String, group: Int = 0): Expr = StrOp("extract", e, Seq(pattern, group))
  def slice(offset: Int, length: Int = Int.MaxValue): Expr = StrOp("slice", e, Seq(offset, length))
  def countMatches(pattern: String): Expr = StrOp("count_matches", e, Seq(pattern))
}

final case class StrOp(op: String, operand: Expr, args: Seq[Any]) extends Expr {
  private[dsl] def columnWith(raw: Raw => Column): Column = {
    val c = operand.columnWith(raw)
    op match {
      // reference uses regex semantics for contains (polars str.contains)
      case "contains"     => c.rlike(args.head.asInstanceOf[String])
      case "starts_with"  => c.startsWith(args.head.asInstanceOf[String])
      case "ends_with"    => c.endsWith(args.head.asInstanceOf[String])
      case "len_chars"    => F.length(c)
      case "strip_chars"  => F.trim(c)
      case "to_lowercase" => F.lower(c)
      case "to_uppercase" => F.upper(c)
      case "replace"      => F.regexp_replace(c, args(0).asInstanceOf[String], args(1).asInstanceOf[String])
      case "extract"      => F.regexp_extract(c, args(0).asInstanceOf[String], args(1).asInstanceOf[Int])
      case "slice" =>
        val off = args(0).asInstanceOf[Int]; val len = args(1).asInstanceOf[Int]
        c.substr(F.lit(off + 1), F.lit(len))
      case "count_matches" => F.regexp_count(c, F.lit(args.head.asInstanceOf[String]))
    }
  }
}

/** Datetime ops accessor (reference validators/datetime.py:761 DateTimeAccessor). */
final case class DtAcc(e: Expr) {
  def year: Expr   = DtOp("year", e, None)
  def month: Expr  = DtOp("month", e, None)
  def day: Expr    = DtOp("day", e, None)
  def hour: Expr   = DtOp("hour", e, None)
  def minute: Expr = DtOp("minute", e, None)
  def second: Expr = DtOp("second", e, None)
  /** Difference in days (float, positive if this is later) — python-path semantics. */
  def totalDays(other: Any): Expr = DtOp("total_days", e, Some(Expr.lift(other)))
}

final case class DtOp(op: String, operand: Expr, arg: Option[Expr]) extends Expr {
  private[dsl] def columnWith(raw: Raw => Column): Column = {
    val c = operand.columnWith(raw)
    op match {
      case "year"   => F.year(c)
      case "month"  => F.month(c)
      case "day"    => F.dayofmonth(c)
      case "hour"   => F.hour(c)
      case "minute" => F.minute(c)
      case "second" => F.second(c)
      case "total_days" =>
        // date → timestamp first: DateType has no direct double cast
        (c.cast("timestamp").cast("double") -
          arg.get.columnWith(raw).cast("timestamp").cast("double")) / F.lit(86400.0)
    }
  }
}

final case class InOp(operand: Expr, values: Seq[Any], nullsEqual: Boolean = false) extends Expr {
  private[dsl] def columnWith(raw: Raw => Column): Column = {
    val c = operand.columnWith(raw)
    val base = c.isin(values.filter(_ != null): _*)
    if (nullsEqual) F.when(c.isNull, F.lit(values.contains(null))).otherwise(base)
    else base
  }
}

final case class BetweenOp(operand: Expr, lo: Expr, hi: Expr, closed: String) extends Expr {
  require(Set("both", "left", "right", "none")(closed),
    s"Invalid closed value '$closed'. Expected one of both|left|right|none.")

  /** True when both bounds are literals and lower > upper — the interval
    * is empty, which is almost always a typo'd bound. Mirrors the
    * reference's construction-time warning (flycatcher
    * validators/membership.py:166 `_warn_if_inverted_raw`): expression
    * bounds and nulls are skipped (not comparable until evaluation). The
    * predicate still constructs and evaluates (to an always-false
    * interval), matching the reference; the warning is the signal. */
  val invertedBounds: Boolean = (lo, hi) match {
    case (Lit(l), Lit(h)) if l != null && h != null =>
      // `lo > hi` through the row evaluator: Catalyst's own coercion
      // and ordering; bounds it cannot compare are not flagged
      try (lo > hi).eval(Map.empty) == true catch { case _: Exception => false }
    case _ => false
  }
  if (invertedBounds)
    org.slf4j.LoggerFactory.getLogger(classOf[BetweenOp]).warn(
      s"isBetween called with lower_bound > upper_bound; interval is empty (lower=$lo, upper=$hi)")
  private[dsl] def columnWith(raw: Raw => Column): Column = {
    val c = operand.columnWith(raw); val l = lo.columnWith(raw); val h = hi.columnWith(raw)
    closed match {
      case "both"  => c >= l && c <= h
      case "left"  => c >= l && c < h
      case "right" => c > l && c <= h
      case "none"  => c > l && c < h
    }
  }
}
