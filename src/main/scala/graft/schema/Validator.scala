package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.{functions => F}

/** Raised by strict-mode validation (analog of the reference's
  * `ValueError` in PolarsValidator.validate).
  *
  * `samplesByCheck` carries up to N sample rows for EVERY violated
  * constraint (reference parity: generators/polars.py:237-253 records
  * `head(10)` per constraint); `sample` remains the first violated
  * constraint's rows for callers of the r4 shape. */
final class SchemaViolationException(
    val violations: Seq[(String, Long)],
    val samplesByCheck: Seq[(String, Seq[String])])
  extends RuntimeException(
    s"Constraint violations: ${violations.map { case (m, n) => s"$m ($n rows)" }.mkString("; ")}" +
      samplesByCheck.map { case (m, rows) =>
        s"\nSample violations for '$m':\n${rows.mkString("\n")}"
      }.mkString) {
  def sample: Seq[String] = samplesByCheck.headOption.map(_._2).getOrElse(Nil)
}

/** Distributed DataFrame validator — Spark-first re-design of flycatcher's
  * `PolarsValidator` (src/flycatcher/generators/polars.py:16; validate
  * loop polars.py:96-258).
  *
  * Scale-critical deviation from the reference: flycatcher evaluates each
  * constraint with its own `df.filter(...)` pass (O(constraints) scans).
  * Here every mode is a constant number of Catalyst jobs regardless of
  * constraint count:
  *
  *   - [[filterValid]]: ONE conjunctive predicate → one codegen'd scan,
  *     pushdown-eligible.
  *   - [[report]] / strict [[validate]]: ONE aggregate computing all
  *     violation counts via `sum(when(!ok, 1))` (map-side partial agg →
  *     a single tiny shuffle).
  *
  * Null semantics: a constraint on a null value PASSES (nullability is a
  * separate, explicit check). The reference is internally inconsistent
  * here (strict mode ignores null rows, filter mode drops them); we pick
  * the consistent Kleene-friendly rule and document it.
  */
final class Validator(val schema: GSchema) {

  /** (message, validColumn) — validColumn is null-safe: null ⇒ pass.
    *
    * Pushdown-friendly compilation: a `coalesce(pred, true)` wrapper
    * would block parquet predicate pushdown (only IsNotNull reaches the
    * scan). Instead:
    *   - non-nullable field constraints stay BARE (the null-check
    *     conjunct already excludes null rows, and a null predicate is
    *     not counted as a violation in report mode) → min/max row-group
    *     pruning works at the scan;
    *   - nullable field constraints become `pred OR col IS NULL`, which
    *     parquet can push as an Or filter;
    *   - model-level checks (multi-column) keep the coalesce wrapper.
    */
  def compiledChecks: Seq[(String, Column)] = {
    val nullChecks = schema.fields.filterNot(_.nullable).map { f =>
      s"${f.name} must not be null" -> F.col(f.name).isNotNull
    }
    val fieldChecks = schema.fields.flatMap { f =>
      f.checks.map { ch =>
        val pred = ch.expr.toColumn
        ch.message -> (if (f.nullable) pred || F.col(f.name).isNull else pred)
      }
    }
    val modelChecks = schema.modelChecks.map { ch =>
      ch.message -> F.coalesce(ch.expr.toColumn, F.lit(true))
    }
    nullChecks ++ fieldChecks ++ modelChecks
  }

  /** Missing-column handling + defaults + cast + prune/order — analog of
    * the coercion prelude of PolarsValidator.validate. */
  def coerce(df: DataFrame, fillNulls: Boolean = false): DataFrame = {
    val present = df.columns.toSet
    val missingRequired = schema.fields
      .filterNot(f => present(f.name) || f.default.isDefined)
      .map(_.name)
    if (missingRequired.nonEmpty)
      throw new IllegalArgumentException(
        s"Missing required columns: ${missingRequired.mkString(", ")}")

    val cols = schema.fields.map { f =>
      // try_cast: malformed values become null (the reference's polars
      // cast(strict=False)) instead of throwing under ANSI mode; the
      // nullability checks then flag or filter them
      val base =
        if (present(f.name)) F.col(f.name).try_cast(f.dataType)
        else F.lit(f.default.get).cast(f.dataType)
      val filled =
        if (fillNulls && f.default.isDefined && present(f.name))
          F.coalesce(base, F.lit(f.default.get).cast(f.dataType))
        else base
      // a default is not-null to Catalyst: keep a nullable field nullable
      // (widen only — never mark not-null what the checks have not seen)
      if (f.nullable && f.default.isDefined && (fillNulls || !present(f.name)))
        ColumnBridge.column(KnownNullable(ColumnBridge.expression(filled))).as(f.name)
      else filled.as(f.name)
    }
    df.select(cols: _*)
  }

  /** Filter mode (reference strict=False): single conjunctive predicate. */
  def filterValid(df: DataFrame, fillNulls: Boolean = false): DataFrame = {
    val coerced = coerce(df, fillNulls)
    compiledChecks.map(_._2).reduceOption(_ && _) match {
      case Some(all) => coerced.filter(all)
      case None      => coerced
    }
  }

  /** Per-constraint violation counts in ONE aggregate pass.
    * Output: (check_name string, violations long), constraint order. */
  def report(df: DataFrame, fillNulls: Boolean = false): DataFrame = {
    val coerced = coerce(df, fillNulls)
    val checks = compiledChecks
    val aggs = checks.zipWithIndex.map { case ((_, ok), i) =>
      // coalesce: sum over an EMPTY frame is null, which would read as
      // a null violation count (and NPE strict mode)
      F.coalesce(F.sum(F.when(!ok, 1L).otherwise(0L)), F.lit(0L)).as(s"_c$i")
    }
    val counted = coerced.agg(aggs.head, aggs.tail: _*)
    val pairs = checks.zipWithIndex.map { case ((msg, _), i) =>
      F.struct(F.lit(msg).as("check_name"), F.col(s"_c$i").as("violations"))
    }
    counted
      .select(F.explode(F.array(pairs: _*)).as("r"))
      .select(F.col("r.check_name"), F.col("r.violations"))
  }

  /** Up to `n` sample rows PER violated constraint in ONE extra pass
    * (the reference rescans per constraint for its `head(10)` —
    * generators/polars.py:237-253): rows violating ANY constraint are
    * tagged with each constraint they violate, exploded, and reduced
    * through the bounded top-k heap aggregate — ≤ n rows per constraint
    * cross the shuffle, never the violating set itself.
    * Output: (check_name string, sample_row json-string). */
  def violationSamples(
      df: DataFrame, n: Int = 5, fillNulls: Boolean = false): DataFrame = {
    val coerced = coerce(df, fillNulls)
    val checks = compiledChecks
    val spark = df.sparkSession
    checks.map(c => !c._2).reduceOption(_ || _) match {
      case None =>
        spark.emptyDataFrame
          .select(F.lit("").as("check_name"), F.lit("").as("sample_row"))
          .limit(0)
      case Some(anyBad) =>
        val rowJson = F.to_json(F.struct(coerced.columns.map(F.col): _*))
        coerced.filter(anyBad)
          .select(F.explode(F.filter(F.array(checks.map { case (msg, ok) =>
            F.when(!ok,
              F.struct(F.lit(msg).as("check_name"), rowJson.as("row_json")))
          }: _*), _.isNotNull)).as("v"))
          .groupBy(F.col("v.check_name").as("check_name"))
          .agg(F.transform(
            graft.functions.TopKFunctions.topK(
              F.struct(F.col("v.row_json").as("row_json")), n),
            x => x.getField("row_json")).as("_rows"))
          .select(F.col("check_name"), F.explode(F.col("_rows")).as("sample_row"))
    }
  }

  /** Strict mode: throw on any violation, with counts + per-constraint
    * sample rows. One aggregate job; two tiny jobs only on the failure
    * path (counts, then one bounded samples pass over the violating
    * rows — NOT one scan per constraint like the reference). */
  def validate(
      df: DataFrame,
      strict: Boolean = true,
      fillNulls: Boolean = false,
      showViolations: Boolean = false): DataFrame = {
    if (!strict) {
      val out = filterValid(df, fillNulls)
      if (showViolations) {
        report(df, fillNulls).show(100, truncate = false)
        violationSamples(df, n = 10, fillNulls).show(100, truncate = false)
      }
      return out
    }
    val coerced = coerce(df, fillNulls)
    val counts = report(df, fillNulls).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val bad = counts.filter(_._2 > 0)
    if (bad.nonEmpty) {
      val sampleRows = violationSamples(df, n = 5, fillNulls).collect()
        .map(r => r.getString(0) -> r.getString(1))
      val byCheck = sampleRows.groupBy(_._1).view.mapValues(_.map(_._2).toSeq)
      // constraint order, so the message lists samples deterministically
      val ordered = bad.toSeq.map { case (msg, _) =>
        msg -> byCheck.getOrElse(msg, Nil)
      }
      throw new SchemaViolationException(bad.toSeq, ordered)
    }
    coerced
  }

  /** Human-readable constraint list (reference: describe_constraints). */
  def describeConstraints: Seq[String] = compiledChecks.map(_._1)

  /** Distributed uniqueness check for fields declared unique=true (or
    * primaryKey): keys occurring more than once. One shuffle per field.
    * (The reference only records `unique` as SQLAlchemy metadata — here
    * it is actually enforceable at scale.) */
  def uniqueViolations(df: DataFrame): DataFrame = {
    val uniqueFields = schema.fields.filter(f => f.unique || f.primaryKey).map(_.name)
    if (uniqueFields.isEmpty) {
      return df.sparkSession.emptyDataFrame
        .select(F.lit("").as("field"), F.lit("").as("key_value"), F.lit(0L).as("occurrences"))
        .limit(0)
    }
    // ONE scan for any number of unique fields: explode each row into
    // (field, value) pairs, then a single groupBy — at 100 TB the extra
    // N−1 table scans of the per-field form dwarf the (same-sized)
    // shuffle this costs
    df.select(F.explode(F.array(uniqueFields.map(fn =>
      F.struct(F.lit(fn).as("field"), F.col(fn).cast("string").as("key_value"))): _*))
      .as("_p"))
      .select(F.col("_p.field").as("field"), F.col("_p.key_value").as("key_value"))
      .groupBy("field", "key_value")
      .agg(F.count(F.lit(1)).as("occurrences"))
      .filter(F.col("occurrences") > 1)
  }
}

/** Row-level validation — the Pydantic analog (reference
  * generators/pydantic.py:15 create_pydantic_model, validators attached
  * pydantic.py:70-116). The checks [[Validator.compiledChecks]] wraps
  * compile once into a [[graft.dsl.RowEval]] (no SparkSession, no job).
  *
  * Input values are COERCED onto the declared field types before
  * constraint evaluation (pydantic lax-mode construction semantics:
  * `"5"` parses for a long field, garbage fails with a cast message) —
  * the row-path twin of the bulk path's `try_cast` in
  * [[Validator.coerce]]. */
final class RowValidator(val schema: GSchema) {

  import org.apache.spark.sql.types._

  private val checks = schema.allChecks
  private val eval = graft.dsl.RowEval(checks.map(_.expr),
    schema.fields.map(f => f.name -> f.dataType))

  /** Lax coercion of one non-null raw value onto `f.dataType`'s own JVM
    * type. Accepted conversions mirror pydantic lax mode: numeric strings
    * and whole floats for integer fields (in range); numerics and numeric
    * strings for double fields; "true"/"false"/0/1 for booleans; ISO-8601
    * strings for timestamps/dates. Unknown target types pass through. */
  private def coerceValue(f: GField, v: Any): Either[String, Any] = {
    def fail: Either[String, Any] =
      Left(s"${f.name}: cannot coerce '$v' to ${f.dataType.simpleString}")
    try {
      f.dataType match {
        case LongType | IntegerType | ShortType =>
          val x: Long = v match {
            case x: Long    => x
            case x: Int     => x.toLong
            case x: Short   => x.toLong
            case x: Byte    => x.toLong
            case x: Double if x.isWhole => x.toLong
            case x: Float if x.isWhole  => x.toLong
            case x: Boolean => if (x) 1L else 0L // python bool <: int
            case x: String  => x.trim.toLong
            case _          => return fail
          }
          f.dataType match {
            case IntegerType => if (x.isValidInt) Right(x.toInt) else fail
            case ShortType   => if (x.isValidShort) Right(x.toShort) else fail
            case _           => Right(x)
          }
        case DoubleType => v match {
          case x: Double => Right(x)
          case x: Float  => Right(x.toDouble)
          case x: Long   => Right(x.toDouble)
          case x: Int    => Right(x.toDouble)
          case x: Short  => Right(x.toDouble)
          case x: String => Right(x.trim.toDouble)
          case _         => fail
        }
        case BooleanType => v match {
          case x: Boolean => Right(x)
          case 0L | 0     => Right(false)
          case 1L | 1     => Right(true)
          case x: String  => x.trim.toLowerCase match {
            case "true" | "1"  => Right(true)
            case "false" | "0" => Right(false)
            case _             => fail
          }
          case _ => fail
        }
        case StringType => v match { // pydantic v2 lax does NOT stringify numbers
          case x: String => Right(x)
          case _         => fail
        }
        case TimestampType => v match {
          case x: java.time.Instant   => Right(x)
          case x: java.sql.Timestamp  => Right(x.toInstant)
          case x: String =>
            try Right(java.time.Instant.parse(x.trim))
            catch { // date-time without zone: read as UTC
              case _: java.time.format.DateTimeParseException =>
                Right(java.time.LocalDateTime.parse(x.trim)
                  .toInstant(java.time.ZoneOffset.UTC))
            }
          case _ => fail
        }
        case DateType => v match {
          case x: java.time.LocalDate => Right(x)
          case x: java.sql.Date       => Right(x.toLocalDate)
          case x: String              => Right(java.time.LocalDate.parse(x.trim))
          case _                      => fail
        }
        case _ => Right(v) // GTyped free types: no coercion surface
      }
    } catch { case _: NumberFormatException | _: java.time.format.DateTimeParseException => fail }
  }

  /** Returns failure messages (empty ⇒ valid). */
  def check(row: Map[String, Any]): Seq[String] = {
    val missingFields = schema.fields
      .filterNot(f => row.contains(f.name) || f.default.isDefined || f.nullable)
    val missing = missingFields.map(f => s"${f.name} is required")
    val missingNames = missingFields.map(_.name).toSet
    val withDefaults = schema.fields.flatMap { f =>
      (row.get(f.name).filter(_ != null) match {
        case some @ Some(_) => some
        case None           => f.default
      }).map(f.name -> _)
    }.toMap
    val nullViolations = schema.fields
      .filterNot(_.nullable)
      .filterNot(f => missingNames(f.name)) // already reported as required
      .filter(f => withDefaults.getOrElse(f.name, null) == null)
      .map(f => s"${f.name} must not be null")
    // coerce per field; a failed coercion is reported once and the field
    // is withheld from constraint eval (its checks are unevaluable)
    val fieldByName = schema.fields.map(f => f.name -> f).toMap
    val coercions = withDefaults.map { case (k, v) =>
      k -> fieldByName.get(k).map(coerceValue(_, v)).getOrElse(Right(v))
    }
    val coerceErrors = schema.fields.flatMap(f =>
      coercions.get(f.name).collect { case Left(m) => m })
    val coerced = coercions.collect { case (k, Right(v)) => k -> v }
    val results = eval(coerced)
    // a check referencing a missing, null or uncoercible field is
    // skipped (that field is already reported, or null ⇒ pass); a null
    // result passes too, consistent with Validator
    val constraintViolations = checks.indices.collect {
      case i if eval.refs(i).forall(coerced.contains) && results(i) == false =>
        checks(i).message
    }
    missing ++ nullViolations ++ coerceErrors ++ constraintViolations
  }

  def isValid(row: Map[String, Any]): Boolean = check(row).isEmpty
}
