package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** One field's change between two schema versions. */
final case class FieldChange(
    name: String, from: GField, to: GField, changes: Seq[String])

/** Structural diff between two [[GSchema]] versions — the schema-
  * EVOLUTION half of the schema layer (the reference stops at
  * definition; any long-lived table needs v1 → v2 some day).
  *
  * Drives three things:
  *  - [[alterStatements]] — the Spark SQL DDL to evolve the TABLE,
  *  - [[breaking]] — the changes that can LOSE information and need an
  *    explicit backfill decision (dropped columns, type narrowings,
  *    nullable→required),
  *  - [[Evolution.migrate]] — the DataFrame rewrite for the DATA.
  */
final case class SchemaDiff(
    added: Seq[GField],
    removed: Seq[GField],
    changed: Seq[FieldChange]) {

  def isEmpty: Boolean = added.isEmpty && removed.isEmpty && changed.isEmpty

  /** Spark SQL (v2 table) ALTER statements realizing this diff. Added
    * columns carry their DEFAULT, and NOT NULL only when a default
    * exists (a required no-default add can't be satisfied on existing
    * rows — it appears in [[breaking]] instead). */
  def alterStatements(table: String): Seq[String] = {
    def lit(v: Any): String = v match {
      case s: String => "'" + s.replace("'", "''") + "'"
      case other     => String.valueOf(other)
    }
    val adds =
      if (added.isEmpty) Nil
      else Seq("ALTER TABLE " + table + " ADD COLUMNS (" +
        added.map { f =>
          val default = f.default.map(d => s" DEFAULT ${lit(d)}").getOrElse("")
          val notNull =
            if (!f.nullable && f.default.isDefined) " NOT NULL" else ""
          s"${f.name} ${f.dataType.sql}$notNull$default"
        }.mkString(", ") + ")")
    val drops = removed.map(f => s"ALTER TABLE $table DROP COLUMN ${f.name}")
    val alters = changed.flatMap { c =>
      val tpe =
        if (c.from.dataType != c.to.dataType)
          Seq(s"ALTER TABLE $table ALTER COLUMN ${c.name} TYPE ${c.to.dataType.sql}")
        else Nil
      val nullability =
        if (c.from.nullable != c.to.nullable)
          Seq(s"ALTER TABLE $table ALTER COLUMN ${c.name} " +
            (if (c.to.nullable) "DROP NOT NULL" else "SET NOT NULL"))
        else Nil
      tpe ++ nullability
    }
    adds ++ drops ++ alters
  }

  /** Information-losing changes that need an explicit decision before
    * the migration runs (the reviewable "this will destroy data"
    * checklist, not an exception — some are intended). */
  def breaking: Seq[String] = {
    val drops = removed.map(f => s"drop column ${f.name}")
    val narrows = changed.collect {
      case c if Evolution.narrows(c.from.dataType, c.to.dataType) =>
        s"narrow ${c.name}: ${c.from.dataType.sql} -> ${c.to.dataType.sql}"
    }
    val required = changed.collect {
      case c if c.from.nullable && !c.to.nullable =>
        s"require ${c.name}: nullable -> NOT NULL"
    }
    val requiredAdds = added.collect {
      case f if !f.nullable && f.default.isEmpty =>
        s"add required column ${f.name} with no default"
    }
    drops ++ narrows ++ required ++ requiredAdds
  }
}

object Evolution {

  /** Does casting `from` → `to` potentially lose information?
    * Widening within a family (numeric, temporal, decimal) is safe;
    * strings absorb everything; every OTHER cross-type conversion is
    * conservatively flagged (unknown ≠ safe — the report exists to make
    * a human decide).
    *
    * Integral → floating counts as narrowing when the float's MANTISSA
    * is smaller than the integer's width: int/long → float (24-bit
    * mantissa) and long → double (53-bit) silently lose precision on
    * large values even though a naive "float is wider" rank says safe.
    * short → float/double and int → double are exact, hence safe. */
  private[graft] def narrows(from: DataType, to: DataType): Boolean = {
    // significant bits a value of the type can carry (integral: value
    // bits; floating: mantissa incl. the implicit leading 1)
    def intBits(dt: DataType): Option[Int] = dt match {
      case BooleanType => Some(1)
      case ShortType => Some(15)
      case IntegerType => Some(31)
      case LongType => Some(63)
      case _ => None
    }
    def mantissaBits(dt: DataType): Option[Int] = dt match {
      case FloatType => Some(24)
      case DoubleType => Some(53)
      case _ => None
    }
    def numRank(dt: DataType): Option[Int] = dt match {
      case BooleanType => Some(0)
      case ShortType => Some(1)
      case IntegerType => Some(2)
      case LongType => Some(3)
      case FloatType => Some(4)
      case DoubleType => Some(5)
      case _ => None
    }
    def timeRank(dt: DataType): Option[Int] = dt match {
      case DateType => Some(0)
      case TimestampType => Some(1)
      case _ => None
    }
    (from, to) match {
      case (f, t) if f == t => false
      case (_, StringType) => false // strings absorb everything
      case (f: DecimalType, t: DecimalType) =>
        t.precision < f.precision || t.scale < f.scale
      case (f, t) if intBits(f).isDefined && mantissaBits(t).isDefined =>
        mantissaBits(t).get < intBits(f).get // integral → floating
      case (f, t) if numRank(f).isDefined && numRank(t).isDefined =>
        numRank(t).get < numRank(f).get
      case (f, t) if timeRank(f).isDefined && timeRank(t).isDefined =>
        timeRank(t).get < timeRank(f).get
      case _ => true // cross-family conversion: flag for review
    }
  }

  /** Delta Lake's append rule (Armbrust et al., VLDB 2020): names, order
    * and types must match (else Left, the refusal); the table's schema
    * is then Right, nullable where either side is. */
  def appendable(committed: StructType, incoming: StructType): Either[String, StructType] =
    if (committed.map(f => (f.name, f.dataType)) == incoming.map(f => (f.name, f.dataType)))
      Right(StructType(committed.zip(incoming).map {
        case (c, i) => i.copy(nullable = c.nullable || i.nullable) }))
    else Left(s"append schema ${incoming.simpleString} is incompatible with " +
      s"committed snapshot schema ${committed.simpleString}")

  /** Structural diff `from` → `to`. A field counts as changed when its
    * data type, nullability or default differs; constraint-only changes
    * (ge/le/pattern/…) are listed too — they don't alter storage but do
    * alter what validates. */
  def diff(from: GSchema, to: GSchema): SchemaDiff = {
    val fromMap = from.fieldMap
    val toMap = to.fieldMap
    val added = to.fields.filterNot(f => fromMap.contains(f.name))
    val removed = from.fields.filterNot(f => toMap.contains(f.name))
    val changed = to.fields.flatMap { t =>
      fromMap.get(t.name).flatMap { f =>
        val deltas = Seq(
          if (f.dataType != t.dataType)
            Some(s"type ${f.dataType.sql} -> ${t.dataType.sql}") else None,
          if (f.nullable != t.nullable)
            Some(s"nullable ${f.nullable} -> ${t.nullable}") else None,
          if (f.default != t.default)
            Some(s"default ${f.default} -> ${t.default}") else None,
          if (f.checks.map(_.message) != t.checks.map(_.message))
            Some("constraints changed") else None).flatten
        if (deltas.isEmpty) None else Some(FieldChange(t.name, f, t, deltas))
      }
    }
    SchemaDiff(added, removed, changed)
  }

  /** Migrate v1-shaped DATA to the v2 schema: drop removed columns, add
    * added columns from their defaults, try_cast changed types, emit in
    * v2 field order — exactly the target schema's coercion, which is the
    * point: migration IS coercion against the new version (single narrow
    * projection, codegen'd, no shuffle at any scale). */
  def migrate(df: DataFrame, to: GSchema, fillNulls: Boolean = false): DataFrame =
    to.validator.coerce(df, fillNulls)
}
