package graft.schema

import graft.dsl.Expr
import org.apache.spark.sql.types._

/** Schema definition — re-expression of flycatcher's `Schema` class
  * (src/flycatcher/base.py:172; metaclass field collection base.py:11)
  * in builder form.
  *
  * One definition yields three artifacts, mirroring the reference's
  * to_polars_validator / to_pydantic / to_sqlalchemy:
  *
  *   - [[structType]]  — Catalyst `StructType` (the columnar schema),
  *   - [[validator]]   — a distributed DataFrame validator ([[Validator]]),
  *   - [[rowValidator]] — per-record validation ([[RowValidator]], the
  *     Pydantic analog),
  *   - [[ddl]]         — Spark SQL `CREATE TABLE` (the SQLAlchemy analog).
  *
  * Cross-field validators (reference `@model_validator`, base.py:385)
  * are added with [[check]].
  */
final case class GSchema(
    name: String,
    fields: Seq[GField] = Nil,
    modelChecks: Seq[Check] = Nil) {

  def field(f: GField): GSchema = copy(fields = fields :+ f)

  /** Schema inheritance: parent fields/checks come first, same-name
    * fields in THIS schema override the parent's (the behavior the
    * reference documents as intended — base.py:24 TODO + test_schema.py
    * test_inherited_fields_collected). */
  def extend(parent: GSchema): GSchema = {
    val ownNames = fields.map(_.name).toSet
    copy(
      fields = parent.fields.filterNot(f => ownNames(f.name)) ++ fields,
      modelChecks = parent.modelChecks ++ modelChecks)
  }
  def check(expr: Expr, message: String): GSchema =
    copy(modelChecks = modelChecks :+ Check(expr, message))
  def check(expr: Expr): GSchema = check(expr, "Validation failed")

  def fieldMap: Map[String, GField] = fields.map(f => f.name -> f).toMap

  /** Catalyst schema (analog of PolarsValidator._build_polars_schema). */
  def structType: StructType = StructType(fields.map(_.structField))

  /** All constraints: field-level then model-level (reference
    * _build_constraints order). */
  def allChecks: Seq[Check] = fields.flatMap(_.checks) ++ modelChecks

  def validator: Validator       = new Validator(this)
  /** Compiled once per schema value (its checks' Catalyst analysis). */
  @transient lazy val rowValidator: RowValidator = new RowValidator(this)

  /** Spark SQL DDL — analog of to_sqlalchemy
    * (generators/sqlalchemy.py:14 create_sqlalchemy_table).
    * Spark has no enforced PK/UNIQUE; emitted as comments + table props.  */
  def ddl(tableName: String = defaultTableName, using: String = "parquet"): String = {
    def sqlLit(v: Any): String = v match {
      case s: String => "'" + s.replace("'", "''") + "'"
      case other     => String.valueOf(other)
    }
    val cols = fields.map { f =>
      val notNull = if (f.nullable) "" else " NOT NULL"
      val default = f.default.map(d => s" DEFAULT ${sqlLit(d)}").getOrElse("")
      val auto = f match {
        case l: GLong if l.autoincrement => Some("autoincrement")
        case _ => None
      }
      val tags = Seq(
        if (f.primaryKey) Some("primary key") else None,
        if (f.unique) Some("unique") else None,
        if (f.index) Some("index") else None,
        auto).flatten
      val comment = (f.description.toSeq ++ (if (tags.nonEmpty) Seq(tags.mkString(", ")) else Nil))
        .mkString("; ")
      val commentSql = if (comment.nonEmpty) s" COMMENT ${sqlLit(comment)}" else ""
      s"  ${f.name} ${f.dataType.sql}$notNull$default$commentSql"
    }
    s"CREATE TABLE $tableName (\n${cols.mkString(",\n")}\n) USING $using"
  }

  /** Reference naming rule (generators/sqlalchemy.py:42): strip
    * "Schema" suffix, lowercase, pluralize. */
  def defaultTableName: String =
    name.stripSuffix("Schema").toLowerCase + "s"
}
