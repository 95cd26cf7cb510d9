package graft

import graft.dsl._
import graft.schema._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Mirrors reference tests/generators/test_polars.py: validation modes,
  * defaults, coercion, nulls, cross-field validators. */
class ValidatorSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = GSchema("ProductSchema")
    .field(GLong("id", primaryKey = true))
    .field(GString("name", minLength = Some(3)))
    .field(GDouble("price", gt = Some(0.0)))
    .field(GDouble("discount_price", nullable = true))
    .check(col("discount_price").isNull | (col("discount_price") < col("price")),
      "Discount price must be less than regular price")

  private def df(rows: Seq[Row]) = spark.createDataFrame(
    rows.asJava,
    StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("price", DoubleType), StructField("discount_price", DoubleType))))

  private val good = Row(1L, "Widget", 10.0, 8.0)
  private val badName = Row(2L, "ab", 5.0, null)
  private val badPrice = Row(3L, "Gadget", -1.0, null)
  private val badDiscount = Row(4L, "Gizmo", 5.0, 7.0)

  test("valid rows pass strict mode") {
    val out = schema.validator.validate(df(Seq(good)), strict = true)
    assert(out.count() == 1)
  }

  test("strict mode throws with per-constraint counts and samples") {
    val e = intercept[SchemaViolationException] {
      schema.validator.validate(df(Seq(good, badName, badPrice, badDiscount)), strict = true)
    }
    assert(e.violations.toMap.apply("name must have at least 3 characters") == 1L)
    assert(e.violations.toMap.apply("price must be > 0.0") == 1L)
    assert(e.violations.toMap.apply("Discount price must be less than regular price") == 1L)
    assert(e.sample.nonEmpty)
  }

  test("strict mode carries sample rows for EVERY violated constraint") {
    // reference parity (generators/polars.py:237-253): each violated
    // constraint records its own sample rows, not just the first
    val e = intercept[SchemaViolationException] {
      schema.validator.validate(df(Seq(good, badName, badPrice, badDiscount)), strict = true)
    }
    val byCheck = e.samplesByCheck.toMap
    assert(byCheck.size >= 3)
    val nameSamples = byCheck("name must have at least 3 characters")
    assert(nameSamples.nonEmpty && nameSamples.forall(_.contains("\"ab\"")))
    val priceSamples = byCheck("price must be > 0.0")
    assert(priceSamples.nonEmpty && priceSamples.forall(_.contains("-1.0")))
    val discSamples = byCheck("Discount price must be less than regular price")
    assert(discSamples.nonEmpty && discSamples.forall(_.contains("Gizmo")))
    // the message surfaces each constraint's section
    assert(e.getMessage.contains("Sample violations for 'price must be > 0.0'"))
  }

  test("violationSamples caps at n per constraint, one bounded pass") {
    val manyBad = (1 to 20).map(i => Row(100L + i, "xy", 5.0, null))
    val rows = schema.validator.violationSamples(df(manyBad), n = 3)
      .collect().map(r => r.getString(0) -> r.getString(1))
    val grouped = rows.groupBy(_._1)
    assert(grouped.keySet == Set("name must have at least 3 characters"))
    assert(grouped.values.head.length == 3)
  }

  test("filter mode drops only invalid rows") {
    val out = schema.validator.validate(
      df(Seq(good, badName, badPrice, badDiscount)), strict = false)
    assert(out.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("report mode counts violations in one pass") {
    val rep = schema.validator.report(df(Seq(good, badName, badPrice, badDiscount)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("name must have at least 3 characters") == 1L)
    assert(rep("id must not be null") == 0L)
  }

  test("missing required column raises") {
    val e = intercept[IllegalArgumentException] {
      schema.validator.coerce(df(Seq(good)).drop("name"))
    }
    assert(e.getMessage.contains("name"))
  }

  test("missing column with default is added; nullable null passes") {
    val s2 = schema.copy(fields = schema.fields :+
      GString("category", default = Some("general")))
    val out = s2.validator.validate(df(Seq(good)), strict = true)
    assert(out.select("category").head().getString(0) == "general")
  }

  test("fillNulls replaces nulls with defaults") {
    val s2 = GSchema("S")
      .field(GLong("id"))
      .field(GDouble("price", nullable = true, default = Some(1.5)))
    val in = spark.createDataFrame(
      Seq(Row(1L, null), Row(2L, 3.0)).asJava,
      StructType(Seq(StructField("id", LongType), StructField("price", DoubleType))))
    val out = s2.validator.validate(in, strict = true, fillNulls = true)
    assert(out.orderBy("id").collect().map(_.getDouble(1)).toSeq == Seq(1.5, 3.0))
  }

  test("non-nullable null fails strict, filtered in filter mode") {
    val in = df(Seq(good, Row(null, "Thing", 2.0, null)))
    val e = intercept[SchemaViolationException] {
      schema.validator.validate(in, strict = true)
    }
    assert(e.violations.toMap.apply("id must not be null") == 1L)
    assert(schema.validator.validate(in, strict = false).count() == 1)
  }

  test("coercion casts and prunes to schema order") {
    val in = spark.createDataFrame(
      Seq(Row("7", "Widget", "9.5", null, "extra")).asJava,
      StructType(Seq(
        StructField("id", StringType), StructField("name", StringType),
        StructField("price", StringType), StructField("discount_price", StringType),
        StructField("junk", StringType))))
    val out = schema.validator.coerce(in)
    assert(out.columns.toSeq == Seq("id", "name", "price", "discount_price"))
    assert(out.schema("id").dataType == LongType)
    assert(out.head().getDouble(2) == 9.5)
  }

  test("constraint on null value passes (nullability handled separately)") {
    val out = schema.validator.validate(df(Seq(Row(5L, "Thing", 2.0, null))), strict = true)
    assert(out.count() == 1)
  }

  test("showViolations prints the report without altering the result") {
    val out = schema.validator.validate(
      df(Seq(good, badName)), strict = false, showViolations = true)
    assert(out.count() == 1)
  }

  test("empty DataFrame validates cleanly in every mode") {
    val empty = df(Seq())
    assert(schema.validator.validate(empty, strict = true).count() == 0)
    assert(schema.validator.validate(empty, strict = false).count() == 0)
    val rep = schema.validator.report(empty).collect()
    assert(rep.nonEmpty && rep.forall(_.getLong(1) == 0L))
  }

  test("corrupt values survive coercion as nulls and are caught by checks") {
    import org.apache.spark.sql.types.{StringType, StructField => SF, StructType => ST}
    val in = spark.createDataFrame(
      Seq(Row("7", "Widget", "9.5", null),
          Row("oops", "Gadget", "not-a-number", null)).asJava,
      ST(Seq(SF("id", StringType), SF("name", StringType),
        SF("price", StringType), SF("discount_price", StringType))))
    // cast failures → null → non-nullable checks flag them
    val out = schema.validator.validate(in, strict = false)
    assert(out.select("id").collect().map(_.getLong(0)).toSeq == Seq(7L))
    val rep = schema.validator.report(in).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("id must not be null") == 1L)
    assert(rep("price must not be null") == 1L)
  }

  test("uniqueViolations finds duplicate keys") {
    val in = df(Seq(good, Row(1L, "Other", 2.0, null), Row(2L, "Third", 3.0, null)))
    val v = schema.validator.uniqueViolations(in).collect()
    assert(v.length == 1)
    assert(v.head.getString(1) == "1")
    assert(v.head.getLong(2) == 2L)
  }

  test("a defaulted nullable field keeps its declared nullability") {
    import spark.implicits._
    val s = GSchema("S").field(GLong("id"))
      .field(GLong("v", nullable = true, default = Some(7L)))
      .field(GLong("w", default = Some(1L)))
    val out = s.validator.validate(Seq(3L).toDF("id"))
    assert(out.schema("v").nullable)
    assert(!out.schema("w").nullable) // widen only: required stays as Catalyst infers
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 7L)))
    val filled = s.validator.validate(
      Seq((3L, Option.empty[Long], 2L)).toDF("id", "v", "w"), fillNulls = true)
    assert(filled.schema("v").nullable)
    assert(filled.collect().map(_.getLong(1)).toSeq == Seq(7L))
  }
}
