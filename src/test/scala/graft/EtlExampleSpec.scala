package graft

import graft.dsl._
import graft.schema._

/** End-to-end ETL mirror of reference examples/etl_pipeline.py:
  * one schema definition → csv extract → bulk validate → parquet load,
  * plus the same schema doing row-level (API-side) validation. */
class EtlExampleSpec extends SparkSpec {
  import spark.implicits._

  private val orders = GSchema("EtlOrderSchema")
    .field(GLong("order_id", primaryKey = true))
    .field(GString("customer_email", pattern = Some("^[^@]+@[^@]+\\.[^@]+$"), index = true))
    .field(GDouble("amount", gt = Some(0.0)))
    .field(GDouble("tax", ge = Some(0.0)))
    .field(GDouble("total", gt = Some(0.0)))
    .check(col("total") === col("amount") + col("tax"),
      "Total must equal amount + tax")

  test("csv extract -> validate -> parquet load, one schema definition") {
    val dir = SparkSpec.tempDir("etl").toString
    Seq(
      "1,a@x.com,10.0,1.0,11.0",   // valid
      "2,bad-email,10.0,1.0,11.0", // bad email
      "3,c@x.com,10.0,1.0,12.0",   // total mismatch
      "4,d@x.com,20.5,0.0,20.5"    // valid
    ).toDF("line").coalesce(1).write.text(s"$dir/raw")

    val raw = spark.read.schema(
      "order_id STRING, customer_email STRING, amount STRING, tax STRING, total STRING")
      .csv(s"$dir/raw")

    // coercion (string→typed) + filter-mode validation in one plan
    val validated = orders.validator.validate(raw, strict = false)
    validated.write.mode("overwrite").parquet(s"$dir/validated")

    val back = spark.read.parquet(s"$dir/validated")
    assert(back.select("order_id").collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    assert(back.schema("amount").dataType.typeName == "double")

    // report explains what filter mode dropped
    val rep = orders.validator.report(raw).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("Total must equal amount + tax") == 1L)
    assert(rep.apply("customer_email must match pattern: ^[^@]+@[^@]+\\.[^@]+$") == 1L)
  }

  test("the same schema validates single records API-side") {
    val rv = orders.rowValidator
    assert(rv.isValid(Map("order_id" -> 5L, "customer_email" -> "e@x.com",
      "amount" -> 3.0, "tax" -> 0.5, "total" -> 3.5)))
    assert(rv.check(Map("order_id" -> 6L, "customer_email" -> "f@x.com",
      "amount" -> 3.0, "tax" -> 0.5, "total" -> 4.0))
      == Seq("Total must equal amount + tax"))
  }

  test("describeConstraints lists every compiled check") {
    val d = orders.validator.describeConstraints
    assert(d.contains("amount must be > 0.0"))
    assert(d.contains("Total must equal amount + tax"))
    assert(d.count(_.endsWith("must not be null")) == 5)
  }
}
