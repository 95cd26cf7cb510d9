package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Schema-enforced reads of dirty csv/json: PERMISSIVE nulls malformed
  * fields (caught downstream by the validator), DROPMALFORMED removes
  * the rows, FAILFAST raises — the three ingestion policies a pipeline
  * chooses between at the edge. */
class MalformedSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType)))

  private def writeCsv(): String = {
    val dir = SparkSpec.tempDir("bad_csv")
    java.nio.file.Files.writeString(dir.resolve("part-0.csv"),
      "id,score\n1,1.5\n2\n3,3.25\n")
    dir.toString
  }

  test("PERMISSIVE nulls the missing field; validator quarantines the row") {
    val df = spark.read.schema(schema).option("header", "true")
      .option("mode", "PERMISSIVE").csv(writeCsv())
    assert(df.count() == 3)
    assert(df.filter(F.col("score").isNull).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // the schema layer then drops it: score declared non-nullable
    val g = graft.schema.GSchema("S")
      .field(graft.schema.GLong("id"))
      .field(graft.schema.GDouble("score"))
    assert(g.validator.filterValid(df).count() == 2)
  }

  test("DROPMALFORMED removes the row at the source") {
    val df = spark.read.schema(schema).option("header", "true")
      .option("mode", "DROPMALFORMED").csv(writeCsv())
    // collect the full row: column pruning would let the parser skip the
    // malformed field and keep the row
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("FAILFAST raises on the malformed record") {
    val df = spark.read.schema(schema).option("header", "true")
      .option("mode", "FAILFAST").csv(writeCsv())
    intercept[org.apache.spark.SparkException] { df.collect() }
  }
}
