package graft

import graft.queries.Tables

/** [[graft.queries.Inputs]], the one resolve-once read of every table, staged
  * artifact and streaming input: once a session has read an input,
  * building a query over it starts no Spark job, and an input rewritten
  * at the same path is read anew. */
class InputsSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) =
    org.apache.spark.TestListenerBus.countingJobs(spark.sparkContext) { jobs =>
      val r = body
      (r, jobs())
    }

  test("after a first read, building agg_q1 and join_salted starts no Spark job") {
    for (q <- Seq("agg_q1", "join_salted")) {
      val fn = SparkEntry.queries(q)
      val first = fn(spark, sf).collect()
      val (df, built) = jobsDuring(fn(spark, sf))
      assert(built == 0, s"$q: building over resolved inputs ran $built jobs")
      assert(df.collect().toSeq == first.toSeq, q)
    }
    graft.operators.CacheScope.release(spark)
  }

  test("two reads of one input in one plan stay two sides of a self-join") {
    val a = Tables.t(spark, sf, "nation")
    val b = Tables.t(spark, sf, "nation")
    assert(a.columns.sameElements(b.columns))
    val joined = a.join(b, a("n_regionkey") === b("n_nationkey"))
    assert(joined.count() == a.where("n_regionkey < 25").count())
  }

  test("rewriting an input copy at the same path makes the next Tables.t return the new rows") {
    val dir = SparkSpec.tempDir("inputs_rewrite")
    val file = dir.resolve("region.parquet")
    val src = java.nio.file.Paths.get(sf, "region.parquet")
    java.nio.file.Files.copy(src, file)
    val before = Tables.t(spark, dir.toString, "region").count()
    assert(before == 5L)
    // the same path, rewritten with one row: the parquet of a filter
    val one = SparkSpec.tempDir("inputs_one")
    spark.read.parquet(src.toString).where("r_regionkey = 0")
      .coalesce(1).write.mode("overwrite").parquet(one.toString)
    val part = java.nio.file.Files.list(one).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(part, file,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.t(spark, dir.toString, "region").count() == 1L)
  }

  test("a missing input fails as an uncached read does") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.t(spark, sf, "no_such_table")
    }
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }
}
