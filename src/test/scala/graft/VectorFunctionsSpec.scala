package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.{functions => F}

/** Native Catalyst FloatDotProduct: codegen path, interpreted path, SQL
  * registration, and agreement with the higher-order-function fold. */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (Array(0.5f, -1.5f, 2.5f), Array(-2.0f, 0.25f, 8.0f))).toDF("a", "b")

  test("native dot matches manual value") {
    val v = df.select(VectorFunctions.floatDot($"a", $"b")).collect().map(_.getDouble(0))
    assert(v(0) == 1.0 * 4 + 2.0 * 5 + 3.0 * 6)
    assert(math.abs(v(1) - (0.5 * -2.0 + -1.5 * 0.25 + 2.5 * 8.0)) < 1e-12)
  }

  test("native dot agrees bit-for-bit with zip_with/aggregate fold") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(100)
    val hof = F.aggregate(
      F.zip_with($"embedding", $"embedding", (x, y) => x.cast("double") * y.cast("double")),
      F.lit(0.0), (acc, x) => acc + x)
    val rows = emb.select(
      VectorFunctions.floatDot($"embedding", $"embedding").as("native"), hof.as("fold"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact
  }

  test("null inputs yield null") {
    val d = Seq((Array(1.0f), null.asInstanceOf[Array[Float]])).toDF("a", "b")
    assert(d.select(VectorFunctions.floatDot($"a", $"b")).head().isNullAt(0))
  }

  test("registered for SQL use") {
    VectorFunctions.register(spark)
    df.createOrReplaceTempView("vecs")
    val v = spark.sql("SELECT float_dot(a, b) FROM vecs").collect().map(_.getDouble(0))
    assert(v(0) == 32.0)
  }

  test("whole-stage codegen survives (no fallback to interpreted plan)") {
    // needs a non-local relation: local tables constant-fold away codegen
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = emb.select(VectorFunctions.floatDot($"embedding", $"embedding"))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*(1) Project") && plan.contains("float_dot"))
  }
}

class Md5Prefix60Spec extends SparkSpec {
  import org.apache.spark.sql.{functions => F}
  import spark.implicits._

  test("native md5_prefix60 equals the conv(substring(md5)) chain") {
    val rnd = new scala.util.Random(7)
    val strs = Seq("", "a", "hello world", "naïve ünïcode ✓") ++
      Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(40) + 1).mkString)
    val df = strs.toDF("s")
    val got = df.select(graft.operators.Hashing.hash60(F.col("s"))).collect()
      .map(_.getLong(0)).toSeq
    val ref = df.select(F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10)
      .cast("long")).collect().map(_.getLong(0)).toSeq
    assert(got == ref)
    // matches the driver-side constant hash too
    assert(strs.map(graft.operators.Hashing.hash60) == got)
  }

  test("md5_prefix60 null propagates") {
    val df = Seq(Some("x"), None).toDF("s")
    val got = df.select(graft.operators.Hashing.hash60(F.col("s"))).collect()
    assert(!got(0).isNullAt(0) && got(1).isNullAt(0))
  }

  test("hash60 Column is session-independent (no active session / newSession)") {
    // built with NO active session on the thread — must still analyze
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.clearActiveSession()
    val col = try graft.operators.Hashing.hash60(F.col("s"))
    finally active.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
    // …and analyzed under a DERIVED session whose registry never saw
    // md5_prefix60 (call_function would die with UNRESOLVED_ROUTINE)
    val s2 = spark.newSession()
    val got = s2.createDataFrame(Seq(Tuple1("abc"))).toDF("s")
      .select(col.as("h")).head().getLong(0)
    assert(got == graft.operators.Hashing.hash60("abc"))
  }

  test("long_dot: exact integer scores, fold agreement, SQL + codegen") {
    val d = Seq(
      (Seq(127L, -128L, 1L), Seq(2L, 3L, 100L)),
      (Seq(0L, 0L, 0L), Seq(1L, 1L, 1L))).toDF("a", "b")
    val v = d.select(VectorFunctions.longDot($"a", $"b")).collect().map(_.getLong(0))
    assert(v.toSeq == Seq(127L * 2 - 128L * 3 + 100L, 0L))
    // agreement with the higher-order fold on quantized corpus vectors
    val q = graft.operators.Similarity.quantizeInt8(
      spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding")
    val fold = F.aggregate(F.zip_with($"q", $"q", (x, y) => x * y),
      F.lit(0L), (acc, x) => acc + x)
    q.select(VectorFunctions.longDot($"q", $"q").as("native"), fold.as("fold"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // SQL registration
    VectorFunctions.register(spark)
    d.createOrReplaceTempView("lvecs")
    assert(spark.sql("SELECT long_dot(a, b) FROM lvecs").head().getLong(0) ==
      127L * 2 - 128L * 3 + 100L)
    // null propagation
    val dn = Seq((Seq(1L), null.asInstanceOf[Seq[Long]])).toDF("a", "b")
    assert(dn.select(VectorFunctions.longDot($"a", $"b")).head().isNullAt(0))
  }
}

class GraftExtensionsSpec extends SparkSpec {
  test("extension point applies cleanly (functions + optimizer rule)") {
    val fresh = spark.newSession()
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    val rules = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
      override def injectOptimizerRule(b: RuleBuilder): Unit = {
        rules += b(fresh)
        super.injectOptimizerRule(b)
      }
    }
    new graft.functions.GraftExtensions().apply(ext)
    // a session built with the extension must expose exactly the SQL
    // functions and optimizer rules the register calls install on an
    // existing session
    def names() = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet
    val builtin = names()
    graft.functions.VectorFunctions.register(fresh)
    graft.functions.TopKFunctions.register(fresh)
    val registered = names() -- builtin
    assert(injected.toSet == registered)
    assert(injected.size == registered.size, s"duplicates in $injected")
    assert(fresh.experimental.extraOptimizations == rules.toSeq)
  }
}
