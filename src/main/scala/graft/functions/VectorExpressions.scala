package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

/** Native Catalyst expression: dot product of two float vectors,
  * accumulated in double, sequential (index order — matches the
  * zip_with/aggregate fold and the DuckDB oracle's list fold, so results
  * are bit-identical across all three).
  *
  * Why a custom Expression instead of `aggregate(zip_with(...))`: the
  * higher-order-function path allocates a lambda frame per element and
  * boxes the accumulator; this node compiles to a tight primitive loop
  * inside whole-stage codegen — the difference is ~10× on 100 TB of
  * 64-dim vectors. Falls back to interpreted `nullSafeEval` identically.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"float_dot expects two array<float> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: dot product of two long vectors (int8-
  * quantized embeddings), accumulated in long — exact integer
  * arithmetic, no rounding discipline needed anywhere. Same rationale
  * as [[FloatDotProduct]]: the `aggregate(zip_with(...))` fold boxes
  * every element through lambda frames; this is a primitive loop in
  * whole-stage codegen. int8×int8 products cannot overflow a long
  * below ~2^46 dimensions. */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"long_dot expects two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: the portable 60-bit md5 hash —
  * semantically identical to `conv(substring(md5(c), 1, 15), 16, 10)`
  * (== the first 15 hex digits of the md5 as a base-16 number == the
  * first 8 digest bytes as an unsigned big-endian long >>> 4), but
  * without materializing the 32-char hex string or running conv's
  * string-parse loop. Every dedup/shingle operator hashes through this,
  * so the hex round-trip was pure overhead on the hot path.
  */
case class Md5Prefix60(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_prefix60 expects string, got ${dt.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"

  override def nullSafeEval(input: Any): Any =
    Md5Prefix60.hash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
    copy(child = newChild)
}

object Md5Prefix60 {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** First 15 hex digits of md5(utf8 bytes) as a long (always ≥ 0). */
  def hash(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
  }
}

/** Column-API + SQL-registry surface for the native vector functions. */
object VectorFunctions {

  /** Column surface: the expression is built DIRECTLY (via
    * [[org.apache.spark.sql.graft.ColumnBridge]]), not through the
    * per-session function registry — session-independent, so Columns
    * analyze correctly under newSession()/cross-thread use where a
    * call_function("float_dot", …) would hit UNRESOLVED_ROUTINE. The
    * SQL-name registry ([[register]]) remains for `spark.sql` users. */
  def floatDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(FloatDotProduct(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  def longDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(LongDotProduct(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  def floatNorm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(floatDot(a, a))

  /** Installs graft's SQL functions and plan rewrites
    * ([[GraftFunctions.register]]) on an existing session. */
  def register(spark: SparkSession): Unit = GraftFunctions.register(spark)
}

/** Every SQL function graft installs, as (name, expression class,
  * builder), and every optimizer rule. [[GraftExtensions]] injects both
  * lists at session build time and [[register]] installs them on an
  * existing session, so both routes expose the same names and rewrites. */
object GraftFunctions {
  private def intArg(e: Expression): Int = e.eval(null).asInstanceOf[Int]

  val sql: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] =
    Seq(
      ("float_dot", classOf[FloatDotProduct],
        e => FloatDotProduct(e(0), e(1))),
      ("long_dot", classOf[LongDotProduct], e => LongDotProduct(e(0), e(1))),
      ("md5_prefix60", classOf[Md5Prefix60], e => Md5Prefix60(e(0))),
      ("top_k", classOf[TopKStruct],
        e => TopKStruct(e(0), intArg(e(1))).toAggregateExpression()),
      ("top_k_distinct", classOf[TopKDistinct],
        e => TopKDistinct(e(0), intArg(e(1))).toAggregateExpression()))

  /** The plan rewrites, in the order both routes install them. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(graft.plans.TopKRewrite,
    graft.plans.SaltedAggRewrite, graft.plans.SaltedJoinRewrite)

  // Weak keys: a stopped session must not be pinned forever in a
  // long-lived JVM that builds many sessions.
  private val registered: java.util.Set[SparkSession] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Install [[sql]] and [[rules]] on an existing session (idempotent
    * and silent on repeat calls). */
  def register(spark: SparkSession): Unit = if (registered.add(spark)) {
    sql.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, build, "built-in")
    }
    val have = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = have ++ rules.filterNot(have.contains)
  }
}

/** Session extension (config: spark.sql.extensions=graft.functions.GraftExtensions)
  * injecting [[GraftFunctions.sql]] and [[GraftFunctions.rules]] at
  * session build time. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    GraftFunctions.sql.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    GraftFunctions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
