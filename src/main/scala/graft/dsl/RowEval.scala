package graft.dsl

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.{SimpleAnalyzer, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** DSL expressions evaluated one row at a time on the calling thread by
  * Spark SQL's interpreted evaluator (Armbrust et al., SIGMOD 2015), over
  * the very Columns the bulk path compiles. No SparkSession, no job.
  *
  * Compiled once: the Columns (each [[Raw]] becomes an input of its
  * column's analyzed type, fed by its `rowFn`) are analyzed as a `Project`
  * over a `LocalRelation` of the `inputs`, checked, stripped of
  * `RuntimeReplaceable`s (`try_divide` evaluates only once replaced) and
  * bound. A row is one `InterpretedMutableProjection` over an
  * `InternalRow` built by `CatalystTypeConverters`. All of it runs under
  * one fixed `SQLConf` (time zone UTC, Spark's defaults otherwise), never
  * the active session's. Each thread evaluates its own copy of the bound
  * expressions: interpreted `RegExpReplace` keeps per-instance state.
  */
final class RowEval private (
    inputs: IndexedSeq[(String, DataType)],
    raws: IndexedSeq[(Raw, DataType)],
    live: IndexedSeq[Int],
    bound: Seq[Expression],
    /** Per expression, the fields it references; one that references a
      * field outside the inputs is not compiled and evaluates to null. */
    val refs: IndexedSeq[Set[String]]) {

  private val toCatalyst = (inputs.map(_._2) ++ raws.map(_._2))
    .map(CatalystTypeConverters.createToCatalystConverter)
  private val types = bound.map(_.dataType).toIndexedSeq
  private val toScala = types.map(CatalystTypeConverters.createToScalaConverter)
  private val used = inputs.indices.filter(i => live.exists(refs(_)(inputs(i)._1)))
  private val projection = ThreadLocal.withInitial[MutableProjection](() =>
    SQLConf.withExistingConf(RowEval.conf)(
      InterpretedMutableProjection.createProjection(bound.map(_.clone()))))

  /** Every expression's value over one row of plain values: a field
    * absent from `row` is null, each Raw's `rowFn` is called with `row`. */
  def apply(row: Map[String, Any]): Array[Any] = {
    val in = new Array[Any](toCatalyst.size)
    used.foreach(i => in(i) = toCatalyst(i)(row.getOrElse(inputs(i)._1, null)))
    raws.indices.foreach(j => in(inputs.size + j) =
      toCatalyst(inputs.size + j)(raws(j)._1.rowFn.map(_(row)).orNull))
    val out = SQLConf.withExistingConf(RowEval.conf)(
      projection.get()(new GenericInternalRow(in)))
    val results = new Array[Any](refs.size)
    live.indices.foreach(j => results(live(j)) = toScala(j)(out.get(j, types(j))))
    results
  }
}

object RowEval {
  private val conf = new SQLConf
  conf.setConfString(SQLConf.SESSION_LOCAL_TIMEZONE.key, "UTC")

  def apply(exprs: Seq[Expr], inputs: Seq[(String, DataType)]): RowEval =
    SQLConf.withExistingConf(conf) {
      val attrs = inputs.map { case (n, t) => AttributeReference(n, t)() }
      val raws = scala.collection.mutable.ArrayBuffer.empty[(Raw, AttributeReference)]
      def analyze(es: Seq[Expression]): Seq[Expression] = {
        val plan = SimpleAnalyzer.execute(Project(
          es.zipWithIndex.map { case (e, i) => Alias(e, s"_$i")() },
          LocalRelation(attrs ++ raws.map(_._2))))
        SimpleAnalyzer.checkAnalysis(plan)
        ReplaceExpressions(plan).asInstanceOf[Project].projectList
          .map(_.asInstanceOf[Alias].child)
      }
      val converted = exprs.map(e => ColumnBridge.converted(e.columnWith { r =>
        raws += r -> AttributeReference(s"#raw${raws.size}",
          analyze(Seq(ColumnBridge.converted(r.column))).head.dataType)()
        ColumnBridge.column(raws.last._2)
      }))
      val refs = converted.map(_.collect { case u: UnresolvedAttribute => u.name }.toSet)
      val live = refs.indices.filter(refs(_).subsetOf(inputs.map(_._1).toSet))
      val all = AttributeSeq(attrs ++ raws.map(_._2))
      new RowEval(inputs.toIndexedSeq, raws.map { case (r, a) => r -> a.dataType }.toIndexedSeq,
        live, analyze(live.map(converted)).map(BindReferences.bindReference(_, all)),
        refs.toIndexedSeq)
    }
}
