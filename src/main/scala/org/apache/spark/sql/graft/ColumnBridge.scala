package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Spark 4 removed the public Column(Expression) constructor (Columns
  * now wrap ColumnNodes for the Connect split). The supported escape
  * hatch for a classic in-JVM session is
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]` — this one-file bridge package re-exports exactly the
  * conversions graft needs, so custom Catalyst expressions
  * ([[graft.functions.Md5Prefix60]], [[graft.functions.FloatDotProduct]])
  * can build Columns WITHOUT a per-session function-registry lookup.
  * Registry-free construction is what makes the expressions safe to use
  * on Columns built ahead of session creation or analyzed under a
  * different session (`newSession()`, cross-thread) — `call_function`
  * resolves by name at analysis time and fails with UNRESOLVED_ROUTINE
  * if that session never registered the name. `converted` is the plain
  * tree an analysis outside any session needs ([[graft.dsl.RowEval]]).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def converted(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
