package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.classic.ExpressionUtils

/** `c IN (values)` as an InSet whose value set the generated code reads by
  * reference. The DataFrame API's `isin` builds one literal per value, and
  * whole-stage codegen inlines numeric literals, so every distinct page of
  * offsets compiled a class of its own (about one 20-30 ms compile per
  * statement). One InSet class serves every page, and the predicate still
  * reaches the parquet scan as a pushed `In`. Lives under org.apache.spark.sql
  * to reach the package-private Column ↔ Expression conversion; no Spark
  * internals are modified. */
object InSetColumn {
  def apply(c: Column, values: Seq[Any]): Column =
    ExpressionUtils.column(InSet(ExpressionUtils.expression(c),
      values.map(CatalystTypeConverters.convertToCatalyst).toSet))
}
