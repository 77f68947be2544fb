package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for the engine's custom expressions, so
  * `spark.sql("SELECT graft_dot(a, b) ...")` works alongside the Column
  * API (SURVEY §7.3: custom expression > UDF). The single entry point
  * is [[GraftFunctions.register]] on an existing session.
  */
object GraftFunctions {

  val dotProductDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, null, "graft_dot",
      "graft_dot(a, b) - dot product of two array<double> columns " +
        "(index-ordered accumulation).", ""),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2, s"graft_dot expects 2 arguments, got ${exprs.length}")
      DotProduct(exprs.head, exprs(1))
    })

  val intersectCountDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_intersect_count"),
    new ExpressionInfo(classOf[IntersectCount].getName, null,
      "graft_intersect_count",
      "graft_intersect_count(a, b) - distinct-intersection cardinality " +
        "of two array<bigint> columns (= size(array_intersect(a, b)) " +
        "without materializing the intersection).", ""),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        s"graft_intersect_count expects 2 arguments, got ${exprs.length}")
      IntersectCount(exprs.head, exprs(1))
    })

  val bloomMightContainDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_might_contain"),
    new ExpressionInfo(classOf[BloomMightContain].getName, null,
      "graft_might_contain",
      "graft_might_contain(bloom, value) - membership probe of a " +
        "bigint/string/binary value against a serialized BloomFilter " +
        "(binary literal); no false negatives, fpp-bounded false " +
        "positives.", ""),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 2,
        s"graft_might_contain expects 2 arguments, got ${exprs.length}")
      BloomMightContain(exprs.head, exprs(1))
    })

  /** Register on an already-built session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    Seq(dotProductDescriptor, intersectCountDescriptor,
      bloomMightContainDescriptor).foreach {
      case (ident, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
