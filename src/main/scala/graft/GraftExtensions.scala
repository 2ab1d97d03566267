package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.{BloomContains, DotProduct, PqCodes, PqSim, PqrSim, Sq8Sim}

/** Session extensions registering graft's native Catalyst functions and
  * optimizer rules (installed via spark.sql.extensions in
  * GraftSession.builder — the idiomatic injection point, so any session
  * built from our builder, incl. spark-submit'ed cluster jobs, gets them). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  /** Registered SQL functions face arbitrary user SQL: check arity up
    * front so a mis-call surfaces as an analysis-time error naming the
    * signature, not an IndexOutOfBoundsException from the builder. */
  private def arity(name: String, n: Int,
      children: Seq[Expression]): Seq[Expression] = {
    if (children.length != n) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map("functionName" -> name,
        "expectedNum" -> n.toString,
        "actualNum" -> children.length.toString,
        "docroot" -> ""))
    children
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        val c = arity("graft_dot", 2, children); DotProduct(c(0), c(1)) }))
    e.injectFunction((
      FunctionIdentifier("graft_sq8_sim"),
      new ExpressionInfo(classOf[Sq8Sim].getName, "graft_sq8_sim"),
      (children: Seq[Expression]) => {
        val c = arity("graft_sq8_sim", 5, children)
        Sq8Sim(c(0), c(1), c(2), c(3), c(4)) }))
    e.injectFunction((
      FunctionIdentifier("graft_pq_sim"),
      new ExpressionInfo(classOf[PqSim].getName, "graft_pq_sim"),
      (children: Seq[Expression]) => {
        val c = arity("graft_pq_sim", 3, children); PqSim(c(0), c(1), c(2)) }))
    e.injectFunction((
      FunctionIdentifier("graft_pqr_sim"),
      new ExpressionInfo(classOf[PqrSim].getName, "graft_pqr_sim"),
      (children: Seq[Expression]) => {
        val c = arity("graft_pqr_sim", 4, children)
        PqrSim(c(0), c(1), c(2), c(3)) }))
    for ((name, residual) <- Seq("graft_pq_codes" -> false, "graft_pqr_codes" -> true))
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[PqCodes].getName, name),
        (children: Seq[Expression]) => PqCodes(arity(name, 1, children).head, residual)))
    e.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        val c = arity("graft_bloom_contains", 2, children)
        BloomContains(c(0), c(1)) }))
    // anchored-regex filters gain a pushable StartsWith conjunct (the
    // reference's RE2::PossibleMatchRange seek, Spark-shaped)
    e.injectOptimizerRule(_ => graft.plans.RegexPrefixPushdown)
  }
}
