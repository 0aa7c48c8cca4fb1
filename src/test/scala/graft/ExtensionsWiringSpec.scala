/* In the sql namespace like GraftExtensions itself: the registry/build
 * surface of SparkSessionExtensions is private[sql]. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TableFunctionRegistry}

/** Pins the CLUSTER wiring path: `spark.sql.extensions=...GraftExtensions`
  * is a STATIC conf read at SparkContext build, so a shared-context test
  * session cannot exercise it end-to-end — instead this spec drives the
  * extensions object directly and asserts every injection lands where
  * the session builder would read it: the scalar functions in the
  * function registry, asof_join in the TABLE function registry, and the
  * as-of lowering rule among the injected optimizer rules. The SQL
  * execution semantics of the same builders are covered end-to-end by
  * AsOfPlanSpec/PlanAuditSpec through GraftExtensions.register (the
  * in-session path shares the exact builder lambdas, so wiring + those
  * specs = the cluster path). If this spec breaks, the library works in
  * tests and notebooks but silently loses SQL surface on a real
  * cluster deployment.
  */
class ExtensionsWiringSpec extends graft.SparkSuite {

  test("GraftExtensions injects scalar functions, the table function, and the lowering rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)

    val fns = ext.registerFunctions(FunctionRegistry.builtin.clone())
    Seq("graft_dot", "graft_nfc", "graft_phash", "graft_repetition_stats")
      .foreach { f =>
        assert(fns.functionExists(FunctionIdentifier(f)), s"$f not injected")
      }

    val tfns = ext.registerTableFunctions(TableFunctionRegistry.builtin.clone())
    assert(tfns.functionExists(FunctionIdentifier("asof_join")), "asof_join not injected")

    val rules = ext.buildOptimizerRules(spark)
    assert(rules.exists(_.isInstanceOf[RewriteAsOfJoin]),
      s"RewriteAsOfJoin not among injected optimizer rules: $rules")

    // the injected table-function builder is the SAME lambda the
    // in-session register() path uses, evaluated here to prove it
    // builds the plan node (AsOfPlanSpec executes that node end-to-end)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val plan = tfns.lookupFunction(FunctionIdentifier("asof_join"),
      Seq("l", "r", "lk", "rk", "lt", "rt", "lid", "rid", "forward")
        .map(Literal(_)))
    assert(plan.isInstanceOf[AsOfJoinPlan], plan)
    assert(plan.asInstanceOf[AsOfJoinPlan].forward)
  }

  test("register installs every native SQL function and asof_join in the session") {
    GraftExtensions.register(spark)
    Seq("graft_dot", "graft_nfc", "graft_phash", "graft_repetition_stats")
      .foreach { f =>
        assert(spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(f)),
          s"$f not registered")
      }
    assert(spark.sessionState.tableFunctionRegistry
      .functionExists(FunctionIdentifier("asof_join")), "asof_join not registered")
    // each scalar function resolves through SQL
    val row = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)),
        |  graft_nfc('abc'), graft_phash('abc', 7),
        |  graft_repetition_stats(array('a', 'b', 'a', 'b'))""".stripMargin).head()
    assert(row.getDouble(0) == 11.0)
    assert(row.getString(1) == "abc")
    assert(!row.isNullAt(2) && !row.isNullAt(3))
    // the arity and literal-salt checks hold on this path too
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val arity = messages(intercept[Exception](spark.sql("SELECT graft_nfc('a', 'b')")))
    assert(arity.contains("graft_nfc expects 1 argument, got 2"), arity)
    val salt = messages(intercept[Exception](
      spark.sql("SELECT graft_phash('a', CAST(rand() AS INT))")))
    assert(salt.contains("graft_phash salt must be an integer literal"), salt)
  }
}
