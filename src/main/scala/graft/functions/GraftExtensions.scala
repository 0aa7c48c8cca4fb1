/* In the sql namespace for the same reason as VectorExpressions.scala:
 * function-registry registration types are private[sql]. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import scala.reflect.{ClassTag, classTag}

/** SparkSessionExtensions integration — the production path for making
  * the engine's native expressions available to plain SQL users on a
  * cluster:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
  *   ...
  *   SELECT graft_dot(a.embedding, b.embedding) FROM ...
  * }}}
  *
  * [[GraftExtensions.register]] does the same for an already-running
  * session (tests, notebooks).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.scalarFunctions.foreach(ext.injectFunction)
    // whole-operator extension: lowers the custom AsOfJoinPlan node
    // (graft.plans.AsOf) during optimization; the table function is the
    // SQL surface constructing that node, so spark.sql(...) users get
    // the operator too:
    //   SELECT * FROM asof_join('purchases', 'clicks',
    //     'user_id', 'c_user', 'purchase_us', 'click_us',
    //     'event_id', 'click_event_id')
    ext.injectTableFunction(GraftExtensions.asofTableFunction)
    ext.injectOptimizerRule(session =>
      RewriteAsOfJoin(session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
  }
}

object GraftExtensions {

  /** One scalar SQL function: its registry name and info, and a builder
    * that checks the argument count before `build` runs. */
  private def scalar[E <: Expression: ClassTag](name: String, arity: Int)(
      build: Seq[Expression] => E) = {
    val info = new ExpressionInfo(classTag[E].runtimeClass.getCanonicalName, name)
    (FunctionIdentifier(name), info, (children: Seq[Expression]) => {
      require(children.size == arity,
        s"$name expects $arity argument${if (arity == 1) "" else "s"}, got ${children.size}")
      build(children): Expression
    })
  }

  /** The engine's native scalar SQL functions — the one list both
    * [[GraftExtensions.apply]] and [[register]] install. */
  private[graft] val scalarFunctions = Seq(
    scalar[DotProductExpr]("graft_dot", 2)(c => DotProductExpr(c.head, c(1))),
    scalar[NfcNormalizeExpr]("graft_nfc", 1)(c => NfcNormalizeExpr(c.head)),
    scalar[PortableHashExpr]("graft_phash", 2) { c =>
      val salt = c(1) match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_phash salt must be an integer literal, got $other")
      }
      PortableHashExpr(c.head, salt)
    },
    scalar[RepetitionStatsExpr]("graft_repetition_stats", 1)(c => RepetitionStatsExpr(c.head)))

  private val asofInfo = new ExpressionInfo(
    classOf[AsOfJoinPlan].getCanonicalName, "asof_join")

  /** SQL TABLE-function surface of the as-of operator: 8 string
    * literals — two (possibly qualified) table/view names, then the
    * key/time/id column names of each side. Builds the same
    * [[AsOfJoinPlan]] node the Scala API builds, over
    * [[UnresolvedRelation]] children the analyzer resolves in place
    * (the node itself self-resolves once they do); [[RewriteAsOfJoin]]
    * then lowers it, re-validating the name contract there since this
    * path has no earlier choke point. */
  private def buildAsOf(children: Seq[Expression]): LogicalPlan = {
    require(children.size == 8 || children.size == 9,
      "asof_join expects 8 string-literal arguments (left_table, " +
        "right_table, left_key, right_key, left_time, right_time, " +
        "left_id, right_id) plus an optional direction " +
        s"('backward'|'forward', default backward), got ${children.size}")
    val args = children.map {
      case l: Literal if l.dataType == org.apache.spark.sql.types.StringType &&
          l.value != null => l.value.toString
      case other => throw new IllegalArgumentException(
        s"asof_join arguments must be non-null string literals, got $other")
    }
    val forward = args.lift(8) match {
      case None | Some("backward") => false
      case Some("forward") => true
      case Some(other) => throw new IllegalArgumentException(
        s"asof_join direction must be 'backward' or 'forward', got '$other'")
    }
    AsOfJoinPlan(
      UnresolvedRelation(args(0).split('.').toSeq),
      UnresolvedRelation(args(1).split('.').toSeq),
      args(2), args(3), args(4), args(5), args(6), args(7), forward)
  }

  private[graft] val asofTableFunction =
    (FunctionIdentifier("asof_join"), asofInfo,
      (children: Seq[Expression]) => buildAsOf(children))

  /** Register the engine's SQL functions into an existing session. */
  def register(spark: SparkSession): Unit = {
    scalarFunctions.foreach { case (id, _, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(id.funcName, build, "built-in")
    }
    spark.sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction("asof_join", buildAsOf, "built-in")
    // the SQL surface needs the lowering rule too (cluster deployments
    // get both atomically via spark.sql.extensions)
    AsOfJoin.ensureInstalled(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }
}
