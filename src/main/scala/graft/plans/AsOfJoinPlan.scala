/* In the sql namespace for the same reason as VectorExpressions.scala:
 * Dataset.ofRows and the logical-plan surface are private[sql]; this is
 * the established pattern for extension libraries shipping custom
 * operators. graft.plans.AsOf re-exports the public API. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Custom WHOLE-OPERATOR extension — the (c) tier of the engine's
  * design rules (compose built-ins > custom Expression > custom
  * LogicalPlan + Rule > mapPartitions): a first-class AS-OF JOIN
  * logical operator. Spark has no native as-of join; the engine's
  * single-table form (`asof_attribution`) hand-writes a window, but a
  * LIBRARY operator wants declarative semantics the optimizer sees and
  * rewrites — this node carries exactly the as-of semantics ("for each
  * left row, the latest right row with the same key strictly before it
  * in ((time, id)) order, NULLs when none"; with `forward = true` the
  * mirror: the EARLIEST right row strictly after) and
  * [[RewriteAsOfJoin]] lowers it during OPTIMIZATION into the
  * union-tag-window MERGE form (tag both sides, one shuffle on the
  * key, `last(right-payload, ignoreNulls)` over the (time, id, side)
  * ordered window, keep left rows) — LINEAR per key. The previously
  * shipped lowering (left_outer join on key with a residual time
  * predicate + rank-1) materialized a C×P intermediate per hot key
  * before the rank filter; at 100 TB a power user with C clicks and
  * P purchases turns that into a per-key quadratic blow-up. The merge
  * form is the same algorithm `asof_attribution` uses
  * (queries/EventQueries.scala) and never pairs rows at all.
  *
  * The node is self-resolving (output = children's attributes, right
  * side nullability widened) so analysis passes it through; planning
  * would fail if the rule were missing, which [[AsOfJoin.ensureInstalled]]
  * makes impossible for API users (idempotent
  * `experimental.extraOptimizations` install; cluster SQL users get
  * the same rule via [[GraftExtensions]]'s injectOptimizerRule).
  * Column names across the two sides must be disjoint — the operator's
  * output is their concatenation — and unique WITHIN each side too
  * (the lowering resolves by name). `leftId` must uniquely identify a
  * left row WITHIN its key (the natural event-id-per-entity contract)
  * (a NULL `leftId` is tolerated: tied-time rows then never match,
  * per three-valued logic); `leftKey`/`rightKey`, `leftTime`/
  * `rightTime` and `leftId`/`rightId` are compared against each other,
  * so each pair must be of union-coercible types. Right rows with a
  * NULL time or a NULL key never match (strictly-before is undefined;
  * NULL keys are never equal), matching SQL three-valued logic.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: String, rightKey: String,
    leftTime: String, rightTime: String,
    leftId: String, rightId: String,
    forward: Boolean = false) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // the node carries its key/time/id columns as STRINGS, so the default
  // expression-derived references are empty and ColumnPruning would
  // strip "unused" child columns the lowering still needs (observed:
  // the right key vanished when the final projection didn't select it).
  // Every child output is semantically referenced — say so. Guarded on
  // childrenResolved: the SQL table-function path constructs this node
  // over UnresolvedRelations, whose `output` throws until the analyzer
  // resolves them.
  override def references: AttributeSet =
    if (childrenResolved) AttributeSet(left.output ++ right.output)
    else AttributeSet.empty

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Lowers [[AsOfJoinPlan]] to the union-tag-window merge form. Runs in
  * the optimizer (the node resolves itself, so analysis needs no help).
  *
  * The merge: both sides project to an aligned shape
  * `(left payload…, __k, __t, __i, __side, __r)` — left rows carry
  * their payload, side 0, NULL right-struct; right rows carry NULL
  * payload, side 1, their columns packed in `__r` — then ONE shuffle
  * partitions the union by `__k`, and within each key the window
  * ordered by `(__t asc_nulls_first, null-rank, __i asc, __side)`
  * carries `last(__r, ignoreNulls)` forward. The ordering encodes the
  * STRICT before-ness exactly: a right row tied on both (time, id)
  * sorts AFTER the left row (side 1 > 0) and is excluded; a NULL id on
  * EITHER side at a tied time yields no match — the side-aware
  * null-rank key (inline comment at the orderBy) reproduces the
  * predicate's `rid < lid → NULL → no match` three-valued logic for
  * both sides; a left row with a NULL time sorts before every
  * (time-non-null) right row and matches nothing. Right rows with a
  * NULL time or a NULL KEY are filtered before the union — NULL keys
  * are never equal under join semantics, and the window's partitionBy
  * would otherwise group them together; NULL-key left rows emit with
  * NULL right columns like any unmatched left row.
  * Cost: linear in rows per key, no
  * pairing anywhere; the payload columns ride the single exchange
  * once (left key/time/id are duplicated into the routing columns —
  * ~24 B/row — so union type-widening can never silently change the
  * output column types).
  *
  * Attribute identity: the union mints fresh exprIds, so the rewrite
  * re-anchors the result under a final [[Project]] whose aliases REUSE
  * the node's original output exprIds — downstream operators'
  * references stay valid without any re-analysis. */
case class RewriteAsOfJoin(spark: SparkSession) extends Rule[LogicalPlan] {

  private val K = "__graft_asof_k"
  private val T = "__graft_asof_t"
  private val I = "__graft_asof_i"
  private val S = "__graft_asof_side"
  private val R = "__graft_asof_r"
  private val LR = "__graft_asof_last_r"

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case n @ AsOfJoinPlan(l, r, lk, rk, lt, rt, lid, rid, forward) =>
      // the SQL table-function path (asof_join(...)) constructs the node
      // without going through AsOfJoin.df, so the name contract is
      // re-validated here where both sides are finally resolved
      AsOfJoin.validateNames(l.output.map(_.name), r.output.map(_.name))
      Seq(("left", l, Seq(lk, lt, lid)), ("right", r, Seq(rk, rt, rid)))
        .foreach { case (side, child, cols) =>
          val have = child.output.map(_.name).toSet
          val missing = cols.filterNot(have)
          require(missing.isEmpty,
            s"as-of join: $side side has no column(s) ${missing.mkString(", ")} " +
              s"(available: ${have.toSeq.sorted.mkString(", ")})")
        }
      // time and id columns are ORDERED AGAINST each other across the
      // sides (union sort keys) — an incompatible pair would otherwise
      // surface as an obscure union-coercion failure deep inside the
      // lowering, far from the user's call site
      AsOfJoin.validateComparable(l, r, lt, rt, "time")
      AsOfJoin.validateComparable(l, r, lid, rid, "id")
      // keys are unioned into one routing column and compared for
      // equality (partitioning) — an incompatible pair would surface as
      // the same deep coercion failure, and a silently coercible one
      // (int vs string) could change equality semantics
      AsOfJoin.validateComparable(l, r, lk, rk, "key")
      val lDf = Dataset.ofRows(spark, l)
      val rDf = Dataset.ofRows(spark, r)
      val lCols = l.output.map(_.name)
      val rCols = r.output.map(_.name)
      val lTypes = l.output.map(a => a.name -> a.dataType).toMap
      // right payload struct, every field nullability-widened (the
      // operator's output contract) so the NULL literal on the left
      // side casts losslessly
      val rStructType = StructType(rDf.schema.fields.map(_.copy(nullable = true)))
      // Direction is encoded ENTIRELY in the sort and frame — the same
      // union rides the same single exchange either way.
      //  backward (latest right strictly BEFORE): left side-tag 0,
      //    right 1 (a (time,id)-tied right sorts after the left → the
      //    strict exclusion), time nulls_first (a null-time left row
      //    precedes every real right row → matches nothing), NULL ids
      //    via the side-aware null-rank below, running `last` over
      //    (unboundedPreceding, current).
      //  forward (earliest right strictly AFTER): every choice mirrors
      //    — left tag 1, right 0 (a tied right sorts BEFORE the left →
      //    excluded from the following frame), time nulls_last,
      //    `first` over (current, unboundedFollowing).
      val (lSide, rSide) = if (forward) (1, 0) else (0, 1)
      val lTagged = lDf.select(
        lCols.map(c => col(c)) ++ Seq(
          col(lk).as(K), col(lt).as(T), col(lid).as(I), lit(lSide).as(S),
          lit(null).cast(rStructType).as(R)): _*)
      // NULL-key right rows are dropped alongside NULL-time ones: the
      // window's partitionBy groups NULL keys into ONE partition, so
      // without this filter a NULL-key left row would "match" a
      // NULL-key right row — but join semantics (the old equi-join
      // lowering, SQL, and the DuckDB oracles) treat NULL keys as never
      // equal. NULL-key LEFT rows still flow through and emit with NULL
      // right columns, exactly like a left join.
      val rTagged = rDf
        .filter(col(rt).isNotNull && col(rk).isNotNull)
        .select(
          lCols.map(c => lit(null).cast(lTypes(c)).as(c)) ++ Seq(
            col(rk).as(K), col(rt).as(T), col(rid).as(I), lit(rSide).as(S),
            struct(rCols.map(c => col(c)): _*).as(R)): _*)
      // NULL-id placement must differ BY SIDE to reproduce the join
      // predicate's three-valued logic at tied times (rid < lid — or
      // rid > lid forward — is NULL whenever EITHER id is NULL → no
      // match): a NULL-id RIGHT row must sort outside the left row's
      // frame, and a NULL-id LEFT row must sort outside every tied
      // right row's reach. One null ordering on __i can't do both, so
      // ties rank through a tiny side-aware key: non-null ids rank 0
      // (ordered by id, then side); a NULL id ranks toward the frame's
      // far side — backward: left −1 (before every tied right → no
      // match), right +1 (after the left → excluded); forward the
      // mirror (+1 / −1).
      val leftNullRank = if (forward) 1 else -1
      val nullRank =
        when(col(I).isNotNull, lit(0)).otherwise(
          when(col(S) === lit(lSide), lit(leftNullRank))
            .otherwise(lit(-leftNullRank)))
      // BOTH directions run the streaming (UNBOUNDED PRECEDING,
      // CURRENT ROW) frame: Spark's unbounded-following frame
      // recomputes its aggregate per row — O(|partition|²), unbounded
      // on a hot key (the r17 skew-sweep finding, SCALE.md) — so the
      // forward direction REVERSES every sort component (asc_nulls_last
      // ⇄ desc_nulls_first, asc ⇄ desc) instead: under the exactly
      // reversed total order, (CURRENT ROW, UNBOUNDED FOLLOWING) and
      // (UNBOUNDED PRECEDING, CURRENT ROW) contain the same rows, and
      // `first` becomes `last`.
      val ordering =
        if (forward) Seq(col(T).desc_nulls_first, nullRank.desc, col(I).desc, col(S).desc)
        else Seq(col(T).asc_nulls_first, nullRank.asc, col(I).asc, col(S).asc)
      val base = Window.partitionBy(col(K)).orderBy(ordering: _*)
      val w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pick = last(col(R), ignoreNulls = true)
      val rewritten = lTagged.union(rTagged)
        .withColumn(LR, pick.over(w))
        .filter(col(S) === lSide)
        .select(lCols.map(c => col(c)) ++
          rCols.map(c => col(s"$LR.$c").as(c)): _*)
      // OPTIMIZED, not analyzed: this rule runs in
      // experimental.extraOptimizations — the tail of the optimizer —
      // so the substituted subtree gets no further optimizer passes,
      // and an analyzed subtree still carries SubqueryAlias nodes the
      // planner refuses ("No plan for SubqueryAlias", observed)
      val opt = rewritten.queryExecution.optimizedPlan
      Project(n.output.zip(opt.output).map { case (orig, cur) =>
        Alias(cur, orig.name)(exprId = orig.exprId)
      }, opt)
  }
}

object AsOfJoin {

  /** Install [[RewriteAsOfJoin]] into an existing session (idempotent).
    * Cluster deployments get it at session build via
    * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`. */
  def ensureInstalled(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[RewriteAsOfJoin]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteAsOfJoin(spark)

  /** The name contract the by-name lowering requires: cross-side
    * disjoint, per-side unique, no dots or backticks (they would
    * mis-resolve as struct paths / break quoting deep inside the
    * optimizer, far from the user's call site). Shared by the API
    * constructor (fail-fast at `df`) and the rewrite rule (the SQL
    * table-function path has no earlier choke point). */
  private[graft] def validateNames(lCols: Seq[String], rCols: Seq[String]): Unit = {
    val overlap = lCols.toSet.intersect(rCols.toSet)
    require(overlap.isEmpty,
      s"as-of join sides must have disjoint column names; overlap: $overlap")
    def sideCheck(side: String, cols: Seq[String]): Unit = {
      val dups = cols.groupBy(identity).collect { case (c, vs) if vs.size > 1 => c }
      require(dups.isEmpty,
        s"as-of join $side side has duplicate column names: ${dups.mkString(", ")}")
      val bad = cols.filter(c => c.contains(".") || c.contains("`"))
      require(bad.isEmpty,
        s"as-of join $side side has column names with '.' or '`' " +
          s"(unsupported by the by-name lowering): ${bad.mkString(", ")}")
    }
    sideCheck("left", lCols)
    sideCheck("right", rCols)
  }

  /** The cross-side comparability contract for a (time | id) column
    * pair: same type, or both numeric, or both datetime — the families
    * the union can widen without changing order semantics. */
  private[graft] def validateComparable(l: LogicalPlan, r: LogicalPlan,
      lc: String, rc: String, role: String): Unit = {
    import org.apache.spark.sql.types._
    def t(p: LogicalPlan, c: String): DataType =
      p.output.find(_.name == c).get.dataType
    val (lt, rt) = (t(l, lc), t(r, rc))
    val ok = lt == rt ||
      (lt.isInstanceOf[NumericType] && rt.isInstanceOf[NumericType]) ||
      (Seq(lt, rt).forall(d =>
        d == TimestampType || d == TimestampNTZType || d == DateType))
    require(ok,
      s"as-of join: $role columns must be mutually comparable " +
        s"(same type, both numeric, or both datetime); got $lc: ${lt.sql} " +
        s"vs $rc: ${rt.sql}")
  }

  /** Public constructor: an as-of-joined DataFrame carrying the custom
    * logical node (visible in `.queryExecution.logical`; gone after
    * optimization). Validates up front what the lowering's by-name
    * resolution requires — cross-side disjoint names, per-side unique
    * names, no dots or backticks (they would mis-resolve as struct
    * paths / break quoting deep inside the optimizer, far from this
    * call site). */
  def df(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      leftId: String, rightId: String,
      forward: Boolean = false): DataFrame = {
    validateNames(left.columns.toSeq, right.columns.toSeq)
    // fail at the call site, not at action time, when a key/time/id
    // pair can't be compared; pairs with a missing column fall through
    // to the rewrite's require, which names the side and the available
    // columns
    locally {
      val (la, ra) = (left.queryExecution.analyzed, right.queryExecution.analyzed)
      Seq((leftKey, rightKey, "key"), (leftTime, rightTime, "time"),
        (leftId, rightId, "id")).foreach { case (lc, rc, role) =>
        if (la.output.exists(_.name == lc) && ra.output.exists(_.name == rc))
          validateComparable(la, ra, lc, rc, role)
      }
    }
    val spark = left.sparkSession.asInstanceOf[SparkSession]
    ensureInstalled(spark)
    Dataset.ofRows(spark, AsOfJoinPlan(
      left.queryExecution.analyzed, right.queryExecution.analyzed,
      leftKey, rightKey, leftTime, rightTime, leftId, rightId, forward))
  }
}
