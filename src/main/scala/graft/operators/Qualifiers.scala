package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-record predicates with flow-control — the reference's Qualifier
  * system (`src/Qualifiers/QualifierAbstract.php:61-81`): a qualifier can
  * pass a record, skip it ("continue"), or interrupt the flow ("break").
  *
  * Continue maps exactly to `filter`. Break ("stop consuming the source
  * once a condition fires", asserted in the reference's
  * `tests/QualifierTest.php:49-80`) is inherently order-dependent, so it
  * comes in two forms (SURVEY §7.4):
  *
  *  - [[Qualifiers.BreakAfter]]: a declarative record-count cutoff
  *    (`limit`) — scale-safe, the planner stops scans early
  *    (CollectLimit); marks the pipeline status dirty like the
  *    reference's broken-flow status (`docs/callbacks.md:36-41`).
  *  - [[Qualifiers.TakeWhileOrdered]]: the semantically exact form —
  *    keep records strictly before the first (in a given order) record
  *    failing the predicate. Costs a global sort boundary; intended for
  *    modest data or already-sorted single partitions.
  */
trait Qualifier extends (DataFrame => DataFrame) {
  /** True when this qualifier truncates the stream (reference "break"
    * semantics) — the pipeline reports a dirty status. */
  def truncates: Boolean = false
}

object Qualifiers {

  /** Pass/skip predicate — continue semantics
    * (`src/Qualifiers/CallableQualifier.php:18-52` + continue dispatch at
    * `QualifierAbstract.php:69-73`). */
  final case class Keep(pred: Column) extends Qualifier {
    def apply(df: DataFrame): DataFrame = df.filter(pred)
  }

  /** Break after N records: scalable declarative cutoff. */
  final case class BreakAfter(n: Long) extends Qualifier {
    require(n >= 0 && n <= Int.MaxValue,
      s"BreakAfter($n) out of Int range (Dataset.limit takes Int) — use Keep(pred) for larger cutoffs")
    override def truncates: Boolean = true
    def apply(df: DataFrame): DataFrame = df.limit(n.toInt)
  }

  /** Keep every record strictly before the first one (ordered by
    * `order`) where `pred` is false — exact reference break semantics
    * (`tests/QualifierTest.php:49-80`: break at record 5 of 10 lets 4
    * through downstream).
    *
    * In targeted-interrupt terms this IS the break aimed at the
    * outermost source (reference `Interrupter(TARGET_SELF, extractor1,
    * TYPE_BREAK)`, `tests/QualifierTest.php:409-485`): once the first
    * failing record appears, every iteration level stops — nothing
    * later in the joint stream survives. Aim the break at an INNER
    * per-record source instead with [[TakeWhileGrouped]].
    *
    * Implemented as [[TakeWhileGrouped]] with no group: one window pass
    * over the whole stream. Global order ⇒ single-partition window; this
    * is the documented cost of exact sequential semantics on a
    * distributed engine. */
  final case class TakeWhileOrdered(pred: Column, order: Seq[Column]) extends Qualifier {
    override def truncates: Boolean = true
    def apply(df: DataFrame): DataFrame = TakeWhileGrouped(pred, order, Nil)(df)
  }

  /** Targeted break aimed at an INNER per-record source: the inner
    * iteration stops at its first failing record *within each outer
    * group*, while the outer source keeps flowing (next group's inner
    * iteration starts fresh).
    *
    * Spark-first rendition of the reference's targeted interrupts
    * (`src/NodalFlow Interrupter`, topologies in
    * `tests/QualifierTest.php:409-485`): in a compiled-lineage engine,
    * "which extractor does the break target" becomes "at which
    * iteration level does the cutoff reset" — i.e. the PARTITIONING of
    * the take-while window. Global window ([[TakeWhileOrdered]]) ≡
    * break the outermost source; window partitioned by the outer keys
    * (this class) ≡ break the inner source only. The per-group window
    * is also the scalable one: work stays within each group's
    * partition, no global sort boundary.
    *
    * One window pass: a running count of failures up to and including
    * each row; rows with zero failures so far pass. */
  final case class TakeWhileGrouped(pred: Column, order: Seq[Column],
      group: Seq[Column]) extends Qualifier {
    override def truncates: Boolean = true
    def apply(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(group: _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("__graft_breaks", sum(when(pred, 0L).otherwise(1L)).over(w))
        .filter(col("__graft_breaks") === 0L)
        .drop("__graft_breaks")
    }
  }
}
