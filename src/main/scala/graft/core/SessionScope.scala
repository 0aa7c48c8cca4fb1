/* In the sql namespace because SparkSession.cloneSession and
 * Dataset.ofRows are private[sql]. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Scoping SQL conf to one piece of work: the work runs in a child
  * session, and the caller's session is never written to. */
object SessionScope {

  /** A child of `s`: a copy of its SQL conf, temp views and functions
    * over the same SparkContext and cache manager, so conf set on the
    * child never reaches `s` while frames persisted through either
    * session are visible to both. (`newSession()` would start from the
    * static defaults and drop `s`'s runtime conf.) */
  def child(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s plan as a frame of session `s`: planned and executed under
    * `s`'s conf, and still reading `df`'s cached data. */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
