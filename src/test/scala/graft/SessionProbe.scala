package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{ObservationManager, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.CacheManager

/** Test-side counts of session state Spark keeps private: the
  * observations a session still waits on, and its cache entries. */
object SessionProbe {

  private def field[A](cls: Class[_], name: String, of: AnyRef): A = {
    val f = cls.getDeclaredField(name)
    f.setAccessible(true)
    f.get(of).asInstanceOf[A]
  }

  /** Observations registered on `spark` that no completed query has
    * claimed. A query completes its observations from a listener, so
    * the bus is drained first. */
  def pendingObservations(spark: SparkSession): Int = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    val m = spark.asInstanceOf[ClassicSession].observationManager
    field[java.util.Map[_, _]](classOf[ObservationManager], "observations", m).size
  }

  /** Entries in the session's cache manager (persisted plans). */
  def cachedEntries(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[ClassicSession].sharedState.cacheManager
    field[IndexedSeq[_]](classOf[CacheManager], "cachedData", cm).size
  }
}
