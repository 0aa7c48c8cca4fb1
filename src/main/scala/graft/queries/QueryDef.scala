package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One driver-visible query: name → Spark plan + optional DuckDB oracle.
  *
  * Oracle parity rules (learned the hard way, see SparkEntry scaladoc):
  *  - money/double aggregates go through [[QueryDef.cents]]: round to
  *    integer cents with IEEE-exact ops, SUM the BIGINT. Casting a
  *    double to DECIMAL before summing is NOT version-proof — the
  *    boundary-value rounding of `CAST(double AS DECIMAL)` is an
  *    implementation detail of the oracle engine's version and diverged
  *    between DuckDB builds (round-1 driver gate failed exactly the 8
  *    decimal-sum queries that passed cell-exact against DuckDB 1.0.0),
  *  - alias every computed column identically on both sides,
  *  - format timestamps to strings (or epoch integers) when the parquet
  *    source is nanosecond-precision — Spark reads ns as long, DuckDB as
  *    timestamp_ns; `CAST(ts AS TIMESTAMP)` in DuckDB matches Spark's
  *    `timestamp_micros(ts div 1000)` truncation.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {

  /** Persist `df` and fill its cache now (one `count()` job) — for a
    * frame one query consumes from several subtrees. Under AQE those
    * subtrees' stages materialize concurrently, and a persisted but
    * still empty cache lets each of them recompute the whole chain,
    * its exchanges included (measured: the same dedup query shuffled
    * 5 MB or 26 MB at sf0.1 depending on who won the race). Filling it
    * first makes both the work and the shuffle bytes deterministic.
    * The caller's `clearCache` sweep releases it. */
  def eager(df: DataFrame): DataFrame = {
    df.persist()
    df.count()
    df
  }

  /** IEEE-exact integer cents: `floor(x * 100 + 0.5)` as BIGINT.
    *
    * Every step is a single IEEE-754 double operation (multiply, add,
    * floor), so any engine computing the same expression shape produces
    * bit-identical results — unlike `CAST(double AS DECIMAL)`, whose
    * boundary rounding varies between engine versions. Summing the
    * resulting BIGINT is exact and order/partition-insensitive. Keep the
    * expression shape in [[centsSql]] in lockstep.
    */
  def cents(c: Column): Column =
    floor(c * lit(100.0) + lit(0.5)).cast("long")

  /** DuckDB twin of [[cents]] — identical op shape, term by term. */
  def centsSql(expr: String): String =
    s"CAST(floor(($expr) * 100.0 + 0.5) AS BIGINT)"

  /** [[cents]] at 1e6 scale — integer micro-points for scores that are
    * already cross-engine-exact doubles (6-dp cosines, BM25 terms,
    * quality ratios). ONE definition of the scaled-round contract so a
    * future boundary-rounding fix lands everywhere at once. */
  def microPoints(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)).cast("long")

  /** DuckDB twin of [[microPoints]] — identical op shape. */
  def microPointsSql(expr: String): String =
    s"CAST(floor(($expr) * 1000000.0 + 0.5) AS BIGINT)"
}
