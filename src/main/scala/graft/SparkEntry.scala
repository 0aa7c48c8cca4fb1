package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or an
  * LLM-pipeline extension operator), expressed Spark-first. Each entry in
  * [[oracleSql]] is the ANSI-SQL equivalent the driver runs in DuckDB on
  * the same parquet tables; column names/aliases match exactly.
  *
  * Numeric-parity policy: aggregates over `double` columns are rounded
  * to integer cents — `floor(x * 100 + 0.5)` as BIGINT, see
  * [[graft.queries.QueryDef.cents]] — and the BIGINTs summed. Every op
  * is a single IEEE-754 double operation, so results are bit-identical
  * across engines AND engine versions; the BIGINT sum is exact and
  * order-insensitive. (Round 1 used `CAST(double AS DECIMAL)` before
  * summing — exact, but its boundary rounding is a DuckDB-version
  * implementation detail and the driver's DuckDB disagreed with the
  * local 1.0.0 on 8 queries. Doubles never meet DECIMAL now.)
  */
object SparkEntry {

  /** The mains' one session: `local[SPARK_GRAFT_CPUS]` (`defaultCpus`
    * when unset), one shuffle partition per core, UTC, no UI. */
  private[graft] def localSession(defaultCpus: Int, logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `s` as a JSON string literal: backslash, quote and ALL control
    * chars (<0x20) escaped — a tab or CR in an oracle's SQL would
    * otherwise make a consumer's json.load fail and silently zero the
    * correctness check. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** All registered query modules (one QueryDef per operator). */
  private def allDefs: Seq[graft.queries.QueryDef] =
    graft.queries.RelationalQueries.defs ++
      graft.queries.EventQueries.defs ++
      graft.queries.TextQueries.defs ++
      graft.queries.CurationQueries.defs ++
      graft.queries.DedupQueries.defs ++
      graft.queries.SimilarityQueries.defs ++
      graft.queries.MultimodalQueries.defs ++
      graft.queries.SetRollupQueries.defs ++
      graft.queries.TpchQueries.defs ++
      graft.queries.FileQueries.defs ++
      graft.queries.ProfilingQueries.defs

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
