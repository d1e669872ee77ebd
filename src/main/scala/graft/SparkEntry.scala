package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{ExtQueries, PipeQueries, RelQueries, TsQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator key (SURVEY §2 + §2.F) to a
  * DataFrame builder over the sf-dir parquet substrate; `oracleSql`
  * holds the equivalent DuckDB SQL the driver hash-compares against.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The time-series scan needs `spark.sql.legacy.parquet.nanosAsLong`
    * (`graft.core.Session.local` sets it, and build.sbt passes it as a
    * system property so sessions built elsewhere in a forked JVM get it
    * too); if the hosting session lacks it, fall back to the relational
    * flagship so the smoke still runs.
    */
  def entry(spark: SparkSession): DataFrame =
    try {
      val df = TsQueries.queries("scan_time_range")(spark, "/root/testdata/sf0.001")
      df.head() // force the parquet nanos read to prove it works
      df
    } catch {
      // ONLY the nanos-capability gap may fall back — a genuine
      // regression in scan_time_range must surface, not smoke-pass
      // through q1_pricing (r11 ask #5)
      case t: Throwable if isNanosReadFailure(t) =>
        RelQueries.queries("q1_pricing")(spark, "/root/testdata/sf0.001")
    }

  /** True only for the failure shape of reading `events.parquet`'s
    * TIMESTAMP(NANOS) column in a session that can't (no
    * `spark.sql.legacy.parquet.nanosAsLong` support): an
    * analysis/Spark/unsupported-op error whose chain mentions the
    * parquet type. Anything else — wrong results, missing columns,
    * arithmetic bugs — propagates.
    */
  private[graft] def isNanosReadFailure(t: Throwable): Boolean = {
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .take(8).map(e => String.valueOf(e.getMessage)).mkString("\n")
    val typeMatches = t match {
      case _: org.apache.spark.sql.AnalysisException => true
      case _: org.apache.spark.SparkException => true
      case _: UnsupportedOperationException => true
      case _ => false
    }
    typeMatches &&
      (chain.contains("NANOS") || chain.toLowerCase.contains("parquet"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    TsQueries.queries ++ ExtQueries.queries ++ RelQueries.queries ++
      PipeQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    TsQueries.oracle ++ ExtQueries.oracle ++ RelQueries.oracle ++
      PipeQueries.oracle
}
