package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StringType

/** The reference's load stage (spotify-etl.py:209-215, :272-280), Spark-first.
  *
  * Reference semantics per table: append an ingest timestamp
  * (spotify-etl.py:264-266), cast every column to TEXT (:211 `astype(str)`),
  * replace the table (`if_exists='replace'`). Here the staging transforms
  * are pure `DataFrame → DataFrame` functions (unit-testable without a
  * database) and the write is the standard JDBC batch path, partition-
  * parallel — `numPartitions`/`batchsize` make the sink scale with the
  * cluster instead of funneling through one connection (SURVEY.md §7.5).
  */
object JdbcReplaceSink {

  /** Most concurrent JDBC connections of one write. */
  private val NumPartitions = 8

  /** Rows per JDBC batch insert. */
  private val BatchSize = 10000

  /** P7: terminal type erasure — every column cast to string, names kept. */
  def castAllToString(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast(StringType).as(c)): _*)

  /** P6: ingest timestamp column. The timestamp is a *parameter* so runs are
    * reproducible/testable; production passes the job start time once,
    * giving every table the same value (like the reference's single
    * `datetime.now()` at spotify-etl.py:264). */
  def withIngestDate(df: DataFrame, ingestTs: java.sql.Timestamp): DataFrame =
    df.withColumn("ingest_date", lit(ingestTs))

  /** Full staging: ingest_date then all-string (the reference's order). */
  def stage(df: DataFrame, ingestTs: java.sql.Timestamp): DataFrame =
    castAllToString(withIngestDate(df, ingestTs))

  /** Replace-mode JDBC write (spotify-etl.py:211 `if_exists='replace'`):
    * Spark's JDBC replace steps, called directly — `tableExists`, then
    * `dropTable`, `createTable(df.schema)` and `saveTable`, in the order
    * and with the options and case sensitivity that `JdbcRelationProvider`
    * uses in Overwrite mode. `DataFrameWriter` would add three steps
    * around them: a `SaveIntoDataSourceCommand` plan and a query that reads
    * the new table's schema back, which cost planning time on every write,
    * and a recache of the cached frames that read the table, which has
    * nothing to do here: no cached frame in the engine reads a loaded
    * table back. `saveTable` plans `df` through `df.rdd`, so a caller that
    * forced `df.rdd` earlier has planned the load ahead of the write.
    *
    * Credentials arrive as `properties` (pair with
    * [[SpotifyEnvConfig.jdbcProperties]]) — passed as options so Spark's
    * JDBC redaction applies and URL metacharacters in a password can't
    * break parsing (round-7 ADVICE). */
  def write(
      df: DataFrame,
      url: String,
      table: String,
      properties: Map[String, String] = Map.empty): Unit = {
    val options = new JdbcOptionsInWrite(properties ++ Map(
      "url" -> url,
      "dbtable" -> table,
      "numPartitions" -> NumPartitions.toString,
      "batchsize" -> BatchSize.toString))
    val caseSensitive = castToImpl(df.sparkSession).sessionState.conf.caseSensitiveAnalysis
    val conn = JdbcDialects.get(url).createConnectionFactory(options)(-1)
    try {
      if (JdbcUtils.tableExists(conn, options)) JdbcUtils.dropTable(conn, options.table, options)
      JdbcUtils.createTable(conn, options.table, df.schema, caseSensitive, options)
      JdbcUtils.saveTable(df, Some(df.schema), caseSensitive, options)
    } finally conn.close()
  }
}
