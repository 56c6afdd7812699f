package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
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

  /** Replace-mode JDBC write (spotify-etl.py:211 `if_exists='replace'`).
    * Credentials arrive as `properties` (pair with
    * [[SpotifyEnvConfig.jdbcProperties]]) — passed as writer options so
    * Spark's JDBC redaction applies and URL metacharacters in a password
    * can't break parsing (round-7 ADVICE). */
  def write(
      df: DataFrame,
      url: String,
      table: String,
      properties: Map[String, String] = Map.empty): Unit =
    df.write
      .format("jdbc")
      .options(properties)
      .option("url", url)
      .option("dbtable", table)
      .option("numPartitions", NumPartitions)
      .option("batchsize", BatchSize)
      .mode(SaveMode.Overwrite)
      .save()
}
