package graft.sources

import java.sql.{Connection, DriverManager, Timestamp, Types}

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The replace-mode load (spotify-etl.py:211 `if_exists='replace'`) against
  * an in-memory Derby database, each table read back over plain JDBC. */
class JdbcReplaceSinkSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val Url = "jdbc:derby:memory:jdbc_replace_sink_spec;create=true"
  private val Ingest = Timestamp.valueOf("2024-03-01 00:00:00")
  Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(Url)
    try f(c) finally c.close()
  }

  private def exec(sql: String): Unit = withConn { c =>
    val st = c.createStatement()
    try st.execute(sql) finally st.close()
  }

  /** `table`'s columns (name, JDBC type) and its rows, as text. */
  private def readBack(table: String): (Seq[(String, Int)], Seq[Seq[String]]) = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT * FROM $table")
      val md = rs.getMetaData
      val cols = (1 to md.getColumnCount).map(i => md.getColumnName(i) -> md.getColumnType(i))
      val rows = Iterator.continually(rs).takeWhile(_.next())
        .map(r => cols.indices.map(i => r.getString(i + 1))).toList
      (cols, rows)
    } finally st.close()
  }

  private def tracks(n: Int, partitions: Int = 1): DataFrame =
    (1 to n).map(i => (s"t$i", i, i * 0.5)).toDF("id", "rank", "score").repartition(partitions)

  private def load(df: DataFrame, table: String): Unit =
    JdbcReplaceSink.write(JdbcReplaceSink.stage(df, Ingest), Url, table)

  test("a pre-existing table with other columns and rows is replaced") {
    exec("CREATE TABLE pre_existing (x INT, y VARCHAR(10))")
    exec("INSERT INTO pre_existing VALUES (1, 'old'), (2, 'older')")
    load(tracks(3), "pre_existing")
    val (cols, rows) = readBack("pre_existing")
    assert(cols.map(_._1) === Seq("id", "rank", "score", "ingest_date"))
    assert(rows.map(_.take(3)).sortBy(_.head) ===
      Seq(Seq("t1", "1", "0.5"), Seq("t2", "2", "1.0"), Seq("t3", "3", "1.5")))
  }

  test("a second write replaces the first and does not append") {
    load(tracks(5), "rewritten")
    load(tracks(2), "rewritten")
    assert(readBack("rewritten")._2.map(_.head).sorted === Seq("t1", "t2"))
  }

  test("every column is loaded as text, ingest_date included") {
    load(tracks(2), "typed")
    val (cols, rows) = readBack("typed")
    assert(cols.last._1 === "ingest_date")
    val text = Set(Types.CLOB, Types.VARCHAR, Types.LONGVARCHAR)
    assert(cols.forall { case (_, t) => text(t) }, cols)
    val staged = JdbcReplaceSink.stage(tracks(1), Ingest).select("ingest_date").as[String].first()
    assert(rows.map(_.last).toSet === Set(staged))
  }

  test("a 20-partition frame loads every row") {
    val df = tracks(1000, partitions = 20)
    assert(df.rdd.getNumPartitions === 20)
    load(df.withColumn("id", upper(col("id"))), "wide")
    assert(readBack("wide")._2.map(_.head).sorted === (1 to 1000).map(i => s"T$i").sorted)
  }
}
