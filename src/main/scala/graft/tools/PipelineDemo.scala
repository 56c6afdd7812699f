package graft.tools

import java.sql.{DriverManager, Timestamp}

import graft.{Caches, Session}
import graft.sources._

/** Usage example + smoke drive for the connector layer: wires the reference
  * ETL DAG (SpotifyPipeline) against an in-memory HTTP stub and prints the
  * six staged tables, then loads them again through `runConcurrent` and
  * `JdbcReplaceSink.write` into an in-memory Derby database and prints each
  * table's row count, read back over plain JDBC. Every extract,
  * the keyed fan-out included, goes through the one connector,
  * [[graft.sources.SpotifySource]]. This is what a real deployment looks
  * like with the stub swapped for a java.net.http-backed client under
  * [[graft.sources.OAuthClient]] and a real database's URL and
  * credentials in place of Derby's.
  */
object PipelineDemo {
  private val Base = "https://api.spotify.com/v1"
  private val DerbyUrl = "jdbc:derby:memory:demo;create=true"

  private def track(id: String): String =
    s"""{"id": "$id", "name": "Song $id", "artists": [{"name": "artist-$id"}],
       |"album": {"name": "album-$id"}}""".stripMargin

  private object StubClient extends HttpClient {
    private val pages = Map(
      s"$Base/me/playlists" ->
        s"""{"items": [{"id": "p1", "href": "h", "name": "Mix", "owner":
           |{"display_name": "demo"}, "public": true, "collaborative": false,
           |"tracks": {"total": 2}}], "next": null}""".stripMargin,
      s"$Base/playlists/p1/tracks" ->
        s"""{"items": [{"track": ${track("t1")}}, {"track": null},
           |{"track": ${track("t2")}}], "next": null}""".stripMargin,
      s"$Base/me/tracks" ->
        s"""{"items": [{"added_at": "2024-01-05T10:00:00Z",
           |"track": ${track("t2")}}], "next": null}""".stripMargin,
      s"$Base/me/player/recently-played" ->
        s"""{"items": [{"played_at": "2024-02-01T08:00:00Z",
           |"track": ${track("t1")}}]}""".stripMargin,
      s"$Base/me/following?type=artist" ->
        """{"artists": {"items": [{"id": "a1", "name": "A", "genres":
          |["rock", "jazz"], "popularity": 7, "followers": {"total": 9}}]}}""".stripMargin
    )
    override def get(url: String, headers: Map[String, String]): HttpResponse =
      pages.get(url)
        .map(HttpResponse(200, _))
        .getOrElse(if (url.contains("audio-features")) {
          val ids = url.split("ids=")(1).split(",")
          HttpResponse(200,
            s"""{"audio_features": [${ids.map(i => s"""{"id": "$i", "tempo": 120.0}""").mkString(",")}]}""")
        } else HttpResponse(404, "{}"))
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.start(Session.defaultCores)
    val source = new SpotifySource(
      new RateLimitedClient(StubClient, minIntervalMs = 0), Base)
    val pipeline = new SpotifyPipeline(source)
    val ingest = Timestamp.valueOf("2024-03-01 00:00:00")
    val tables = pipeline.run(spark, ingest)
    tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
      println(s"== $name (${df.count()} rows)")
      df.show(5, truncate = false)
    }
    Caches.release(spark)

    // the concurrent schedule, each table loaded into in-memory Derby by
    // the deployment writer and counted back over plain JDBC
    val loaded = pipeline.runConcurrent(spark, ingest,
      (name, df) => JdbcReplaceSink.write(df, DerbyUrl, name))
    Caches.release(spark)
    val conn = DriverManager.getConnection(DerbyUrl)
    try loaded.keys.toSeq.sorted.foreach { name =>
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $name")
      rs.next()
      println(s"== runConcurrent $name (${rs.getLong(1)} rows)")
    } finally conn.close()
    spark.stop()
  }
}
