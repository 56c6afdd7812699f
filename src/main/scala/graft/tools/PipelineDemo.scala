package graft.tools

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.{Caches, Session}
import graft.sources._
import org.apache.spark.sql.Row

/** Usage example + smoke drive for the connector layer: wires the reference
  * ETL DAG (SpotifyPipeline) against an in-memory HTTP stub and prints the
  * six staged tables, then loads them again through `runConcurrent` into
  * an in-memory collector and prints each table's row count. Every extract,
  * the keyed fan-out included, goes through the one connector,
  * [[graft.sources.SpotifySource]]. This is what a real deployment looks
  * like with the stub swapped for a java.net.http-backed client under
  * [[graft.sources.OAuthClient]] and `JdbcReplaceSink.write` as the
  * `runConcurrent` writer.
  */
object PipelineDemo {
  private val Base = "https://api.spotify.com/v1"

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

    // the concurrent schedule, each table's write collected in memory
    val collected = new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()
    pipeline.runConcurrent(spark, ingest, (name, df) => collected.put(name, df.collect()))
    Caches.release(spark)
    collected.asScala.toSeq.sortBy(_._1).foreach { case (name, rows) =>
      println(s"== runConcurrent $name (${rows.length} rows)")
    }
    spark.stop()
  }
}
