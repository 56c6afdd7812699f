package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's six REST extracts, re-expressed Spark-first.
  *
  * Division of labor: the connector fetches **raw page/batch JSON strings**
  * (executor-side everywhere: lazy one-partition cursor scans, keyed
  * fan-out, batched lookup); ALL record shredding is declarative —
  * `from_json` + `explode` + nested-field projection — so Catalyst owns the
  * parsing plan exactly as it does for any other source (SURVEY.md §1.4).
  *
  * Source map (SURVEY.md §2.1): playlists=S2, playlistTracks=S3 (keyed
  * fan-out), savedTracks=S4, audioFeatures=S5 (≤100-id batched lookup),
  * recentTracks=S6, followedArtists=S7. Rate limiting/retry (S8) comes from
  * wrapping the injected client in [[RateLimitedClient]].
  *
  * Scale posture: pagination is inherently sequential per cursor, but
  * fan-out and lookup are `mapPartitions` over a repartitioned key set —
  * executor-parallel. Each task deserializes its own copy of the client, so
  * pacing holds per task: per cursor chain or per fan-out/lookup partition,
  * like the reference's per-call sleep (SURVEY.md §7.5). No request is made
  * while the plan is built, and nothing is ever collected back to the
  * driver.
  */
final class SpotifySource(
    client: HttpClient,
    baseUrl: String = "https://api.spotify.com/v1",
    authHeaders: Map[String, String] = Map.empty,
    fanOutParallelism: Int = 8) extends Serializable {

  import SpotifySource._

  /** Cursor pagination (spotify-etl.py:72-75): follow `next` until null.
    * Round 2: the cursor loop runs INSIDE a one-partition `mapPartitions`
    * as a lazy `Iterator.unfold` — pagination is inherently sequential
    * (each page names its successor), but pages now stream one at a time
    * through the pipelined from_json/explode stage instead of accumulating
    * in a driver Seq (the reference holds every page in memory,
    * spotify-etl.py:72-75; at 100× catalog size that's a driver OOM).
    * Neither driver nor executor ever holds more than the in-flight page;
    * a downstream LIMIT stops the HTTP fetches themselves (proven in
    * SpotifySourceSpec). Same lazy shape as the v2 TracksReader.
    *
    * RE-FETCH SEMANTICS (round-3 ADVICE): unlike the old fetch-once driver
    * Seq, the DataFrame is now a RECIPE — every action (count then write, a
    * second bench pass, an AQE re-execution) re-runs the full pagination
    * against the live API, and a task retry or speculative duplicate
    * re-issues requests mid-stream. Multi-action pipelines should
    * `persist()` (or checkpoint) right after extraction — one fetch, then
    * plan-local reuse — and disable `spark.speculation` for extract stages
    * so a slow page is never double-fetched. [[SpotifyPipeline]] follows
    * this pattern.
    *
    * With `followCursor = false` the scan fetches the first page only (the
    * reference reads one page of recent tracks and followed artists).
    *
    * The scan is driven by a one-row, one-partition `range`, which Spark
    * knows to be a single partition: it runs in the stage that reads it,
    * with no exchange before the first request, and a global sort or
    * aggregate above it needs no exchange either (which would paginate
    * twice: once to sample, once to shuffle). */
  private def pagesDF(spark: SparkSession, firstUrl: String,
      followCursor: Boolean = true): DataFrame = {
    import spark.implicits._
    val headers = authHeaders
    val c = client
    spark.range(0, 1, 1, numPartitions = 1)
      .mapPartitions { _ =>
        Iterator.unfold(Option(firstUrl)) {
          case Some(url) =>
            val body = checkedBody(c.get(url, headers), url)
            Some((body, if (followCursor) nextCursor(body) else None))
          case None => None
        }
      }
      .toDF("page")
  }

  /** GET /me/playlists → `playlists` table (spotify-etl.py:68-89). */
  def playlists(spark: SparkSession): DataFrame =
    pagesDF(spark, s"$baseUrl/me/playlists")
      .select(explode(from_json(col("page"), SpotifySchemas.playlistsPage)("items")).as("it"))
      .select(
        col("it.id").as("id"),
        col("it.href").as("href"),
        col("it.name").as("name"),
        col("it.owner.display_name").as("owner"), // nested projection (P1)
        col("it.public").as("public"),
        col("it.collaborative").as("collaborative"),
        col("it.tracks.total").as("tracks"))

  /** Keyed fan-out (spotify-etl.py:91-111, gathered at :240-243): one
    * paginated tracks fetch per playlist id, executed on executors via
    * `mapPartitions` — the reference's asyncio.gather becomes task
    * parallelism sized by `fanOutParallelism`. Emits (playlist_id, page). */
  def playlistTracks(spark: SparkSession, playlistIds: Dataset[String]): DataFrame = {
    import spark.implicits._
    val base = baseUrl
    val headers = authHeaders
    val c = client
    val pages = playlistIds
      .repartition(fanOutParallelism)
      .mapPartitions { ids =>
        ids.flatMap { pid =>
          // per-id cursor loop, inside the executor (SURVEY.md §3.2)
          Iterator.unfold(Option(s"$base/playlists/$pid/tracks")) {
            case Some(url) =>
              val body = checkedBody(c.get(url, headers), url)
              Some(((pid, body), nextCursor(body)))
            case None => None
          }
        }
      }
      .toDF("playlist_id", "page")
    pages
      .select(
        col("playlist_id"),
        explode(from_json(col("page"), SpotifySchemas.playlistTracksPage)("items")).as("it"))
      .filter(col("it.track").isNotNull) // null-record filter (spotify-etl.py:106)
      .select(
        col("it.track.id").as("id"),
        col("it.track.name").as("name"),
        element_at(col("it.track.artists"), 1)("name").as("artist"), // artists[0].name
        col("it.track.album.name").as("album"),
        col("playlist_id")) // injected join key (spotify-etl.py:105)
  }

  /** GET /me/tracks → `saved_tracks` (spotify-etl.py:113-132). */
  def savedTracks(spark: SparkSession): DataFrame =
    pagesDF(spark, s"$baseUrl/me/tracks")
      .select(explode(from_json(col("page"), SpotifySchemas.savedTracksPage)("items")).as("it"))
      .filter(col("it.track").isNotNull)
      .select(
        col("it.track.id").as("id"),
        col("it.track.name").as("name"),
        element_at(col("it.track.artists"), 1)("name").as("artist"),
        col("it.track.album.name").as("album"),
        to_timestamp(col("it.added_at")).as("added_at"))

  /** Batched ID lookup (spotify-etl.py:134-173): ≤100 ids per request —
    * semantically a join against a remote key-value source. Each id is
    * requested once (C2, spotify-etl.py:250): the ids are hash-partitioned
    * on their column, and the `distinct` aggregate reuses that partitioning,
    * so dedup and fan-out share one exchange (AQE does not coalesce a
    * repartition to a given number). `grouped(100)` inside `mapPartitions`
    * handles the tail batch uniformly (the reference needs a separate
    * branch for it, spotify-etl.py:157-166). */
  def audioFeatures(spark: SparkSession, trackIds: Dataset[String]): DataFrame = {
    import spark.implicits._
    val base = baseUrl
    val headers = authHeaders
    val c = client
    val bodies = trackIds
      .repartition(fanOutParallelism, col(trackIds.columns.head))
      .distinct()
      .mapPartitions { ids =>
        ids.grouped(100).map { batch =>
          val url = s"$base/audio-features?ids=${batch.mkString(",")}"
          checkedBody(c.get(url, headers), url)
        }
      }
      .toDF("batch")
    bodies
      .select(explode(
        from_json(col("batch"), SpotifySchemas.audioFeaturesBatch)("audio_features")).as("af"))
      .filter(col("af").isNotNull) // null filter (spotify-etl.py:167)
      .select(col("af.*"))
  }

  /** GET /me/player/recently-played, single page (spotify-etl.py:175-190). */
  def recentTracks(spark: SparkSession): DataFrame =
    pagesDF(spark, s"$baseUrl/me/player/recently-played", followCursor = false)
      .select(explode(from_json(col("page"), SpotifySchemas.recentTracksPage)("items")).as("it"))
      .filter(col("it.track").isNotNull)
      .select(
        col("it.track.id").as("id"),
        col("it.track.name").as("name"),
        element_at(col("it.track.artists"), 1)("name").as("artist"),
        col("it.track.album.name").as("album"),
        to_timestamp(col("it.played_at")).as("played_at"))

  /** GET /me/following?type=artist, single page (spotify-etl.py:192-207). */
  def followedArtists(spark: SparkSession): DataFrame =
    pagesDF(spark, s"$baseUrl/me/following?type=artist", followCursor = false)
      .select(explode(
        from_json(col("page"), SpotifySchemas.followedArtistsPage)("artists")("items")).as("it"))
      .select(
        col("it.id").as("id"),
        col("it.name").as("name"),
        array_join(col("it.genres"), ", ").as("genres"), // flatten (spotify-etl.py:199)
        col("it.popularity").as("popularity"),
        col("it.followers.total").as("followers"))
}

object SpotifySource {
  private val mapper = new ObjectMapper

  /** Pull the `next` cursor out of a raw page body (spotify-etl.py:74). */
  private[sources] def nextCursor(pageBody: String): Option[String] = {
    val n = mapper.readTree(pageBody).path("next")
    if (n.isMissingNode || n.isNull) None else Some(n.asText)
  }

  /** Loud status guard for every connector fetch (round-2 ADVICE): parsing
    * an error body would yield `from_json` nulls — rows silently dropped and
    * pagination silently stopped. Fail the task instead, matching the v2
    * TracksReader. Static so `mapPartitions` closures don't capture the
    * source instance. */
  private[sources] def checkedBody(r: HttpResponse, url: String): String = {
    if (r.status < 200 || r.status >= 300)
      sys.error(s"spotify connector: HTTP ${r.status} for $url: ${r.body.take(200)}")
    r.body
  }

  /** Cursor extraction for the v2 connector subpackage. */
  def nextCursorPublic(pageBody: String): Option[String] = nextCursor(pageBody)
}
