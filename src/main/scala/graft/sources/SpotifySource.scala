package graft.sources

import java.util.concurrent.{ArrayBlockingQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.{SparkEnv, TaskContext, TaskKilledException}
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
  * wrapping the injected client in [[RateLimitedClient]]; auth (a Bearer
  * header per request, refresh on 401) from wrapping it in [[OAuthClient]].
  *
  * Scale posture: pagination is inherently sequential per cursor, but the
  * keyed fetches (fan-out and lookup) run their HTTP chains as concurrent
  * lanes inside one task ([[SpotifySource.inLanes]]), at most
  * `fanOutParallelism` at once — the reference's `asyncio.gather` with the
  * cap its `Semaphore(5)` meant to set. A chain mostly sleeps on pacing and
  * `Retry-After`, so a lane is a thread, not a Spark task slot. Each lane
  * keeps its own deserialized copy of the client, as each cursor scan's
  * task does, so pacing holds per lane: per cursor chain or per fan-out or
  * lookup lane, like the reference's per-call sleep (SURVEY.md §7.5). No
  * request is made while the plan is built, and nothing is ever collected
  * back to the driver.
  */
final class SpotifySource(
    client: HttpClient,
    baseUrl: String = "https://api.spotify.com/v1",
    fanOutParallelism: Int = 8) extends Serializable {

  import SpotifySource._

  /** Cursor pagination (spotify-etl.py:72-75): follow `next` until null.
    * Round 2: the cursor loop ([[SpotifySource.pages]]) runs INSIDE a
    * one-partition `mapPartitions` as a lazy iterator — pagination is
    * inherently sequential (each page names its successor), but pages stream
    * one at a time through the pipelined from_json/explode stage instead of
    * accumulating in a driver Seq (the reference holds every page in memory,
    * spotify-etl.py:72-75; at 100× catalog size that's a driver OOM).
    * Neither driver nor executor ever holds more than the in-flight page;
    * a downstream LIMIT stops the HTTP fetches themselves (proven in
    * SpotifySourceSpec). The fan-out runs the same loop per playlist.
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
    val c = client
    spark.range(0, 1, 1, numPartitions = 1)
      .mapPartitions(_ => pages(c, firstUrl, followCursor))
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
    * paginated tracks fetch per playlist id. The id set is coalesced to one
    * partition (no exchange; the playlists extract is one partition
    * already), and its task runs one chain per playlist as a lane, at most
    * `fanOutParallelism` at once. Emits (playlist_id, page). */
  def playlistTracks(spark: SparkSession, playlistIds: Dataset[String]): DataFrame = {
    import spark.implicits._
    val base = baseUrl
    val c = client
    val par = fanOutParallelism
    playlistIds
      .coalesce(1)
      .mapPartitions { ids =>
        inLanes(ids, c, par) { (lane, pid) =>
          // per-id cursor loop, inside the executor (SURVEY.md §3.2)
          pages(lane, s"$base/playlists/$pid/tracks").map(pid -> _)
        }
      }
      .toDF("playlist_id", "page")
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
    * requested once (C2, spotify-etl.py:250): `coalesce(1)` runs the ids'
    * upstream in one task, with no exchange (in the pipeline that upstream
    * is two one-partition caches), and the task drops every id it has
    * already seen before batching. So the batches cover the whole deduped
    * list, `ceil(n/100)` lookups as in the reference
    * (spotify-etl.py:151-166), and the lookup is one job. The task sends
    * its batches as lanes, at most `fanOutParallelism` at once.
    * `grouped(100)` handles the tail batch uniformly (the reference needs a
    * separate branch for it, spotify-etl.py:157-166). */
  def audioFeatures(spark: SparkSession, trackIds: Dataset[String]): DataFrame = {
    import spark.implicits._
    val base = baseUrl
    val c = client
    val par = fanOutParallelism
    val bodies = trackIds
      .coalesce(1)
      .mapPartitions { ids =>
        val seen = new java.util.HashSet[String]
        inLanes(ids.filter(seen.add).grouped(100), c, par) { (lane, batch) =>
          val url = s"$base/audio-features?ids=${batch.mkString(",")}"
          Iterator.single(checkedBody(lane.get(url, Map.empty), url))
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
    * pagination silently stopped. Fail the task instead. Static so
    * `mapPartitions` closures don't capture the source instance. */
  private[sources] def checkedBody(r: HttpResponse, url: String): String = {
    if (r.status < 200 || r.status >= 300)
      sys.error(s"spotify connector: HTTP ${r.status} for $url: ${r.body.take(200)}")
    r.body
  }

  /** The one cursor loop (spotify-etl.py:72-75), lazy: from `firstUrl` it
    * fetches a page only when the previous one has been consumed, and
    * follows `next` until null (or not at all when `followCursor` is
    * false). Emits raw page bodies. */
  private def pages(client: HttpClient, firstUrl: String,
      followCursor: Boolean = true): Iterator[String] =
    Iterator.unfold(Option(firstUrl)) {
      case Some(url) =>
        val body = checkedBody(client.get(url, Map.empty), url)
        Some((body, if (followCursor) nextCursor(body) else None))
      case None => None
    }

  /** Name prefix of the lane threads [[inLanes]] starts. */
  private[sources] val LanePrefix = "spotify-lane-"
  private val laneIds = new AtomicInteger

  /** Runs `chain` once per key as concurrent lanes inside the calling task,
    * at most `par` at once, and streams what the chains emit as it arrives.
    * Keys are pulled on the task thread, one as a lane frees up. Each lane
    * is a thread with its own deserialized copy of `client`, so a
    * [[RateLimitedClient]] paces each lane's requests as it would a task's.
    * Items reach the task through a hand-off of `par` slots, so a lane
    * waits for the task rather than buffer a whole chain. A chain's failure
    * fails the task with its exception. When the task ends — exhausted,
    * failed, killed, or cut short by a LIMIT — its lanes are interrupted
    * and awaited. Must run inside a Spark task. */
  private[sources] def inLanes[K, O](keys: Iterator[K], client: HttpClient, par: Int)(
      chain: (HttpClient, K) => Iterator[O]): Iterator[O] = new Iterator[O] {
    private val ctx = TaskContext.get()
    private val ser = SparkEnv.get.closureSerializer.newInstance()
    private val bytes = ser.serialize(client)
    private val pool = Executors.newFixedThreadPool(par, { r: Runnable =>
      val t = new Thread(r, LanePrefix + laneIds.incrementAndGet())
      t.setDaemon(true)
      t
    })
    // What a lane hands the task thread, to run there: yield an item, or
    // end its chain (freeing its client) or rethrow its chain's failure.
    private val out = new ArrayBlockingQueue[() => Option[O]](par)
    private val free = new java.util.ArrayDeque[HttpClient]() // clients of idle lanes
    private var running = 0
    private var head: Option[O] = None
    @volatile private var stopped = false
    ctx.addTaskCompletionListener[Unit](_ => stop())

    private def start(key: K): Unit = {
      val lane = Option(free.poll()).getOrElse(ser.deserialize[HttpClient](bytes.duplicate()))
      running += 1
      pool.execute { () =>
        val end: () => Option[O] =
          try {
            chain(lane, key).foreach(o => out.put(() => Some(o)))
            () => { free.push(lane); running -= 1; None }
          } catch { case e: Throwable => () => throw e }
        // once stopped, nothing reads `out`: an interrupted put just ends the lane
        if (!stopped) try out.put(end) catch { case _: InterruptedException => () }
      }
    }

    private def stop(): Unit = if (!stopped) {
      stopped = true
      pool.shutdownNow()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }

    override def hasNext: Boolean = {
      while (head.isEmpty && (running > 0 || keys.hasNext)) {
        while (running < par && keys.hasNext) start(keys.next())
        val msg = out.poll(100, TimeUnit.MILLISECONDS)
        if (msg != null) head = msg()
        if (ctx.isInterrupted()) throw new TaskKilledException
      }
      if (head.isEmpty) stop()
      head.isDefined
    }

    override def next(): O = {
      if (!hasNext) throw new NoSuchElementException("no more lane output")
      val o = head.get
      head = None
      o
    }
  }
}
