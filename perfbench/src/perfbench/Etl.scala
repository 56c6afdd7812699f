package perfbench

import java.sql.{DriverManager, Timestamp}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.util.hashing.MurmurHash3

import graft.sources.{HttpClient, HttpResponse}

/** The `etl_spotify` workload's inputs: a seeded synthetic Spotify account
  * served by an in-process HTTP stub, and the six tables the reference
  * pipeline must load from it.
  *
  * The account's shape is fixed so that every seed issues the same number
  * of requests along the same chains: 4 playlists (one page), each of 50
  * items (3 pages), 100 saved tracks (5 pages), 20 recently played and 15
  * followed artists (one page each). Every list is served in pages of
  * `PageSize`, since the reference asks for no other page size. The seed
  * picks the tracks, which items are `track: null`, and on which page of
  * every paginated chain the one 429 falls. */
final class Catalogue(seed: Long) {
  import Catalogue._

  private val rng = new scala.util.Random(seed)

  final case class Track(id: String, name: String, artist: String, album: String) {
    def json: String =
      s"""{"id": "$id", "name": "$name", "artists": [{"name": "$artist"}], "album": {"name": "$album"}}"""
    def cols: Seq[String] = Seq(id, name, artist, album)
  }

  private val pool: IndexedSeq[Track] = (0 until PoolSize).map { i =>
    Track(f"t$i%04d", s"Song $i", s"artist-${i % 60}", s"album-${i % 90}")
  }

  /** `n` items, of which `nulls` are `track: null` at seeded positions. */
  private def items(n: Int, nulls: Int): IndexedSeq[Option[Track]] = {
    val holes = rng.shuffle((0 until n).toList).take(nulls).toSet
    (0 until n).map(i => if (holes(i)) None else Some(pool(rng.nextInt(PoolSize))))
  }

  val playlistIds: IndexedSeq[String] = (0 until Playlists).map(i => f"p$i%02d")
  val playlistItems: Map[String, IndexedSeq[Option[Track]]] =
    playlistIds.map(p => p -> items(PlaylistSize, 2)).toMap
  val saved: IndexedSeq[(Option[Track], String)] =
    items(Saved, 3).zipWithIndex.map { case (t, i) => t -> iso(i * 3600L) }
  val recent: IndexedSeq[(Option[Track], String)] =
    items(Recent, 1).zipWithIndex.map { case (t, i) => t -> iso(40L * 86400 + i * 600L) }
  val artists: IndexedSeq[(String, String, Seq[String], Int, Int)] =
    (0 until Followed).map { i =>
      val genres = rng.shuffle(Genres).take(1 + rng.nextInt(3))
      (f"a$i%02d", s"Artist $i", genres, rng.nextInt(101), rng.nextInt(100000))
    }

  // ---- the HTTP surface --------------------------------------------------

  private def page[A](url: String, all: IndexedSeq[A], size: Int)(item: A => String)
      : Seq[(String, String)] =
    all.grouped(size).zipWithIndex.map { case (chunk, k) =>
      val here = if (k == 0) url else s"$url?offset=${k * size}"
      val next =
        if ((k + 1) * size < all.size) "\"" + s"$url?offset=${(k + 1) * size}" + "\""
        else "null"
      here -> s"""{"items": [${chunk.map(item).mkString(", ")}], "next": $next}"""
    }.toSeq

  private def trackItem(t: Option[Track]): String =
    s"""{"track": ${t.map(_.json).getOrElse("null")}}"""

  private val chains: Seq[Seq[(String, String)]] =
    Seq(page(s"$Base/me/playlists", playlistIds, PageSize) { p =>
      val i = p.drop(1).toInt
      s"""{"id": "$p", "href": "$Base/playlists/$p", "name": "Playlist $i", """ +
        s""""owner": {"display_name": "user-${i % 3}"}, "public": ${i % 2 == 0}, """ +
        s""""collaborative": ${i % 3 == 0}, "tracks": {"total": $PlaylistSize}}"""
    }) ++
      playlistIds.map(p => page(s"$Base/playlists/$p/tracks", playlistItems(p), PageSize)(trackItem)) ++
      Seq(page(s"$Base/me/tracks", saved, PageSize) { case (t, at) =>
        s"""{"added_at": "$at", "track": ${t.map(_.json).getOrElse("null")}}"""
      })

  /** Exactly one page of every paginated chain answers 429 once. */
  val throttled: Set[String] = chains.map(c => c(rng.nextInt(c.size))._1).toSet

  val pages: Map[String, String] = chains.flatten.toMap ++ Map(
    s"$Base/me/player/recently-played" ->
      s"""{"items": [${recent.map { case (t, at) =>
        s"""{"played_at": "$at", "track": ${t.map(_.json).getOrElse("null")}}"""
      }.mkString(", ")}]}""",
    s"$Base/me/following?type=artist" ->
      s"""{"artists": {"items": [${artists.map { case (id, name, g, pop, fol) =>
        s"""{"id": "$id", "name": "$name", "genres": [${g.map("\"" + _ + "\"").mkString(", ")}], """ +
          s""""popularity": $pop, "followers": {"total": $fol}}"""
      }.mkString(", ")}]}}""")

  // ---- the tables a correct load leaves behind ---------------------------

  private val tracksInPlaylists: Seq[(Track, String)] =
    playlistIds.flatMap(p => playlistItems(p).flatten.map(_ -> p))

  val trackIds: Set[String] =
    (tracksInPlaylists.map(_._1.id) ++ saved.flatMap(_._1).map(_.id)).toSet

  /** Every table's rows as the JDBC sink stores them: all text, with the
    * ingest timestamp appended. */
  def expectedRows: Map[String, Seq[Seq[String]]] = {
    val ingest = IngestText
    Map(
    "playlists" -> playlistIds.map { p =>
      val i = p.drop(1).toInt
      Seq(p, s"$Base/playlists/$p", s"Playlist $i", s"user-${i % 3}",
        (i % 2 == 0).toString, (i % 3 == 0).toString, PlaylistSize.toString, ingest)
    },
    "playlists_tracks" -> tracksInPlaylists.map { case (t, p) => t.cols :+ p :+ ingest },
    "saved_tracks" -> saved.collect { case (Some(t), at) => t.cols :+ sqlTs(at) :+ ingest },
    "recent_tracks" -> recent.collect { case (Some(t), at) => t.cols :+ sqlTs(at) :+ ingest },
    "followed_artists" -> artists.map { case (id, name, g, pop, fol) =>
      Seq(id, name, g.mkString(", "), pop.toString, fol.toString, ingest)
    },
    "audio_features" -> trackIds.toSeq.map(id => audioCols(id) :+ ingest))
  }
}

object Catalogue {
  val Base = "https://api.spotify.com/v1"
  /** The ingest timestamp every pipeline run stamps, and its text form. */
  val IngestText = "2024-03-01 00:00:00"
  val Ingest: Timestamp = Timestamp.valueOf(IngestText)
  val PoolSize = 400
  /** Items per page. The reference's requests name no `limit`, so the
    * API's default applies; 20 is the low end of its defaults. */
  val PageSize = 20
  val Playlists = 4
  val PlaylistSize = 50
  val Saved = 100
  /** Recently played is one request, so at most one page. */
  val Recent = 20
  val Followed = 15
  val Genres: Seq[String] = Seq("rock", "jazz", "pop", "folk", "metal", "soul", "blues")

  private val T0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond

  private def iso(offsetS: Long): String =
    java.time.Instant.ofEpochSecond(T0 + offsetS).toString

  /** `2024-01-05T10:00:00Z` as Spark casts the parsed timestamp to text in
    * a UTC session. */
  private def sqlTs(iso: String): String = iso.stripSuffix("Z").replace('T', ' ')

  /** Audio features are a pure function of the track id. */
  def audioCols(id: String): Seq[String] = {
    val k = id.drop(1).toInt
    Seq(((k % 97) + 1) / 100.0, ((k * 7 % 97) + 1) / 100.0).map(_.toString) ++
      Seq((k % 12).toString, (-((k % 150) + 10) / 10.0).toString, (k % 2).toString) ++
      Seq(5, 11, 13, 17, 19).map(m => (((k * m) % 97 + 1) / 100.0).toString) ++
      Seq((80 + k % 90 + 0.5).toString, "audio_features", id, s"spotify:track:$id",
        s"$Base/tracks/$id", s"$Base/audio-analysis/$id",
        (150000 + k * 100).toString, "4")
  }

  private val AudioNames = Seq("danceability", "energy", "key", "loudness", "mode",
    "speechiness", "acousticness", "instrumentalness", "liveness", "valence", "tempo",
    "type", "id", "uri", "track_href", "analysis_url", "duration_ms", "time_signature")
  private val Quoted = Set("type", "id", "uri", "track_href", "analysis_url")

  def audioJson(id: String): String =
    AudioNames.zip(audioCols(id)).map { case (n, v) =>
      if (Quoted(n)) s""""$n": "$v"""" else s""""$n": $v"""
    }.mkString("{", ", ", "}")

  /** Order-independent digest of a table's rows. */
  def digest(rows: Iterator[Seq[String]]): String = {
    var n, a, b = 0L
    rows.foreach { r =>
      val s = r.map(v => if (v == null) "\u0000" else v).mkString("\u0001")
      n += 1
      a += MurmurHash3.stringHash(s, 17)
      b += MurmurHash3.stringHash(s, 91)
    }
    s"$n:$a:$b"
  }
}

/** The stub's process-wide state. Spark ships the client inside task
  * closures, so each task holds its own copy of the client object; the
  * catalogue and the counters live here, once per JVM, for all copies. */
object Stub {
  @volatile var catalogue: Catalogue = _
  /** Fixed per-request service time of the stub, kept small: a longer one
    * adds the same time to every request, in a layer outside the engine. */
  val ServiceMs = 2L
  /** `Retry-After` of a 429, in whole seconds as HTTP sends it; 1 s is the
    * wait the reference falls back to when the header is missing. */
  val RetryAfter = "1"

  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  /** Starts a fresh pipeline run: each throttled page answers 429 once. */
  def newRun(): Unit = attempts.clear()

  val requests, throttled, ok, httpNs, sleepMs = new LongAdder

  def respond(url: String): HttpResponse = {
    val c = catalogue
    val n = attempts.computeIfAbsent(url, _ => new AtomicInteger).getAndIncrement()
    if (n == 0 && c.throttled(url)) HttpResponse(429, "", Map("Retry-After" -> RetryAfter))
    else c.pages.get(url).map(HttpResponse(200, _)).getOrElse {
      if (url.startsWith(s"${Catalogue.Base}/audio-features?ids=")) {
        val ids = url.substring(url.indexOf("ids=") + 4).split(",")
        HttpResponse(200, ids.map(Catalogue.audioJson).mkString("{\"audio_features\": [", ", ", "]}"))
      } else HttpResponse(404, "{}")
    }
  }

  /** The sleeper handed to `RateLimitedClient`: pacing and Retry-After
    * waits, measured from outside. */
  def sleep(ms: Long): Unit = { sleepMs.add(ms); Thread.sleep(ms) }

  def snapshot(): Map[String, Long] = Map(
    "http_requests" -> requests.sum, "http_429" -> throttled.sum,
    "http_ok" -> ok.sum, "http_ns" -> httpNs.sum, "sleep_ms" -> sleepMs.sum)
}

/** The in-process Spotify API, with a counting decorator built in. */
final class StubClient extends HttpClient {
  override def get(url: String, headers: Map[String, String]): HttpResponse = {
    val t0 = System.nanoTime()
    Thread.sleep(Stub.ServiceMs)
    val r = Stub.respond(url)
    Stub.httpNs.add(System.nanoTime() - t0)
    Stub.requests.increment()
    if (r.status == 429) Stub.throttled.increment()
    if (r.status == 200) Stub.ok.increment()
    r
  }
}

/** The in-memory Derby database the six tables load into. */
object Derby {
  val Url = "jdbc:derby:memory:perfbench;create=true"
  val Tables: Seq[String] = Seq("playlists", "playlists_tracks", "saved_tracks",
    "recent_tracks", "followed_artists", "audio_features")

  def open(): Unit = {
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val c = DriverManager.getConnection(Url)
    try Tables.foreach { t =>
      val st = c.createStatement()
      try st.executeUpdate(s"DROP TABLE $t") catch { case _: java.sql.SQLException => () }
      finally st.close()
    } finally c.close()
  }

  /** Each table's digest, read back over plain JDBC. */
  def digests(): Map[String, String] = {
    val c = DriverManager.getConnection(Url)
    try Tables.map { t =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT * FROM $t")
        val n = rs.getMetaData.getColumnCount
        t -> Catalogue.digest(Iterator.continually(rs).takeWhile(_.next())
          .map(r => (1 to n).map(r.getString)))
      } finally st.close()
    }.toMap
    finally c.close()
  }
}
