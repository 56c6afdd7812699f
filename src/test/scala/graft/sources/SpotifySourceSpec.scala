package graft.sources

import java.sql.{DriverManager, Timestamp}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Stub-driven connector tests (SURVEY.md §5.2-5): pagination cursoring,
  * 429 retry with Retry-After, ≤100-id batching incl. the tail batch, the
  * null-track filter, and the union-distinct fetch-dedup — the behaviors the
  * reference implements at /root/reference/spotify-etl.py:47-62, :72-75,
  * :106, :151-166, :247-251.
  */
object FakeHttp {
  // static so executor-side lookups share state with the driver (local mode)
  val requests = new ConcurrentLinkedQueue[String]()
  /** Names of the threads a test's recording sleeper ran on. */
  val sleeps = new ConcurrentLinkedQueue[String]()
  @volatile var routes: String => HttpResponse = _ => HttpResponse(404, "{}")

  def reset(r: String => HttpResponse): Unit = { requests.clear(); routes = r }
  def requested: Seq[String] = requests.asScala.toSeq
}

final class FakeHttpClient extends HttpClient {
  override def get(url: String, headers: Map[String, String]): HttpResponse = {
    FakeHttp.requests.add(url)
    FakeHttp.routes(url)
  }
}

class SpotifySourceSpec extends AnyFunSuite with BeforeAndAfterEach {
  private val spark = TestSpark.spark
  private val Base = "https://api.spotify.com/v1"

  private def track(id: String, name: String): String =
    s"""{"id": "$id", "name": "$name", "artists": [{"name": "artist-$id"}, {"name": "other"}],
       |"album": {"name": "album-$id"}}""".stripMargin

  private def ok(body: String) = HttpResponse(200, body)

  private val fixtures: Map[String, String] = Map(
    s"$Base/me/playlists" ->
      s"""{"items": [{"id": "p1", "href": "h1", "name": "Mix 1",
         |  "owner": {"display_name": "alice"}, "public": true,
         |  "collaborative": false, "tracks": {"total": 2}}],
         |"next": "$Base/me/playlists?offset=1"}""".stripMargin,
    s"$Base/me/playlists?offset=1" ->
      s"""{"items": [{"id": "p2", "href": "h2", "name": "Mix 2",
         |  "owner": {"display_name": "bob"}, "public": false,
         |  "collaborative": true, "tracks": {"total": 1}}],
         |"next": null}""".stripMargin,
    s"$Base/playlists/p1/tracks" ->
      s"""{"items": [{"track": ${track("t1", "Song 1")}},
         |{"track": null},
         |{"track": ${track("t2", "Song 2")}}], "next": null}""".stripMargin,
    s"$Base/playlists/p2/tracks" ->
      s"""{"items": [{"track": ${track("t3", "Song 3")}}], "next": null}""".stripMargin,
    s"$Base/me/tracks" ->
      s"""{"items": [
         |{"added_at": "2024-01-05T10:00:00Z", "track": ${track("t2", "Song 2")}},
         |{"added_at": "2024-01-06T11:30:00Z", "track": ${track("t4", "Song 4")}}],
         |"next": null}""".stripMargin,
    s"$Base/me/player/recently-played" ->
      s"""{"items": [{"played_at": "2024-02-01T08:00:00Z",
         |  "track": ${track("t1", "Song 1")}}]}""".stripMargin,
    s"$Base/me/following?type=artist" ->
      """{"artists": {"items": [
        |{"id": "a1", "name": "Artist 1", "genres": ["rock", "indie"],
        |  "popularity": 55, "followers": {"total": 1000}},
        |{"id": "a2", "name": "Artist 2", "genres": [],
        |  "popularity": 20, "followers": {"total": 5}}]}}""".stripMargin
  )

  /** audio-features: synthesize one object per requested id. */
  private def route(url: String): HttpResponse =
    if (url.startsWith(s"$Base/audio-features?ids=")) {
      val ids = url.substring(s"$Base/audio-features?ids=".length).split(",")
      val objs = ids.map(id =>
        s"""{"id": "$id", "danceability": 0.5, "energy": 0.7, "tempo": 120.0,
           |"key": 5, "duration_ms": 180000}""".stripMargin)
      ok(s"""{"audio_features": [${objs.mkString(",")}]}""")
    } else fixtures.get(url).map(ok).getOrElse(HttpResponse(404, "{}"))

  override def beforeEach(): Unit = FakeHttp.reset(route)

  private def source(par: Int = 2) =
    new SpotifySource(new FakeHttpClient, Base, par)

  private val Ingest = Timestamp.valueOf("2024-03-01 00:00:00")

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** `runConcurrent` with a row-counting writer, bounded so that a hung
    * scheduler fails the test instead of stalling the suite. `onWrite`
    * sees each table's name as its write starts; `load` (a count unless
    * given) writes the table and returns its row count. Returns the row
    * count of every table written and the run's outcome. */
  private def loadAll(onWrite: String => Unit = _ => (),
      load: (String, DataFrame) => Long = (_, df) => df.count())
      : (Map[String, Long], Try[Map[String, DataFrame]]) = {
    val written = new ConcurrentHashMap[String, Long]()
    val run = Future(new SpotifyPipeline(source()).runConcurrent(spark, Ingest,
      (name, df) => { onWrite(name); written.put(name, load(name, df)) }))(ExecutionContext.global)
    val outcome = Await.ready(run, 2.minutes).value.get
    graft.Caches.release(spark)
    (written.asScala.toMap, outcome)
  }

  private val AllRows = Map(
    "playlists" -> 2L, "playlists_tracks" -> 3L, "saved_tracks" -> 2L,
    "recent_tracks" -> 1L, "followed_artists" -> 2L, "audio_features" -> 4L)

  /** One page with one track of playlist `pid`, its cursor at `next`. */
  private def tracksPage(pid: String, next: Option[String]): HttpResponse = {
    val cursor = next.fold("null")(u => "\"" + u + "\"")
    ok(s"""{"items": [{"track": ${track(s"t-$pid", "S")}}], "next": $cursor}""")
  }

  /** `pages` pages of one track each for every playlist `q1..qn`, each
    * request passed through `hook` first. */
  private def fanOutRoute(pages: Int, hook: String => Unit = _ => ())(url: String)
      : HttpResponse = {
    hook(url)
    val Tracks = s"$Base/playlists/(q[0-9]+)/tracks(?:\\?offset=([0-9]+))?".r
    url match {
      case Tracks(pid, off) =>
        val k = Option(off).map(_.toInt).getOrElse(0)
        tracksPage(pid, Option(k + 1).filter(_ < pages).map(n => s"$Base/playlists/$pid/tracks?offset=$n"))
      case _ => route(url)
    }
  }

  private def playlistIds(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => s"q$i").toDS()
  }

  /** `body`'s result and the jobs it ran, as (job group or "", start,
    * end) in epoch milliseconds. */
  private def withJobs[A](body: => A): (A, Seq[(String, Long, Long)]) = {
    val starts = new ConcurrentHashMap[Int, (String, Long)]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = starts.put(js.jobId,
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
          -> js.time)
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ends.put(je.jobId, je.time)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      // the listener bus is async: wait until every job seen has ended
      // and no more arrive
      var last = -1
      while (starts.size != last || ends.size != starts.size) { last = starts.size; Thread.sleep(300) }
      (a, starts.asScala.toSeq.map { case (id, (g, t)) => (g, t, ends.get(id)) })
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def laneThreads: Int =
    Thread.getAllStackTraces.keySet.asScala.count(_.getName.startsWith(SpotifySource.LanePrefix))

  /** Every operator of an executed plan, through AQE's query stages. */
  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(collectPlan)
  }

  test("playlists: cursor pagination follows next until null (S2)") {
    val df = source().playlists(spark)
    val rows = df.orderBy("id").collect().map(_.toSeq)
    assert(rows === Seq(
      Seq("p1", "h1", "Mix 1", "alice", true, false, 2),
      Seq("p2", "h2", "Mix 2", "bob", false, true, 1)))
    assert(FakeHttp.requested.count(_.contains("/me/playlists")) === 2)
  }

  test("playlistTracks: executor fan-out, null-track filter, injected key (S3/P3/P5)") {
    import spark.implicits._
    val df = source().playlistTracks(spark, Seq("p1", "p2").toDS())
    val rows = df.orderBy("id").collect().map(_.toSeq)
    assert(rows === Seq(
      Seq("t1", "Song 1", "artist-t1", "album-t1", "p1"),
      Seq("t2", "Song 2", "artist-t2", "album-t2", "p1"),
      Seq("t3", "Song 3", "artist-t3", "album-t3", "p2")))
  }

  test("savedTracks parses added_at as timestamp (S4)") {
    val rows = source().savedTracks(spark).orderBy("id").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("t2", "t4"))
    assert(rows.head.getTimestamp(4) === Timestamp.valueOf("2024-01-05 10:00:00"))
  }

  test("audioFeatures batches ids by 100 including the tail (S5/C3)") {
    import spark.implicits._
    val ids = (1 to 250).map(i => s"tr$i")
    val df = source(par = 1).audioFeatures(spark, ids.toDS())
    assert(df.count() === 250)
    val batchSizes = FakeHttp.requested
      .filter(_.contains("audio-features"))
      .map(_.split("ids=")(1).split(",").length)
      .sorted
    assert(batchSizes === Seq(50, 100, 100))
  }

  test("followedArtists flattens genres to a delimited string (S7/P4)") {
    val rows = source().followedArtists(spark).orderBy("id").collect().map(_.toSeq)
    assert(rows === Seq(
      Seq("a1", "Artist 1", "rock, indie", 55, 1000),
      Seq("a2", "Artist 2", "", 20, 5)))
  }

  test("RateLimitedClient: 429 retries honor Retry-After, then succeed (S8)") {
    var calls = 0
    val sleeps = Seq.newBuilder[Long]
    val flaky = new HttpClient {
      override def get(url: String, headers: Map[String, String]): HttpResponse = {
        calls += 1
        if (calls <= 2) HttpResponse(429, "", Map("Retry-After" -> "3"))
        else HttpResponse(200, "ok")
      }
    }
    val client = new RateLimitedClient(flaky, minIntervalMs = 0, maxRetries = 5,
      sleeper = sleeps += _)
    assert(client.get("u", Map.empty).status === 200)
    assert(calls === 3)
    assert(sleeps.result().count(_ === 3000L) === 2)
  }

  test("RateLimitedClient gives up after maxRetries") {
    val always429 = new HttpClient {
      override def get(url: String, headers: Map[String, String]) =
        HttpResponse(429, "", Map("Retry-After" -> "1"))
    }
    val client = new RateLimitedClient(always429, minIntervalMs = 0, maxRetries = 2,
      sleeper = _ => ())
    assert(client.get("u", Map.empty).status === 429)
  }

  test("cursor scan is lazy: LIMIT 1 stops the page fetches themselves") {
    // The executor-side Iterator.unfold streams pages through the pipelined
    // explode stage — one page resident at a time — so a downstream limit
    // short-circuits pagination. The round-1 driver-Seq shape fetched every
    // page at plan time regardless of what the query consumed.
    val one = source().playlists(spark).limit(1).collect()
    assert(one.length === 1)
    assert(FakeHttp.requested === Seq(s"$Base/me/playlists"),
      "only the first page may be fetched under LIMIT 1")
  }

  test("connector fails loudly on a non-2xx page instead of truncating (r2 ADVICE)") {
    FakeHttp.reset(_ => HttpResponse(503, """{"error": "down"}"""))
    val e = intercept[Exception] {
      source().playlists(spark).collect()
    }
    assert(messages(e).exists(_.contains("HTTP 503")))
  }

  test("nextCursor: null, missing, and present cursors") {
    assert(SpotifySource.nextCursor("""{"next": null}""") === None)
    assert(SpotifySource.nextCursor("""{}""") === None)
    assert(SpotifySource.nextCursor("""{"next": "u2"}""") === Some("u2"))
  }

  test("each extract's schema is its pinned SpotifySchemas table type (names and types)") {
    import spark.implicits._
    def shape(t: StructType) = t.fields.toSeq.map(f => f.name -> f.dataType)
    val src = source()
    val extracts = Seq(
      "playlists" -> (src.playlists(spark), SpotifySchemas.playlists),
      "playlists_tracks" ->
        (src.playlistTracks(spark, Seq("p1").toDS()), SpotifySchemas.playlistsTracks),
      "saved_tracks" -> (src.savedTracks(spark), SpotifySchemas.savedTracks),
      "recent_tracks" -> (src.recentTracks(spark), SpotifySchemas.recentTracks),
      "followed_artists" -> (src.followedArtists(spark), SpotifySchemas.followedArtists))
    for ((table, (df, pinned)) <- extracts)
      assert(shape(df.schema) === shape(pinned), s"$table drifted from its pinned schema")
  }

  test("pipeline: six staged tables; union-distinct fetches each id once (C2)") {
    val ts = Timestamp.valueOf("2024-03-01 00:00:00")
    val tables = new SpotifyPipeline(source()).run(spark, ts)
    assert(tables.keySet === Set("playlists", "playlists_tracks", "saved_tracks",
      "recent_tracks", "followed_artists", "audio_features"))

    val counts = tables.map { case (k, df) => k -> df.count() }
    assert(counts === Map(
      "playlists" -> 2L, "playlists_tracks" -> 3L, "saved_tracks" -> 2L,
      "recent_tracks" -> 1L, "followed_artists" -> 2L, "audio_features" -> 4L))

    // every column stringly-typed + ingest_date appended (P6/P7)
    for ((name, df) <- tables) {
      assert(df.schema.fields.forall(_.dataType.typeName == "string"), name)
      assert(df.columns.last === "ingest_date", name)
    }

    // the union-distinct means ids {t1..t4} are each looked up exactly once
    val fetched = FakeHttp.requested
      .filter(_.contains("audio-features"))
      .flatMap(_.split("ids=")(1).split(","))
    assert(fetched.sorted === Seq("t1", "t2", "t3", "t4"))
  }

  test("runConcurrent: dependency-driven writes, each endpoint fetched once") {
    // The reference overlaps its three independent extracts with
    // asyncio.gather (spotify-etl.py:230-234). runConcurrent starts the
    // four independent write actions from parallel threads, and each
    // data-dependent one when the loads it reads are done. The law that
    // must SURVIVE the concurrency is single-fetch: no extract may be
    // re-paginated because two racing actions materialized the same cache.
    val ts = Timestamp.valueOf("2024-03-01 00:00:00")
    val written = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val tables = new SpotifyPipeline(source()).runConcurrent(spark, ts,
      (name, df) => written.put(name, df.count()))
    import scala.jdk.CollectionConverters._
    assert(written.asScala.toMap === Map(
      "playlists" -> 2L, "playlists_tracks" -> 3L, "saved_tracks" -> 2L,
      "recent_tracks" -> 1L, "followed_artists" -> 2L, "audio_features" -> 4L))
    assert(tables.keySet === written.asScala.keySet)
    // single-fetch law under concurrency: each page URL hit exactly once
    val byUrl = FakeHttp.requested.groupBy(identity).map { case (u, hits) => u -> hits.size }
    val dup = byUrl.filter { case (u, n) => n > 1 && !u.contains("audio-features") }
    assert(dup.isEmpty, s"concurrent waves re-fetched: $dup")
    // and the C2 id-dedup law still holds through the waved run
    val fetchedIds = FakeHttp.requested
      .filter(_.contains("audio-features"))
      .flatMap(_.split("ids=")(1).split(","))
    assert(fetchedIds.sorted === Seq("t1", "t2", "t3", "t4"))
  }

  test("pipeline: building the plan issues no HTTP request") {
    new SpotifyPipeline(source()).run(spark, Ingest)
    assert(FakeHttp.requested === Seq.empty)
  }

  test("audio lookup: in-task id dedup, no exchange, one job per action") {
    import spark.implicits._
    // 250 distinct ids: tr151..tr200 in both inputs, tr1..tr10 twice in one
    val first = ((1 to 200) ++ (1 to 10)).map(i => s"tr$i").toDS()
    val second = (151 to 250).map(i => s"tr$i").toDS()
    val audio = source(par = 1).audioFeatures(spark, first.union(second))
    val (rows, jobs) = withJobs(audio.collect())
    assert(rows.length === 250)
    assert(jobs.size === 1, "the lookup is not one job")
    val exec = audio.queryExecution.executedPlan
    assert(!collectPlan(exec).exists(_.isInstanceOf[ShuffleExchangeExec]), exec)
    val lookups = FakeHttp.requested.filter(_.contains("audio-features"))
    assert(lookups.size === 3)
    assert(lookups.flatMap(_.split("ids=")(1).split(",")).sorted ===
      (1 to 250).map(i => s"tr$i").sorted, "an id was requested twice")
  }

  test("runConcurrent: audio_features plans its load without a job or a request") {
    // The fan-out's first page is held. audio_features plans its load as
    // soon as its plan is built, before the playlists_tracks fill ends.
    // Each table is then loaded into Derby by one job of its own.
    val url = "jdbc:derby:memory:spotify_source_spec;create=true"
    val requestedAt = new ConcurrentLinkedQueue[(String, Long)]()
    FakeHttp.reset { u =>
      requestedAt.add(u -> System.currentTimeMillis())
      if (u == s"$Base/playlists/p1/tracks") Thread.sleep(1500)
      route(u)
    }
    def rowsIn(table: String): Long = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next()
        rs.getLong(1)
      } finally c.close()
    }
    val ((written, outcome), jobs) = withJobs(loadAll(
      onWrite = name => spark.sparkContext.setJobGroup(name, name),
      load = (name, df) => { JdbcReplaceSink.write(df, url, name); rowsIn(name) }))
    assert(outcome.isSuccess, outcome)
    assert(written === AllRows)
    val byGroup = jobs.groupBy(_._1)
    assert(byGroup("").size === 3, "a job outside the writes other than the three fills")
    assert((byGroup - "").map { case (g, js) => g -> js.size } === AllRows.map(_._1 -> 1),
      "a load was not one job")
    val fillsEnd = byGroup("").map(_._3).max
    assert(byGroup("audio_features").forall(_._2 >= fillsEnd), "the lookup job ran before the fills ended")
    val lookups = requestedAt.asScala.collect { case (u, t) if u.contains("audio-features") => t }
    assert(lookups.nonEmpty && lookups.forall(_ >= fillsEnd), "a lookup was sent before the fills ended")
  }

  test("runConcurrent: the fan-out starts while saved-tracks pagination is in flight") {
    // /me/tracks holds its task until the first playlist's items have been
    // requested. With a barrier between the independent extracts and the
    // fan-out, that request never comes and the wait times out.
    val fanOutStarted = new CountDownLatch(1)
    val overlapped = new AtomicBoolean(false)
    FakeHttp.reset { url =>
      if (url == s"$Base/playlists/p1/tracks") fanOutStarted.countDown()
      if (url == s"$Base/me/tracks") overlapped.set(fanOutStarted.await(20, TimeUnit.SECONDS))
      route(url)
    }
    val (written, outcome) = loadAll()
    assert(outcome.isSuccess, outcome)
    assert(written === AllRows)
    assert(overlapped.get, "playlists_tracks waited for the saved_tracks load")
  }

  test("runConcurrent: a failed load skips only its dependents, then throws its cause") {
    def failing(path: String): Unit = FakeHttp.reset(url =>
      if (url == s"$Base$path") HttpResponse(503, """{"error": "down"}""") else route(url))
    def fetched(part: String) = FakeHttp.requested.exists(_.contains(part))

    failing("/me/playlists")
    val (written, outcome) = loadAll()
    assert(written === AllRows -- Seq("playlists", "playlists_tracks", "audio_features"))
    assert(outcome.failed.toOption.exists(e => messages(e).exists(_.contains("HTTP 503"))), outcome)
    assert(!fetched("/playlists/p") && !fetched("audio-features"), FakeHttp.requested)

    // a failed saved_tracks load does not hold back the playlists' items
    failing("/me/tracks")
    val (written2, outcome2) = loadAll()
    assert(written2 === AllRows -- Seq("saved_tracks", "audio_features"))
    assert(outcome2.failed.toOption.exists(e => messages(e).exists(_.contains("HTTP 503"))), outcome2)
    assert(!fetched("audio-features"), FakeHttp.requested)
  }

  test("runConcurrent: a shared extract's first page is fetched before its table is written") {
    // each extract another table reads is filled by its own job first, so
    // its dependents can start while its table is still being written
    val firstPage = Map(
      "playlists" -> s"$Base/me/playlists",
      "saved_tracks" -> s"$Base/me/tracks",
      "playlists_tracks" -> s"$Base/playlists/p1/tracks")
    val fetchedFirst = new ConcurrentHashMap[String, Boolean]()
    val (written, outcome) = loadAll(name =>
      firstPage.get(name).foreach(u => fetchedFirst.put(name, FakeHttp.requested.contains(u))))
    assert(outcome.isSuccess, outcome)
    assert(written === AllRows)
    assert(fetchedFirst.asScala.toMap === firstPage.map { case (t, _) => t -> true })
  }

  test("runConcurrent: the fan-out starts while the playlists table is being written") {
    // the playlists write holds until the first playlist's items have been
    // requested; a fan-out that waits for that write never sends it
    val fanOutStarted = new CountDownLatch(1)
    val overlapped = new AtomicBoolean(false)
    FakeHttp.reset { url =>
      if (url.startsWith(s"$Base/playlists/")) fanOutStarted.countDown()
      route(url)
    }
    val (written, outcome) = loadAll(name =>
      if (name == "playlists") overlapped.set(fanOutStarted.await(20, TimeUnit.SECONDS)))
    assert(outcome.isSuccess, outcome)
    assert(written === AllRows)
    assert(overlapped.get, "playlists_tracks waited for the playlists write")
  }

  test("cursor scan: no shuffle exchange between the source and the pages") {
    val saved = source().savedTracks(spark)
    assert(saved.collect().length === 2)
    val exec = saved.queryExecution.executedPlan
    assert(!collectPlan(exec).exists(_.isInstanceOf[ShuffleExchangeExec]), exec)
  }

  test("runConcurrent inside an open Caches scope: the scope owns the three extracts") {
    // the extracts are persisted on the pipeline's own threads; they must
    // still land in the caller's scope, not in the session registry
    def cacheEmpty = castToImpl(spark).sharedState.cacheManager.isEmpty
    def readsCache(df: DataFrame) =
      df.select("*").queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])
    spark.catalog.clearCache()
    val scope = graft.Caches.beginScope()
    val tables =
      try {
        val tables = new SpotifyPipeline(source()).runConcurrent(spark, Ingest, (_, df) => df.count())
        graft.Caches.release(spark)
        tables
      } finally scope.close()
    assert(Seq("playlists", "playlists_tracks", "saved_tracks").forall(t => readsCache(tables(t))),
      "the session registry's release dropped an extract the scope owns")
    assert(!readsCache(tables("recent_tracks")) && !readsCache(tables("followed_artists")))
    scope.release()
    assert(cacheEmpty, "the scope's release left an extract in the cache")
  }

  test("playlistTracks: every playlist's chain is in flight at once, in lanes of one task") {
    // each chain's first page holds until all six have been requested; with
    // a Spark task per chain, local[4] runs four and the await times out
    val all = new CountDownLatch(6)
    val met = new ConcurrentLinkedQueue[Boolean]()
    FakeHttp.reset(fanOutRoute(pages = 1, url =>
      if (url.endsWith("/tracks")) { all.countDown(); met.add(all.await(10, TimeUnit.SECONDS)) }))
    val rows = source(par = 8).playlistTracks(spark, playlistIds(6)).collect()
    assert(rows.length === 6)
    assert(met.asScala.toSeq === Seq.fill(6)(true), "a chain waited for another's slot")
  }

  test("playlistTracks: fanOutParallelism bounds the requests in flight") {
    val inFlight, most = new AtomicInteger
    FakeHttp.reset { url =>
      val n = inFlight.incrementAndGet()
      most.accumulateAndGet(n, math.max)
      Thread.sleep(20)
      inFlight.decrementAndGet()
      fanOutRoute(pages = 2)(url)
    }
    val rows = source(par = 2).playlistTracks(spark, playlistIds(6)).collect()
    assert(rows.length === 12)
    assert(most.get === 2, s"${most.get} requests in flight with par = 2")
  }

  test("playlistTracks: no exchange, and the playlists_tracks extract is one partition") {
    import spark.implicits._
    val df = source().playlistTracks(spark, Seq("p1", "p2").toDS())
    assert(df.collect().length === 3)
    val exec = df.queryExecution.executedPlan
    assert(!collectPlan(exec).exists(_.isInstanceOf[ShuffleExchangeExec]), exec)

    val extract = new SpotifyPipeline(source()).run(spark, Ingest)("playlists_tracks")
    try {
      assert(extract.count() === 3)
      val parts = extract.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.getNumPartitions
      }
      assert(parts === Some(1))
    } finally graft.Caches.release(spark)
  }

  test("playlistTracks: one chain's HTTP 500 fails the extract, and no lane outlives it") {
    val before = laneThreads
    FakeHttp.reset(url =>
      if (url == s"$Base/playlists/q3/tracks?offset=1") HttpResponse(500, """{"error": "boom"}""")
      else fanOutRoute(pages = 3)(url))
    val e = intercept[Exception] {
      source(par = 4).playlistTracks(spark, playlistIds(6)).collect()
    }
    assert(messages(e).exists(_.contains("spotify connector: HTTP 500")), messages(e))
    assert(laneThreads === before)
  }

  test("playlistTracks: LIMIT 1 ends the task and stops its lanes") {
    // every page after the first blocks until the lane is interrupted
    val never = new CountDownLatch(1)
    val before = laneThreads
    FakeHttp.reset(fanOutRoute(pages = 3, url =>
      if (url.contains("offset=")) never.await(20, TimeUnit.SECONDS)))
    val t0 = System.nanoTime()
    val one = source(par = 4).playlistTracks(spark, playlistIds(6)).limit(1).collect()
    assert(one.length === 1)
    assert(laneThreads === before)
    assert((System.nanoTime() - t0) / 1e9 < 15, "the lanes ran until their requests timed out")
  }

  test("RateLimitedClient paces each lane on its own: chains overlap, pages keep the interval") {
    val minIntervalMs = 60L
    val times = new ConcurrentLinkedQueue[(String, Long)]()
    FakeHttp.reset(fanOutRoute(pages = 3, url => times.add(url -> System.nanoTime())))
    FakeHttp.sleeps.clear()
    val client = new RateLimitedClient(new FakeHttpClient, minIntervalMs = minIntervalMs,
      sleeper = ms => { FakeHttp.sleeps.add(Thread.currentThread.getName); Thread.sleep(ms) })
    val src = new SpotifySource(client, Base, fanOutParallelism = 2)
    assert(src.playlistTracks(spark, playlistIds(2)).collect().length === 6)

    val byChain = times.asScala.toSeq.groupBy { case (u, _) => u.split("/playlists/")(1).take(2) }
      .map { case (pid, hits) => pid -> hits.map(_._2).sorted }
    assert(byChain.keySet === Set("q1", "q2") && byChain.values.forall(_.size == 3))
    // pacing's clock is in whole milliseconds, hence the 1 ms slack
    for ((pid, ts) <- byChain; (a, b) <- ts.zip(ts.tail))
      assert((b - a) / 1e6 >= minIntervalMs - 1, s"$pid paged faster than its interval")
    // one shared pacer would space the chains' first requests an interval apart
    val (q1, q2) = (byChain("q1"), byChain("q2"))
    assert(math.abs(q1.head - q2.head) / 1e6 < minIntervalMs / 2, "the chains were serialized")
    assert(q1.head < q2.last && q2.head < q1.last, "the chains did not overlap")
    assert(FakeHttp.sleeps.asScala.toSet.size === 2, "pacing did not run on two lanes")
  }
}
