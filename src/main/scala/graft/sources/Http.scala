package graft.sources

/** Minimal HTTP abstraction for the REST connector.
  *
  * The sandbox has no network, so production code and tests both run against
  * this trait; a real deployment drops in a `java.net.http.HttpClient`-backed
  * implementation. Serializable because executor-side fan-out
  * (`SpotifySource.playlistTracks` / `audioFeatures`) ships the client inside
  * `mapPartitions` closures, and copies it once per lane.
  */
trait HttpClient extends Serializable {
  def get(url: String, headers: Map[String, String]): HttpResponse

  /** Form-encoded POST — needed only by the OAuth token exchange
    * ([[TokenProvider]]); default throws so read-only stubs stay tiny. */
  def post(url: String, headers: Map[String, String], body: String): HttpResponse =
    throw new UnsupportedOperationException(s"POST not supported by $getClass")
}

final case class HttpResponse(
    status: Int,
    body: String,
    headers: Map[String, String] = Map.empty)

/** Rate limiting + retry policy around any [[HttpClient]].
  *
  * Mirrors the *intent* of the reference's `rate_limited_request`
  * (/root/reference/spotify-etl.py:47-62): a pacing delay per request and a
  * 429 retry honoring `Retry-After` — but NOT its bug: the reference
  * constructs its `asyncio.Semaphore(5)` inside the function
  * (spotify-etl.py:48), once per call, so its advertised 5-way cap never
  * limits anything. Here the pacing state is instance-level, and each
  * cursor scan's task and each fan-out or lookup lane
  * (`SpotifySource.inLanes`) deserializes its own copy of the client, so
  * pacing holds per lane: per cursor chain or per fan-out/lookup lane, like
  * the reference's per-call sleep. A request budget for the whole job is
  * `minIntervalMs = concurrentLanes * globalMinIntervalMs` (SURVEY.md §7.5).
  */
final class RateLimitedClient(
    underlying: HttpClient,
    minIntervalMs: Long = 100, // reference paces 0.1s/request (spotify-etl.py:61)
    maxRetries: Int = 5,
    sleeper: Long => Unit = Thread.sleep)
    extends HttpClient {

  @volatile private var lastRequestAt = 0L

  private def pace(): Unit = synchronized {
    val now = System.nanoTime() / 1000000
    val wait = lastRequestAt + minIntervalMs - now
    if (wait > 0) sleeper(wait)
    lastRequestAt = System.nanoTime() / 1000000
  }

  private def paced(request: () => HttpResponse): HttpResponse = {
    var attempt = 0
    while (true) {
      pace()
      val r = request()
      if (r.status == 429 && attempt < maxRetries) {
        // server-directed backoff, default 1s (spotify-etl.py:54-57)
        val retryAfter =
          r.headers.getOrElse("Retry-After", "1").toDoubleOption.getOrElse(1.0)
        sleeper((retryAfter * 1000).toLong)
        attempt += 1
      } else {
        return r
      }
    }
    sys.error("unreachable")
  }

  override def get(url: String, headers: Map[String, String]): HttpResponse =
    paced(() => underlying.get(url, headers))

  override def post(url: String, headers: Map[String, String], body: String): HttpResponse =
    paced(() => underlying.post(url, headers, body))
}
