package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Always 429, with a short `Retry-After`. A top-level class so that the
  * fan-out can ship it to its lanes without capturing a spec. */
final class Always429Client extends HttpClient {
  override def get(url: String, headers: Map[String, String]): HttpResponse =
    HttpResponse(429, "", Map("Retry-After" -> "0.01"))
}

/** 429 storms against one [[RateLimitedClient]] instance. The other specs
  * drive the retry policy from one thread; this one sends 16 callers
  * through one instance at once, against a stub that 429s the first hit of
  * every URL. One instance is what one cursor chain or one fan-out lane
  * holds (`SpotifySource.inLanes` gives each lane its own copy), so these
  * bounds are per lane: a job's request budget is the lane count times one
  * instance's rate (SURVEY §7.5).
  *
  * Pinned behavior:
  *   - every caller's retry succeeds (each URL exactly one 429 + one
  *     success — no double-retry, no give-up);
  *   - the storm cannot exceed the instance budget: total wall clock ≥
  *     (requests − 1) × minInterval, i.e. concurrent callers serialize
  *     through the pacer instead of stampeding the API;
  *   - Retry-After backoff happens OUTSIDE the pacing lock: with 16
  *     callers each owing one 0.2 s backoff, serialized backoffs would
  *     cost ≥ 3.2 s — the observed wall stays far under that, proving
  *     backoffs overlap while pacing still serializes.
  * And through the connector: a playlist whose 429s never stop fails the
  * extract instead of dropping its tracks.
  */
class RateLimitStormSpec extends AnyFunSuite {
  private val Base = "https://api.spotify.com/v1"

  /** Thread-safe storm stub: first GET of each URL → 429 (Retry-After 0.2s),
    * later GETs → a one-track page. */
  private class StormStub extends HttpClient {
    val hits = new ConcurrentHashMap[String, AtomicInteger]()
    override def get(url: String, headers: Map[String, String]): HttpResponse = {
      val n = hits.computeIfAbsent(url, _ => new AtomicInteger(0)).incrementAndGet()
      if (n == 1) HttpResponse(429, "", Map("Retry-After" -> "0.2"))
      else {
        val pid = url.split("/playlists/")(1).split("/")(0)
        HttpResponse(200,
          s"""{"items": [{"track": {"id": "t-$pid", "name": "n", "artists":
             |[{"name": "a"}], "album": {"name": "b"}}}], "next": null}""".stripMargin)
      }
    }
  }

  test("16 concurrent callers under a full 429 storm: all retried, budget enforced, backoffs overlap") {
    val ids = (1 to 16).map(i => s"p$i")
    val stub = new StormStub
    val minIntervalMs = 25L
    val client = new RateLimitedClient(stub, minIntervalMs = minIntervalMs, maxRetries = 2)
    val statuses = new ConcurrentHashMap[String, Integer]()
    val callers = ids.map(pid => new Thread(() =>
      statuses.put(pid, client.get(s"$Base/playlists/$pid/tracks", Map.empty).status)))
    val t0 = System.nanoTime()
    callers.foreach(_.start())
    callers.foreach(_.join())
    val wallMs = (System.nanoTime() - t0) / 1e6
    val ok = ids.count(pid => statuses.get(pid) == 200)
    assert(ok == 16, s"every caller must survive its 429: $ok")
    // each URL: exactly one 429 + one successful retry
    ids.foreach { pid =>
      val n = stub.hits.get(s"$Base/playlists/$pid/tracks")
      assert(n != null && n.get() == 2, s"$pid hit ${Option(n).map(_.get())} times")
    }
    val requests = 32 // 16 first-hits + 16 retries
    assert(wallMs >= (requests - 1) * minIntervalMs,
      f"storm beat the pacing budget: $wallMs%.0f ms for $requests requests")
    // serialized backoffs would cost 16 × 200 ms on top of pacing; overlapped
    // ones hide inside it. Generous ceiling: pacing (800 ms) + ONE backoff
    // round (200 ms) + 2 s scheduling slack.
    assert(wallMs < 3000,
      f"backoffs appear serialized through the pacing lock: $wallMs%.0f ms")
  }

  test("a playlist whose 429s never stop fails the fan-out loudly (no silent truncation)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val source = new SpotifySource(
      new RateLimitedClient(new Always429Client, minIntervalMs = 1, maxRetries = 2), Base)
    val e = intercept[Exception] {
      source.playlistTracks(spark, Seq("p1", "p2").toDS()).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("HTTP 429")),
      s"expected a loud HTTP 429 task failure, got: ${chain(e)}")
  }
}
