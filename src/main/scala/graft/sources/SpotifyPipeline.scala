package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's `main()` DAG (spotify-etl.py:217-289) as lazy DataFrame
  * composition. Tables and what each reads:
  *
  *  - playlists, saved_tracks, recent_tracks, followed_artists — independent
  *    extracts (the reference gathers its three, :230-234; saved depends on
  *    nothing either);
  *  - playlists_tracks — data-dependent fan-out over the playlist ids
  *    (:238-243). The reference pulls ids to a driver list; here the id set
  *    stays a Dataset and the fetch runs in `mapPartitions` (SURVEY.md §7.5 /
  *    P8);
  *  - audio_features — the ≤100-id batched lookup (:253) over the null-filtered
  *    union of playlist-track and saved-track ids; the lookup itself dedups
  *    them so no id is fetched twice — the reference's one explicit semantic
  *    optimization (:247-251, C2).
  *
  * Every extract is an executor-side scan, so building the plan issues no
  * HTTP. `run` returns the six staged frames (ingest_date + all-string cast)
  * keyed by their reference table names (:272-279) so callers (tests, or a
  * real JDBC deployment) own the six replace-mode loads (:264-280).
  */
final class SpotifyPipeline(source: SpotifySource) {

  def run(spark: SparkSession, ingestTs: Timestamp): Map[String, DataFrame] = {
    import spark.implicits._

    // Extracts feeding MORE THAN ONE output lineage (playlists → its own
    // table + the tracks fan-out; playlistTracks/saved → their tables +
    // audio ids) are persisted via the tracked cache (graft.Caches): a lazy
    // paginated extract re-runs its live HTTP pagination on EVERY action
    // (SpotifySource re-fetch semantics), so without the persist, writing
    // the six tables would re-paginate playlists three times. One fetch
    // populates the cache; the caller releases with Caches.release(spark)
    // after its write actions.
    val playlists = graft.Caches.persist(source.playlists(spark))
    val playlistIds = playlists.select(col("id")).as[String]
    val playlistTracks = graft.Caches.persist(source.playlistTracks(spark, playlistIds))
    val saved = graft.Caches.persist(source.savedTracks(spark))
    val trackIds = playlistTracks.select(col("id"))
      .union(saved.select(col("id"))) // C2 (spotify-etl.py:250)
      .filter(col("id").isNotNull) // null-id filter (spotify-etl.py:251)
      .as[String]

    Map(
      "playlists" -> playlists,
      "playlists_tracks" -> playlistTracks,
      "saved_tracks" -> saved,
      "recent_tracks" -> source.recentTracks(spark),
      "followed_artists" -> source.followedArtists(spark),
      "audio_features" -> source.audioFeatures(spark, trackIds)
    ).map { case (name, df) => name -> JdbcReplaceSink.stage(df, ingestTs) }
  }

  /** Concurrent-orchestration parity with the reference's `asyncio.gather`
    * (spotify-etl.py:230-234): each table's write action runs on its own
    * thread, so Spark's scheduler overlaps their jobs (and their HTTP
    * pagination), and starts as soon as the loads it reads are done:
    *
    *   playlists, saved_tracks, recent_tracks, followed_artists — at once;
    *   playlists_tracks — after playlists (the fan-out reads its cache);
    *   audio_features — after playlists_tracks and saved_tracks (the
    *                    lookup reads both caches).
    *
    * A dependent never races the load that fills the cache it reads: the
    * cache populates during, not before, the first action that touches it,
    * so an earlier start would re-paginate that extract.
    *
    * `write` owns the terminal action per table (a JDBC write, a parquet
    * sink, a test collector). Every load is awaited before anything
    * propagates; a dependent of a failed load is not written, and the
    * first failure is thrown with the others attached as suppressed, so no
    * table is silently skipped. Returns the staged frames, like [[run]]. */
  def runConcurrent(
      spark: SparkSession,
      ingestTs: Timestamp,
      write: (String, DataFrame) => Unit): Map[String, DataFrame] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val staged = run(spark, ingestTs)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(staged.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // one thread per load, so a load may block on its inputs; a failed
      // input fails the load with the input's exception before it writes
      def load(name: String, inputs: Future[Unit]*): Future[Unit] = Future {
        inputs.foreach(Await.result(_, Duration.Inf))
        write(name, staged(name))
      }
      val playlists = load("playlists")
      val saved = load("saved_tracks")
      val tracks = load("playlists_tracks", playlists)
      val loads = Seq(playlists, saved, tracks, load("recent_tracks"),
        load("followed_artists"), load("audio_features", tracks, saved))
      // a skipped dependent fails with its input's exception: report it once
      val failures = loads
        .flatMap(f => scala.util.Try(Await.result(f, Duration.Inf)).failed.toOption)
        .distinct
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
    staged
  }
}
