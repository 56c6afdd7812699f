package graft.sources

import java.sql.Timestamp

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's `main()` DAG (spotify-etl.py:217-289) as lazy DataFrame
  * composition, declared once in [[dag]]. Tables and the extracts each
  * reads:
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
  * An extract another table reads (playlists, playlists_tracks,
  * saved_tracks) is persisted via the tracked cache (graft.Caches): a lazy
  * paginated extract re-runs its live HTTP pagination on EVERY action
  * (SpotifySource re-fetch semantics), so without the persist, writing the
  * six tables would re-paginate playlists three times. The caller releases
  * it with Caches.release(spark) — or its open Caches scope — after the
  * writes.
  *
  * Every extract is an executor-side scan, so building the plan issues no
  * HTTP. `run` returns the six staged frames (ingest_date + all-string cast)
  * keyed by their reference table names (:272-279) so callers (tests, or a
  * real JDBC deployment) own the six replace-mode loads (:264-280).
  */
final class SpotifyPipeline(source: SpotifySource) {
  import SpotifyPipeline._

  /** Every table, in dependency order, with the extracts it reads. */
  private def dag(spark: SparkSession): Seq[Node] = {
    import spark.implicits._
    Seq(
      Node("playlists")(_ => source.playlists(spark)),
      Node("saved_tracks")(_ => source.savedTracks(spark)),
      Node("recent_tracks")(_ => source.recentTracks(spark)),
      Node("followed_artists")(_ => source.followedArtists(spark)),
      Node("playlists_tracks", "playlists") { in =>
        source.playlistTracks(spark, in("playlists").select(col("id")).as[String])
      },
      Node("audio_features", "playlists_tracks", "saved_tracks") { in =>
        source.audioFeatures(spark, in("playlists_tracks").select(col("id"))
          .union(in("saved_tracks").select(col("id"))) // C2 (spotify-etl.py:250)
          .filter(col("id").isNotNull) // null-id filter (spotify-etl.py:251)
          .as[String])
      })
  }

  /** Whether another table reads `node`'s extract. */
  private def shared(nodes: Seq[Node], node: Node): Boolean =
    nodes.exists(_.inputs.contains(node.name))

  /** `node`'s extract over its inputs' extracts, persisted when shared. */
  private def extract(nodes: Seq[Node], node: Node, in: Map[String, DataFrame]): DataFrame = {
    val df = node.build(in)
    if (shared(nodes, node)) graft.Caches.persist(df) else df
  }

  def run(spark: SparkSession, ingestTs: Timestamp): Map[String, DataFrame] = {
    val nodes = dag(spark)
    nodes.foldLeft(Map.empty[String, DataFrame]) { (built, n) =>
      built + (n.name -> extract(nodes, n, built))
    }.map { case (name, df) => name -> JdbcReplaceSink.stage(df, ingestTs) }
  }

  /** Concurrent-orchestration parity with the reference's `asyncio.gather`
    * (spotify-etl.py:230-234). Each table gets its own thread, which builds
    * its plan as soon as the plans of the extracts it reads are built,
    * waits until those extracts are filled, fills its own extract if
    * another table reads it, and then calls `write` for its table:
    *
    *   playlists, saved_tracks, recent_tracks, followed_artists — at once;
    *   playlists_tracks — once the playlists extract is filled, while the
    *                      playlists table is still being written;
    *   audio_features — once the playlists_tracks and saved_tracks
    *                    extracts are filled.
    *
    * A fill ([[graft.Caches.fill]]) is one job that builds the cache in the
    * stage that fetches the pages. A dependent runs no job before the fill
    * of the extract it reads is done, so no extract is paginated twice.
    * No table waits on another table's JDBC write. A table that reads
    * other extracts (playlists_tracks, audio_features) also plans its load
    * while it waits: once its plan is built, it forces its staged frame's
    * `rdd`, which the sink's `saveTable` reuses, so its write starts its
    * one job without planning first. Planning runs no job and sends no
    * request, since no ETL plan has an exchange. Past the plan builds at
    * the start and the last writes at the end, the critical path is HTTP.
    *
    * The extracts land in the caller's open Caches scope if it has one,
    * else in the session registry, as they do with [[run]].
    *
    * `write` owns the terminal action per table (a JDBC write, a parquet
    * sink, a test collector). Every table is awaited before anything
    * propagates; a table whose input extract failed is not written, and the
    * first failure is thrown with the others attached as suppressed, so no
    * table is silently skipped. Returns the staged frames, like [[run]]. */
  def runConcurrent(
      spark: SparkSession,
      ingestTs: Timestamp,
      write: (String, DataFrame) => Unit): Map[String, DataFrame] = {
    val nodes = dag(spark)
    val scope = graft.Caches.openScope()
    // each table's extract once its plan is built, and once it is filled
    val built, filled = nodes.map(n => n.name -> Promise[DataFrame]()).toMap
    def await(done: Map[String, Promise[DataFrame]], names: Seq[String]) =
      names.map(i => i -> Await.result(done(i).future, Duration.Inf)).toMap
    // one thread per table, so every table may block on its inputs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nodes.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val loads = nodes.map { n =>
        Future(graft.Caches.within(scope) {
          val df = Try(extract(nodes, n, await(built, n.inputs)))
          built(n.name).complete(df)
          // a table that reads other extracts plans its load while it
          // waits for their fills
          val plan = df.flatMap(df => Try {
            val staged = JdbcReplaceSink.stage(df, ingestTs)
            if (n.inputs.nonEmpty) staged.rdd
            staged
          })
          val ready = df.map { df =>
            await(filled, n.inputs)
            if (shared(nodes, n)) graft.Caches.fill(df)
            df
          }
          filled(n.name).complete(ready)
          val staged = ready.flatMap(_ => plan).get
          write(n.name, staged)
          n.name -> staged
        })
      }
      // a table skipped for a failed input fails with the input's
      // exception: report it once
      val outcomes = loads.map(f => Await.ready(f, Duration.Inf).value.get)
      val failures = outcomes.flatMap(_.failed.toOption).distinct
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
      outcomes.map(_.get).toMap
    } finally pool.shutdown()
  }
}

object SpotifyPipeline {
  /** One table: its name, the tables whose extracts it reads, and its
    * extract built from theirs. */
  private final case class Node(name: String, inputs: String*)(
      val build: Map[String, DataFrame] => DataFrame)
}
