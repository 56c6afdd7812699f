package graft

import org.apache.spark.sql.{Column, DataFrame, NativeColumn, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared engine query: a Spark plan builder plus (optionally) the
  * ANSI/DuckDB oracle SQL the driver hash-compares against (SURVEY.md §2.5/§2.6).
  * `oracle=None` ⇒ driver records a weaker rows-only check, so such queries
  * must always return >0 rows.
  */
final case class GQ(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None) {

  /** Build the plan, run the caller's action(s), then release exactly the
    * operator-internal persists and scratch dirs THIS run created
    * ([[Caches]] scope) — the library-user entry point that cannot leak
    * cached relations or temp dirs (`run` alone leaves any internal persist
    * for the ContextCleaner, which under memory pressure is
    * non-deterministic).
    * Scoping matters (review r3): a session-global release would also drop
    * caches other components own — e.g. [[graft.sources.SpotifyPipeline]]'s
    * live-API extract caches, whose re-materialization re-fetches HTTP —
    * and would race a concurrent `GQ.apply` on the same session.
    *
    * The scope stops CAPTURING once `run` returns (round-4 ADVICE fix):
    * persists the caller's `f` makes — e.g. a pipeline run inside the
    * callback — belong to the caller (an enclosing scope or the session
    * registry), not to this query, so releasing here can no longer drop
    * them. Scopes also stack: a nested `GQ.apply` on the same thread
    * restores the outer scope when it closes instead of clobbering it.
    */
  def apply[A](spark: SparkSession, dir: String)(f: DataFrame => A): A = {
    val scope = Caches.beginScope()
    try {
      val df = try run(spark, dir) finally scope.close()
      f(df)
    } finally scope.release()
  }
}

/** Registry of what a run must give back: operator-internal persists and
  * scratch directories. Query plans that materialize an intermediate
  * (`Dedup.blockedJaccard`, `SpotifyPipeline`) route it through
  * [[Caches.persist]] instead of a bare `DataFrame.persist`, and the
  * streaming queries take their checkpoint, sink and source dirs from
  * [[Caches.tempDir]], so release drops exactly the engine's own cached
  * relations and deletes exactly its own dirs — nothing the user made.
  *
  * Two tracking levels: while a [[beginScope]] is open on the current thread
  * (plan construction is synchronous, so `GQ.apply` sees everything its own
  * run creates), release actions land in that scope and run when it is
  * released; otherwise they land in the per-session registry drained by
  * [[release]] — which Bench/Verify call alongside `clearCache` so loops
  * never accumulate tracked plans or dirs (review r3).
  */
object Caches {
  private type Releases = java.util.concurrent.ConcurrentLinkedQueue[() => Unit]

  private val tracked =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Releases]()

  /** A per-run collection of release actions; release runs only its own.
    * Scopes STACK (round-4 ADVICE): `close()` restores the scope that was
    * active when this one opened, so a nested `beginScope` on the same
    * thread no longer leaks the outer scope's later persists into the
    * session registry. */
  final class Scope private[Caches] (prev: Scope) {
    private[Caches] val releases = new Releases()

    /** Stop capturing on this thread (restores the enclosing scope) WITHOUT
      * releasing what was already captured. Idempotent; a no-op if another
      * scope has since taken over. */
    def close(): Unit =
      if (current.get() eq this) {
        if (prev != null) current.set(prev) else current.remove()
      }

    def release(): Unit = {
      close()
      runAll(releases)
    }
  }

  private val current = new ThreadLocal[Scope]

  /** Open a scope on this thread: persists and temp dirs until
    * `close()`/`release()` belong to it. */
  def beginScope(): Scope = {
    val s = new Scope(current.get())
    current.set(s)
    s
  }

  /** This thread's open scope, if any. Hand it to [[within]] on a worker
    * thread, so the worker's persists and temp dirs land where they would
    * have landed on this thread. */
  def openScope(): Option[Scope] = Option(current.get())

  /** Run `body` with `scope` (or none) as this thread's open scope, then
    * restore the thread's own. */
  def within[A](scope: Option[Scope])(body: => A): A = {
    val own = current.get()
    scope.fold(current.remove())(current.set)
    try body
    finally if (own != null) current.set(own) else current.remove()
  }

  /** Track `action` in the current thread's open [[Scope]] if one exists,
    * else in `spark`'s registry. */
  private def onRelease(spark: SparkSession, action: () => Unit): Unit = {
    val scope = current.get()
    if (scope != null) scope.releases.add(action)
    else tracked.computeIfAbsent(spark, _ => new Releases()).add(action)
  }

  /** Run every action, even past a failing one; rethrow the first failure. */
  private def runAll(q: Releases): Unit = {
    var failure: Throwable = null
    var a = q.poll()
    while (a != null) {
      try a() catch {
        case scala.util.control.NonFatal(e) => if (failure == null) failure = e
      }
      a = q.poll()
    }
    if (failure != null) throw failure
  }

  /** `persist(MEMORY_AND_DISK)` + track — in the current thread's open
    * [[Scope]] if one exists, else in the session registry.
    *
    * IDEMPOTENT per plan (round 12, VERDICT item 6): two operators built in
    * one session may route the SAME sub-plan through persist (observed:
    * q_stats_ks and q_stats_mannwhitney share the counts agg — building
    * both plans logged `Asked to cache already cached data`). Spark's
    * CacheManager would WARN and keep the first entry, so the second call
    * is skipped outright — and deliberately NOT tracked: the cache has
    * exactly one owner (the first caller's scope/registry entry), whose
    * release drops the one entry; a later re-run simply re-persists. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) return df
    onRelease(df.sparkSession, () => df.unpersist(blocking = false))
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Build the cache of `df`, persisted by [[persist]], now: one job whose
    * tasks store their partitions' batches and read nothing back. A
    * Dataset action over the cache would add a stage that reads the
    * batches — and under AQE, a cached plan with an exchange is built by a
    * job of its own, then read by the action's. */
  def fill(df: DataFrame): Unit =
    castToImpl(df.sparkSession).sharedState.cacheManager.lookupCachedData(castToImpl(df))
      .getOrElse(sys.error("Caches.fill: the frame is not persisted"))
      .cachedRepresentation.cacheBuilder.cachedColumnBuffers
      .foreachPartition(_ => ())

  /** A fresh directory under `java.io.tmpdir`, deleted with everything in
    * it when the current [[Scope]] — else `spark`'s registry — is released.
    * Tracked from creation, so a run that fails midway is cleaned up too.
    * The delete never follows a symbolic link: it removes the link, not
    * the data it points at. */
  def tempDir(spark: SparkSession, prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    onRelease(spark, () => deleteTree(dir))
    dir
  }

  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, LinkOption}
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS))
      Option(p.toFile.listFiles()).toSeq.flatten.foreach(f => deleteTree(f.toPath))
    Files.deleteIfExists(p)
  }

  /** Run every session-registry release action of this session — unpersist
    * (async: executors drop blocks in the background) or delete — and drop
    * the registry entry. Safe at any time: re-running a query simply
    * re-persists on first use. */
  def release(spark: SparkSession): Unit = {
    val q = tracked.remove(spark)
    if (q != null) runAll(q)
  }
}

/** Parquet table loaders for the driver test data (TESTDATA.md).
  *
  * All reads are plain `spark.read.parquet` — schema comes from the parquet
  * footer (pinned by the driver, never inferred from data), so Catalyst gets
  * full pushdown/pruning. The single exception is `events`, whose `ts` column
  * the engine normalizes to LongType epoch-nanoseconds (SURVEY.md §2.5 R5)
  * whatever the parquet physical type. All time math on events is exact
  * integer math over those nanos.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet: epoch-nanos `ts` shim, kept in exactly one place.
    * The generator has shipped `ts` as TIMESTAMP(NANOS) (rounds 1–3) and
    * TIMESTAMP(MICROS) (round 4+); test fixtures plant a raw BIGINT. All
    * three surface as the SAME LongType epoch-nanos column:
    *   - BIGINT           → already nanos, pass through;
    *   - TIMESTAMP(NANOS) → nanos under the session-scoped
    *     `spark.sql.legacy.parquet.nanosAsLong`, which [[Session]] sets at
    *     setup; this read writes nothing into the caller's session;
    *   - TIMESTAMP[_NTZ]  → `unix_micros(ts) * 1000`, an exact widen. NTZ
    *     re-tags as an instant on the session clock, pinned to UTC by
    *     [[Session]], matching DuckDB's `epoch_ns(ts)` on the same file. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case _ => // TIMESTAMP or TIMESTAMP_NTZ (micros): widen to nanos
        raw.withColumn("ts",
          (unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
            .cast(LongType))
    }
  }
}

/** Cross-engine 60-bit hash basis (round 2, VERDICT item 2): the first 15
  * hex digits of md5 parsed as a BIGINT. md5 over UTF-8 bytes is
  * bit-identical in Spark and DuckDB, so every sketch built on this basis
  * (MinHash signatures, LSH band keys, SimHash bits, winnowing fingerprints)
  * is hash-comparable against a DuckDB oracle — the round-1 `xxhash64` basis
  * forced those queries onto the weaker rows-only check, where a flipped
  * sign bit or wrong band key would pass undetected.
  *
  * The Spark expression and the DuckDB SQL fragment live side by side so
  * they drift together or not at all (same pattern as [[C.sqlRevenue]]).
  * 15 hex digits = 60 bits, always positive, exact in BIGINT in both
  * engines (and below 2^62 after the MinHash affine step).
  */
object XHash {
  import org.apache.spark.sql.functions.{conv, md5, substring}

  /** Spark side: `h60(c)` over the UTF-8 bytes of `c`'s string form.
    * Round 13: routed through the native [[graft.functions.Md5Prefix60]]
    * kernel — same MD5 digest, top 60 bits read straight from the digest
    * bytes instead of the hex-encode → substring → `conv` re-parse the
    * column formula paid per row on the per-shingle hot path.
    * [[h60Legacy]] keeps the original formula for the equivalence spec. */
  def h60(c: Column): Column =
    NativeColumn(h60Expr(NativeColumn.expression(c)))

  /** The round-1..12 column formula, retained as the spec's ground truth
    * (XHashSpec pins h60 ≡ h60Legacy on edge-case strings). */
  private[graft] def h60Legacy(c: Column): Column =
    conv(substring(md5(c.cast(BinaryType)), 1, 15), 16, 10).cast(LongType)

  /** DuckDB side: identical value for the same string expression. */
  def sqlH60(x: String): String =
    s"CAST(('0x' || substring(md5($x), 1, 15)) AS BIGINT)"

  /** Expression form, shared by [[h60]] and the SQL `h60(expr)` of
    * [[graft.GraftExtensions]]. */
  def h60Expr(e: Expression): Expression =
    graft.functions.Md5Prefix60(Cast(e, BinaryType))
}

/** Determinism-contract helpers (SURVEY.md §2.5).
  *
  * R2: money math is done on DECIMAL(18,2) (products: scale 4) — exact and
  * aggregation-order-independent in both Spark and DuckDB — then the final
  * aggregate is cast to DOUBLE for a stable output representation.
  */
object C {
  val Dec2: DecimalType = DecimalType(18, 2)

  /** Exact 2-dp decimal view of a double column carrying ≤2 decimals. */
  def dec2(c: Column): Column = c.cast(Dec2)

  /** SUM over exact decimals, emitted as DOUBLE (R2). */
  def sumDec2(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** extendedprice * (1 - discount) in exact decimal (scale 4). */
  def revenue(price: Column, disc: Column): Column =
    dec2(price) * (lit(1).cast(Dec2) - dec2(disc))

  /** SUM of revenue, emitted as DOUBLE (R2). */
  def sumRevenue(price: Column, disc: Column): Column =
    sum(revenue(price, disc)).cast(DoubleType)

  /** Matching DuckDB oracle fragments — keep the SQL text next to the Spark
    * expression so they drift together or not at all. */
  val sqlRevenue: String =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
  def sqlSumDec2(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(18,2))) AS DOUBLE)"

  /** 1-based rank over a BOUNDED (top-k / model-sized) relation via a
    * strict-predecessor-count self-join — the window-free replacement for
    * `row_number() OVER (ORDER BY ...)` with no PARTITION BY, which moves
    * its whole input to one partition (round 6: the registry-wide plan pin
    * bans unpartitioned windows outright). `order` lists (column,
    * descending?) lexicographically; the composite order MUST be total
    * (append a unique key), so the result is bit-identical to the global
    * row_number. Cost is |df|² pairs — only ever call this on a relation
    * already bounded by a LIMIT or a fixed domain. Persist `df` first if
    * its lineage is corpus-sized (both join sides consume it).
    *
    * Predecessors count a non-null MARKER literal added to the join side
    * (round-7 ADVICE): counting `y.<last-order-col>` would conflate a NULL
    * in a genuinely-matched row with the left-outer no-predecessor case
    * and silently under-rank when an order column is nullable.
    */
  def rankBounded(df: DataFrame, rankName: String,
      order: (String, Boolean)*): DataFrame = {
    def before(ix: Int): Column = {
      val (c, desc) = order(ix)
      val strict =
        if (desc) col(s"y.$c") > col(s"x.$c") else col(s"y.$c") < col(s"x.$c")
      if (ix == order.size - 1) strict
      else strict || (col(s"y.$c") === col(s"x.$c") && before(ix + 1))
    }
    df.as("x")
      .join(df.withColumn("__rb_marker", lit(1)).as("y"), before(0), "left_outer")
      .groupBy(df.columns.toSeq.map(c => col(s"x.$c")): _*)
      .agg((count(col("y.__rb_marker")) + 1)
        .cast(LongType).as(rankName))
  }
}
