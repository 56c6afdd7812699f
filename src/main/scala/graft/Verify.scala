package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (local dev only; the driver passes 2): comma-separated
    // query names — dump and emit oracle SQL for just those.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val cpus = Session.defaultCores
    // Round 11 (VERDICT item 7): Verify self-describes box contention the
    // way Bench does, so a slow correctness gate can be adjudicated from
    // its own record instead of forensics. Written to guards.json below.
    val t0 = System.nanoTime()
    val loadPre = Bench.loadAvg()
    val jvmsPre = Bench.otherJvms()
    // Spark 4's default ANSI mode stays on: each sweep is an overflow probe
    val spark = Session.start(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operator-internal persists are per-plan-instance; clear so cache
      // memory stays flat across the whole query sweep
      spark.catalog.clearCache()
      graft.Caches.release(spark) // drain the tracked-persist registry too
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // contention guards (Bench's rule: pre-load beyond half the cores, or
    // any foreign JVM besides the accompanying sbt one)
    val loadPost = Bench.loadAvg()
    val contended = loadPre > cpus.toDouble / 2 || jvmsPre > 1
    val guards =
      s"""{"wall_sec":${(System.nanoTime() - t0) / 1e9},""" +
        s""""load_pre":$loadPre,"load_post":$loadPost,""" +
        s""""other_jvms":$jvmsPre,"contended":$contended}"""
    Files.writeString(Paths.get(s"$outDir/guards.json"), guards)
    println(s"[verify] guards: $guards")
    spark.stop()
  }
}
