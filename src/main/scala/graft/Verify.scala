package graft
import java.nio.file.{Files, Paths}
import scala.concurrent.duration.Duration
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after round 4's gate loss: the driver runs this under a
  * wall-clock timeout, and with 144 queries a sequential local[4] run
  * exceeded it — the kill landed BEFORE oracle_sql.json was written, so
  * the compare step had nothing to read and the whole round's
  * correctness report was empty. Three changes close that failure mode:
  * 1. oracle_sql.json is written FIRST — a timeout now yields partial
  *    per-query rows instead of an empty report;
  * 2. the core default follows the machine (availableProcessors), not a
  *    hard-coded 4 — SPARK_GRAFT_CPUS still overrides;
  * 3. queries run CONCURRENTLY from a small thread pool. Spark sessions
  *    are thread-safe and the queries share no mutable state (PlanCache
  *    is off here — Verify measures the cold path), so concurrent
  *    submission just keeps the local scheduler saturated through each
  *    query's single-threaded planning and parquet-commit phases.
  *
  * Concurrency invariant the query corpus upholds: the handful of
  * temp-view names shared by multiple queries (sales_tx, the six
  * curated_* views) are only ever created with IDENTICAL definitions
  * for a given fixture dir, so a concurrent create-or-replace can
  * never swap a different relation under another query's analysis.
  * This is no longer on the honor system: every main-source
  * registration routes through [[graft.io.Views.register]], which
  * remembers the canonicalized plan per (session, dir, name) and
  * THROWS on a divergent re-registration (ViewsSpec). Per-query
  * scratch paths (IoChecks, migration) are keyed by query tag + dir
  * and never collide. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional subset filter for local iteration: SPARK_GRAFT_ONLY=q1,q2
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val json = org.json4s.jackson.Serialization.write(SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) })(org.json4s.DefaultFormats)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) }
    // Pool size trades scheduler saturation against planning-thread
    // and memory contention; 8 was tuned at 144 queries, and the
    // driver's time budget is the binding constraint at 387 —
    // SPARK_GRAFT_WORKERS overrides for measurement.
    val workers = sys.env.get("SPARK_GRAFT_WORKERS").map(_.toInt)
      .getOrElse(math.max(2, math.min(8, cpus)))
    val t0 = System.nanoTime()
    Concurrent.inParallel(selected.toSeq.map { case (name, fn) => () =>
      val s0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok ${(System.nanoTime() - s0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }, workers, Duration.Inf)
    System.err.println(
      f"[verify] ${selected.size} queries in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    spark.stop()
  }
}
