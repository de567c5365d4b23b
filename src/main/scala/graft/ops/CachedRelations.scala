package graft.ops

import org.apache.spark.sql.DataFrame

/**
 * Registry for STAGE resources created inside operators: persisted
 * relations (the LSH index in [[Similarity.lshTopK]]) and temp dirs
 * (the [[parquetStage]] boundaries of [[Corpus.clean]] and
 * [[Dedup.nearDupStep]]).
 *
 * An operator that persists internally can't unpersist before
 * returning — its result DataFrame is lazy and the cached relation is
 * exactly what makes the eventual action cheap. But persisting with NO
 * release path leaks the relation for the session's lifetime: every
 * call pins another chunk of executor storage memory (the same class
 * of leak as registering a UUID-named function per call). So operators
 * `track` what they persist, and the CALLER — who knows when the
 * action has run — calls [[releaseAll]] afterwards. Verify and Bench
 * release after every query; long-lived applications should release at
 * their own stage boundaries.
 */
object CachedRelations {
  private val active = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val cleanups = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Register an operator-persisted relation for later release. */
  def track(df: DataFrame): DataFrame = { active.add(df); df }

  /** Register an arbitrary stage-resource cleanup to run at
    * [[releaseAll]]. Unlike an unpersist, a cleanup is NOT
    * recompute-safe — callers must release only after their action has
    * fully consumed the result (exactly the documented contract above). */
  def trackCleanup(f: () => Unit): Unit = cleanups.add(f)

  /** A fresh directory `graft_<prefix>…` under the local
    * `java.io.tmpdir`, deleted with its contents at [[releaseAll]]. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$prefix")
    trackCleanup(() => graft.io.Writers.deleteTree(dir.toFile))
    dir
  }

  /**
   * A parquet stage boundary: write `df` into a fresh [[tempDir]] and
   * return the re-read. Operators use it where one relation has two or
   * more consumers. r17 (OPTIMIZATION_r17.md, interleaved A/B, results
   * proven identical): the write + re-read truncates the lineage that a
   * MEMORY_AND_DISK persist re-planned per consumer, and the columnar
   * re-scan is cheaper than the cache — the incremental near-dup chain
   * ran 2.65 s against 4.69 s, `Corpus.clean` 1.34 s against 1.71 s.
   * The write runs here, eagerly; the dir lives until [[releaseAll]].
   */
  def parquetStage(df: DataFrame): DataFrame = {
    val p = s"${tempDir("stage")}/rel"
    df.write.mode("overwrite").parquet(p)
    df.sparkSession.read.parquet(p)
  }

  /** Unpersist (non-blocking) every tracked relation and run every
    * tracked cleanup; returns how many were released. Safe to call
    * with actions still pending for PERSISTED relations (Spark just
    * recomputes) — cleanups require the action to be complete. A
    * cleanup that throws is reported on stderr and the rest still run. */
  def releaseAll(): Int = {
    var n = 0
    var d = active.poll()
    while (d != null) { d.unpersist(blocking = false); n += 1; d = active.poll() }
    var c = cleanups.poll()
    while (c != null) {
      try c() catch {
        case e: Throwable => System.err.println(s"[warn] stage cleanup failed: $e")
      }
      n += 1; c = cleanups.poll()
    }
    n
  }
}
