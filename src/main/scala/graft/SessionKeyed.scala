package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped registry that does not leak sessions.
  *
  * WeakHashMap keying fails for this job (ADVICE r3): the cached values
  * (DataFrames) strongly reference their SparkSession through
  * QueryExecution, and a WeakHashMap holds values strongly — so the "weak"
  * key is pinned by its own value and no entry is ever collected. Instead
  * this keeps a plain strong map and evicts deterministically:
  *
  *  - explicitly, via [[remove]] (callers' `clear()` — Bench/Verify and the
  *    test harness call it on teardown);
  *  - opportunistically, on every access: entries whose SparkContext has
  *    stopped are dropped (their cached blocks died with the executors), so
  *    a long-lived host cycling many start/stop sessions stays bounded.
  *
  * The one uncovered case is a *cloned* session (`newSession()`) abandoned
  * while its shared context lives on — Spark offers no per-session close
  * hook, so those callers must invoke `clear()` themselves; the entry costs
  * only the memoized plans until they do (or until the context stops).
  */
private[graft] final class SessionKeyed[T] {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, T]()

  private def sweep(): Unit =
    entries.keySet.forEach { s =>
      if (s.sparkContext.isStopped) entries.remove(s)
    }

  /** Memoized value for this session, built on first access. */
  def get(spark: SparkSession)(init: SparkSession => T): T = {
    sweep()
    entries.computeIfAbsent(spark, init(_))
  }

  /** This session's entry, if any (never creates one). */
  def find(spark: SparkSession): Option[T] = Option(entries.get(spark))

  /** Drop this session's entry, returning it for resource release. */
  def remove(spark: SparkSession): Option[T] = Option(entries.remove(spark))
}
