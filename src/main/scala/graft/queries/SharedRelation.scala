package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One idiom for build-once persisted relations shared across query
  * consumers (r16 verdict task 6 — the same consolidation argument
  * that produced [[PlanGate]]). Before this helper the repo had three
  * shapes for the same need: `Dedup.sharedPairs` (weak-keyed memo +
  * explicit release), `TextStats.sharedProfs` (a second copy of that
  * memo), and `Similarity.d5CandidatesGeo` (an anonymous `persist()`
  * with NO release hook — correct, since CacheManager dedupes
  * identical plans and entries die with the session, but invisible to
  * eager test hygiene and multi-corpus sessions).
  *
  * Semantics:
  *  - entries are memoized per (session, family, key): the builder
  *    runs once, its result is persisted MEMORY_AND_DISK, and every
  *    later call returns the SAME DataFrame (so Catalyst plans an
  *    InMemoryTableScan — plan-asserted in PlanShapeSpec);
  *  - sessions are held WEAKLY, so the registry can never pin a
  *    stopped session's cache entries;
  *  - [[releaseAll]] drops a session's whole registry eagerly
  *    (unpersist + forget) — Bench's per-run reset, test hygiene and
  *    the corpus-swap path in long-lived sessions.
  *
  * At 100 TB the equivalent of every entry here is writing the
  * relation once as a table and reading it from each consumer;
  * in-session the persisted plan IS that table.
  */
object SharedRelation {

  private val registry = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[(String, Any), DataFrame]]()

  private def perSession(s: SparkSession)
      : scala.collection.concurrent.TrieMap[(String, Any), DataFrame] =
    registry.synchronized {
      var m = registry.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[(String, Any), DataFrame]
        registry.put(s, m)
      }
      m
    }

  /** The build-once entry point: returns the persisted relation for
    * (session, family, key), building + persisting it on first use.
    * `key` must be a value with stable equals/hashCode — a dir string,
    * a canonicalized logical plan, a tuple of either. */
  def apply(s: SparkSession, family: String, key: Any)(build: => DataFrame): DataFrame =
    perSession(s).getOrElseUpdate((family, key),
      build.persist(StorageLevel.MEMORY_AND_DISK))

  /** Unpersist and forget ALL of session `s`'s shared relations. */
  def releaseAll(s: SparkSession): Unit = registry.synchronized {
    val m = registry.remove(s)
    if (m != null) m.values.foreach(_.unpersist())
  }

  /** Spec hook: live entry count for (session, family). */
  private[graft] def entryCount(s: SparkSession, family: String): Int =
    registry.synchronized {
      val m = registry.get(s)
      if (m == null) 0 else m.keys.count(_._1 == family)
    }
}
