package graft.util

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped memoization for expensive, checkpoint-backed artifacts
  * (the IVF ANN index, the row-numbered TRANSACTIONS core) — the Spark
  * analog of a warehouse materializing a view or index table once and
  * serving every query from it.
  *
  * Keying: a cached artifact holds localCheckpoint blocks that live in
  * ONE SparkContext, so it must never outlive or cross its building
  * session. Keys therefore use the session's `sessionUUID` — genuinely
  * unique per session object — NOT `System.identityHashCode`, whose
  * values recur after GC and could serve a new session an artifact
  * backed by a dead context's blocks.
  *
  * Eviction, four routes so stopped/discarded sessions and rewritten
  * dirs don't leak their checkpoint blocks across a long-lived JVM:
  *  - [[evictSession]] — a driver that cycles `newSession()` per unit
  *    of work calls it when retiring a session, unpersisting exactly
  *    that session's memo blocks. This is deliberately EXPLICIT, not
  *    GC-triggered: a cached DataFrame strongly references its
  *    building session, so a weak-reference sweep could never fire
  *    (the cache itself would keep every session reachable — verified
  *    by SessionCacheSpec);
  *  - [[evictDir]] — the refresh after a write: one session's memos
  *    for one dir;
  *  - a listener registered once per SparkContext clears everything at
  *    context end;
  *  - [[clear]] for tests/maintenance.
  */
object SessionCache {

  private final case class Entry(value: AnyRef, ownedIds: Set[Int],
                                 ownedRdds: Seq[RDD[_]])

  private val entries = new ConcurrentHashMap[String, Entry]()
  private val hookedContexts = ConcurrentHashMap.newKeySet[String]()
  private val ownedRdds = ConcurrentHashMap.newKeySet[Int]()
  private val accessLog = ConcurrentHashMap.newKeySet[String]()
  private val sessionTags = new ConcurrentHashMap[String, String]()

  /** Last-value-wins session tag (round 17: Tables.registerAll's
    * idempotence marker). Returns true when `value` DIFFERS from the
    * tag's previous value for this session — i.e. the caller's side
    * effect must (re-)run. Cleared with [[clear]]/[[evictSession]], and
    * a tag whose value is a dir with [[evictDir]], so a caller that
    * rewrites data and evicts re-registers. */
  def tagChanged(spark: SparkSession, tag: String, value: String): Boolean =
    sessionTags.put(s"${sessionKey(spark)}|$tag", value) != value

  /** Unique id for a session: `sessionUUID` on the classic session (the
    * only implementation this engine runs on); identity hash only as a
    * last-resort fallback for exotic SparkSession subclasses. */
  def sessionKey(spark: SparkSession): String =
    org.apache.spark.sql.graftshim.InternalRowDF.sessionUUID(spark)
      .getOrElse(s"idhash-${System.identityHashCode(spark)}")

  private def evict(key: String, e: Entry): Unit = {
    entries.remove(key, e)
    e.ownedIds.foreach(ownedRdds.remove(_))
    // safe even on localCheckpointed RDDs: a dead session's artifact is
    // never re-executed, so truncated lineage is irrelevant
    e.ownedRdds.foreach(r => try r.unpersist(blocking = false) catch {
      case _: Throwable => () // context already down: blocks are gone
    })
  }

  /** Retire one session's artifacts: remove its entries and its tags and
    * unpersist the blocks they own. Call when discarding a session in a
    * long-lived JVM. */
  def evictSession(spark: SparkSession): Unit = retire(spark, None)

  /** Retire one session's artifacts for one dir: every memo keyed on
    * `dir` (any scope) and every tag whose value is `dir`. Other dirs
    * and other sessions keep serving. The refresh after a write to
    * `dir` ([[graft.views.Views.createAll]]). */
  def evictDir(spark: SparkSession, dir: String): Unit = retire(spark, Some(dir))

  private def retire(spark: SparkSession, dir: Option[String]): Unit = {
    val sk = sessionKey(spark) + "|"
    entries.forEach { (key, e) =>
      if (key.startsWith(sk) && dir.forall(d => key.endsWith(s"|$d"))) evict(key, e) }
    sessionTags.entrySet.removeIf(t => t.getKey.startsWith(sk) && dir.forall(_ == t.getValue))
  }

  /** Build-once-per-(session, scope, dir) memoization.
    *
    * NOT computeIfAbsent: a memoized build may itself memoize a
    * NESTED artifact (source_overlap builds through the memoized
    * near-dup pair view, q_split_leakfree through the cluster view),
    * and ConcurrentHashMap.computeIfAbsent throws "Recursive update"
    * when the inner call lands in the outer key's bin — a latent trap
    * that only fires when query ORDER leaves the inner key cold
    * (caught by the round-14 session-5 gate after new registrations
    * reshuffled the sweep order). The get → build → putIfAbsent
    * pattern supports nesting; under a true concurrent first call the
    * losing racer unpersists its duplicate blocks and serves the
    * winner's artifact. */
  def memoize[T <: AnyRef](spark: SparkSession, scope: String, dir: String)
                          (build: => T): T = {
    val ctxId = spark.sparkContext.applicationId
    if (hookedContexts.add(ctxId)) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          entries.clear()
          ownedRdds.clear()
          hookedContexts.remove(ctxId)
        }
      })
    }
    val key = s"${sessionKey(spark)}|$scope|$dir"
    accessLog.add(key)
    val hit = entries.get(key)
    if (hit != null) return hit.value.asInstanceOf[T]
    // Record which persistent RDDs BACK the built artifact: those
    // blocks must survive any sweep-level cleanup
    // ([[dropTransientBlocks]]) that evicts per-invocation checkpoint
    // garbage between queries. Ownership = (persistent RDDs that
    // appeared during the build window) ∩ (RDD ids reachable from the
    // artifact's own plans/lineage — [[graftshim.ArtifactRdds]]). The
    // intersection is what makes attribution safe under concurrency
    // (round-14 verdict): a FOREIGN persist that interleaves with this
    // build (another thread's first-build of a different key, any
    // query's transient checkpoint) lands in the window diff but is
    // never reachable from THIS artifact, so it can't be claimed here
    // — and a losing putIfAbsent racer below unpersists only blocks
    // reachable from ITS OWN duplicate artifact, never the winner's.
    // A nested memoize inside `build` registers its OWN blocks first
    // and they're excluded via ownedRdds, so evicting the outer key
    // never unpersists blocks the inner entry still serves. Driver-
    // side model artifacts (no DataFrame inside) reach nothing: their
    // build-time checkpoint intermediates are garbage once the model
    // is collected, and now correctly stay unowned for the transient
    // sweep instead of being pinned for the artifact's lifetime.
    val before = spark.sparkContext.getPersistentRDDs
    val built = build
    val reachable =
      org.apache.spark.sql.graftshim.ArtifactRdds.reachableRddIds(built)
    val created = (spark.sparkContext.getPersistentRDDs -- before.keySet)
      .filter { case (id, _) =>
        reachable.contains(id) && !ownedRdds.contains(id) }
    val e = Entry(built, created.keySet.toSet, created.values.toSeq)
    val prev = entries.putIfAbsent(key, e)
    if (prev != null) {
      // lost a concurrent race: drop this duplicate's blocks (only
      // ever the loser's own — see the reachability note above)
      e.ownedRdds.foreach(r => try r.unpersist(blocking = false) catch {
        case _: Throwable => ()
      })
      prev.value.asInstanceOf[T]
    } else {
      created.keys.foreach(ownedRdds.add(_))
      built
    }
  }

  /** Keys memoize() has served (hit or build) since the last drain.
    * Sweep telemetry: the bench drains per query to learn which
    * artifacts each query depends on, then evicts an artifact once its
    * last dependent query has run (round-7 verdict: the 83-query
    * sweep's ever-growing pinned set taxed every later timed pass). */
  def drainAccesses(): Set[String] = {
    val it = accessLog.iterator()
    val out = Set.newBuilder[String]
    while (it.hasNext) { out += it.next(); it.remove() }
    out.result()
  }

  /** Evict one memoized artifact by its full key, unpersisting the
    * blocks it owns. The next memoize() on that key rebuilds. */
  def evictKeys(keys: Set[String]): Unit =
    entries.forEach { (key, e) => if (keys.contains(key)) evict(key, e) }

  /** Bytes (memory + disk) held by artifact-owned persistent RDDs in
    * this context — the sweep's "pinned" footprint. */
  def pinnedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo
      .filter(i => ownedRdds.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum

  /** Unpersist every persistent RDD NOT owned by a memoized artifact.
    *
    * Why this exists: operators that localCheckpoint an intermediate
    * (row numbering, LSH candidate tables) create cached blocks that are
    * garbage the moment their query completes — each invocation builds
    * fresh ones and never revisits the old. In a long-lived many-query
    * JVM (the bench sweep, the verify gate) dozens of those generations
    * otherwise coexist, and whichever heavy query runs next pays their
    * eviction/GC tax — measured in round 4 as phantom >2× in-sweep
    * regressions that vanished in isolation. Safe by construction: an
    * unowned checkpointed RDD is never re-executed (the next invocation
    * builds a new one), so dropping its blocks can't trigger a
    * recompute-after-checkpoint failure. Removal BLOCKS so callers that
    * follow with System.gc() (Bench, ScaleCheck — both untimed there)
    * truly measure the next pass against a clean block manager. */
  def dropTransientBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!ownedRdds.contains(id)) rdd.unpersist(blocking = true)
    }

  /** Test/maintenance hook: drop everything (e.g. between suites that
    * rewrite the data a cached artifact was built from), unpersisting
    * what the entries owned. */
  def clear(): Unit = {
    entries.forEach((k, e) => evict(k, e))
    ownedRdds.clear()
    accessLog.clear()
    sessionTags.clear()
  }
}
