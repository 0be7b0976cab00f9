package graft

import org.apache.spark.sql.functions._
import graft.util.SessionCache

/** Session-scoped memoization: ownership protects memo blocks from the
  * transient sweep, and artifacts of discarded sessions are reclaimed
  * on a later memoize. */
class SessionCacheSpec extends SparkSpec {

  test("nested memoize works and ownership stays disjoint " +
    "(the computeIfAbsent recursive-update regression)") {
    SessionCache.clear()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var innerBuilds = 0
    def inner() = SessionCache.memoize(spark, "spec-inner", "x") {
      innerBuilds += 1
      spark.range(40).toDF("n").localCheckpoint()
    }
    // an OUTER artifact whose build memoizes the inner one — this is
    // q_source_overlap's shape (the near-dup pair view inside the
    // overlap build); with computeIfAbsent it threw "Recursive update"
    // whenever the sweep order left the inner key cold
    val outer = SessionCache.memoize(spark, "spec-outer", "x") {
      inner().selectExpr("n * 2 as m").localCheckpoint()
    }
    assert(outer.count() === 40)
    assert(innerBuilds === 1)
    // both entries serve independently; inner did NOT rebuild
    assert(inner().count() === 40)
    assert(innerBuilds === 1)
    // evicting the OUTER key must not kill the inner entry's blocks
    val innerIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    SessionCache.evictKeys(Set(
      s"${SessionCache.sessionKey(spark)}|spec-outer|x"))
    assert(inner().count() === 40) // still served, blocks intact
    assert(innerBuilds === 1)
    assert(innerIds.nonEmpty)
    SessionCache.clear()
    SessionCache.dropTransientBlocks(spark)
  }

  test("memo blocks survive the transient sweep; unowned blocks do not") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val memo = SessionCache.memoize(spark, "spec-owned", "x") {
      spark.range(100).toDF("n").localCheckpoint()
    }
    val owned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(owned.nonEmpty)
    // an unowned (plain) checkpoint alongside it
    val loose = spark.range(50).toDF("n").localCheckpoint()
    assert(loose.count() === 50)
    val withLoose = spark.sparkContext.getPersistentRDDs.keySet
    assert((withLoose -- before -- owned).nonEmpty)

    SessionCache.dropTransientBlocks(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    owned.foreach(id => assert(after.contains(id), "memo block dropped"))
    assert((after -- before -- owned).isEmpty, "loose block survived")
    assert(memo.count() === 100) // memoized artifact still serves
    SessionCache.clear()
    SessionCache.dropTransientBlocks(spark)
  }

  test("USAGE.md lifecycle snippet: cycling a session + evictSession reclaims its blocks") {
    // the exact shape the user guide prescribes for one-session-per-
    // tenant JVMs, run against the real memoized view core
    val dir = "/root/testdata/sf0.001"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val tenant = spark.newSession()
    try {
      assert(graft.views.Views.transactions(tenant, dir).count() > 0)
      val owned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(owned.nonEmpty, "view core should checkpoint")
    } finally {
      SessionCache.evictSession(tenant)
    }
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      "retired session's checkpoint blocks must be unpersisted")
  }

  test("evictSession releases exactly the retired session's memo blocks") {
    // NOTE eviction is explicit by design: a cached DataFrame strongly
    // references its building session, so a GC/weak-reference sweep
    // could never fire — the cache itself would keep every session
    // reachable. (An earlier weak-ref design was dead code for exactly
    // that reason.)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val child = spark.newSession()
    SessionCache.memoize(child, "spec-dead", "y") {
      child.range(100).toDF("n").localCheckpoint()
    }
    val childOwned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(childOwned.nonEmpty)
    // a surviving session's memo, which must NOT be touched
    val keep = SessionCache.memoize(spark, "spec-live", "y") {
      spark.range(70).toDF("n").localCheckpoint()
    }
    val liveOwned =
      spark.sparkContext.getPersistentRDDs.keySet -- before -- childOwned

    SessionCache.evictSession(child)
    val now = spark.sparkContext.getPersistentRDDs.keySet
    childOwned.foreach(id =>
      assert(!now.contains(id), "retired session's block survived"))
    liveOwned.foreach(id =>
      assert(now.contains(id), "surviving session's block was dropped"))
    assert(keep.count() === 70)
    // re-memoizing under the retired session's key rebuilds, not serves
    // a dead artifact
    val rebuilt = SessionCache.memoize(child, "spec-dead", "y") {
      child.range(30).toDF("n").localCheckpoint()
    }
    assert(rebuilt.count() === 30)
    SessionCache.clear()
    SessionCache.dropTransientBlocks(spark)
  }

  test("evictDir retires one dir of one session; other dirs and sessions keep serving") {
    SessionCache.clear()
    val other = spark.newSession()
    def memo(s: org.apache.spark.sql.SparkSession, dir: String, n: Int) =
      SessionCache.memoize(s, "spec-dir", dir) { s.range(n).toDF("n").localCheckpoint() }
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val a = memo(spark, "/w/a", 10)
      val aOwned = spark.sparkContext.getPersistentRDDs.keySet -- before
      val b = memo(spark, "/w/b", 20)
      val c = memo(spark, "/x/w/a", 25) // ends with the evicted dir
      val o = memo(other, "/w/a", 30)
      SessionCache.tagChanged(spark, "spec-tag", "/w/a")
      SessionCache.tagChanged(spark, "spec-tag-b", "/w/b")
      SessionCache.tagChanged(other, "spec-tag", "/w/a")
      assert(aOwned.nonEmpty)

      SessionCache.evictDir(spark, "/w/a")
      val now = spark.sparkContext.getPersistentRDDs.keySet
      aOwned.foreach(id => assert(!now.contains(id), "evicted dir's block survived"))
      // the other dirs and the other session's memo are hits that serve
      assert(memo(spark, "/w/b", 0) eq b)
      assert(memo(spark, "/x/w/a", 0) eq c)
      assert(memo(other, "/w/a", 0) eq o)
      assert(b.count() === 20 && c.count() === 25 && o.count() === 30)
      // the evicted dir rebuilds; only its own tag is gone
      val rebuilt = memo(spark, "/w/a", 5)
      assert(!(rebuilt eq a) && rebuilt.count() === 5)
      assert(SessionCache.tagChanged(spark, "spec-tag", "/w/a"))
      assert(!SessionCache.tagChanged(spark, "spec-tag-b", "/w/b"))
      assert(!SessionCache.tagChanged(other, "spec-tag", "/w/a"))
    } finally {
      SessionCache.evictSession(other)
      SessionCache.clear()
      SessionCache.dropTransientBlocks(spark)
    }
  }

  test("round-8 sweep telemetry: access log drains per query, pinned " +
    "bytes track owned blocks, evictKeys releases and rebuilds") {
    SessionCache.clear()
    SessionCache.drainAccesses()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // build two artifacts; each memoize (build AND hit) is logged
    SessionCache.memoize(spark, "spec-a", "z") {
      spark.range(200).toDF("n").localCheckpoint()
    }
    SessionCache.memoize(spark, "spec-b", "z") {
      spark.range(100).toDF("n").localCheckpoint()
    }
    val accessed = SessionCache.drainAccesses()
    assert(accessed.exists(_.contains("|spec-a|z")))
    assert(accessed.exists(_.contains("|spec-b|z")))
    assert(SessionCache.drainAccesses().isEmpty) // drained means drained
    // a cache HIT is an access too (the bench's dependency map needs
    // hits, not just builds)
    SessionCache.memoize(spark, "spec-a", "z") {
      fail("hit must not rebuild"); null
    }
    assert(SessionCache.drainAccesses().exists(_.contains("|spec-a|z")))
    // pinned bytes: both artifacts' blocks are counted
    val pinned = SessionCache.pinnedBytes(spark)
    assert(pinned > 0L)
    // evict ONE by key: its blocks go, the other's stay, a later
    // memoize on the evicted key rebuilds
    val aKey = accessed.find(_.contains("|spec-a|z")).get
    SessionCache.evictKeys(Set(aKey))
    assert(SessionCache.pinnedBytes(spark) < pinned)
    var rebuilt = false
    val again = SessionCache.memoize(spark, "spec-a", "z") {
      rebuilt = true
      spark.range(40).toDF("n").localCheckpoint()
    }
    assert(rebuilt && again.count() === 40)
    // the surviving artifact still serves from its blocks
    assert(SessionCache.memoize(spark, "spec-b", "z") {
      fail("survivor must not rebuild"); null
    }.asInstanceOf[org.apache.spark.sql.DataFrame].count() === 100)
    SessionCache.clear()
    SessionCache.dropTransientBlocks(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty)
  }

  test("round-15: interleaved first-builds of DIFFERENT keys attribute " +
    "ownership by reachability, never by window-diff contamination") {
    SessionCache.clear()
    import java.util.concurrent.CyclicBarrier
    // Two threads first-build different keys with STAGGERED persists:
    // each thread checkpoints inside the other's build window, so the
    // old getPersistentRDDs diff would capture both sides in both
    // entries. Barriers force the interleave deterministically:
    //   A enters build, checkpoints dfA1 … B checkpoints dfB … A
    //   checkpoints dfA2 and closes its window (diff sees dfB too).
    val b1 = new CyclicBarrier(2); val b2 = new CyclicBarrier(2)
    @volatile var errA: Throwable = null; @volatile var errB: Throwable = null
    val tA = new Thread(() => try {
      SessionCache.memoize(spark, "spec-race-a", "k") {
        val d1 = spark.range(60).toDF("n").localCheckpoint()
        b1.await() // B builds + persists now, inside A's window
        b2.await()
        d1.selectExpr("n + 1 as m").localCheckpoint()
      }: Unit
    } catch { case t: Throwable => errA = t })
    val tB = new Thread(() => try {
      b1.await()
      SessionCache.memoize(spark, "spec-race-b", "k") {
        spark.range(70).toDF("n").localCheckpoint()
      }: Unit
      b2.await()
    } catch { case t: Throwable => errB = t })
    tA.start(); tB.start(); tA.join(30000); tB.join(30000)
    assert(errA == null, s"thread A failed: $errA")
    assert(errB == null, s"thread B failed: $errB")
    val sk = SessionCache.sessionKey(spark)
    // Evict A: B's artifact must still serve from intact blocks — under
    // diff-based attribution A owned B's RDD and this unpersisted it.
    SessionCache.evictKeys(Set(s"$sk|spec-race-a|k"))
    val bServed = SessionCache.memoize(spark, "spec-race-b", "k") {
      fail("B must still be cached"); null
    }.asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(bServed.count() === 70,
      "evicting A unpersisted B's blocks (ownership contamination)")
    SessionCache.clear()
    SessionCache.dropTransientBlocks(spark)
  }

  test("round-15: concurrent first-build of the SAME key — the loser " +
    "drops only its own duplicate, the winner's artifact stays intact") {
    SessionCache.clear()
    import java.util.concurrent.CyclicBarrier
    val inBuild = new CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.DataFrame]()
    @volatile var err: Throwable = null
    def racer() = new Thread(() => try {
      val df = SessionCache.memoize(spark, "spec-race-same", "k") {
        // both threads are mid-build before either publishes
        inBuild.await()
        spark.range(90).toDF("n").localCheckpoint()
      }
      results.add(df)
    } catch { case t: Throwable => err = t })
    val t1 = racer(); val t2 = racer()
    t1.start(); t2.start(); t1.join(30000); t2.join(30000)
    assert(err == null, s"racer failed: $err")
    // both callers got the SAME (winner's) artifact object
    val got = results.toArray(Array.empty[org.apache.spark.sql.DataFrame])
    assert(got.length === 2)
    assert(got(0) eq got(1), "losing racer must serve the winner's value")
    // and it still executes — the loser's cleanup must not have touched
    // the winner's blocks (reachability: the loser unpersists only ids
    // reachable from its OWN duplicate artifact)
    assert(got(0).count() === 90)
    assert(got(0).count() === 90) // twice: rules out lingering buffers
    SessionCache.clear()
    SessionCache.dropTransientBlocks(spark)
  }

  test("round-16: ownership reaches EVERY element of a long List " +
    "artifact and plans referenced only via subquery expressions") {
    SessionCache.clear()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // (a) a List of 12 checkpointed DataFrames: cons cells must not
    // consume the structural depth budget (>7 elements used to lose
    // the tail's blocks — Product matched before Iterable)
    val many = SessionCache.memoize(spark, "spec-list12", "k") {
      (0 until 12).map(i =>
        spark.range(10 + i).toDF("n").localCheckpoint()).toList
    }
    // (b) an artifact whose ONLY path to its checkpointed RDD is a
    // scalar-subquery expression (plan.foreach never descends there)
    val sub = SessionCache.memoize(spark, "spec-subq", "k") {
      val cut = spark.range(25).toDF("n").localCheckpoint()
      cut.createOrReplaceTempView("spec_subq_cut")
      spark.sql(
        "SELECT id FROM range(50) WHERE id < (SELECT max(n) FROM spec_subq_cut)")
    }
    SessionCache.dropTransientBlocks(spark)
    // every List element still executes off intact blocks
    many.zipWithIndex.foreach { case (df, i) =>
      assert(df.count() === 10 + i, s"list element $i lost its blocks")
    }
    assert(sub.count() === 24,
      "subquery-reachable checkpoint was swept as unowned")
    SessionCache.clear()
    SessionCache.dropTransientBlocks(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("round-15: driver-side model artifacts pin nothing — their " +
    "build intermediates stay transient and the sweep reclaims them") {
    SessionCache.clear()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val model = SessionCache.memoize(spark, "spec-model", "k") {
      // a build that checkpoints an intermediate but returns a
      // driver-side Map (the classifier/DSIR/bloom shape)
      val inter = spark.range(30).toDF("n").localCheckpoint()
      inter.collect().map(r => r.getLong(0) -> 1L).toMap
    }
    assert(model.size === 30)
    // the intermediate was NOT claimed: the transient sweep drops it
    SessionCache.dropTransientBlocks(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "model build's intermediate blocks must not be pinned as owned")
    // the entry itself still serves (driver-side value, no blocks)
    assert(SessionCache.memoize(spark, "spec-model", "k") {
      fail("must not rebuild"); null
    }.asInstanceOf[Map[Long, Long]].size === 30)
    SessionCache.clear()
  }
}
