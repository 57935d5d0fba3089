package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** Memo lifecycle + concurrency contract (ADVICE round-4 items):
  * eviction must never invalidate a DataFrame a caller still holds, and one
  * expensive materialization must not block memo access for other keys.
  */
class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("an LRU-evicted entry's DataFrame stays fully usable") {
    import spark.implicits._
    // distinct dataset-path component → distinct keys; localCheckpoint
    // mirrors how Dedup/Tables memoize their intermediates
    val first = Memo("spec_evict", spark, "memo-spec-path-0") {
      Seq(1, 2, 3).toDF("n").localCheckpoint()
    }
    assert(first.count() == 3)
    // flood the memo far past its cap so `first` is evicted (derived from
    // the real cap — a hand-typed constant here went stale when the cap
    // was raised and the test silently stopped exercising eviction)
    (1 to Memo.Cap + 8).foreach { i =>
      Memo("spec_evict", spark, s"memo-spec-path-$i") {
        Seq(i).toDF("n").localCheckpoint()
      }.count()
    }
    // pre-fix this failed with missing-checkpoint-block errors: eviction
    // force-unpersisted the LogicalRDD's blocks out from under the caller
    assert(first.count() == 3)
    assert(first.select("n").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
  }

  test("the cap clears a full Warm.all materialization with headroom") {
    // The guard the Cap comment used to hand-count (r13 verdict item 2):
    // run the REAL warm-up at the smallest corpus and prove (a) the step
    // ledger and (b) the actual memo entries it creates both fit strictly
    // under the cap — i.e. warming can never evict a warmed relation and
    // silently re-introduce an index build into the first timed query.
    val dir = "/root/testdata/sf0.001"
    val ledger = graft.operators.Warm.all(spark, dir)
    assert(ledger.size < Memo.Cap,
      s"Warm.all runs ${ledger.size} steps; Memo.Cap=${Memo.Cap} must exceed it")
    val entries = Memo.entryCount(spark, dir)
    assert(entries > 0 && entries < Memo.Cap,
      s"a full warm leaves $entries live memo entries; Memo.Cap=${Memo.Cap} " +
        "must exceed it or first-warmed relations get evicted before the bench")
  }

  test("a slow build on one key does not block access to another key") {
    import spark.implicits._
    val inBuild = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() => {
      Memo("spec_slow", spark, "memo-spec-slow") {
        inBuild.countDown()
        release.await(60, TimeUnit.SECONDS)
        Seq(1).toDF("n")
      }
    })
    slow.start()
    assert(inBuild.await(30, TimeUnit.SECONDS), "slow build never started")
    // while the slow key is mid-build, another key must be served — under
    // the old global-lock design this blocked until `release` fired
    val other = new CountDownLatch(1)
    val fast = new Thread(() => {
      Memo("spec_fast", spark, "memo-spec-fast")(Seq(2).toDF("n"))
      other.countDown()
    })
    fast.start()
    val served = other.await(20, TimeUnit.SECONDS)
    release.countDown()
    slow.join(30000); fast.join(30000)
    assert(served, "independent key was blocked behind another key's build")
  }

  test("same-key callers share a single materialization") {
    import spark.implicits._
    val builds = new AtomicInteger(0)
    val ready = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        ready.await(30, TimeUnit.SECONDS)
        val df = Memo("spec_once", spark, "memo-spec-once") {
          builds.incrementAndGet()
          Seq(1, 2).toDF("n").localCheckpoint()
        }
        results.add(df.count())
      })
    }
    threads.foreach(_.start())
    ready.countDown()
    threads.foreach(_.join(60000))
    assert(builds.get() == 1, s"mk ran ${builds.get()} times; memo must build once")
    assert(results.size() == 4 && results.toArray.forall(_ == 2L))
  }

  test("the warm ledger note names the real pool size") {
    val ledger = graft.operators.Warm.notes.toMap.apply("_ledger")
    assert(graft.operators.Warm.PoolSize > 0)
    assert(ledger.contains(s"on a ${graft.operators.Warm.PoolSize}-thread pool"), ledger)
  }

  test("every warm note names a build in the warm chains") {
    // chains only lists builds: nothing is materialized, no path is read
    val builds = graft.operators.Warm.chains(spark, "memo-spec-notes").flatten.map(_._1).toSet
    val stale = graft.operators.Warm.notes.map(_._1).filterNot(k => k == "_ledger" || builds(k))
    assert(stale.isEmpty, s"notes name no warm build: $stale")
  }
}
