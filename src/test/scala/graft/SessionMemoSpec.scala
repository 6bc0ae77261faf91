package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-session build memo: same session + key → same frames (no
  * rebuild), eviction releases and forgets, and keys are scoped per
  * (session, key) so two dirs never collide.
  */
class SessionMemoSpec extends AnyFunSuite {
  import SparkTestSession._

  test("frames are built once per key, rebuilt after evict, keyed per key") {
    var builds = 0
    def build() = SessionMemo.frames(spark, "memo-spec-a") {
      builds += 1
      val f = spark.range(10).withColumn("x", col("id") * 2).persist()
      f.count()
      Seq(f)
    }
    val first = build()
    val second = build()
    assert(builds == 1, "second access must serve the memo, not rebuild")
    assert(second.head eq first.head, "must be the SAME frame reference")
    var otherBuilds = 0
    SessionMemo.frames(spark, "memo-spec-b") { otherBuilds += 1; Seq.empty }
    assert(otherBuilds == 1 && builds == 1, "keys must not collide")
    SessionMemo.evict(spark)
    assert(first.head.storageLevel.useMemory == false,
      "evict must unpersist the memoized frames")
    build()
    assert(builds == 2, "after evict the next access rebuilds")
    assert(SessionMemo.frames(spark, "memo-spec-a")(fail("must not rebuild")).nonEmpty)
    SessionMemo.evict(spark) // leave no state for other suites
  }

  test("release reclaims one key without touching the others") {
    val a = SessionMemo.frames(spark, "memo-rel-a") {
      val f = spark.range(5).toDF().persist(); f.count(); Seq(f)
    }
    SessionMemo.frames(spark, "memo-rel-b") { Seq.empty }
    SessionMemo.release(spark, "memo-rel-a")
    assert(!a.head.storageLevel.useMemory, "release must unpersist the key's frames")
    var rebuilt = false
    SessionMemo.frames(spark, "memo-rel-a") { rebuilt = true; Seq.empty }
    assert(rebuilt, "released key must rebuild on next access")
    var rebuiltB = false
    SessionMemo.frames(spark, "memo-rel-b") { rebuiltB = true; Seq.empty }
    assert(!rebuiltB, "other keys must survive a single-key release")
    SessionMemo.evict(spark)
  }

  test("entries are LRU-bounded; the eldest is unpersisted, not leaked") {
    val first = SessionMemo.frames(spark, "memo-lru-0") {
      val f = spark.range(3).toDF().persist(); f.count(); Seq(f)
    }
    // touch MaxEntries more keys → "memo-lru-0" (least recently used)
    // must be reclaimed
    (1 to SessionMemo.MaxEntries).foreach { i =>
      SessionMemo.frames(spark, s"memo-lru-$i") { Seq.empty }
    }
    assert(!first.head.storageLevel.useMemory,
      "LRU eviction must unpersist the eldest entry's frames")
    var rebuilt = false
    SessionMemo.frames(spark, "memo-lru-0") { rebuilt = true; Seq.empty }
    assert(rebuilt, "the LRU-evicted key must rebuild on next access")
    SessionMemo.evict(spark)
  }

  test("repeated evict/build cycles register no further listeners") {
    def build() = SessionMemo.frames(spark, "memo-listen") {
      val f = spark.range(4).toDF().persist(); f.count(); Seq(f)
    }
    build()
    val listeners = org.apache.spark.StorageProbe.listenerCount()
    (1 to 5).foreach { _ => SessionMemo.evict(spark); build() }
    assert(org.apache.spark.StorageProbe.listenerCount() == listeners,
      "an evict followed by a build must not add an application-end listener")
    SessionMemo.evict(spark)
  }

  test("a racing first access builds once; the loser gets the winner's frames") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val entered = new java.util.concurrent.CountDownLatch(1)
    def access() = SessionMemo.frames(spark, "memo-race") {
      builds.incrementAndGet()
      entered.countDown()
      Thread.sleep(150) // hold the build open so the other thread races it
      val f = spark.range(7).toDF().persist(); f.count(); Seq(f)
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(access())
    entered.await()
    val fb = Future(access()) // arrives while the winner is mid-build
    val (ra, rb) = (Await.result(fa, 30.seconds), Await.result(fb, 30.seconds))
    assert(builds.get == 1, "the build closure must run exactly once under a race")
    assert(ra.head eq rb.head, "both racers must observe the same frames")
    assert(ra.head.storageLevel.useMemory, "no persisted frames may be discarded")
    SessionMemo.evict(spark)
  }
}
