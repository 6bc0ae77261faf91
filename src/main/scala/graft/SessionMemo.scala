package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-session memo for one-time built, persisted artifacts (the IVF
  * index, the PQ codebook + codes, the verified near-dup pair sets):
  * the production separation between an index/layout BUILD job and
  * the many queries served from it.
  *
  * Keyed by the SparkSession reference itself (ConcurrentHashMap uses
  * equals, which SparkSession does not override → identity), so two
  * sessions can never collide the way an identity-hash key could.
  *
  * Lifecycle (the r7 advice items): a build runs AT MOST ONCE per key
  * — the per-session lock means a losing racer waits for the winner's
  * frames instead of building duplicates whose persisted blocks leak;
  * the lock is reentrant, so builds may compose other memoized builds
  * (embedClusterAssignment → embedEdges). Entries can be released
  * per-key ([[release]]), are LRU-bounded per session ([[MaxEntries]]
  * — a long-lived app cycling through many dirs reclaims the oldest
  * index's blocks instead of accumulating until application end), and
  * the application-end listener still evicts everything at teardown.
  * Evicting a live entry is safe for correctness: unpersist only
  * drops cached blocks, a later use rebuilds.
  */
object SessionMemo {

  /** Per-session LRU bound on memoized artifacts. Each artifact is a
    * handful of persisted frames; 64 comfortably covers every
    * (index × dir) pair a round touches while bounding a pathological
    * many-dir loop.
    */
  val MaxEntries = 64

  // access-ordered: iteration starts at the least-recently-used key
  private final class Entries
    extends java.util.LinkedHashMap[String, Seq[DataFrame]](16, 0.75f, true)

  private val store = new ConcurrentHashMap[SparkSession, Entries]()

  // sessions whose application-end listener is registered: one listener
  // per session for the life of its context, however often it is evicted
  private val watched = ConcurrentHashMap.newKeySet[SparkSession]()

  private def unpersistAll(frames: Seq[DataFrame]): Unit =
    frames.foreach { df =>
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () } // session already torn down
    }

  /** The frames memoized under `key` for this session, building (and
    * the caller persisting + materializing) them on first use.
    */
  def frames(spark: SparkSession, key: String)(build: => Seq[DataFrame]): Seq[DataFrame] = {
    if (watched.add(spark)) spark.sparkContext.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
        evict(spark)
        watched.remove(spark)
      }
    })
    val m = store.computeIfAbsent(spark, _ => new Entries)
    // the session's intrinsic lock is reentrant: a build that calls
    // frames() for another key (composed builds) does not deadlock;
    // concurrent first access from another thread blocks until the
    // winner's frames exist, so the build body runs at most once
    m.synchronized {
      val hit = m.get(key)
      if (hit != null) hit
      else {
        val built = build
        m.put(key, built)
        while (m.size > MaxEntries) {
          val eldest = m.entrySet().iterator().next()
          unpersistAll(eldest.getValue)
          m.remove(eldest.getKey)
        }
        built
      }
    }
  }

  /** Release ONE memoized artifact (unpersist its frames and forget
    * the key) — the per-key reclamation path for long-running apps
    * that know an index is no longer needed.
    */
  def release(spark: SparkSession, key: String): Unit =
    Option(store.get(spark)).foreach { m =>
      m.synchronized {
        Option(m.remove(key)).foreach(unpersistAll)
      }
    }

  /** The keys memoized for this session right now. */
  private[graft] def keys(spark: SparkSession): Set[String] =
    Option(store.get(spark)).fold(Set.empty[String]) { m =>
      m.synchronized {
        import scala.jdk.CollectionConverters._
        m.keySet.asScala.toSet
      }
    }

  /** Drop every entry of a session and release its persisted frames. */
  def evict(spark: SparkSession): Unit =
    Option(store.remove(spark)).foreach { m =>
      m.synchronized {
        import scala.jdk.CollectionConverters._
        m.values().asScala.foreach(unpersistAll)
        m.clear()
      }
    }
}
