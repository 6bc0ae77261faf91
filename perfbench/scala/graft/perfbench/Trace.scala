package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters filed under the job group that was current when
  * each job was submitted. The tracer sets one group per span, so a
  * span's counters are exactly the jobs its own code submitted (the
  * same stage → job → group mapping graft's ShuffleAccounting uses;
  * events arrive on one listener thread, the maps are read after
  * [[drain]]).
  */
final class LayerCounters extends SparkListener {
  final case class Agg(jobs: Long, stages: Long, tasks: Long, runMs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long) {
    def +(o: Agg): Agg = Agg(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      runMs + o.runMs, gcMs + o.gcMs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  }
  val Zero: Agg = Agg(0, 0, 0, 0, 0, 0, 0)

  private val jobGroup = TrieMap[Int, String]()
  private val stageJob = TrieMap[Int, Int]()
  private val byGroup = TrieMap[String, Agg]()
  private val processed = new AtomicLong(0)

  private def add(g: String, a: Agg): Unit = byGroup(g) = byGroup.getOrElse(g, Zero) + a

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
    add(g, Zero.copy(jobs = 1))
    processed.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    val g = stageJob.get(e.stageInfo.stageId).flatMap(jobGroup.get).getOrElse("")
    if (m != null)
      add(g, Agg(0, 1, e.stageInfo.numTasks, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled))
    processed.incrementAndGet()
  }

  def group(g: String): Agg = byGroup.getOrElse(g, Zero)

  /** Wait until no event has arrived for `quietMs`. */
  def drain(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis + maxMs
    var last = processed.get
    var lastChange = System.currentTimeMillis
    while (System.currentTimeMillis < deadline && System.currentTimeMillis - lastChange < quietMs) {
      Thread.sleep(20)
      val cur = processed.get
      if (cur != last) { last = cur; lastChange = System.currentTimeMillis }
    }
  }
}

/** In-memory spans around the benchmark's calls into each layer of the
  * program. One span per call: name, layer, start, end, parent, and
  * the id of the request it belongs to. While tracing is off, [[span]]
  * only runs its body.
  */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Int, parent: Int, req: Int, layer: String, name: String,
      start: Long, var end: Long = 0L)

  val counters = new LayerCounters
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var request = 0
  private val t0 = System.nanoTime()
  var on = false

  def start(): Unit = { sc.addSparkListener(counters); on = true }

  /** Start a new request id for the spans that follow. */
  def nextRequest(): Unit = request += 1

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), request, layer, name,
        System.nanoTime() - t0)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, s"$layer:$name")
      try body
      finally {
        s.end = System.nanoTime() - t0
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, s"${p.layer}:${p.name}")
          case None => sc.clearJobGroup()
        }
      }
    }

  def all: Seq[Span] = spans.toSeq

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Duration minus the time its child spans cover (children of one
    * span never overlap: the benchmark calls layers from one thread).
    */
  def selfNs(s: Span): Long = (s.end - s.start) - children(s.id).map(c => c.end - c.start).sum

  /** Counters of a span and all its descendants. */
  def inclusive(s: Span): counters.Agg =
    children(s.id).foldLeft(counters.group(s.id.toString))((a, c) => a + inclusive(c))

  /** Spans as JSON lines, with self time and own (exclusive) counters. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = counters.group(s.id.toString)
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"self_ns":${selfNs(s)},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"run_ms":${c.runMs},""" +
        s""""gc_ms":${c.gcMs},"shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
