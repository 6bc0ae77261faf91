package graft

import org.apache.spark.StorageProbe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The damped-rank loops (gr_pagerank, gr_ppr), gr_hits and the
  * frontier walks (gr_bfs, gr_closeness, gr_betweenness) on both
  * branches of the broadcast gate, and the storage their rounds leave
  * behind once the served frame is collected.
  */
class RankLoopSpec extends AnyFunSuite {
  import SparkTestSession._

  /** A loop's rows on the broadcast branch its last argument picks. */
  private type Branch = (SparkSession, String, Boolean) => DataFrame

  private val loops: Seq[(String, Branch)] = Seq(
    "gr_pagerank" -> operators.Graph.pagerankWith,
    "gr_ppr" -> operators.Graph.pprWith,
    "gr_hits" -> operators.Graph.hitsWith)

  private val walks: Seq[(String, Branch)] = Seq(
    "gr_bfs" -> operators.Graph.bfsWith,
    "gr_closeness" -> operators.Graph.closenessWith,
    "gr_betweenness" -> operators.Graph.betweennessWith)

  private def sameOnBothBranches(inputs: Seq[(String, Branch)]): Unit =
    for ((name, rows) <- inputs) {
      val viaBroadcast = rows(spark, sf, true).collect().toSeq
      val viaShuffle = rows(spark, sf, false).collect().toSeq
      assert(viaBroadcast.nonEmpty, name)
      assert(viaBroadcast == viaShuffle, s"$name differs between the two branches")
      // the served query takes the broadcast branch at this scale
      assert(SparkEntry.queries(name)(spark, sf).collect().toSeq == viaBroadcast, name)
    }

  test("gr_pagerank, gr_ppr and gr_hits give identical rows on both broadcast branches") {
    sameOnBothBranches(loops)
  }

  test("gr_bfs, gr_closeness and gr_betweenness give identical rows on both broadcast branches") {
    sameOnBothBranches(walks)
  }

  /** Keeps every checkpointed frame that an action reads strongly
    * reachable, so a collection cannot let the context cleaner free
    * its blocks during the check: only an explicit release does.
    */
  private class PinCheckpoints extends QueryExecutionListener {
    val pinned = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
      qe.analyzed.foreach { case r: LogicalRDD => pinned.add(r.rdd); case _ => }
    override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Serves and collects each query, then asserts that at most `kept`
    * more RDDs hold blocks than before it ran.
    */
  private def leavesAtMost(queries: Seq[(String, Int)]): Unit = {
    // the edge builds are memoized standing caches, not rounds
    operators.Graph.edgesWithDeg(spark, sf).count()
    operators.Graph.coOrderEdges(spark, sf, 42).count()
    val pin = new PinCheckpoints
    spark.listenerManager.register(pin)
    try {
      for ((name, kept) <- queries) {
        val before = StorageProbe.rddsWithBlocks()
        SparkEntry.queries(name)(spark, sf).collect()
        // unpersist(blocking = false) is asynchronous: poll, do not GC
        val deadline = System.nanoTime() + 5L * 1000000000L
        var held = StorageProbe.rddsWithBlocks() -- before
        while (held.size > kept && System.nanoTime() < deadline) {
          Thread.sleep(100)
          held = StorageProbe.rddsWithBlocks() -- before
        }
        assert(held.size <= kept, s"$name left ${held.size} RDDs with blocks, at most $kept expected")
      }
    } finally spark.listenerManager.unregister(pin)
  }

  test("a served rank loop leaves only the rounds its frame still reads") {
    // pagerank and ppr: the round the lazy last round broadcasts;
    // hits: at most its last hub and authority rounds
    leavesAtMost(Seq("gr_pagerank" -> 1, "gr_ppr" -> 1, "gr_hits" -> 2))
  }

  test("a served walk leaves only its output checkpoint") {
    leavesAtMost(walks.map { case (name, _) => name -> 1 })
  }
}
