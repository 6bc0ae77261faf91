package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.StorageProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The audit family served from its one memoized pass over the
  * corpus: what a cold audit costs in jobs, and what the memo leaves
  * behind once it is evicted — for the audit family and for the
  * dedup signature builds alike.
  */
class AuditMemoSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Jobs of one cold ma_audit + ma_verify at sf0.001, measured at 16
    * on two runs: 9 for the corpus pass (the parquet footer read, the
    * round-robin repartition, building the projection, its narrow part
    * and the per-model frame, the token, per-model and top-100
    * shuffles, the collect), 4 for ma_audit (the pair broadcast, the
    * sort's sample and shuffle, the result) and 3 for ma_verify. Before
    * the one pass the same two queries ran 54 jobs. An upper bound: an
    * added probe or re-read fails, while AQE may still fold a job away.
    */
  private val MaxColdAuditJobs = 16

  private class GroupJobs(group: String) extends SparkListener {
    val jobs = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        jobs.incrementAndGet()
  }

  /** Jobs of serving and collecting `qs` in order from an evicted memo. */
  private def coldJobs(qs: String*): Int = {
    SessionMemo.evict(spark)
    val group = "cold-audit"
    val count = new GroupJobs(group)
    val sc = spark.sparkContext
    sc.addSparkListener(count)
    sc.setJobGroup(group, s"cold ${qs.mkString(" + ")}")
    try qs.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    finally {
      sc.clearJobGroup()
      StorageProbe.drainListenerBus()
      sc.removeSparkListener(count)
    }
    count.jobs.get
  }

  test("a cold ma_audit + ma_verify runs a bounded number of jobs") {
    val runs = Seq(coldJobs("ma_audit", "ma_verify"), coldJobs("ma_audit", "ma_verify"))
    assert(runs.forall(_ <= MaxColdAuditJobs),
      s"cold ma_audit + ma_verify ran ${runs.mkString(" and ")} jobs, at most $MaxColdAuditJobs expected")
  }

  /** Jobs of one cold ma_reef_compare at sf0.001, measured at 8 on two
    * runs: 6 to select and collect the CKA sample (the parquet footer
    * read, the round-robin repartition of each of the two embeddings
    * reads, the top-k aggregate's shuffle, the selection's broadcast,
    * the collect), and 2 for the verdict's aggregate over the 45-row
    * local frame (its shuffle and the result). The Gram pipeline this
    * replaced ran 21.
    */
  private val MaxColdReefJobs = 8

  test("a cold ma_reef_compare runs a bounded number of jobs") {
    val runs = Seq(coldJobs("ma_reef_compare"), coldJobs("ma_reef_compare"))
    assert(runs.forall(_ <= MaxColdReefJobs),
      s"cold ma_reef_compare ran ${runs.mkString(" and ")} jobs, at most $MaxColdReefJobs expected")
  }

  /** Serve `qs` on a private copy of `tables` (so no frame another
    * spec cached for the shared test dir can stand in for this run's),
    * then require that SessionMemo.evict alone frees every block the
    * serving made.
    */
  private def assertEvictFreesAll(tables: Seq[String], qs: Seq[Q]): Unit = {
    val dir = Files.createTempDirectory("graft-memo-storage")
    val copies = tables.map(t => dir.resolve(s"$t.parquet"))
    copies.foreach(t => Files.copy(Paths.get(sf).resolve(t.getFileName), t))
    try {
      val before = StorageProbe.rddsWithBlocks()
      qs.foreach(_.fn(spark, dir.toString).collect())
      assert((StorageProbe.rddsWithBlocks() -- before).nonEmpty, "serving cached nothing")
      SessionMemo.evict(spark)
      // unpersist(blocking = false) is asynchronous: poll, do not GC
      val deadline = System.nanoTime() + 5L * 1000000000L
      var held = StorageProbe.rddsWithBlocks() -- before
      while (held.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100)
        held = StorageProbe.rddsWithBlocks() -- before
      }
      assert(held.isEmpty, s"${held.size} RDDs still hold blocks after SessionMemo.evict")
    } finally {
      copies.foreach(Files.deleteIfExists)
      Files.deleteIfExists(dir)
    }
  }

  test("SessionMemo.evict frees every block that serving the audit family made") {
    assertEvictFreesAll(Seq("documents", "embeddings"),
      operators.Audit.all ++ operators.Style.all ++ operators.Reef.all)
  }

  test("SessionMemo.evict frees every block that serving the dedup signatures made") {
    import operators.Dedup._
    assertEvictFreesAll(Seq("documents"),
      Seq(minhash, lshPairs, jaccard, deconFuzzy, simhash, simhashPairs))
  }
}
