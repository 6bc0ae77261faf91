package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Smoke + pinned-value tests for every registered query at sf0.001.
  * Full oracle parity runs via graft.Verify + tools/check.py.
  */
class QueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("registry names are unique and every oracle has a query") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The WindowExec warning class, closed permanently: a Window with
    * no partition spec single-partition-sorts its whole input, which
    * is only acceptable over a frame already collapsed to a bounded
    * key domain (types/bands/days/hours). Assert every unpartitioned
    * window in every registered query sits above an Aggregate (or a
    * literal/limit-bounded frame) — a refactor that slides one onto a
    * corpus-sized frame fails here, at every SF.
    */
  private def assertBoundedUnpartitionedWindows(
      df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.optimizedPlan.foreach {
      case w: Window if w.partitionSpec.isEmpty =>
        // The bound must certify the frame FEEDING the window: walk
        // the direct input chain through unary nodes, and through a
        // join only if BOTH sides are themselves bounded — the old
        // collectFirst accepted an Aggregate anywhere in the subtree,
        // so an unpartitioned window over a corpus-sized join whose
        // distant input contained an aggregate slipped the guard.
        def boundedChain(p: LogicalPlan): Boolean = p match {
          case _: Aggregate | _: LocalRelation | _: GlobalLimit => true
          case j: Join => boundedChain(j.left) && boundedChain(j.right)
          case u: UnaryNode => boundedChain(u.child)
          case _ => false
        }
        assert(boundedChain(w.child),
          s"$name: unpartitioned window over a potentially corpus-sized frame:\n$w")
      case _ => ()
    }
  }

  /** Each query runs from its declared builds alone: from an evicted
    * memo, after those builds, serving and counting it must memoize
    * nothing more — a build it reads but does not declare would be
    * billed to its timed serve instead of to Bench's builds.
    */
  for (q <- SparkEntry.registry) {
    test(s"${q.name} runs and returns rows at sf0.001") {
      SessionMemo.evict(spark)
      q.builds.foreach(_.run(spark, sf))
      val declared = SessionMemo.keys(spark)
      val df = q.fn(spark, sf)
      assert(df.count() > 0)
      val undeclared = SessionMemo.keys(spark) -- declared
      assert(undeclared.isEmpty,
        s"${q.name} memoized undeclared builds on serve: ${undeclared.toSeq.sorted.mkString(", ")}")
      assertBoundedUnpartitionedWindows(df, q.name)
    }
  }

  test("q1_pricing aggregates are sane") {
    val row = operators.Relational.q1.fn(spark, sf)
      .filter("l_returnflag = 'A' AND l_linestatus = 'F'").collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("count_order") > 0)
    assert(row(0).getAs[Double]("sum_qty") > 0)
  }

  test("ev_sessionize produces multiple sessions per user") {
    val df = operators.Events.sessionize.fn(spark, sf)
    val maxSession = df.agg(org.apache.spark.sql.functions.max("session_id"))
      .collect()(0).getLong(0)
    assert(maxSession > 1)
  }
}
