package graft
import org.apache.spark.sql.SparkSession

/** Per-query shuffle/spill accounting, turning the engine's "no text
  * in keyed shuffles" plan claims into MEASURED bytes in the bench
  * artifact: a query whose shuffle writes grow with corpus TEXT size
  * (instead of id/hash-row size) is visible immediately, at any SF.
  *
  * Attribution is EXACT, not time-windowed: the bench runs each query
  * under its own job group, the listener maps stage → job → group
  * (job-start events carry the group and the job's stage ids), and
  * every stage's metrics land in its group's bucket no matter when
  * the async listener bus delivers the event. (A first draft sliced
  * one global counter by wall-clock windows; task-event backlogs
  * delayed stage events past the window and credited one query's
  * shuffle to the next.) Listener events arrive on one dispatch
  * thread; the maps are concurrent only because the bench thread
  * reads them at the end, after `drain()` — wait until the processed
  * stage count stays stable for `quietMs`.
  */
object ShuffleAccounting {
  final case class Agg(stages: Long, bytes: Long, records: Long, spillBytes: Long)
}

final class ShuffleAccounting extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.atomic.AtomicLong
  import scala.collection.concurrent.TrieMap
  import ShuffleAccounting.Agg
  private val jobGroup = TrieMap[Int, String]()
  private val stageJob = TrieMap[Int, Int]()
  private val byGroup = TrieMap[String, Agg]()
  private val processed = new AtomicLong(0)
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
  }
  override def onStageCompleted(
      e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      val g = stageJob.get(e.stageInfo.stageId).flatMap(jobGroup.get).getOrElse("")
      val prev = byGroup.getOrElse(g, Agg(0, 0, 0, 0))
      byGroup(g) = Agg(prev.stages + 1,
        prev.bytes + m.shuffleWriteMetrics.bytesWritten,
        prev.records + m.shuffleWriteMetrics.recordsWritten,
        prev.spillBytes + m.diskBytesSpilled + m.memoryBytesSpilled)
      processed.incrementAndGet()
    }
  }
  def group(g: String): Agg = byGroup.getOrElse(g, Agg(0, 0, 0, 0))
  def drain(quietMs: Long = 250, maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis + maxMs
    var last = processed.get
    var lastChange = System.currentTimeMillis
    while (System.currentTimeMillis < deadline &&
      System.currentTimeMillis - lastChange < quietMs) {
      Thread.sleep(20)
      val cur = processed.get
      if (cur != last) { last = cur; lastChange = System.currentTimeMillis }
    }
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Cluster-posture knob: shuffle parallelism defaults to the core
    // count (the local-mode sweet spot) but is overridable so the
    // scale legs can demonstrate the memory-budget claim — the sf10
    // spill concentrated in pagerank/q2/dd_embed is per-task working
    // set, and partitions ∝ data (at fixed memory) shrink it the way
    // executors ∝ data would on a real cluster. Driver heap is the
    // matching SPARK_DRIVER_MEM knob in build.sbt.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the bounded-frame WindowExec and checkpoint
    // WARNs flood the stdout tail the driver scrapes (BENCH_r10/r11
    // both recorded parsed:null despite the JSON line being printed) —
    // real failures still surface via the explicit [bench] stderr line
    // and the "failed" list in the artifact.
    spark.sparkContext.setLogLevel("ERROR")
    // optional comma-separated subset for local iteration; the driver
    // leaves it unset and gets every query
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.registry.filter(q => only.forall(_.contains(q.name)))
    // untimed warmup: JVM class-loading, Catalyst init, codegen
    // compiler and parquet-footer machinery otherwise all bill to
    // whichever query happens to run first
    spark.range(1000).selectExpr("sum(id + 1) AS s").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val acc = new ShuffleAccounting
    spark.sparkContext.addSparkListener(acc)
    // One-time layouts and indexes, built eagerly BEFORE timing so the
    // timed entries measure the serve path — the build/serve separation
    // a production system has. The builds are the ones the selected
    // queries declare, each run once, in registry order, under its own
    // job group; its duration lands in "builds" and its shuffle and
    // spill under "build:<name>", so the one-time cost is not unbilled.
    val builds = selected.flatMap(_.builds).distinct.map { b =>
      spark.sparkContext.setJobGroup(s"build:${b.name}", b.name)
      val t0 = System.nanoTime()
      b.run(spark, sfDir)
      spark.sparkContext.clearJobGroup()
      b.name -> (System.nanoTime() - t0) / 1e9
    }
    // Timed action. "count" is the series-stable default every round
    // has used — but Catalyst legally deletes work under it: unused
    // projections are pruned (a fingerprint column nobody counts is
    // never computed) and a final left join against an aggregate is
    // ELIMINATED outright (caught by the shuffle accounting on
    // dd_spans: 508 shuffle rows where the gram pipeline writes 24k).
    // "checksum" instead folds EVERY output column of EVERY row into
    // one xxhash64 aggregate — nothing upstream is prunable, at the
    // cost of one hash per output row (trivial next to the query).
    // Round-close records one checksum-mode run alongside the count
    // series so both honesty and cross-round comparability survive.
    val action = sys.env.getOrElse("SPARK_GRAFT_BENCH_ACTION", "count")
    def drive(df: org.apache.spark.sql.DataFrame): Unit = action match {
      case "checksum" =>
        // .collect() the ONE result row — a .count() here lets the
        // optimizer prune the checksum itself (a groupless aggregate
        // is statically one row, so nothing references the fold).
        // bit_xor, not sum: summing 64-bit hashes overflows under ANSI.
        df.agg(org.apache.spark.sql.functions.bit_xor(
          org.apache.spark.sql.functions.xxhash64(
            df.columns.map(org.apache.spark.sql.functions.col): _*))).collect()
        ()
      case _ => df.count(); ()
    }
    // deterministic name order: per-query numbers are comparable
    // run-to-run and round-to-round (Map iteration order shuffled the
    // shared-cache population cost onto a different query each round)
    // a query that throws still gets a time entry, but is ALSO listed
    // in "failed" — a silent catch would otherwise let a broken query
    // masquerade as a fast one in the scaling numbers
    val results = selected.sortBy(_.name).map { q =>
      val name = q.name
      spark.sparkContext.setJobGroup(name, name)
      val t0 = System.nanoTime()
      val ok = try { drive(q.fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      (name, dt, ok)
    }
    acc.drain() // one global flush; attribution is by job group, not by time
    val shuffleStats =
      (builds.map("build:" + _._1) ++ results.map(_._1)).map(g => g -> acc.group(g))
    val failed = results.collect { case (k, _, false) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val buildsTotal = f"${builds.map(_._2).sum}%.2f"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_last.json")
    // File artifact: full nanosecond precision, per-query times, build
    // times, and measured shuffle/spill. Stdout: a SUMMARY line only.
    // The driver tail-captures stdout at 2 000 chars; at 147 queries
    // even a centisecond per-query map is ~3.4 KB, so rounds 8 and 9
    // both shipped `parsed: null`. Per-query numbers therefore live
    // ONLY in the file; stdout carries what always fits: total, count,
    // failures, and the artifact path holding the full numbers.
    // Centisecond per-query map for stdout (full nanosecond precision
    // stays in the file artifact): the driver contract's ONE JSON line
    // includes "queries" — round 13 withheld it (fearing the log-tail
    // window) and the driver's per-query regression comparison went
    // blind (PERF_r13 per_query empty, now_bench_ok false). The r09-r12
    // parse failures were trailing [info]/[success] banner lines, not
    // line length — both are suppressed since r13, so the clean full
    // line IS the last stdout line now.
    val qsShort = results.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val json = {
      val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val bs = builds.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","builds":{""", ",", "}")
      val sh = shuffleStats.map { case (k, s) =>
        "\"" + k + "\":{\"w_mb\":" + f"${s.bytes / 1048576.0}%.3f" +
          ",\"rows\":" + s.records +
          ",\"spill_mb\":" + f"${s.spillBytes / 1048576.0}%.3f" + "}"
      }.mkString(""","shuffle":{""", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","action":"$action","queries":$qs,"failed":$failed$bs$sh,"sf":"$sfDir"}"""
    }
    println(
      s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec","action":"$action","n":${results.size},"builds_total":$buildsTotal,"failed":$failed,"artifact":"$out","sf":"$sfDir"}""")
    // Default file target is gitignored — casual runs must not clobber
    // the committed round artifact; round close copies it to BENCH_LAST.json
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] write $out: ${e.getMessage}") }
    spark.stop()
    // Re-emit the summary AFTER spark.stop(): shutdown logging can no
    // longer trail it, so the final stdout line is always the clean
    // JSON the driver scrapes; the prefixed twin gives any scraper a
    // unique anchor independent of line position. The per-query map is
    // IN the line (driver contract) — queries first, then the short
    // total fields, so even a head-truncating scrape still ends on the
    // parseable total/failed/sf tail.
    val summary =
      s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec","action":"$action","n":${results.size},"queries":$qsShort,"builds_total":$buildsTotal,"failed":$failed,"artifact":"$out","sf":"$sfDir"}"""
    println(s"GRAFT_BENCH_JSON $summary")
    println(summary)
    System.out.flush()
  }
}
