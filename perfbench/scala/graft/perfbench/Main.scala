package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

import graft.{SessionMemo, SparkEntry, Tables}
import graft.operators.{Dedup, Graph}

/** One benchmark process: set up, run the timed closed loop of one
  * workload, read the resident storage, write the outputs the checks
  * need, and (traced runs) sweep every layer once, decomposed.
  *
  * The program is driven only through its public entry points:
  * `SparkEntry.queries`, the build functions `graft.Bench` calls,
  * `SessionMemo` and the `graft.functions` kernels.
  *
  * Usage: Main <workload> <seconds> <trace 0|1> <slots> <outDir>
  *   <auditDir|-> <loopsDir|->
  */
object Main {

  /** audit_cold: one request = release, then these three. */
  val AuditRequest = Seq("ma_audit", "ma_verify", "ma_reef_compare")

  /** The audit chain, decomposed per entry in the traced sweep. */
  val AuditChain = Seq("ma_features", "ma_fingerprint", "ma_fp_compare", "ma_dli_signature",
    "ma_dli_bigrams", "ma_dli_compare", "ma_style_scores", "ma_audit", "ma_verify", "ma_reef_cka")

  /** iterate_loops: one round = one request of each. */
  val Loops = Seq("gr_pagerank", "gr_ppr", "gr_hits", "gr_lpa", "gr_kcore", "dd_clusters")

  /** The loops' declared builds (the names `graft.Bench` files them under). */
  val LoopBuilds: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "pagerank_edges" -> ((s, d) => Graph.edgesWithDeg(s, d)),
    "coorder_edges_45" -> ((s, d) => Graph.coOrderEdges(s, d, 45)),
    "dedup_edges" -> ((s, d) => Dedup.duplicateEdges(s, d)))

  /** Layer = the module the entry lives in. */
  def layerOf(q: String): String = q match {
    case "ma_features" | "ma_fingerprint" | "ma_fp_compare" | "ma_dli_signature" |
        "ma_dli_bigrams" | "ma_dli_compare" => "audit"
    case _ if q.startsWith("ma_reef") => "reef"
    case _ if q.startsWith("ma_") => "style"
    case _ if q.startsWith("gr_") => "graph"
    case _ => "dedup"
  }

  private val MB = 1048576.0

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(2) // Spark's non-daemon threads would keep a failed run alive
    }

  private def run(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, slots, outDir, auditArg, loopsArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val auditDir = Option(auditArg).filter(_ != "-")
    val loopsDir = Option(loopsArg).filter(_ != "-")
    val dir = (if (workload == "audit_cold") auditDir else loopsDir).get
    val out = Paths.get(outDir)

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    if (traced) tracer.start()
    val queries = SparkEntry.queries
    val metrics = mutable.LinkedHashMap[String, Double]()

    def storageMb(): Double =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB

    /** Storage once unreachable blocks are gone: collect, then wait for
      * the context cleaner to stop changing the reading.
      */
    def settledStorageMb(): Double = {
      System.gc(); Thread.sleep(200); System.gc()
      var last = storageMb()
      var stable = 0
      val deadline = System.currentTimeMillis + 3000
      while (stable < 3 && System.currentTimeMillis < deadline) {
        Thread.sleep(100)
        val cur = storageMb()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      last
    }

    def release(): Unit = tracer.span("memo", "release") {
      SessionMemo.evict(spark)
      spark.catalog.clearCache()
    }

    /** construct → plan → execute one entry; returns its checksum. The
      * action folds every output column of every row into one value,
      * as `graft.Bench`'s checksum mode does, so nothing is pruned.
      */
    val phases = mutable.LinkedHashMap[String, Seq[Double]]()
    def entry(q: String, d: String): String = {
      val layer = layerOf(q)
      tracer.span(layer, q) {
        def timed[A](phase: String)(f: => A): (A, Double) = tracer.span(layer, phase) {
          val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
        }
        val (df, c) = timed("construct")(queries(q)(spark, d))
        val cs = df.agg(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*)))
        val (_, p) = timed("plan")(cs.queryExecution.executedPlan)
        val (row, e) = timed("execute")(cs.collect()(0))
        phases(q) = Seq(c, p, e)
        String.valueOf(row.get(0))
      }
    }

    val builtMemo = mutable.LinkedHashMap[String, (Double, Double)]()
    def buildLoops(d: String): Unit = LoopBuilds.foreach { case (name, build) =>
      if (!builtMemo.contains(name)) tracer.span("memo", name) {
        val before = storageMb()
        val t0 = System.nanoTime()
        build(spark, d)
        builtMemo(name) = ((System.nanoTime() - t0) / 1e9, storageMb() - before)
      }
    }

    // one request of the workload: name → (checksum per entry)
    val requestTypes: Seq[String] = if (workload == "audit_cold") Seq("audit") else Loops
    def request(t: String): String = {
      tracer.nextRequest()
      if (t == "audit") { release(); AuditRequest.map(q => entry(q, dir)).mkString(",") }
      else entry(t, dir)
    }
    /** Write an entry's rows for the checks; the write is the action. */
    def output(q: String): Unit = tracer.span(layerOf(q), q) {
      queries(q)(spark, dir).write.mode("overwrite").parquet(out.resolve(s"check/$q").toString)
    }

    // ── set-up: declared builds, then one warm-up round whose action
    // writes the outputs the checks read ──
    tracer.span("setup", workload) {
      Tables.documents(spark, dir).columns // input registration
      if (workload == "iterate_loops") buildLoops(dir)
      if (workload == "audit_cold") { release(); AuditRequest.foreach(output) }
      else Loops.foreach(output)
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    metrics("setup_s") = (System.currentTimeMillis() - jvmStart) / 1000.0

    // ── timed closed loop: the whole rounds that fit in the window (the
    // first always runs). A round is not started unless the last one's
    // duration still fits, so the round count does not flip between runs
    // whose rounds take about the window's length. ──
    val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val sums = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
    var attempted, failed = 0
    val gcBefore = gcMs()
    val windowSpans = tracer.all.size
    val w0 = System.nanoTime()
    var rounds = 0
    var roundS = 0.0
    while (rounds == 0 || (System.nanoTime() - w0) / 1e9 + roundS <= seconds) {
      val r0 = System.nanoTime()
      requestTypes.foreach { t =>
        attempted += 1
        val t0 = System.nanoTime()
        try {
          val s = request(t)
          times.getOrElseUpdate(t, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
          sums.getOrElseUpdate(t, mutable.ArrayBuffer()) += s
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(s"[perfbench] request $t failed: $e")
        }
      }
      roundS = (System.nanoTime() - r0) / 1e9
      rounds += 1
    }
    val window = (System.nanoTime() - w0) / 1e9
    val gcWindow = (gcMs() - gcBefore) / 1000.0
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val geomean =
      if (times.isEmpty) Double.NaN
      else math.exp(times.values.map(ts => math.log(median(ts.toSeq))).sum / times.size)
    val completed = times.values.map(_.size).sum
    metrics(if (traced) "trace.req_geomean_s" else "req_geomean_s") = geomean
    if (!traced) metrics("req_per_min") = completed * 60.0 / window
    val resident = settledStorageMb()
    if (!traced) metrics("resident_mb") = resident

    if (traced) {
      tracer.counters.drain()
      val win = tracer.all.drop(windowSpans).filter(_.parent == 0)
      val agg = win.map(tracer.inclusive).foldLeft(tracer.counters.Zero)(_ + _)
      metrics("spark.busy_frac") = agg.runMs / 1000.0 / (window * slots.toDouble)
      metrics("spark.gc_s") = gcWindow
      metrics("spark.stages_per_req") = agg.stages.toDouble / completed
      metrics("spark.jobs_per_req") = agg.jobs.toDouble / completed
    }

    // ── the rest of the checks' outputs (outside the timed window) ──
    val checkNames =
      if (workload == "audit_cold") {
        val more = Seq("ma_fingerprint", "ma_fp_compare", "ma_dli_compare", "ma_reef_cka")
        more.foreach(output)
        AuditRequest ++ more
      } else {
        Dedup.duplicateEdges(spark, dir).write.mode("overwrite")
          .parquet(out.resolve("check/dedup_edges").toString)
        Loops
      }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => checkNames.contains(k) }

    // ── traced sweep: every layer once, decomposed ──
    if (traced) {
      val docsDir = dir
      kernels(spark, docsDir, tracer, metrics)
      val tableBytes = Seq("documents", "embeddings", "lineitem")
        .map(t => Files.size(Paths.get(docsDir, s"$t.parquet"))).sum
      metrics("tables.input_mb") = tableBytes / MB
      val respread = tracer.span("tables", "documents_respread") {
        val df = Tables.documents(spark, docsDir)
        df.agg(bit_xor(xxhash64(df.columns.toIndexedSeq.map(col): _*))).collect()
        tracer.all.last
      }
      release()
      val before = storageMb()
      AuditChain.foreach(q => entry(q, auditDir.get))
      metrics("memo.audit_chain.mb") = storageMb() - before
      release()
      buildLoops(loopsDir.get)
      Loops.foreach(q => entry(q, loopsDir.get))
      tracer.counters.drain()
      metrics("tables.respread_shuffle_mb") = tracer.inclusive(respread).shuffleBytes / MB
      // per-entry numbers from the sweep's own (last) span of each entry
      (AuditChain ++ Loops).foreach { q =>
        val s = tracer.all.filter(_.name == q).last
        val Seq(c, p, e) = phases(q)
        val k = s"${layerOf(q)}.$q"
        val agg = tracer.inclusive(s)
        metrics(s"$k.construct_s") = c
        metrics(s"$k.plan_s") = p
        metrics(s"$k.execute_s") = e
        metrics(s"$k.jobs") = agg.jobs.toDouble
        metrics(s"$k.shuffle_mb") = agg.shuffleBytes / MB
      }
      builtMemo.foreach { case (name, (s, mb)) =>
        metrics(s"memo.$name.build_s") = s
        metrics(s"memo.$name.mb") = mb
      }
      Seq("functions", "tables", "audit", "style", "reef", "graph", "dedup", "memo").foreach { l =>
        metrics(s"$l.self_s") = tracer.all.filter(_.layer == l).map(tracer.selfNs).sum / 1e9
      }
      tracer.write(out.resolve("spans.jsonl"))
    }

    // ── result file for run.py ──
    def js(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val json = new StringBuilder("{")
    json ++= s""""attempted":$attempted,"failed":$failed,"rounds":$rounds,"window_s":${num(window)},"""
    json ++= "\"metrics\":" + metrics.map { case (k, v) => js(k) + ":" + num(v) }.mkString("{", ",", "}")
    json ++= ",\"times\":" + times.map { case (k, v) => js(k) + ":" + v.map(num).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    json ++= ",\"checksums\":" + sums.map { case (k, v) => js(k) + ":" + v.map(js).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    json ++= ",\"oracle\":" + oracle.map { case (k, v) => js(k) + ":" + js(v) }.mkString("{", ",", "}")
    json ++= "}"
    Files.write(out.resolve("result.json"), json.toString.getBytes("UTF-8"))
    spark.stop()
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Single-thread throughput of the native text kernels over the
    * corpus texts, called directly: the marker scans every audit
    * feature pass makes per response, and the word-bigram scan.
    */
  private def kernels(spark: SparkSession, dir: String, tracer: Tracer,
      metrics: mutable.Map[String, Double]): Unit = {
    import graft.functions.{AuditDefs, MarkerScan, WordScan}
    val texts = spark.read.parquet(s"$dir/documents.parquet").select("text").collect()
      .map(_.getString(0).toLowerCase)
    val mb = texts.map(_.getBytes("UTF-8").length.toLong).sum / MB
    val counted = (AuditDefs.llmmapMarkers.map(_._2) ++ Seq(AuditDefs.dliHedging, AuditDefs.dliCertainty))
      .map(_.toArray)
    val fams = AuditDefs.families.flatMap(f => Seq(f.markers.toArray, f.refusalPatterns.toArray))
    def rate(name: String)(pass: => Long): Unit = tracer.span("functions", name) {
      var sink = 0L
      val runs = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); sink += pass; (System.nanoTime() - t0) / 1e9
      }
      if (sink == Long.MinValue) println(sink) // keeps the passes observable
      metrics(s"functions.${name}_mb_per_s") = mb / runs.sorted.apply(2)
    }
    rate("markers") {
      var n = 0L
      texts.foreach { t =>
        counted.foreach(ms => n += MarkerScan.countTotal(t, ms))
        fams.foreach(ms => n += MarkerScan.containsCount(t, ms))
      }
      n
    }
    rate("bigrams") {
      var n = 0L
      texts.foreach(t => n += WordScan.wordBigrams(t).length)
      n
    }
  }
}
