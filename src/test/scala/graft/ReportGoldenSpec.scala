package graft

import scala.io.Source

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Byte-exact parity of ma_report_full / ma_report_basic with the
  * reference's generate_report (report.py), via fixtures produced by
  * tools/gen_golden_report.py running the ACTUAL reference pipeline
  * with a frozen clock:
  *
  *  - main corpus pair (src0, src1) at sf0.001 — all six sections;
  *  - a family-named corpus ("gpt-3.5-prime" vs "qwen-lite", 6 docs
  *    per source) — exercises evidence rule 3 (_is_teacher_style),
  *    §3.3/§4.3 bolding, the §4.3 teacher-style note, AND the
  *    reference's padding of probes beyond the response count to
  *    "unknown" (both-unknown counts as consistent).
  *
  * ma_report, the condensed per-pair form, has no reference generator
  * of its own: its two fixtures (report_main.md, report_family.md) pin
  * graft's output for the same two pairs, written before both reports
  * moved onto one per-pair barrier.
  */
class ReportGoldenSpec extends AnyFunSuite {
  import SparkTestSession._

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/golden/$name")
    assert(in != null, s"missing fixture golden/$name — run tools/gen_golden_report.py")
    val src = Source.fromInputStream(in, "UTF-8")
    try src.mkString finally src.close()
  }

  private def diffAt(a: String, b: String): String = {
    val i = a.zip(b).indexWhere { case (x, y) => x != y }
    val p = if (i < 0) math.min(a.length, b.length) else i
    s"first diff at $p: spark=${a.slice(p - 30, p + 30)} vs reference=${b.slice(p - 30, p + 30)}"
  }

  private def reportRow(q: String, dir: String, a: String, b: String): String =
    SparkEntry.queries(q)(spark, dir)
      .filter(col("model_a") === a && col("model_b") === b)
      .collect()(0).getAs[String]("report")

  test("ma_report_full matches the reference generate_report for (src0, src1)") {
    val got = reportRow("ma_report_full", sf, "src0", "src1")
    val want = fixture("report_full_main.md")
    assert(got == want, diffAt(got, want))
  }

  test("ma_report_basic matches the reference basic report for (src0, src1)") {
    val got = reportRow("ma_report_basic", sf, "src0", "src1")
    val want = fixture("report_basic_main.md")
    assert(got == want, diffAt(got, want))
  }

  test("ma_report matches its pinned output for (src0, src1)") {
    val got = reportRow("ma_report", sf, "src0", "src1")
    val want = fixture("report_main.md")
    assert(got == want, diffAt(got, want))
  }

  test("ma_report and ma_report_full serve from one memoized report barrier") {
    SessionMemo.evict(spark)
    Seq("ma_report", "ma_report_full").foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    val reportKeys = SessionMemo.keys(spark).filter(_.startsWith("report"))
    assert(reportKeys == Set(s"report.flags:$sf"),
      s"report keys after serving both reports: ${reportKeys.toSeq.sorted.mkString(", ")}")
  }

  // family-named corpus: materialize the TSV fixture as a documents
  // table in a temp dir, then run the registered queries against it
  private lazy val familyDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-family").toString
    val rows = fixture("report_corpus_family.tsv").linesIterator.map { line =>
      val Array(id, source, text) = line.split("\t", 3)
      (id.toLong, text.replace("\\n", "\n"), "en", source, text.length.toLong)
    }.toSeq
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("ma_report_full fires evidence rule 3 + padding on a family-named corpus") {
    val got = reportRow("ma_report_full", familyDir, "gpt-3.5-prime", "qwen-lite")
    val want = fixture("report_full_family.md")
    assert(got.contains("在安全相关场景中表现出 gpt-3.5-prime 风格"),
      "evidence rule 3 must fire")
    assert(got.contains("| **gpt-3.5** |"), "teacher-style rows must be bolded")
    assert(got.contains("| unknown | 14 |"), "missing responses must pad to unknown")
    assert(got == want, diffAt(got, want))
  }

  test("ma_report matches its pinned output on the family-named corpus") {
    val got = reportRow("ma_report", familyDir, "gpt-3.5-prime", "qwen-lite")
    val want = fixture("report_family.md")
    assert(got == want, diffAt(got, want))
  }

  test("ma_report_basic matches the reference on the family-named corpus") {
    val got = reportRow("ma_report_basic", familyDir, "gpt-3.5-prime", "qwen-lite")
    val want = fixture("report_basic_family.md")
    assert(got == want, diffAt(got, want))
  }
}
