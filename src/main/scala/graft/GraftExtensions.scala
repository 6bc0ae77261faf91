package graft

import graft.functions.{MinHashSigExpr, PolyHashExpr, ShingleHashesExpr, TokenHashesExpr}
import graft.functions.{ContainsCountExpr, DotProductExpr, MarkerTotalExpr, TopKByScore, WordBigramsExpr, WordCountExpr, WordTokensExpr}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the library's native
  * expressions as SQL functions, so
  * `spark.sql("SELECT minhash_sig(shingle_hashes(text)) ...")` works
  * in any session built with
  * `.withExtensions(new GraftExtensions)` or started with
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    import GraftExtensions.{intArg, markerList}
    e.injectFunction((FunctionIdentifier("poly_hash"),
      info("poly_hash", "poly_hash(str) - mod-p polynomial fold of a string"),
      (es: Seq[Expression]) => PolyHashExpr(es.head)))
    e.injectFunction((FunctionIdentifier("token_hashes"),
      info("token_hashes", "token_hashes(str) - per-token polynomial hashes"),
      (es: Seq[Expression]) => TokenHashesExpr(es.head)))
    e.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(str) - distinct word-3-gram hashes"),
      (es: Seq[Expression]) => ShingleHashesExpr(es.head)))
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(shingles) - k MinHash values"),
      (es: Seq[Expression]) => MinHashSigExpr(es.head)))
    e.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - double dot product of arrays"),
      (es: Seq[Expression]) => DotProductExpr(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("topk_by_score"),
      info("topk_by_score", "topk_by_score(score, id, k) - bounded top-k aggregate"),
      (es: Seq[Expression]) => TopKByScore(es(0), es(1),
        intArg("topk_by_score", "k", es(2)), None).toAggregateExpression()))
    e.injectFunction((FunctionIdentifier("word_bigrams"),
      info("word_bigrams", "word_bigrams(str) - adjacent \\w+ word pairs"),
      (es: Seq[Expression]) => WordBigramsExpr(es.head)))
    e.injectFunction((FunctionIdentifier("word_tokens"),
      info("word_tokens", "word_tokens(str) - Unicode [\\p{L}\\p{N}_]+ tokens"),
      (es: Seq[Expression]) => WordTokensExpr(es.head)))
    e.injectFunction((FunctionIdentifier("word_count"),
      info("word_count", "word_count(str) - number of Unicode word tokens"),
      (es: Seq[Expression]) => WordCountExpr(es.head)))

    e.injectFunction((FunctionIdentifier("marker_total"),
      info("marker_total", "marker_total(str, m1, m2, ...) - total non-overlapping marker occurrences"),
      (es: Seq[Expression]) => MarkerTotalExpr(es.head, markerList("marker_total")(es.tail))))
    e.injectFunction((FunctionIdentifier("contains_count"),
      info("contains_count", "contains_count(str, m1, m2, ...) - how many markers appear"),
      (es: Seq[Expression]) => ContainsCountExpr(es.head, markerList("contains_count")(es.tail))))
  }
}

/** Literal-argument extraction shared by the extensions path and the
  * runtime registration hook (graft.functions.HashExprs.register):
  * a non-literal in a literal-only slot raises an analysis-time
  * usage error instead of a raw ClassCastException.
  */
object GraftExtensions {

  private def userError(msg: String): AnalysisException =
    new AnalysisException("USER_RAISED_EXCEPTION", Map("errorMessage" -> msg), None)

  /** marker-list args arrive as string-literal varargs from SQL;
    * foldable expressions (e.g. 'a' || 'b') are accepted and folded.
    */
  private[graft] def markerList(fn: String)(es: Seq[Expression]): Seq[String] = es.map {
    case l: Literal if l.value.isInstanceOf[UTF8String] =>
      l.value.asInstanceOf[UTF8String].toString
    case f if f.foldable => f.eval(null) match {
      case s: UTF8String => s.toString
      case other => throw userError(s"$fn marker arguments must be string " +
        s"literals, got ${f.sql} = $other")
    }
    case other => throw userError(
      s"$fn marker arguments must be string literals, got: ${other.sql}")
  }

  private[graft] def intArg(fn: String, name: String, e: Expression): Int = e match {
    case l: Literal if l.value.isInstanceOf[Int] => l.value.asInstanceOf[Int]
    case f if f.foldable => f.eval(null) match {
      case i: Int => i
      case other => throw userError(s"$fn $name must be an integer literal, got $other")
    }
    case other => throw userError(s"$fn $name must be an integer literal, got: ${other.sql}")
  }
}
