package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the polynomial-hash pipeline.
  *
  * The same semantics are expressible with transform/aggregate HOFs,
  * but Spark evaluates higher-order lambdas interpretively at ~10 µs
  * per invocation — a per-char fold nested inside a per-word
  * transform costs milliseconds per row. These expressions run the
  * identical arithmetic as tight JVM loops (~100× faster) and keep
  * the exact mod-p semantics of the generated DuckDB oracle SQL
  * (graft.functions.Hashing.*Sql).
  */
object PolyHashing {
  import Hashing.{B, P, NumPerms, permA, permB}

  /** (h*31 + codepoint) mod p fold, matching
    * list_reduce over string_split(s, '') + ascii(c).
    */
  def foldCodePoints(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * B + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** split(trim(lower(text)), '\s+') with ALL empty fields kept —
    * the semantics BOTH engines' reference forms share: DuckDB
    * string_split_regex and Spark's split (whose default limit -1
    * keeps trailing empties). A Java `String.split` (limit 0) drops
    * trailing empties and silently diverged on trailing-tab/newline
    * docs — the fuzz sweep's whitespace-tail class. Empty input
    * yields one empty token; trim removes spaces only (matching SQL
    * trim).
    */
  def tokenize(text: String): Array[String] = {
    def isWs(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) == ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) == ' ') hi -= 1
    val t = text.substring(lo, hi).toLowerCase
    if (t.isEmpty) return Array("")
    val out = Array.newBuilder[String]
    var i = 0
    if (isWs(t.charAt(0))) out += "" // regex split keeps a leading empty field
    while (i < t.length) {
      while (i < t.length && isWs(t.charAt(i))) i += 1
      if (i < t.length) {
        val start = i
        while (i < t.length && !isWs(t.charAt(i))) i += 1
        out += t.substring(start, i)
      }
    }
    if (isWs(t.charAt(t.length - 1))) out += "" // … and a trailing one
    out.result()
  }

  def tokenHashes(text: String): Array[Long] = {
    val ts = tokenize(text)
    val out = new Array[Long](ts.length)
    var i = 0
    while (i < ts.length) { out(i) = foldCodePoints(ts(i)); i += 1 }
    out
  }

  /** Distinct word-3-gram shingle hashes (first-occurrence order,
    * matching array_distinct / list_distinct).
    */
  def shingles3(wh: Array[Long]): Array[Long] = {
    if (wh.length < 3) return Array.emptyLongArray
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + 2 < wh.length) {
      seen.add(((wh(i) * B + wh(i + 1)) % P * B + wh(i + 2)) % P)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** Word-bigram hashes WITH multiplicity (repetition analysis wants
    * counts, unlike the distinct 3-gram shingle set dedup wants).
    */
  def bigramHashes(wh: Array[Long]): Array[Long] = {
    if (wh.length < 2) return Array.emptyLongArray
    val out = new Array[Long](wh.length - 1)
    var i = 0
    while (i + 1 < wh.length) {
      out(i) = (wh(i) * B + wh(i + 1)) % P
      i += 1
    }
    out
  }

  /** Word-bigram PACKS with multiplicity: wh(i)·P + wh(i+1). Unlike
    * the modular bigram hash this is invertible (both halves are
    * < P, so prev = pack div P and cur = pack mod P), which lets a
    * language model join unigram statistics for either side of the
    * pair back out of one exploded long column. Max value
    * (P−1)·P + (P−1) ≈ 1e18 < 2^63 — no overflow on either engine.
    */
  def bigramPacks(wh: Array[Long]): Array[Long] = {
    if (wh.length < 2) return Array.emptyLongArray
    val out = new Array[Long](wh.length - 1)
    var i = 0
    while (i + 1 < wh.length) {
      out(i) = wh(i) * P + wh(i + 1)
      i += 1
    }
    out
  }

  /** Positional k-word-gram polynomial hashes over a token-hash
    * array: out(i) = fold((a, x) -> (a*B + x) % P, 0, wh[i..i+k)) —
    * the exact left fold the HOF form
    * `transform(sequence(0, n-k), i -> aggregate(slice(wh, i+1, k), 0L,
    * (a, x) -> (a*B + x) % P))` evaluates, as one tight loop instead
    * of an interpreted lambda per element per window (dd_spans'
    * dominant full-value cost). Windows shorter than k produce an
    * empty array, matching the CASE WHEN size(wh) >= k guard.
    */
  def spanGrams(wh: Array[Long], k: Int): Array[Long] = {
    if (wh.length < k) return Array.emptyLongArray
    val out = new Array[Long](wh.length - k + 1)
    var i = 0
    while (i + k <= wh.length) {
      var a = 0L
      var j = i
      while (j < i + k) { a = (a * B + wh(j)) % P; j += 1 }
      out(i) = a
      i += 1
    }
    out
  }

  def minhashSig(shingles: Array[Long]): Array[Long] = {
    val out = new Array[Long](NumPerms)
    var j = 0
    while (j < NumPerms) {
      val a = permA(j); val b = permB(j)
      var m = Long.MaxValue
      var i = 0
      while (i < shingles.length) {
        val v = (a * shingles(i) + b) % P
        if (v < m) m = v
        i += 1
      }
      out(j) = m
      j += 1
    }
    out
  }

  /** shingles3 ∘ tokenHashes, one call site for generated code. */
  def shingleHashes(text: String): Array[Long] = shingles3(tokenHashes(text))

  /** Sequential left-to-right dot product over ArrayData without an
    * intermediate copy (same sum order as DuckDB list_dot_product).
    */
  def dotProduct(l: ArrayData, r: ArrayData): Double = {
    val n = math.min(l.numElements(), r.numElements())
    var s = 0d
    var i = 0
    while (i < n) { s += l.getDouble(i) * r.getDouble(i); i += 1 }
    s
  }

  /** Integer dot product over two long arrays — exact, order-
    * independent (the SQ8 scan's scoring primitive; the oracle's
    * double list_dot_product is exact too at these magnitudes,
    * integers < 2^53).
    */
  def longDotProduct(l: ArrayData, r: ArrayData): Long = {
    val n = math.min(l.numElements(), r.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += l.getLong(i) * r.getLong(i); i += 1 }
    s
  }

  /** All sliding-window chunk hashes of a word-hash array: chunk c
    * covers [c·stride, c·stride + min(size, n − c·stride)), hashed by
    * the (acc·B + h) mod P fold from acc = 0 — exactly the
    * aggregate-over-slice fold, one compiled pass per document
    * instead of an interpreted lambda per chunk element. n ≥ 1 always
    * (tokenize of an empty text yields one empty-token hash).
    */
  def chunkHashes(wh: ArrayData, stride: Int, csize: Int): GenericArrayData = {
    val n = wh.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val nc = (n - 1) / stride + 1
    val out = new Array[Long](nc)
    var c = 0
    while (c < nc) {
      val start = c * stride
      val len = math.min(csize, n - start)
      var acc = 0L
      var i = 0
      while (i < len) { acc = (acc * B + wh.getLong(start + i)) % P; i += 1 }
      out(c) = acc
      c += 1
    }
    new GenericArrayData(out)
  }

  /** |a ∩ b| for two long arrays with DISTINCT elements (shingle
    * sets): hash-set the smaller side, probe the larger — the exact
    * integer the per-element join + count aggregation produces,
    * without exploding either array into rows.
    */
  def commonCount(a: ArrayData, b: ArrayData): Long = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    if (n == 0) return 0L
    val set = new java.util.HashSet[java.lang.Long](n * 2)
    var i = 0
    while (i < n) { set.add(small.getLong(i)); i += 1 }
    var c = 0L
    val m = large.numElements()
    var j = 0
    while (j < m) { if (set.contains(large.getLong(j))) c += 1; j += 1 }
    c
  }

  /** Spark's round(x, 6) for doubles — HALF_UP on the decimal string
    * form (what the Round expression emits for DoubleType). Kept as
    * its own method so pqNearest's tie handling provably matches the
    * join-and-aggregate formulation it replaces.
    */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Nearest PQ codeword of one subvector against a packed codebook:
    * argmin over k of round(1e-9 + cw2_k − 2·⟨sub, cw_k⟩, 6), ties to
    * the smallest k — the identical discretized ranking the unpacked
    * join + struct-max aggregation computes, collapsed to one tight
    * loop per (vector, subspace) row. `ks` must be ascending (the
    * packed book sorts by k), so keeping the FIRST strict improvement
    * IS the smaller-k tie-break.
    *
    * The 6-dp rounding goes through BigDecimal (Double.toString), far
    * too slow for 256 calls per row — so the loop tracks the minimum
    * RAW distance and only rounds candidates within 4e-6 of it:
    * half-up rounding to the 1e-6 grid moves a value at most 5e-7, so
    * anything ≥ rawMin + 2e-6 rounds strictly above round6(rawMin)
    * and can be skipped without evaluating its rounded form. In the
    * common case exactly one candidate pays the BigDecimal.
    */
  /** Top-k nearest IVF cells of one vector against a packed centroid
    * book (cws/cns/ks parallel arrays, sorted by ascending cell id):
    * cosine per cell = ⟨e, cw_i⟩ / (nrm · cn_i) with the identical
    * sequential dot product and division as scoreAgainst, ranked by
    * the identical TreeSet ordering TopKByScore uses (higher score
    * first, ties to the smaller id — including its behavior on
    * degenerate scores), returned best-first as cell ids. Replaces a
    * corpus×centroid cross join + two ObjectHashAggregate heap passes
    * (N·nlist rows through aggregation buffers) with one compiled
    * loop per corpus row.
    */
  def topCells(e: ArrayData, nrm: Double, cws: ArrayData, cns: ArrayData,
      ks: ArrayData, k: Int): GenericArrayData = {
    val n = ks.numElements()
    val ev = e.toDoubleArray()
    // primitive insertion-sorted top-k, best-first — keeps the k best
    // by the strict (score DESC, id ASC) total order, which for the
    // unique ids here is exactly the TreeSet selection TopKByScore
    // makes (a boxed per-candidate TreeSet costs ~1e9 allocations at
    // the 100× leg); scores are finite because the corpus filters
    // nrm > 0 and centroid norms are positive on any non-degenerate
    // cell
    val kk = math.min(k, n)
    if (kk <= 0) return new GenericArrayData(Array.empty[Any])
    val ss = new Array[Double](kk)
    val ii = new Array[Long](kk)
    var cnt = 0
    def better(s: Double, id: Long, s2: Double, id2: Long): Boolean =
      s > s2 || (s == s2 && id < id2)
    var i = 0
    while (i < n) {
      val cw = cws.getArray(i)
      val m = math.min(ev.length, cw.numElements())
      var dot = 0d
      var j = 0
      while (j < m) { dot += ev(j) * cw.getDouble(j); j += 1 }
      val s = dot / (nrm * cns.getDouble(i))
      val id = ks.getLong(i)
      if (cnt < kk) {
        var q = cnt
        while (q > 0 && better(s, id, ss(q - 1), ii(q - 1))) {
          ss(q) = ss(q - 1); ii(q) = ii(q - 1); q -= 1
        }
        ss(q) = s; ii(q) = id
        cnt += 1
      } else if (better(s, id, ss(kk - 1), ii(kk - 1))) {
        var q = kk - 1
        while (q > 0 && better(s, id, ss(q - 1), ii(q - 1))) {
          ss(q) = ss(q - 1); ii(q) = ii(q - 1); q -= 1
        }
        ss(q) = s; ii(q) = id
      }
      i += 1
    }
    val out = new Array[Any](cnt)
    var r = 0
    while (r < cnt) { out(r) = ii(r); r += 1 }
    new GenericArrayData(out)
  }

  /** Top-k nearest members of ONE packed IVF cell for one query
    * vector: member embeddings arrive FLATTENED (stride = the query
    * vector's length) so the scan touches no per-member array wrapper;
    * the score is the identical sequential dot / (qn·nb) cosine the
    * join+aggregate formulation computes, the selection the identical
    * strict (score DESC, id ASC) order, and the query row itself
    * (vb == va) is skipped exactly like the join's va != vb filter.
    * Returns (id, score) structs best-first; empty cells return an
    * empty array (the exploded row disappears, matching the inner
    * join emitting nothing).
    */
  def cellTopk(qe: ArrayData, qn: Double, va: Long, vbs: ArrayData,
      nbs: ArrayData, ebsFlat: ArrayData, k: Int): GenericArrayData = {
    val ev = qe.toDoubleArray()
    val dim = ev.length
    val n = vbs.numElements()
    val kk = math.min(k, n)
    if (kk <= 0) return new GenericArrayData(Array.empty[Any])
    val ss = new Array[Double](kk)
    val ii = new Array[Long](kk)
    var cnt = 0
    def better(s: Double, id: Long, s2: Double, id2: Long): Boolean =
      s > s2 || (s == s2 && id < id2)
    var mi = 0
    while (mi < n) {
      val id = vbs.getLong(mi)
      if (id != va) {
        val base = mi * dim
        var dot = 0d
        var j = 0
        while (j < dim) { dot += ev(j) * ebsFlat.getDouble(base + j); j += 1 }
        val s = dot / (qn * nbs.getDouble(mi))
        if (cnt < kk) {
          var q = cnt
          while (q > 0 && better(s, id, ss(q - 1), ii(q - 1))) {
            ss(q) = ss(q - 1); ii(q) = ii(q - 1); q -= 1
          }
          ss(q) = s; ii(q) = id
          cnt += 1
        } else if (better(s, id, ss(kk - 1), ii(kk - 1))) {
          var q = kk - 1
          while (q > 0 && better(s, id, ss(q - 1), ii(q - 1))) {
            ss(q) = ss(q - 1); ii(q) = ii(q - 1); q -= 1
          }
          ss(q) = s; ii(q) = id
        }
      }
      mi += 1
    }
    val out = new Array[Any](cnt)
    var r = 0
    while (r < cnt) {
      out(r) = org.apache.spark.sql.catalyst.InternalRow(ii(r), ss(r)); r += 1
    }
    new GenericArrayData(out)
  }

  def pqNearest(sub: ArrayData, cws: ArrayData, cw2s: ArrayData, ks: ArrayData): Long = {
    val n = ks.numElements()
    val s = sub.toDoubleArray()
    var rawMin = Double.MaxValue
    var bestRounded = Double.MaxValue
    var bestK = Long.MaxValue
    var i = 0
    while (i < n) {
      val cw = cws.getArray(i)
      var dot = 0d
      var j = 0
      while (j < s.length) { dot += s(j) * cw.getDouble(j); j += 1 }
      val raw = 1e-9 + cw2s.getDouble(i) - 2d * dot
      if (raw < rawMin) rawMin = raw
      if (raw < rawMin + 4e-6) {
        val r = round6(raw)
        if (r < bestRounded) { bestRounded = r; bestK = ks.getLong(i) }
      }
      i += 1
    }
    bestK
  }
}

/** Single-pass text scan for the langid/curation stack: ONE traversal
  * of the text yields every counter the tx_langid / pipe_curate
  * expression family previously derived from a stack of regex
  * replaces and interpreted array-filter lambdas (checksum-mode cost
  * adjudicated twice as the full-value price of that stack):
  *  - per-set word hit counts over the SAME whitespace tokenization
  *    as split(trim(lower(text)), '\\s+') (PolyHashing.tokenize —
  *    empties kept, so counts match size(filter(words, ...)) exactly;
  *    stop sets contain no empty string);
  *  - code-point counters replicating the regexp_replace+length
  *    forms: n_chars (= length(text), code points), cjk (chars kept
  *    by '[^一-鿿]' removal — all BMP, so unit and code-point counts
  *    agree), non_ws (chars surviving '\\s+' removal — Java \\s is
  *    exactly the 6 ASCII whitespace chars), punct (chars kept by
  *    '[^.,;:!?]' removal).
  */
object TextScan {
  final class Counts(val nWords: Int, val hits: Array[Int], val cjk: Int,
    val nonWs: Int, val punct: Int, val nChars: Int)

  def buildSets(sets: Seq[Seq[String]]): Array[java.util.HashSet[String]] =
    sets.map { ws =>
      val s = new java.util.HashSet[String](ws.size * 2)
      ws.foreach(s.add)
      s
    }.toArray

  def scan(text: String, sets: Array[java.util.HashSet[String]]): Counts = {
    var cjk = 0; var nonWs = 0; var punct = 0; var nChars = 0
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      nChars += 1
      if (cp >= 0x4E00 && cp <= 0x9FFF) cjk += 1
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'
      if (!isWs) nonWs += 1
      if (cp == '.' || cp == ',' || cp == ';' || cp == ':' || cp == '!' || cp == '?') punct += 1
      i += Character.charCount(cp)
    }
    val toks = PolyHashing.tokenize(text)
    val hits = new Array[Int](sets.length)
    var w = 0
    while (w < toks.length) {
      var s = 0
      while (s < sets.length) { if (sets(s).contains(toks(w))) hits(s) += 1; s += 1 }
      w += 1
    }
    new Counts(toks.length, hits, cjk, nonWs, punct, nChars)
  }

  /** The tx_langid decision over one scan — the exact CASE chain of
    * predLangExpr (sets order: en, fr, es, de).
    */
  def predLang(text: UTF8String, sets: Array[java.util.HashSet[String]]): UTF8String = {
    val c = scan(text.toString, sets)
    val Array(en, fr, es, de) = c.hits
    val lang =
      if (c.cjk >= 10) "zh"
      else if (en >= fr && en >= es && en >= de) "en"
      else if (fr >= es && fr >= de) "fr"
      else if (es >= de) "es"
      else "de"
    UTF8String.fromString(lang)
  }

  /** The tx_quality score over one scan — the exact arithmetic of
    * qualityExpr (same operand forms, association order and HALF_UP
    * 6-dp rounding), with `sets` = the single quality stopword set.
    */
  def quality(text: UTF8String, sets: Array[java.util.HashSet[String]]): Double = {
    val c = scan(text.toString, sets)
    val denom = math.max(c.nWords, 1).toDouble
    val lenScore = math.min(c.nWords / 100.0, 1.0)
    val stopRatio = c.hits(0) / denom
    val wlScore = math.max(1.0 - math.abs(c.nonWs / denom - 5.0) / 5.0, 0.0)
    val punctRatio = (c.nChars - c.punct) / math.max(c.nChars, 1).toDouble
    PolyHashing.round6(
      1e-9 + 0.35 * lenScore + 0.25 * (1.0 - stopRatio)
        + 0.2 * wlScore + 0.2 * (1.0 - math.min(punctRatio * 10.0, 1.0)) + 1e-9)
  }
}

// Codegen note: every expression below emits a single call to a static
// PolyHashing method (scalac generates static forwarders for the
// object), so the generated Java stays inside WholeStageCodegen — the
// previous CodegenFallback versions broke the codegen span and paid a
// per-row virtual InternalRow.eval round-trip in the hottest map stage.
private object GenHelper {
  val Poly = "graft.functions.PolyHashing"
  val GAD = "org.apache.spark.sql.catalyst.util.GenericArrayData"
}

/** array<long> of per-token polynomial hashes (with multiplicity). */
case class TokenHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(PolyHashing.tokenHashes(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new ${GenHelper.GAD}(${GenHelper.Poly}.tokenHashes($c.toString()));")
  override protected def withNewChildInternal(c: Expression): TokenHashesExpr = copy(c)
  override def prettyName: String = "token_hashes"
}

/** array<long> of distinct word-3-gram shingle hashes of a text. */
case class ShingleHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(PolyHashing.shingleHashes(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new ${GenHelper.GAD}(${GenHelper.Poly}.shingleHashes($c.toString()));")
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr = copy(c)
  override def prettyName: String = "shingle_hashes"
}

/** array<long> of word-bigram hashes (with multiplicity) over a
  * token-hash array — the size-2 sliding combine of TokenHashesExpr
  * output. Native for the same reason as the others: the HOF
  * formulation (transform over a sequence + two element_at) pays
  * interpreted-lambda cost per token in the corpus-scan stage.
  */
case class BigramHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      PolyHashing.bigramHashes(input.asInstanceOf[ArrayData].toLongArray()))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new ${GenHelper.GAD}(${GenHelper.Poly}.bigramHashes($c.toLongArray()));")
  override protected def withNewChildInternal(c: Expression): BigramHashesExpr = copy(c)
  override def prettyName: String = "bigram_hashes"
}

/** array<long> of invertible word-bigram packs (prev·P + cur) over a
  * token-hash array — the join-friendly sibling of BigramHashesExpr
  * (see PolyHashing.bigramPacks for why packing beats hashing here).
  */
case class BigramPacksExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      PolyHashing.bigramPacks(input.asInstanceOf[ArrayData].toLongArray()))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new ${GenHelper.GAD}(${GenHelper.Poly}.bigramPacks($c.toLongArray()));")
  override protected def withNewChildInternal(c: Expression): BigramPacksExpr = copy(c)
  override def prettyName: String = "bigram_packs"
}

/** array<long> of positional k-word-gram polynomial hashes over a
  * token-hash array — the dd_spans gram projection (see
  * PolyHashing.spanGrams for the HOF form this replays exactly).
  */
case class SpanGramsExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      PolyHashing.spanGrams(input.asInstanceOf[ArrayData].toLongArray(), k))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = new ${GenHelper.GAD}(${GenHelper.Poly}.spanGrams($c.toLongArray(), $k));")
  override protected def withNewChildInternal(c: Expression): SpanGramsExpr =
    copy(child = c)
  override def prettyName: String = "span_grams"
}

/** array<long> of the k=24 MinHash values over a shingle array;
  * null for an empty shingle set (mirrors array_min's null).
  */
case class MinHashSigExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData].toLongArray()
    if (arr.isEmpty) null else new GenericArrayData(PolyHashing.minhashSig(arr))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("shingleArr")
      s"""long[] $arr = $c.toLongArray();
         |if ($arr.length == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new ${GenHelper.GAD}(${GenHelper.Poly}.minhashSig($arr));
         |}""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr = copy(c)
  override def prettyName: String = "minhash_sig"
}

/** Dot product of two numeric arrays (double semantics, sequential
  * left-to-right sum — matching both aggregate(zip_with(..)) and
  * DuckDB's list_dot_product). Native because interpreted HOF lambdas
  * cost ~10 µs/element — 100× the arithmetic.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Double.valueOf(
      PolyHashing.dotProduct(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${GenHelper.Poly}.dotProduct($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductExpr =
    copy(l, r)
  override def prettyName: String = "dot_product"
}

/** Exact integer dot product of two long arrays (SQ8 scan scoring). */
case class LongDotProductExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Long.valueOf(
      PolyHashing.longDotProduct(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${GenHelper.Poly}.longDotProduct($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongDotProductExpr =
    copy(l, r)
  override def prettyName: String = "long_dot_product"
}

/** Sliding-window chunk hashes of a word-hash array (chunk dedup). */
case class ChunkHashesExpr(child: Expression, stride: Int, csize: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    PolyHashing.chunkHashes(input.asInstanceOf[ArrayData], stride, csize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${GenHelper.Poly}.chunkHashes($c, $stride, $csize);")
  override protected def withNewChildInternal(c: Expression): ChunkHashesExpr =
    copy(child = c)
  override def prettyName: String = "chunk_hashes"
}

/** Exact |a ∩ b| of two distinct-element long arrays (Jaccard verify). */
case class CommonCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Long.valueOf(
      PolyHashing.commonCount(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${GenHelper.Poly}.commonCount($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CommonCountExpr =
    copy(l, r)
  override def prettyName: String = "common_count"
}

/** Nearest-PQ-codeword argmin against a packed codebook (cws sorted
  * by ascending codeword id `ks`): one row in, one code out, the full
  * 256-codeword scan as a compiled loop. Replaces an explode-join +
  * struct-max aggregation that materialized |corpus|·8·256 rows
  * through a hash aggregate in the PQ index build. CodegenFallback:
  * the inner loop IS the work (≈2k flops/row); the build stage it
  * runs in is not a codegen-width-sensitive scan.
  */
case class PqNearestExpr(sub: Expression, cws: Expression, cw2s: Expression, ks: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(sub, cws, cw2s, ks)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val s = sub.eval(input); val c = cws.eval(input)
    val c2 = cw2s.eval(input); val k = ks.eval(input)
    if (s == null || c == null || c2 == null || k == null) null
    else java.lang.Long.valueOf(PolyHashing.pqNearest(
      s.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      c2.asInstanceOf[ArrayData], k.asInstanceOf[ArrayData]))
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): PqNearestExpr =
    copy(cs(0), cs(1), cs(2), cs(3))
  override def prettyName: String = "pq_nearest"
}

/** Per-row top-k IVF probe cells against a packed centroid book (see
  * PolyHashing.topCells). CodegenFallback like PqNearestExpr: the
  * nlist·dim inner loop IS the work; the scan stage it runs in is not
  * codegen-width-sensitive.
  */
case class TopCellsExpr(e: Expression, nrm: Expression, cws: Expression,
    cns: Expression, ks: Expression, k: Int)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def children: Seq[Expression] = Seq(e, nrm, cws, cns, ks)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val ev = e.eval(input); val nv = nrm.eval(input)
    val cv = cws.eval(input); val nsv = cns.eval(input); val kv = ks.eval(input)
    if (ev == null || nv == null || cv == null || nsv == null || kv == null) null
    else PolyHashing.topCells(ev.asInstanceOf[ArrayData],
      nv.asInstanceOf[Double], cv.asInstanceOf[ArrayData],
      nsv.asInstanceOf[ArrayData], kv.asInstanceOf[ArrayData], k)
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): TopCellsExpr =
    copy(cs(0), cs(1), cs(2), cs(3), cs(4))
  override def prettyName: String = "top_cells"
}

/** Per-(query, packed cell) top-k member scorer (see
  * PolyHashing.cellTopk). CodegenFallback like TopCellsExpr — the
  * members·dim loop IS the work.
  */
case class CellTopKExpr(qe: Expression, qn: Expression, va: Expression,
    vbs: Expression, nbs: Expression, ebs: Expression, k: Int)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
  override def children: Seq[Expression] = Seq(qe, qn, va, vbs, nbs, ebs)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val q = qe.eval(input); val n = qn.eval(input); val a = va.eval(input)
    val v = vbs.eval(input); val nb = nbs.eval(input); val e = ebs.eval(input)
    if (q == null || n == null || a == null || v == null || nb == null || e == null) null
    else PolyHashing.cellTopk(q.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      a.asInstanceOf[Long], v.asInstanceOf[ArrayData],
      nb.asInstanceOf[ArrayData], e.asInstanceOf[ArrayData], k)
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): CellTopKExpr =
    copy(cs(0), cs(1), cs(2), cs(3), cs(4), cs(5))
  override def prettyName: String = "cell_topk"
}

/** Single-pass scan counters as a struct (tx_langid's output columns
  * come straight from this). CodegenFallback: one struct per row, the
  * scan loop IS the work.
  */
case class TextScanExpr(child: Expression, sets: Seq[Seq[String]])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
  @transient private lazy val builtSets = TextScan.buildSets(sets)
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("hits", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("cjk", IntegerType, nullable = false),
    StructField("non_ws", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))
  override def nullSafeEval(input: Any): Any = {
    val c = TextScan.scan(input.asInstanceOf[UTF8String].toString, builtSets)
    org.apache.spark.sql.catalyst.InternalRow(
      c.nWords, new GenericArrayData(c.hits.map(x => x: Any)), c.cjk, c.nonWs,
      c.punct, c.nChars)
  }
  override protected def withNewChildInternal(c: Expression): TextScanExpr =
    copy(child = c)
  override def prettyName: String = "text_scan"
}

/** The tx_langid heuristic decision in one compiled scan. */
case class PredLangExprNative(child: Expression, sets: Seq[Seq[String]])
    extends UnaryExpression {
  @transient private lazy val builtSets = TextScan.buildSets(sets)
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def nullSafeEval(input: Any): Any =
    TextScan.predLang(input.asInstanceOf[UTF8String], builtSets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langSets", builtSets, "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextScan.predLang($c, $ref);")
  }
  override protected def withNewChildInternal(c: Expression): PredLangExprNative =
    copy(child = c)
  override def prettyName: String = "pred_lang"
}

/** The tx_quality score in one compiled scan. */
case class QualityExprNative(child: Expression, sets: Seq[Seq[String]])
    extends UnaryExpression {
  @transient private lazy val builtSets = TextScan.buildSets(sets)
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(
      TextScan.quality(input.asInstanceOf[UTF8String], builtSets))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopSets", builtSets, "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextScan.quality($c, $ref);")
  }
  override protected def withNewChildInternal(c: Expression): QualityExprNative =
    copy(child = c)
  override def prettyName: String = "quality_score"
}

/** Whole-string polynomial fold (document fingerprint). */
case class PolyHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(PolyHashing.foldCodePoints(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${GenHelper.Poly}.foldCodePoints($c.toString());")
  override protected def withNewChildInternal(c: Expression): PolyHashExpr = copy(c)
  override def prettyName: String = "poly_hash"
}

object HashExprs {
  def token_hashes(c: Column): Column = Bridge.column(TokenHashesExpr(Bridge.expression(c)))
  def shingle_hashes(c: Column): Column = Bridge.column(ShingleHashesExpr(Bridge.expression(c)))
  def bigram_hashes(c: Column): Column = Bridge.column(BigramHashesExpr(Bridge.expression(c)))
  def bigram_packs(c: Column): Column = Bridge.column(BigramPacksExpr(Bridge.expression(c)))
  def minhash_sig(c: Column): Column = Bridge.column(MinHashSigExpr(Bridge.expression(c)))
  def span_grams(c: Column, k: Int): Column =
    Bridge.column(SpanGramsExpr(Bridge.expression(c), k))
  def poly_hash(c: Column): Column = Bridge.column(PolyHashExpr(Bridge.expression(c)))
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProductExpr(Bridge.expression(a), Bridge.expression(b)))
  def long_dot_product(a: Column, b: Column): Column =
    Bridge.column(LongDotProductExpr(Bridge.expression(a), Bridge.expression(b)))
  def chunk_hashes(wh: Column, stride: Int, csize: Int): Column =
    Bridge.column(ChunkHashesExpr(Bridge.expression(wh), stride, csize))
  def common_count(a: Column, b: Column): Column =
    Bridge.column(CommonCountExpr(Bridge.expression(a), Bridge.expression(b)))
  def pq_nearest(sub: Column, cws: Column, cw2s: Column, ks: Column): Column =
    Bridge.column(PqNearestExpr(Bridge.expression(sub), Bridge.expression(cws),
      Bridge.expression(cw2s), Bridge.expression(ks)))
  def top_cells(e: Column, nrm: Column, cws: Column, cns: Column, ks: Column, k: Int): Column =
    Bridge.column(TopCellsExpr(Bridge.expression(e), Bridge.expression(nrm),
      Bridge.expression(cws), Bridge.expression(cns), Bridge.expression(ks), k))
  def cell_topk(qe: Column, qn: Column, va: Column, vbs: Column, nbs: Column,
      ebs: Column, k: Int): Column =
    Bridge.column(CellTopKExpr(Bridge.expression(qe), Bridge.expression(qn),
      Bridge.expression(va), Bridge.expression(vbs), Bridge.expression(nbs),
      Bridge.expression(ebs), k))
  def text_scan(c: Column, sets: Seq[Seq[String]]): Column =
    Bridge.column(TextScanExpr(Bridge.expression(c), sets))
  def pred_lang(c: Column, sets: Seq[Seq[String]]): Column =
    Bridge.column(PredLangExprNative(Bridge.expression(c), sets))
  def quality_score(c: Column, sets: Seq[Seq[String]]): Column =
    Bridge.column(QualityExprNative(Bridge.expression(c), sets))

  /** SQL registration so the operators are usable from spark.sql too. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("token_hashes", es => TokenHashesExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("shingle_hashes", es => ShingleHashesExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("bigram_hashes", es => BigramHashesExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("bigram_packs", es => BigramPacksExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("minhash_sig", es => MinHashSigExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("poly_hash", es => PolyHashExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("word_bigrams", es => WordBigramsExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("word_tokens", es => WordTokensExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("word_count", es => WordCountExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("marker_total",
      es => MarkerTotalExpr(es.head, graft.GraftExtensions.markerList("marker_total")(es.tail)),
      "scala_udf")
    reg.createOrReplaceTempFunction("contains_count",
      es => ContainsCountExpr(es.head, graft.GraftExtensions.markerList("contains_count")(es.tail)),
      "scala_udf")
    reg.createOrReplaceTempFunction("topk_by_score",
      es => TopKByScore(es(0), es(1),
        graft.GraftExtensions.intArg("topk_by_score", "k", es(2)), None).toAggregateExpression(),
      "scala_udf")
  }
}
