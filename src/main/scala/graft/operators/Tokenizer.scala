package graft.operators

import graft.{Build, Q, Tables}
import graft.functions.{BpeExprs, Hashing}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and application — the
  * tokenizer half of the corpus-prep story (tx_tokens counts with a
  * fixed regex; this LEARNS the vocabulary from the corpus the way
  * subword tokenizers are actually built — Sennrich, Haddow & Birch,
  * ACL 2016).
  *
  * Scale shape: BPE never iterates the corpus. The corpus collapses
  * ONCE to the (word, count) vocabulary — bounded by |distinct words|
  * (Heaps' law: ~10⁶ at any corpus size), not corpus size — and every
  * merge round runs on that bounded frame: adjacent-pair counts
  * (posexplode + one keyed agg on the pair), a 1-row argmax, and a
  * map-side merge application (BpeApplyExpr). This is exactly the
  * collapsed representation sentencepiece/subword-nmt train on. The
  * argmax round-trips ONE row per round through a broadcast (model
  * state, like a parameter server's weight vector) — data never moves
  * to the driver.
  *
  * Determinism: pair counts are integers; the argmax tie-breaks by
  * (count DESC, lhs ASC, rhs ASC), and Spark's UTF8String binary
  * ordering matches DuckDB's UTF-8 byte order, so both engines pick
  * the identical merge at every round — the whole train is
  * hash-oracle-checked, with the oracle's rounds macro-expanded as
  * k CTE levels (recursive CTEs cannot re-aggregate per level).
  */
object Tokenizer {

  /** Merge rounds. Production trains thousands; 8 keeps the oracle's
    * macro-expanded CTE and the per-round job count testable while
    * exercising multi-char merges (round 6+ merges a merged symbol).
    */
  val MergeRounds = 8

  private val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** (word, cnt) vocabulary: one corpus pass. Whitespace tokens — the
    * SAME token stream wordHashes / the oracle's string_split_regex
    * produce (word_tokens is the WordClass regex scan and silently
    * drops punctuation-only words). Empty tokens dropped (split
    * artifacts, not words). Also the shape Streaming.bpeVocab
    * maintains incrementally.
    */
  private[graft] def vocab0(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Memoized train: Seq(mergeTable, finalVocab). The merge table is
    * (rank, lhs, rhs, merged, pair_count) — the learned tokenizer;
    * finalVocab is (word, cnt, syms) after all rounds — the lookup
    * table the encoder serves from.
    *
    * Loop hygiene (the connected-components discipline): every
    * round's vocabulary is localCheckpoint'd — the join-with-argmax
    * composition otherwise multiplies the logical plan per round,
    * which is exponential in plan-string size (the first draft OOM'd
    * the driver on explainString, not on data) — superseded
    * snapshots' blocks are released, and the loop's width is pinned
    * to the vocabulary size, not the session's shuffle parallelism.
    */
  def bpeFrames(spark: SparkSession, dir: String): Seq[DataFrame] =
    graft.SessionMemo.frames(spark, s"tokenizer.bpe:$dir") {
      trainLoop(spark, vocab0(spark, dir))
    }
  val BpeMerges = Build("bpe_merges", bpeFrames)

  /** Memoized BYTE-LEVEL train — the identical merge loop over the
    * 256-byte base alphabet (2-hex-digit symbols) instead of code
    * points: the GPT-2-family construction, so ANY UTF-8 input
    * tokenizes (no unknown-symbol path; a multi-byte code point is
    * just 2-4 base symbols the merges may or may not rejoin).
    */
  def bpeBytesFrames(spark: SparkSession, dir: String): Seq[DataFrame] =
    graft.SessionMemo.frames(spark, s"tokenizer.bpeBytes:$dir") {
      trainLoop(spark, vocab0(spark, dir), BpeExprs.byte_split)
    }
  val BpeBytesMerges = Build("bpe_bytes_merges", bpeBytesFrames)

  /** The merge loop over any (word, cnt) vocabulary frame — shared by
    * the batch build (code-point and byte alphabets, via `symsOf`)
    * and the streamed-vocabulary cross-validation (StreamingSpec
    * trains from the incrementally maintained vocab and must get the
    * identical merge table).
    */
  private[graft] def trainLoop(spark: SparkSession, vocabCounts: DataFrame,
      symsOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        BpeExprs.codepoint_split): Seq[DataFrame] = {
      val v0 = vocabCounts.withColumn("syms", symsOf(col("word")))
      val nVocab = v0.count()
      val parts = math.max(1L, math.min(
        spark.sessionState.conf.numShufflePartitions.toLong, nVocab / 20000L)).toInt
      var vocab = v0.coalesce(parts).localCheckpoint(false)
      vocab.count()
      val merges = Seq.newBuilder[DataFrame]
      for (t <- 1 to MergeRounds) {
        val pairs = vocab
          .select(col("cnt"), col("syms"),
            posexplode(slice(col("syms"), lit(1), greatest(size(col("syms")) - 1, lit(0))))
              .as(Seq("i", "lhs")))
          .withColumn("rhs", element_at(col("syms"), col("i") + 2))
          .groupBy("lhs", "rhs").agg(sum("cnt").as("pair_count"))
        val best = pairs
          .orderBy(col("pair_count").desc, col("lhs"), col("rhs")).limit(1)
          .select(lit(t.toLong).as("rank"), col("lhs"), col("rhs"),
            concat(col("lhs"), col("rhs")).as("merged"), col("pair_count"))
          .localCheckpoint(false)
        best.count() // materialize the round's model update (1 row)
        merges += best
        val next = vocab
          .join(broadcast(best.select(col("lhs").as("m_l"), col("rhs").as("m_r"))),
            lit(true), "left")
          .select(col("word"), col("cnt"),
            when(col("m_l").isNull, col("syms"))
              .otherwise(BpeExprs.bpe_apply(col("syms"), col("m_l"), col("m_r")))
              .as("syms"))
          .localCheckpoint(false)
        next.count()
        Dedup.releaseLocalCheckpoint(vocab) // superseded snapshot
        vocab = next
      }
      val mergeTable = merges.result().reduce(_ union _).persist(lvl)
      mergeTable.count()
      merges.result().foreach(Dedup.releaseLocalCheckpoint)
      Seq(mergeTable, vocab)
  }

  /** The trained vocabulary packed into ONE row as a map
    * h → (n_sym, n_chr) with the SAME hash key and min()-fold
    * collision semantics as the batch encoder's vh frame — the
    * static side Streaming.bpeEncode broadcasts so each arriving doc
    * is accounted map-side (a tokenizer deployment broadcasts its
    * vocab by construction). Built executor-side (collect_list in an
    * aggregation, not a driver collect).
    */
  private[graft] def packedVocab(spark: SparkSession, dir: String): DataFrame =
    bpeFrames(spark, dir)(1)
      .select(Hashing.charFold(col("word")).as("h"),
        size(col("syms")).cast("long").as("n_sym"),
        size(BpeExprs.codepoint_split(col("word"))).cast("long").as("n_chr"))
      .groupBy("h").agg(min("n_sym").as("n_sym"), min("n_chr").as("n_chr"))
      .agg(map_from_entries(collect_list(
        struct(col("h"), struct(col("n_sym"), col("n_chr"))))).as("vh"))

  // ═══════════════ oracle SQL (macro-expanded rounds) ═══════════════

  private val tokSql = "string_split_regex(trim(lower(text)), '\\s+')"

  /** The k-round train as a WITH prefix: v0 is the vocabulary, each
    * round t adds p{t} (pair counts), m{t} (the argmax merge) and
    * v{t} (the vocabulary after applying it). The merge-application
    * fold carries a list accumulator whose LAST element is the
    * pending symbol — list_append(acc[1:len-1], merged) replaces it
    * on a match, which is exactly the greedy non-overlapping
    * semantics of BpeKernels.bpeApply (a struct accumulator would be
    * cleaner but DuckDB list_reduce drops struct list fields).
    */
  /** DuckDB rendering of the byte alphabet: hex(encode(word)) is the
    * 2-digit-per-byte uppercase hex string, sliced into pairs — the
    * exact strings ByteSplitExpr emits.
    */
  private val byteSymsSql =
    "list_transform(generate_series(1, CAST(octet_length(encode(word)) AS INT)), " +
      "i -> substr(hex(encode(word)), 2 * i - 1, 2))"

  private def bpeCteSql(k: Int, symsSql: String = "string_split(word, '')"): String = {
    val v0 =
      s"""v0 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS cnt, $symsSql AS syms
         |  FROM (SELECT unnest($tokSql) AS word FROM documents)
         |  WHERE word <> '' GROUP BY word)""".stripMargin
    val rounds = (1 to k).map { t =>
      s"""p$t AS (
         |  SELECT pr.l AS lhs, pr.r AS rhs, CAST(sum(cnt) AS BIGINT) AS pair_count
         |  FROM (SELECT cnt, unnest(list_transform(syms[1:len(syms)-1],
         |    (s, i) -> {'l': s, 'r': syms[i+1]})) AS pr FROM v${t - 1})
         |  GROUP BY pr.l, pr.r),
         |m$t AS (
         |  SELECT CAST($t AS BIGINT) AS rank, lhs, rhs, lhs || rhs AS merged, pair_count
         |  FROM p$t ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |v$t AS (
         |  SELECT word, cnt, CASE WHEN m.lhs IS NULL THEN syms ELSE
         |    list_reduce(list_concat([CAST([] AS VARCHAR[])], list_transform(syms, s -> [s])),
         |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.lhs AND x[1] = m.rhs
         |        THEN list_append(acc[1:len(acc)-1], m.merged)
         |        ELSE list_append(acc, x[1]) END) END AS syms
         |  FROM v${t - 1} LEFT JOIN m$t m ON TRUE)""".stripMargin
    }
    (v0 +: rounds).mkString(",\n")
  }

  // ═══════════════ registered queries ═══════════════

  /** The learned merge table — BPE training end-to-end, hash-checked
    * against the macro-expanded oracle (both engines pick the same
    * argmax every round or the whole table diverges).
    */
  val bpeTrain = Q(
    "tx_bpe_train", {
      val union = (1 to MergeRounds).map(t => s"SELECT * FROM m$t").mkString(" UNION ALL ")
      s"""WITH ${bpeCteSql(MergeRounds)}
         |SELECT rank, lhs, rhs, merged, pair_count FROM ($union)
         |ORDER BY rank""".stripMargin
    }, BpeMerges) { (spark, dir) =>
    bpeFrames(spark, dir).head.orderBy("rank")
  }

  /** Encode the corpus with the trained tokenizer: per-doc word,
    * code-point and BPE-token counts + compression ratio. The corpus
    * side collapses to (doc, token-hash) counters in the scan stage
    * (the tx_unigram_ppl Zipf discipline — join keys bounded by
    * |docs|·|distinct words per doc|, values 8 bytes, never text);
    * the vocabulary side is served from the memoized final train
    * state keyed by the same hash (collisions fold by min() — the
    * identical fold on both engines). h = 0 (the empty-token hash)
    * is excluded on both sides.
    */
  val bpeEncode = Q(
    "tx_bpe_encode", {
      val wh = Hashing.wordHashesSql("text")
      val whWord = Hashing.charFoldSql("word")
      s"""WITH ${bpeCteSql(MergeRounds)},
         |vh AS (
         |  SELECT h, min(n_sym) AS n_sym, min(n_chr) AS n_chr
         |  FROM (SELECT $whWord AS h, CAST(len(syms) AS BIGINT) AS n_sym,
         |      CAST(len(string_split(word, '')) AS BIGINT) AS n_chr FROM v$MergeRounds)
         |  GROUP BY h),
         |dw AS (
         |  SELECT doc_id, source, h, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, source, unnest($wh) AS h FROM documents)
         |  WHERE h <> 0 GROUP BY doc_id, source, h)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         |  CAST(sum(c) AS BIGINT) AS n_words,
         |  CAST(sum(c * n_chr) AS BIGINT) AS n_chars,
         |  CAST(sum(c * n_sym) AS BIGINT) AS n_tokens,
         |  round(1e-9 + sum(c * n_sym) / CAST(sum(c * n_chr) AS DOUBLE) + 1e-9, 6) AS bpe_ratio
         |FROM dw JOIN vh USING (h)
         |GROUP BY doc_id, source
         |ORDER BY doc_id""".stripMargin
    }, BpeMerges) { (spark, dir) =>
    val vocabK = bpeFrames(spark, dir)(1)
    val vh = vocabK
      .select(Hashing.charFold(col("word")).as("h"),
        size(col("syms")).cast("long").as("n_sym"),
        size(BpeExprs.codepoint_split(col("word"))).cast("long").as("n_chr"))
      .groupBy("h").agg(min("n_sym").as("n_sym"), min("n_chr").as("n_chr"))
    val dw = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(Hashing.wordHashes(col("text"))).as("h"))
      .filter(col("h") =!= 0)
      .groupBy("doc_id", "source", "h").agg(count(lit(1)).as("c"))
    dw.join(vh, "h")
      .groupBy("doc_id", "source")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("n_chr")).as("n_chars"),
        sum(col("c") * col("n_sym")).as("n_tokens"))
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("n_words"), col("n_chars"), col("n_tokens"),
        round(lit(1e-9) + col("n_tokens") / col("n_chars").cast("double") + 1e-9, 6)
          .as("bpe_ratio"))
      .orderBy("doc_id")
  }

  /** tx_bpe_train_bytes — the byte-level merge table: identical loop,
    * 256-byte base alphabet. On ASCII-only corpora it degenerates to
    * the code-point table up to symbol spelling; on multilingual/fuzz
    * input it is the construction that cannot hit an unknown symbol.
    * Hash-checked against the macro-expanded byte-alphabet oracle and
    * pinned against the in-JVM reference BPE on multi-byte fixtures
    * (TokenizerSpec).
    */
  val bpeTrainBytes = Q(
    "tx_bpe_train_bytes", {
      val union = (1 to MergeRounds).map(t => s"SELECT * FROM m$t").mkString(" UNION ALL ")
      s"""WITH ${bpeCteSql(MergeRounds, byteSymsSql)}
         |SELECT rank, lhs, rhs, merged, pair_count FROM ($union)
         |ORDER BY rank""".stripMargin
    }, BpeBytesMerges) { (spark, dir) =>
    bpeBytesFrames(spark, dir).head.orderBy("rank")
  }

  /** tx_bpe_encode_bytes — encode the corpus with the byte-level
    * tokenizer: per-doc word, UTF-8 byte and BPE-token counts +
    * compression ratio (tokens per byte — the fertility statistic a
    * byte-level tokenizer is judged on). Same Zipf-collapsed join
    * shape as tx_bpe_encode; the vocabulary side serves from the
    * memoized byte-level train state.
    */
  val bpeEncodeBytes = Q(
    "tx_bpe_encode_bytes", {
      val wh = Hashing.wordHashesSql("text")
      val whWord = Hashing.charFoldSql("word")
      s"""WITH ${bpeCteSql(MergeRounds, byteSymsSql)},
         |vh AS (
         |  SELECT h, min(n_sym) AS n_sym, min(n_byte) AS n_byte
         |  FROM (SELECT $whWord AS h, CAST(len(syms) AS BIGINT) AS n_sym,
         |      CAST(octet_length(encode(word)) AS BIGINT) AS n_byte FROM v$MergeRounds)
         |  GROUP BY h),
         |dw AS (
         |  SELECT doc_id, source, h, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, source, unnest($wh) AS h FROM documents)
         |  WHERE h <> 0 GROUP BY doc_id, source, h)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         |  CAST(sum(c) AS BIGINT) AS n_words,
         |  CAST(sum(c * n_byte) AS BIGINT) AS n_bytes,
         |  CAST(sum(c * n_sym) AS BIGINT) AS n_tokens,
         |  round(1e-9 + sum(c * n_sym) / CAST(sum(c * n_byte) AS DOUBLE) + 1e-9, 6) AS bpe_ratio
         |FROM dw JOIN vh USING (h)
         |GROUP BY doc_id, source
         |ORDER BY doc_id""".stripMargin
    }, BpeBytesMerges) { (spark, dir) =>
    val vocabK = bpeBytesFrames(spark, dir)(1)
    val vh = vocabK
      .select(Hashing.charFold(col("word")).as("h"),
        size(col("syms")).cast("long").as("n_sym"),
        octet_length(col("word")).cast("long").as("n_byte"))
      .groupBy("h").agg(min("n_sym").as("n_sym"), min("n_byte").as("n_byte"))
    val dw = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(Hashing.wordHashes(col("text"))).as("h"))
      .filter(col("h") =!= 0)
      .groupBy("doc_id", "source", "h").agg(count(lit(1)).as("c"))
    dw.join(vh, "h")
      .groupBy("doc_id", "source")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("n_byte")).as("n_bytes"),
        sum(col("c") * col("n_sym")).as("n_tokens"))
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("n_words"), col("n_bytes"), col("n_tokens"),
        round(lit(1e-9) + col("n_tokens") / col("n_bytes").cast("double") + 1e-9, 6)
          .as("bpe_ratio"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(bpeTrain, bpeEncode, bpeTrainBytes, bpeEncodeBytes)
}
