package graft.operators

import graft.{Build, Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads ride through the
  * pipeline as opaque `binary` columns with typed metadata, and all
  * decode/feature steps are per-row column expressions (or, for real
  * codecs, mapPartitions over batches) — never driver-side loops.
  *
  * mm_meta works on a REAL codec-free container format: each doc's
  * payload is a canonical 44-byte RIFF/WAVE PCM header (fields derived
  * deterministically from doc_id) wrapped around the text bytes, and
  * the operator PARSES the metadata back out of the raw bytes
  * (little-endian field extraction via hex/conv column expressions).
  * The DuckDB oracle recomputes the expected values independently
  * from the same doc_id formulas WITHOUT byte-parsing — so the
  * hash-match is an independent check of the byte-level parser, not a
  * mirrored implementation. mm_frames samples fixed-width windows and
  * computes a polynomial-fold feature per frame (oracle-checked);
  * a codec-backed decoder would replace the fold with a real
  * frame decode inside the same batch shape.
  */
object Multimodal {

  /** Little-endian encoders (synthesis side). */
  private def le32(v: Column): Column = {
    val h = lpad(hex(v.cast("long")), 8, "0")
    unhex(concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2)))
  }
  private def le16(v: Column): Column = {
    val h = lpad(hex(v.cast("long")), 4, "0")
    unhex(concat(substring(h, 3, 2), substring(h, 1, 2)))
  }

  /** Little-endian readers (parse side, 1-based byte offsets). */
  private def rd32(p: Column, off: Int): Column = {
    val h = hex(substring(p, off, 4))
    conv(concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2)),
      16, 10).cast("long")
  }
  private def rd16(p: Column, off: Int): Column = {
    val h = hex(substring(p, off, 2))
    conv(concat(substring(h, 3, 2), substring(h, 1, 2)), 16, 10).cast("long")
  }

  private def bin(s: String): Column = lit(s).cast("binary")

  /** WAV payload per doc: header fields derived from doc_id, "sample
    * data" = the text bytes. This is the storage-side synthesis a real
    * pipeline would receive as opaque blobs.
    */
  private def wavPayload: Column = {
    val data = col("text").cast("binary")
    val dataLen = octet_length(data).cast("long")
    val channels = lit(1L) + col("doc_id") % 2
    val sampleRate = lit(8000L) * (lit(1L) + col("doc_id") % 3)
    val blockAlign = channels * 2 // 16-bit PCM
    val byteRate = sampleRate * blockAlign
    concat(
      bin("RIFF"), le32(dataLen + 36), bin("WAVE"),
      bin("fmt "), le32(lit(16L)), le16(lit(1L)), le16(channels),
      le32(sampleRate), le32(byteRate), le16(blockAlign), le16(lit(16L)),
      bin("data"), le32(dataLen),
      data)
  }

  /** Parse WAV metadata back out of the raw payload bytes. The oracle
    * derives the same values arithmetically from doc_id — an
    * independent check of the parser.
    */
  val meta = Q(
    "mm_meta",
    """SELECT doc_id,
      |  CAST(44 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  'RIFF' AS magic, 'WAVE' AS format,
      |  CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
      |  CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
      |  CAST(16 AS BIGINT) AS bits_per_sample,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS data_bytes,
      |  round(1e-9 + octet_length(encode(text))
      |    / CAST(8000 * (1 + doc_id % 3) * (1 + doc_id % 2) * 2 AS DOUBLE), 6) AS duration_s
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val p = col("payload")
    val channels = rd16(p, 23)
    val sampleRate = rd32(p, 25)
    val byteRate = rd32(p, 29)
    val dataBytes = rd32(p, 41)
    Tables.documents(spark, dir)
      .select(col("doc_id"), wavPayload.as("payload"))
      .select(
        col("doc_id"),
        octet_length(p).cast("long").as("n_bytes"),
        decode(substring(p, 1, 4), "UTF-8").as("magic"),
        decode(substring(p, 9, 4), "UTF-8").as("format"),
        channels.as("n_channels"),
        sampleRate.as("sample_rate"),
        rd16(p, 35).as("bits_per_sample"),
        dataBytes.as("data_bytes"),
        round(lit(1e-9) + dataBytes / byteRate.cast("double"), 6).as("duration_s"))
      .orderBy("doc_id")
  }

  /** Per-frame feature extraction: sample up to 4 fixed-width windows
    * ("frames") from each payload's data section and emit one feature
    * row per frame — the shape a video/audio frame-sampler produces
    * at scale. The frame feature is the polynomial fold of the
    * window's characters (a real computation over the sampled window,
    * reproduced by the DuckDB oracle — no longer a stub).
    */
  val FrameChars = 256
  val MaxFrames = 4
  val frames = Q(
    "mm_frames",
    s"""SELECT doc_id, frame_idx, char_offset, feature FROM (
       |  SELECT doc_id, CAST(g - 1 AS BIGINT) AS frame_idx,
       |    CAST((g - 1) * $FrameChars AS BIGINT) AS char_offset,
       |    ${graft.functions.Hashing.charFoldSql(s"substring(text, (g - 1) * $FrameChars + 1, $FrameChars)")} AS feature
       |  FROM (
       |    SELECT doc_id, text, unnest(generate_series(1,
       |      least($MaxFrames, greatest(1, CAST(ceil(length(text) / CAST($FrameChars AS DOUBLE)) AS BIGINT))))) AS g
       |    FROM documents
       |  )
       |)
       |ORDER BY doc_id, frame_idx""".stripMargin) { (spark, dir) =>
    val nFrames = least(lit(MaxFrames.toLong),
      greatest(lit(1L), ceil(length(col("text")) / lit(FrameChars.toDouble)).cast("long")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), posexplode(sequence(lit(0L), nFrames - 1)))
      .select(
        col("doc_id"),
        col("col").as("frame_idx"),
        (col("col") * FrameChars).as("char_offset"),
        graft.functions.Hashing.charFold(
          col("text").substr((col("col") * FrameChars + 1).cast("int"), lit(FrameChars)))
          .as("feature"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Downsample/resize step: 4:1 decimation of each payload's sample
    * stream (keep every 4th sample) with the output rate derived from
    * the REAL byte-parsed header — the resize/downsample stage of a
    * media pipeline in the same column-expression shape. The sample
    * stream is the text characters (as in mm_frames); decimation is a
    * single regex pass (each run of up to 4 chars collapses to its
    * first), and the decimated stream's polynomial fold is the
    * feature. The oracle recomputes the rate arithmetically from
    * doc_id — independent of the parser, like mm_meta.
    */
  val Decimation = 4
  val resample = Q(
    "mm_resample",
    s"""SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_samples_in,
       |  CAST(length(regexp_replace(text, '(.).{0,3}', '\\1', 'g')) AS BIGINT) AS n_samples_out,
       |  CAST(8000 * (1 + doc_id % 3) / $Decimation AS BIGINT) AS out_sample_rate,
       |  ${graft.functions.Hashing.charFoldSql(s"regexp_replace(text, '(.).{0,3}', '\\1', 'g')")} AS feature
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val p = col("payload")
    val dec = regexp_replace(col("text"), "(.).{0,3}", "$1")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), wavPayload.as("payload"))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_samples_in"),
        length(dec).cast("long").as("n_samples_out"),
        (rd32(p, 25) / Decimation).cast("long").as("out_sample_rate"),
        graft.functions.Hashing.charFold(dec).as("feature"))
      .orderBy("doc_id")
  }

  /** BMP payload per doc: a real (codec-free) IMAGE container — the
    * 14-byte file header + 40-byte BITMAPINFOHEADER of a 24-bit
    * bitmap whose dimensions derive from doc_id, pixel rows padded to
    * the format's 4-byte stride boundary. Pixel content is a constant
    * ASCII fill (1 byte = 1 char, so synthesized byte counts are
    * exact); the operator's subject is the header geometry.
    */
  private def bmpDims: (Column, Column) =
    (lit(4L) + col("doc_id") % 13, lit(1L) + col("doc_id") % 5)

  private def bmpPayload: Column = {
    val (w, h) = bmpDims
    val stride = expr("((3 * (4 + doc_id % 13) + 3) div 4) * 4")
    val imgBytes = stride * h
    concat(
      bin("BM"), le32(imgBytes + 54), le32(lit(0L)), le32(lit(54L)),
      le32(lit(40L)), le32(w), le32(h), le16(lit(1L)), le16(lit(24L)),
      le32(lit(0L)), le32(imgBytes), le32(lit(2835L)), le32(lit(2835L)),
      le32(lit(0L)), le32(lit(0L)),
      repeat(lit("P"), imgBytes.cast("int")).cast("binary"))
  }

  /** Parse the BMP geometry back out of the raw bytes — width/height/
    * bpp from the info header, the 4-byte-aligned row stride and pad
    * derived from the PARSED width (24bpp ⇒ stride = ceil(3w/4)·4),
    * and the byte accounting cross-checked against the actual payload
    * length. The oracle recomputes every field arithmetically from
    * doc_id without touching bytes — like mm_meta, the hash match is
    * an independent check of the byte-level parser. Map-only at any
    * scale (one projection over the blob column; a codec decoder
    * would replace the field extraction inside the same shape).
    */
  val image = Q(
    "mm_image",
    """SELECT doc_id, 'BM' AS magic,
      |  CAST(54 + ((3 * (4 + doc_id % 13) + 3) // 4) * 4 * (1 + doc_id % 5) AS BIGINT)
      |    AS file_bytes,
      |  CAST(54 AS BIGINT) AS data_offset,
      |  CAST(4 + doc_id % 13 AS BIGINT) AS width,
      |  CAST(1 + doc_id % 5 AS BIGINT) AS height,
      |  CAST(24 AS BIGINT) AS bpp,
      |  CAST(((3 * (4 + doc_id % 13) + 3) // 4) * 4 AS BIGINT) AS row_stride,
      |  CAST(((3 * (4 + doc_id % 13) + 3) // 4) * 4 - 3 * (4 + doc_id % 13) AS BIGINT)
      |    AS pad_bytes,
      |  CAST(((3 * (4 + doc_id % 13) + 3) // 4) * 4 * (1 + doc_id % 5) AS BIGINT)
      |    AS data_bytes,
      |  round(1e-9 + (4 + doc_id % 13) / CAST(1 + doc_id % 5 AS DOUBLE), 6) AS aspect
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val p = col("payload")
    val w = rd32(p, 19)
    val h = rd32(p, 23)
    val stride = ((lit(3L) * w + 3) / 4).cast("long") * 4
    Tables.documents(spark, dir)
      .select(col("doc_id"), bmpPayload.as("payload"))
      .select(
        col("doc_id"),
        decode(substring(p, 1, 2), "UTF-8").as("magic"),
        rd32(p, 3).as("file_bytes"),
        rd32(p, 11).as("data_offset"),
        w.as("width"),
        h.as("height"),
        rd16(p, 29).as("bpp"),
        stride.as("row_stride"),
        (stride - lit(3L) * w).as("pad_bytes"),
        (octet_length(p).cast("long") - rd32(p, 11)).as("data_bytes"),
        round(lit(1e-9) + w / h.cast("double"), 6).as("aspect"))
      .orderBy("doc_id")
  }

  // ═══════ perceptual image near-dup (dHash over the parsed bitmap) ═══════

  /** dHash grid: PhashRows sample rows × PhashCols sample columns →
    * PhashRows·(PhashCols−1) = 60 horizontal-gradient bits, keeping
    * the fingerprint positive in a BIGINT like the 60-bit SimHash.
    */
  private val PhashRows = 6
  private val PhashCols = 11
  private val PhashBits = PhashRows * (PhashCols - 1)

  /** Near-dup verification floor: Hamming ≤ 2 over the 60 gradient
    * bits. Candidates share one of three 20-bit hash chunks — an
    * exact cover by pigeonhole (≤ 2 differing bits leave ≥ 1 of 3
    * chunks intact), with 2^20 buckets per chunk keeping random chunk
    * collisions ~N²/2^20 (the dd_simhash lesson: 15-bit keys birthday-
    * collide at corpus scale). At larger corpora the same plan widens
    * the hash (128-bit grid) and chunks (32-bit) — machinery is
    * width-agnostic.
    */
  private[graft] val PhashHammingMax = 2
  private val PhashChunkBits = 20
  private val PhashChunks = PhashBits / PhashChunkBits

  /** The pixel raster each doc's bitmap carries: printable-ASCII
    * sanitized text cycled across the w×h grid (gray pixels, 1 char =
    * 1 luminance value) — the synthesis twin of mm_meta's WAV data
    * section, giving every doc a CONTENT-derived texture so
    * perceptually-near documents produce perceptually-near bitmaps.
    */
  private val pxSql =
    "rpad('', CAST((4 + doc_id % 13) * (1 + doc_id % 5) AS INT), " +
      "CASE WHEN regexp_replace(text, '[^ -~]', '') = '' THEN 'P' " +
      "ELSE regexp_replace(text, '[^ -~]', '') END)"

  /** BMP payload with the textured pixel raster: the bmpPayload
    * header geometry around rows of gray 24-bit pixels (3 equal
    * channel bytes per char) padded to the 4-byte stride boundary.
    * `px` must be the pre-computed raster string column.
    */
  private def bmpTexturedPayload(px: Column): Column = {
    val (w, h) = bmpDims
    val stride = expr("((3 * (4 + doc_id % 13) + 3) div 4) * 4")
    val imgBytes = stride * h
    val rowsSql =
      "aggregate(sequence(0, CAST(doc_id % 5 AS INT)), CAST('' AS BINARY), " +
        "(acc, r) -> concat(acc, " +
        "CAST(regexp_replace(substring(px, r * CAST(4 + doc_id % 13 AS INT) + 1, " +
        "CAST(4 + doc_id % 13 AS INT)), '(.)', '$1$1$1') AS BINARY), " +
        "unhex(repeat('00', CAST(((3 * (4 + doc_id % 13) + 3) div 4) * 4 " +
        "- 3 * (4 + doc_id % 13) AS INT)))))"
    concat(
      bin("BM"), le32(imgBytes + 54), le32(lit(0L)), le32(lit(54L)),
      le32(lit(40L)), le32(w), le32(h), le16(lit(1L)), le16(lit(24L)),
      le32(lit(0L)), le32(imgBytes), le32(lit(2835L)), le32(lit(2835L)),
      le32(lit(0L)), le32(lit(0L)),
      expr(rowsSql))
  }

  /** The 60 dHash gradient terms: bit k = gy·10+gx set when the
    * sampled luminance to the RIGHT exceeds the current cell's.
    * `lum(gy, gx)` renders the engine-specific luminance read.
    */
  private def dhashSql(lum: (Int, Int) => String, longSuffix: String): String = {
    val terms = for { gy <- 0 until PhashRows; gx <- 0 until PhashCols - 1 } yield {
      val bit = 1L << (gy * (PhashCols - 1) + gx)
      s"CASE WHEN ${lum(gy, gx + 1)} > ${lum(gy, gx)} THEN $bit$longSuffix ELSE 0 END"
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }

  /** Per-doc perceptual hash: synthesize the textured BMP, then PARSE
    * it back — width/height from the info header, each grid sample
    * read from the raw pixel bytes at the stride-aware offset. The
    * oracle recomputes the identical hash arithmetically from the
    * text raster without touching bytes (the mm_meta/mm_image
    * independence pattern), so a hash match end-to-end checks the
    * byte-level parse + sampling. Map-only at any scale.
    */
  private[graft] def phashOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val blobs = docs
      .select(col("doc_id"), col("text"), expr(pxSql).as("px"))
      .select(col("doc_id"), bmpTexturedPayload(col("px")).as("payload"))
    val p = col("payload")
    val parsed = blobs.select(
      col("doc_id"), p,
      rd32(p, 19).as("w"), rd32(p, 23).as("h"))
      .withColumn("stride", (((lit(3L) * col("w") + 3) / 4).cast("long") * 4))
    val sparkLum = (gy: Int, gx: Int) =>
      s"ascii(decode(substring(payload, 55 + (($gy * h) div $PhashRows) * stride " +
        s"+ (($gx * w) div $PhashCols) * 3, 1), 'UTF-8'))"
    parsed.select(col("doc_id"), col("w").as("width"), col("h").as("height"),
      expr(dhashSql(sparkLum, "L")).as("dhash"))
  }

  /** The matching per-doc hash CTE body for the DuckDB oracle. */
  private val phashOracleSql: String = {
    val duckLum = (gy: Int, gx: Int) =>
      s"ascii(substr(px, CAST((($gy * h) // $PhashRows) * w " +
        s"+ (($gx * w) // $PhashCols) AS BIGINT) + 1, 1))"
    s"""SELECT doc_id, ${dhashSql(duckLum, "")} AS dhash
       |FROM (
       |  SELECT doc_id, 4 + doc_id % 13 AS w, 1 + doc_id % 5 AS h,
       |    rpad('', CAST((4 + doc_id % 13) * (1 + doc_id % 5) AS INT),
       |      CASE WHEN s = '' THEN 'P' ELSE s END) AS px
       |  FROM (SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS s FROM documents))""".stripMargin
  }

  /** Hamming-banded near-dup pairs over any (doc_id, text) frame —
    * the dd_simhash_pairs machinery on the perceptual hash: three
    * 20-bit chunk buckets generate candidates (exact for Hamming ≤ 2
    * by pigeonhole), the standard oversized-bucket cap guards
    * degenerate textures (constant-fill bitmaps all hash to 0), and
    * bit_count verification runs on the candidate pairs only.
    */
  /** The 3 chunk rows of a (doc_id, dhash) frame — shared by the
    * batch pair join, the standing chunk index, and the stream side.
    */
  private[graft] def phashChunks(ph: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val mask = (1L << PhashChunkBits) - 1
    ph.select(col("doc_id"), col("dhash"),
      explode(array((0 until PhashChunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("dhash"), c * PhashChunkBits).bitwiseAND(lit(mask)).as("key"))
      }: _*)).as("ck"))
      .select(col("doc_id"), col("dhash"),
        col("ck.chunk").as("chunk"), col("ck.key").as("key"))
  }

  /** One-time billed perceptual-hash TABLE of the corpus — the
    * (doc_id, dhash) frame every mm_phash query serves from. At 100 TB
    * the dHash is an ingest-time column written next to the image
    * bytes, not something each query re-derives by re-synthesizing and
    * re-parsing the corpus; this memo is that column's in-session
    * stand-in (the IVF-centroid / postings / SCD2-history build
    * discipline). Fixed-width rows (two longs), so the persisted frame
    * is tiny relative to the corpus at any SF.
    */
  private[graft] def phashTable(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.SessionMemo.frames(spark, s"multimodal.phashTable:$dir") {
      val ph = phashOf(Tables.documents(spark, dir).select("doc_id", "text"))
        .select("doc_id", "dhash")
        .persist()
      ph.count()
      Seq(ph)
    }.head
  val PhashTable = Build("phash_table", phashTable)

  /** One-time standing perceptual-hash chunk index of the corpus —
    * the STATIC side of streaming image dedup (Streaming.phashDedup):
    * capped chunk rows carrying each corpus doc's dHash, persisted
    * per (session, dir) like the MinHash band index. Derived from the
    * billed [[phashTable]], so the corpus is hashed at most once per
    * session no matter which phash artifacts a run touches.
    */
  private[graft] def phashChunkIndex(spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.SessionMemo.frames(spark, s"multimodal.phashChunkIndex:$dir") {
      val ph = phashTable(spark, dir)
      val idx = Dedup.dropOversizedBuckets(phashChunks(ph), Seq("chunk", "key"), Dedup.BucketCap)
        .select(col("chunk"), col("key"),
          col("doc_id").as("corpus_id"), col("dhash").as("h_c"))
        .persist()
      idx.count()
      Seq(idx)
    }.head

  /** Banded Hamming pair join over a (doc_id, dhash) frame — the
    * shared serve body of mm_phash_pairs/clusters. Expects `ph`
    * already persisted (the memoized [[phashTable]], or the caller's
    * cache); this body never touches raw documents.
    */
  /** The DECLARATIVE pair plan (no materialization) — split out so
    * the PlanSpec pin can assert the serve path reads only the memoized
    * hash table before the localCheckpoint hides the lineage.
    */
  private[graft] def phashPairsPlanOf(ph: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val chunked = Dedup.dropOversizedBuckets(phashChunks(ph), Seq("chunk", "key"), Dedup.BucketCap)
    val a = chunked.select(col("chunk"), col("key"),
      col("doc_id").as("doc_a"), col("dhash").as("ha"))
    val b = chunked.select(col("chunk"), col("key"),
      col("doc_id").as("doc_b"), col("dhash").as("hb"))
    // Hamming filter BEFORE the dedup exchange: bit_count is map-side
    // and hamming is a function of the pair, so filter-then-distinct
    // equals distinct-then-filter — but the distinct now shuffles only
    // matching pairs instead of every banded candidate (the sf10 leg
    // measured 561 M candidate rows through the old distinct).
    a.join(b, Seq("chunk", "key")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= PhashHammingMax)
      .distinct()
  }

  private[graft] def phashPairsOfHashes(ph: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // materialize the (small) pair set eagerly — downstream consumers
    // (the CC loop) iterate over it, and a localCheckpoint's blocks
    // self-clean once the returned frame is GC'd
    phashPairsPlanOf(ph).localCheckpoint(true)

  /** Pairs over an arbitrary (doc_id, text) frame (the planted-pair
    * spec's entry): hash per-call, cache the fixed-width hash frame
    * for the join's two sides, release it once pairs materialize.
    * Registered queries use [[phashPairsFromTable]] instead — the
    * stored-column serve path.
    */
  private[graft] def phashPairsOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ph = phashOf(docs).select("doc_id", "dhash").cache()
    val pairs = phashPairsOfHashes(ph)
    ph.unpersist(blocking = false)
    pairs
  }

  /** The registered pair serve path: banded join over the memoized
    * [[phashTable]] — no document scan, no per-call hashing.
    */
  private[graft] def phashPairsFromTable(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    phashPairsOfHashes(phashTable(spark, dir))

  /** mm_phash_pairs — perceptual image near-duplicate pairs, closing
    * the multimodal half of the dedup story: dHash (horizontal
    * luminance gradients on a fixed sample grid — Krawetz's
    * difference hash) computed by PARSING each doc's synthesized BMP
    * bytes, then the engine's standard banded Hamming self-join.
    * Near-identical bitmaps (a few pixels changed) differ in ≤ 2
    * gradient bits and surface as pairs; planted near-identical BMPs
    * are pinned in PhashPairsSpec.
    */
  val phashPairs = Q(
    "mm_phash_pairs",
    s"""WITH ph AS ($phashOracleSql),
       |chunked0 AS (
       |  ${(0 until PhashChunks).map(c =>
          s"SELECT doc_id, dhash, $c AS chunk, (dhash >> ${c * PhashChunkBits}) & ${(1L << PhashChunkBits) - 1} AS key FROM ph")
          .mkString("\n  UNION ALL\n  ")}
       |),
       |small AS (
       |  SELECT chunk, key FROM chunked0 GROUP BY chunk, key
       |  HAVING count(*) <= ${Dedup.BucketCap}
       |),
       |chunked AS (SELECT chunked0.* FROM chunked0 JOIN small USING (chunk, key))
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
       |  FROM chunked a JOIN chunked b
       |    ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
       |) WHERE hamming <= $PhashHammingMax
       |ORDER BY doc_a, doc_b""".stripMargin, PhashTable) { (spark, dir) =>
    phashPairsFromTable(spark, dir).orderBy("doc_a", "doc_b")
  }

  /** Standing chunk index over the CORPUS SPLIT only (doc_id % 10 < 8,
    * corpus-side cap) — the delta-probe side of mm_phash_incremental;
    * phashChunkIndex (whole corpus) stays the streaming replay's
    * static side.
    */
  private[graft] def phashCorpusChunkIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.SessionMemo.frames(spark, s"multimodal.phashCorpusChunkIndex:$dir") {
      val ph = phashTable(spark, dir).filter(col("doc_id") % 10 < 8)
      val idx = Dedup.dropOversizedBuckets(phashChunks(ph), Seq("chunk", "key"), Dedup.BucketCap)
        .select(col("chunk"), col("key"),
          col("doc_id").as("corpus_id"), col("dhash").as("h_c"))
        .persist()
      idx.count()
      Seq(idx)
    }.head
  val PhashCorpusIndex = Build("phash_corpus_index", phashCorpusChunkIndex)

  /** mm_phash_incremental — the multimodal member of the incremental
    * dedup trio (dd_incremental exact, dd_minhash_incremental fuzzy
    * text, this for images): a delta batch (doc_id % 10 ≥ 8) is
    * dHashed map-side and probed against the standing corpus chunk
    * index (corpus split only, corpus-side cap — built once per
    * session like the MinHash band index), every candidate verified
    * by Hamming ≤ 2, and each delta image assigned a verdict:
    * 'dup_image' with its best corpus match (min Hamming, ties to the
    * smaller corpus id) or 'new'. Per batch the cost is O(|delta| +
    * candidates); the corpus is hashed only in the one-time build.
    */
  val phashIncremental = Q(
    "mm_phash_incremental",
    s"""WITH ph AS ($phashOracleSql),
       |chunked0 AS (
       |  ${(0 until PhashChunks).map(c =>
          s"SELECT doc_id, dhash, $c AS chunk, (dhash >> ${c * PhashChunkBits}) & ${(1L << PhashChunkBits) - 1} AS key FROM ph")
          .mkString("\n  UNION ALL\n  ")}
       |),
       |idx0 AS (SELECT * FROM chunked0 WHERE doc_id % 10 < 8),
       |small AS (
       |  SELECT chunk, key FROM idx0 GROUP BY chunk, key
       |  HAVING count(*) <= ${Dedup.BucketCap}),
       |idx AS (SELECT idx0.* FROM idx0 JOIN small USING (chunk, key)),
       |dchunk AS (SELECT * FROM chunked0 WHERE doc_id % 10 >= 8),
       |cand AS (
       |  SELECT DISTINCT d.doc_id, i.doc_id AS corpus_id,
       |    CAST(bit_count(xor(d.dhash, i.dhash)) AS BIGINT) AS hamming
       |  FROM dchunk d JOIN idx i ON d.chunk = i.chunk AND d.key = i.key),
       |best AS (
       |  SELECT doc_id, corpus_id, hamming,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY hamming, corpus_id) AS rn
       |  FROM cand WHERE hamming <= $PhashHammingMax)
       |SELECT d.doc_id, b.corpus_id AS best_corpus_id, b.hamming,
       |  CASE WHEN b.corpus_id IS NOT NULL THEN 'dup_image' ELSE 'new' END AS verdict
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin, PhashTable, PhashCorpusIndex) { (spark, dir) =>
    val idx = phashCorpusChunkIndex(spark, dir)
    // delta hashes read from the stored column, not recomputed — at
    // ingest the dHash arrives with the batch; here the table memo IS
    // that ingest-time column for both splits
    val delta = phashTable(spark, dir).filter(col("doc_id") % 10 >= 8)
    val dChunks = phashChunks(delta)
    val best = dChunks.join(idx, Seq("chunk", "key"))
      .select(col("doc_id"), col("corpus_id"),
        bit_count(col("dhash").bitwiseXOR(col("h_c"))).cast("long").as("hamming"))
      .filter(col("hamming") <= PhashHammingMax)
      .distinct()
      .groupBy("doc_id")
      .agg(min(struct(col("hamming"), col("corpus_id"))).as("b"))
      .select(col("doc_id"), col("b.corpus_id").as("best_corpus_id"),
        col("b.hamming").as("hamming"))
    delta.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("best_corpus_id"), col("hamming"),
        when(col("best_corpus_id").isNotNull, "dup_image").otherwise("new").as("verdict"))
      .orderBy("doc_id")
  }

  /** Energy-gate segmentation — the voice-activity-detection (VAD)
    * shape of an audio pipeline: threshold each sample into
    * active/silent, group consecutive active samples into segments,
    * and emit per-doc segment statistics (count, longest run, active
    * share, voiced flag). The sample stream is the text characters
    * (the mm_frames/mm_resample convention) and the "energy gate" is
    * the alphanumeric character class standing in for an amplitude
    * threshold — a codec-backed decoder would feed real samples
    * through the IDENTICAL runs-and-shares shape. Map-only at any
    * scale: runs come from one regex split per doc, statistics from
    * array HOFs over the run list — no explode, no shuffle beyond
    * the output sort.
    */
  val segments = Q(
    "mm_segments",
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_samples,
      |  CAST(len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), s -> length(s) > 0)) AS BIGINT) AS n_segments,
      |  CAST(coalesce(list_max(list_transform(
      |    list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), s -> length(s) > 0),
      |    s -> length(s))), 0) AS BIGINT) AS longest_segment,
      |  CASE WHEN length(text) > 0 THEN round(1e-9 +
      |    length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) / CAST(length(text) AS DOUBLE), 6)
      |    ELSE 0.0 END AS active_share,
      |  CASE WHEN length(text) > 0 THEN round(1e-9 +
      |    length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) / CAST(length(text) AS DOUBLE), 6) >= 0.5
      |    ELSE FALSE END AS voiced
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val runs = filter(split(col("text"), "[^A-Za-z0-9]+"), s => length(s) > 0)
    val share = when(length(col("text")) > 0,
      round(lit(1e-9) +
        length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")) /
          length(col("text")).cast("double"), 6))
      .otherwise(lit(0.0))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_samples"),
        size(runs).cast("long").as("n_segments"),
        coalesce(array_max(transform(runs, s => length(s))), lit(0))
          .cast("long").as("longest_segment"),
        share.as("active_share"),
        when(length(col("text")) > 0, share >= 0.5).otherwise(lit(false)).as("voiced"))
      .orderBy("doc_id")
  }

  private val AudioFrames = 16

  /** Per-doc audio fingerprint over any (doc_id, text) frame: the
    * payload is synthesized+parsed (Spark side) while the oracle
    * recomputes from the text directly — the mm_meta independence
    * discipline. Exposed for the planted-pair spec.
    */
  private[graft] def audioHashOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val blobs = docs.select(col("doc_id"), wavPayload.as("payload"))
    val p = col("payload")
    // decode the data section back out of the parsed container bytes
    val parsed = blobs.select(col("doc_id"),
      rd32(p, 41).as("data_bytes"),
      expr("decode(substring(payload, 45, octet_length(payload) - 44), 'UTF-8')").as("s"))
      .withColumn("n", length(col("s")))
    // frame f covers chars [f*n/16, (f+1)*n/16) — integer boundaries
    def energy(f: Int): Column =
      aggregate(
        split(expr(s"substring(s, ($f * n) div $AudioFrames + 1, " +
          s"((${f + 1} * n) div $AudioFrames) - (($f * n) div $AudioFrames))"), ""),
        lit(0L), (acc, c) => acc + ascii(c))
    val withE = parsed.select(
      col("doc_id") +: col("data_bytes") +:
        (0 until AudioFrames).map(f => energy(f).as(s"e$f")): _*)
    val fp = (0 until AudioFrames - 1).map { f =>
      shiftleft((col(s"e${f + 1}") > col(s"e$f")).cast("long"), f)
    }.reduce(_ + _)
    withE.select(col("doc_id"), col("data_bytes"),
      col("e0").as("energy_first"), col(s"e${AudioFrames - 1}").as("energy_last"),
      fp.as("fingerprint"))
      .withColumn("n_rising", bit_count(col("fingerprint")).cast("long"))
  }

  /** mm_audio_hash — perceptual audio fingerprint (Haitsma/Kalker
    * robust-hash shape, simplified to one energy band): the WAV data
    * section is parsed back out of the container bytes, split into 16
    * equal frames, and each frame's energy (sum of sample codes)
    * feeds a 15-bit sign-of-energy-delta fingerprint — the property
    * that makes it PERCEPTUAL is that small payload edits flip at
    * most the bits of the frames they touch, so near-identical audio
    * lands within a small Hamming distance (planted-pair spec) and
    * the existing banded-Hamming machinery (mm_phash_pairs) applies
    * unchanged. Map-only over the corpus; the oracle recomputes the
    * energies arithmetically from the text WITHOUT byte-parsing, so
    * the hash-match independently checks the byte-level parse.
    */
  val audioHash = Q(
    "mm_audio_hash", {
      def energySql(f: Int): String =
        s"coalesce(list_sum(list_transform(string_split(substr(text, ($f * n) // $AudioFrames + 1, " +
          s"((${f + 1} * n) // $AudioFrames) - (($f * n) // $AudioFrames)), ''), " +
          s"c -> CAST(ascii(c) AS BIGINT))), 0)"
      val eCols = (0 until AudioFrames).map(f => s"${energySql(f)} AS e$f").mkString(",\n    ")
      val fpSql = (0 until AudioFrames - 1).map { f =>
        s"(CASE WHEN e${f + 1} > e$f THEN 1 ELSE 0 END << $f)"
      }.mkString(" + ")
      s"""WITH base AS (SELECT doc_id, text, length(text) AS n,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS data_bytes
         |  FROM documents),
         |e AS (
         |  SELECT doc_id, data_bytes,
         |    $eCols
         |  FROM base)
         |SELECT doc_id, data_bytes,
         |  CAST(e0 AS BIGINT) AS energy_first,
         |  CAST(e${AudioFrames - 1} AS BIGINT) AS energy_last,
         |  CAST($fpSql AS BIGINT) AS fingerprint,
         |  CAST(bit_count($fpSql) AS BIGINT) AS n_rising
         |FROM e
         |ORDER BY doc_id""".stripMargin
    }) { (spark, dir) =>
    audioHashOf(Tables.documents(spark, dir).select("doc_id", "text"))
      .orderBy("doc_id")
  }

  /** mm_phash_clusters — perceptual image duplicate CLUSTERS: the
    * mm_phash_pairs edge set resolved to canonical images by the
    * engine's one connected-components implementation (the same
    * pointer-jump loop dd_clusters and dd_embed_clusters use) —
    * completing the multimodal dedup symmetry (pairs → incremental
    * probe → clusters). One row per clustered image with its
    * canonical (cluster-minimum doc id) and cluster size; the oracle
    * composes the pair SQL with the recursive reachability block.
    */
  /** One-time build of the CONTRACTED rep-level near-dup edge set
    * consumed by mm_phash_clusters — the banded Hamming cross join
    * over the hash groups runs once per (session, dir) and is
    * persisted, so the clusters query times component resolution and
    * the doc-level expansion, not a re-run of the pair pipeline
    * already billed to mm_phash_pairs (the same build/serve
    * separation as dd_clusters' duplicateEdges and dd_embed_clusters'
    * embedEdges — this was the one clusters query still re-banding
    * per call). Frame 0: one (rep_a, rep_b) row per connected hash
    * pair; frame 1: the self-connected reps (groups of ≥2 docs).
    */
  private[graft] def phashRepEdges(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : Seq[org.apache.spark.sql.DataFrame] =
    graft.SessionMemo.frames(spark, s"multimodal.phashRepEdges:$dir") {
      val ph = phashTable(spark, dir)
      val groups = ph.groupBy("dhash")
        .agg(min("doc_id").as("rep"), count(lit(1)).as("cnt"))
      val gchunks = phashChunks(groups.select(col("rep").as("doc_id"), col("dhash")))
        .select("dhash", "chunk", "key")
        .join(groups, "dhash")
      // the cap counts DOCS per bucket (the doc-level rule): sum of
      // group sizes, not distinct hashes
      val small = gchunks.groupBy("chunk", "key").agg(sum("cnt").as("bc"))
        .filter(col("bc") <= Dedup.BucketCap).select("chunk", "key")
      val kept = gchunks.join(small, Seq("chunk", "key"))
      val aSide = kept.select(col("chunk"), col("key"),
        col("dhash").as("ha"), col("rep").as("rep_a"))
      val bSide = kept.select(col("chunk"), col("key"),
        col("dhash").as("hb"), col("rep").as("rep_b"))
      val cross = aSide.join(bSide, Seq("chunk", "key"))
        .filter(col("ha") < col("hb"))
        .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= PhashHammingMax)
        .select("rep_a", "rep_b")
        .distinct()
        .persist()
      // a surviving group of >= 2 docs is in the graph even with no
      // cross-hash match (its docs pair with each other at hamming 0)
      val selfConnected = kept.filter(col("cnt") >= 2).select("rep").distinct()
        .persist()
      cross.count()
      selfConnected.count()
      Seq(cross, selfConnected)
    }
  val PhashRepEdges = Build("phash_rep_edges", phashRepEdges)

  val phashClusters = Q(
    "mm_phash_clusters", {
      val pq = phashPairs.oracle.get.replace("ORDER BY doc_a, doc_b", "")
      s"""WITH RECURSIVE pq AS ($pq),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM pq
         |  UNION
         |  SELECT doc_b AS u, doc_a AS v FROM pq
         |),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |)
         |SELECT u AS doc_id, least(u, min(v)) AS canonical_id,
         |  CAST(count(*) FILTER (WHERE v != u) + 1 AS BIGINT) AS cluster_size
         |FROM (SELECT DISTINCT u, v FROM reach)
         |GROUP BY u
         |ORDER BY doc_id""".stripMargin
    }, PhashTable, PhashRepEdges) { (spark, dir) =>
    // HASH-LEVEL CONTRACTION — exactly the doc-level semantics, on a
    // graph |distinct hashes| big instead of |pairs| big: docs sharing
    // a dhash have IDENTICAL bucket membership (the 3 chunk keys are
    // functions of the hash), so a group either survives the cap as a
    // whole (a hamming-0 clique → one representative node) or drops as
    // a whole, and cross-hash connectivity only needs one edge per
    // (hash, hash) pair. The sf10 leg measured 560 M doc-level pair
    // rows feeding the CC loop; the contracted graph is thousands of
    // nodes. Cluster membership, canonical (min doc = min rep, since
    // each rep is its group's min) and sizes expand back by one
    // hash-keyed join against the stored table.
    val ph = phashTable(spark, dir)
    val groups = ph.groupBy("dhash")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("cnt"))
    val Seq(cross, selfConnected) = phashRepEdges(spark, dir)
    val edges = cross.select(col("rep_a").as("u"), col("rep_b").as("v"))
      .union(cross.select(col("rep_b").as("u"), col("rep_a").as("v")))
    val (labels, _) = graft.operators.Dedup.connectedComponents(edges)
    val repLabels = labels.select(col("doc").as("rep"), col("label"))
      .union(selfConnected
        .join(labels.select(col("doc").as("rep")), Seq("rep"), "left_anti")
        .select(col("rep"), col("rep").as("label")))
    // Expand at the HASH level, not the doc level: cluster size is the
    // sum of member-group doc counts (groups already carries cnt), so
    // sizes come from the |hashes|-scale frame and the doc table joins
    // the finished (dhash, label, cluster_size) map ONCE. The previous
    // shape joined docs → labels, re-aggregated the doc frame for
    // sizes, and joined docs AGAIN — two doc-scale shuffles and a
    // doc-scale aggregation that the hash-level contraction (the whole
    // point of this operator) had already made unnecessary.
    val hashLabels = groups.join(repLabels, "rep")
      .select(col("dhash"), col("label"), col("cnt"))
    // cluster_size via a label-partitioned window sum on the hash
    // frame: one hash-scale exchange, no separate aggregate + join
    // back (and no broadcast of the cluster-size frame, whose row
    // count is unbounded at scale — one row per duplicate cluster)
    val sized = hashLabels
      .withColumn("cluster_size",
        sum("cnt").over(org.apache.spark.sql.expressions.Window.partitionBy("label")))
      .select("dhash", "label", "cluster_size")
    ph.join(sized, "dhash")
      .select(col("doc_id"), col("label").as("canonical_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  // ═══════ real-format headers: JPEG (SOF0 scan) + PNG (IHDR + CRC) ═══════

  /** Big-endian encoders (network byte order — JPEG/PNG synthesis). */
  private def be32(v: Column): Column = unhex(lpad(hex(v.cast("long")), 8, "0"))
  private def be16(v: Column): Column = unhex(lpad(hex(v.cast("long")), 4, "0"))

  /** Big-endian reader (1-based byte offset). */
  private def rdbe32(p: Column, off: Int): Column =
    conv(hex(substring(p, off, 4)), 16, 10).cast("long")

  // SOF0 component specs: (id, sampling, quant-table) per component
  private val JpegComps3 = "012200021101031101"
  private val JpegComps1 = "011100"

  /** Minimal structurally-real JPEG: SOI → APP0/JFIF → a COM segment
    * whose LENGTH VARIES per doc (so the parser must walk marker
    * segments, not read a fixed offset) → SOF0 carrying the geometry
    * → EOI. Printable-ASCII COM data keeps 0xFF out of segment
    * payloads, so the SOF0 marker scan is unambiguous (real decoders
    * rely on the same byte-stuffing guarantee inside entropy data).
    */
  private def jpegPayload: Column = {
    val nf = when(col("doc_id") % 4 === 0, lit(3L)).otherwise(lit(1L))
    val comLen = (lit(1L) + col("doc_id") % 40).cast("long")
    val comData = expr("rpad('', CAST(1 + doc_id % 40 AS INT), '.')").cast("binary")
    concat(
      unhex(lit("FFD8")),
      unhex(lit("FFE0")), be16(lit(16L)), unhex(lit("4A46494600")),
      unhex(lit("0101")), unhex(lit("00")), be16(lit(72L)), be16(lit(72L)),
      unhex(lit("0000")),
      unhex(lit("FFFE")), be16(comLen + 2), comData,
      unhex(lit("FFC0")), be16(lit(8L) + lit(3L) * nf), unhex(lit("08")),
      be16(lit(9L) + col("doc_id") % 17), be16(lit(16L) + col("doc_id") % 31),
      unhex(lpad(hex(nf), 2, "0")),
      unhex(when(nf === 3, lit(JpegComps3)).otherwise(lit(JpegComps1))),
      unhex(lit("FFD9")))
  }

  /** Minimal structurally-real PNG: 8-byte signature, IHDR with a
    * REAL CRC-32 over its type+data (Spark's crc32 — the parser
    * recomputes and verifies it), an IDAT chunk carrying the text
    * bytes, and IEND with the canonical constant CRC.
    */
  private def pngPayload: Column = {
    val colorType = when(col("doc_id") % 4 === 1, lit(0L)).otherwise(lit(2L))
    val ihdrBody = concat(bin("IHDR"),
      be32(lit(16L) + col("doc_id") % 31), be32(lit(9L) + col("doc_id") % 17),
      unhex(lit("08")), unhex(lpad(hex(colorType), 2, "0")), unhex(lit("000000")))
    val idatData = col("text").cast("binary")
    val idatBody = concat(bin("IDAT"), idatData)
    concat(
      unhex(lit("89504E470D0A1A0A")),
      be32(lit(13L)), ihdrBody, be32(crc32(ihdrBody)),
      be32(octet_length(idatData).cast("long")), idatBody, be32(crc32(idatBody)),
      be32(lit(0L)), bin("IEND"), unhex(lit("AE426082")))
  }

  /** Mixed-format image header parse — the shape a crawl pipeline
    * actually meets: each doc's payload is a minimal-but-structural
    * JPEG (even doc_id) or PNG (odd), the parser DETECTS the format
    * from the magic bytes and dispatches; JPEG geometry comes from a
    * marker SCAN to SOF0 across a variable-length COM segment (fixed
    * offsets would mis-read any real file), PNG geometry from IHDR's
    * fixed layout plus a recomputed-CRC-32 integrity check. The
    * oracle derives every field arithmetically from doc_id without
    * touching bytes (the mm_meta discipline: the hash match is an
    * independent check of the byte-level parser). Map-only at any
    * scale — one projection over the blob column, no shuffle.
    */
  val codecMeta = Q(
    "mm_codec_meta",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'JPEG' ELSE 'PNG' END AS format,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |    THEN 36 + (1 + doc_id % 40) + 3 * (CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 1 END)
      |    ELSE 57 + octet_length(encode(text)) END AS BIGINT) AS n_bytes,
      |  CAST(16 + doc_id % 31 AS BIGINT) AS width,
      |  CAST(9 + doc_id % 17 AS BIGINT) AS height,
      |  CAST(8 AS BIGINT) AS bit_depth,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN (CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 1 END)
      |       WHEN doc_id % 4 = 1 THEN 1 ELSE 3 END AS BIGINT) AS n_channels,
      |  round(1e-9 + (16 + doc_id % 31) / CAST(9 + doc_id % 17 AS DOUBLE), 6) AS aspect,
      |  TRUE AS header_ok
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val p = col("payload")
    val hx = hex(p)
    val isJpeg = substring(hx, 1, 4) === "FFD8"
    // JPEG: walk to the SOF0 marker, read big-endian fields relative
    // to it (hex-char offsets: marker 4, length 4, precision 2,
    // height 4, width 4, Nf 2)
    val mpos = instr(hx, "FFC0")
    def hexAt(off: Column, len: Int): Column =
      conv(hx.substr(off, lit(len)), 16, 10).cast("long")
    val jH = hexAt(mpos + 10, 4)
    val jW = hexAt(mpos + 14, 4)
    val jDepth = hexAt(mpos + 8, 2)
    val jNf = hexAt(mpos + 18, 2)
    val jOk = isJpeg && hx.substr(length(hx) - 3, lit(4)) === "FFD9" && mpos > 0
    // PNG: IHDR is fixed-layout behind the signature; verify the
    // stored CRC-32 by recomputing it over the parsed type+data range
    val pW = rdbe32(p, 17)
    val pH = rdbe32(p, 21)
    val pDepth = conv(hex(substring(p, 25, 1)), 16, 10).cast("long")
    val pColor = conv(hex(substring(p, 26, 1)), 16, 10).cast("long")
    val pChan = when(pColor === 0, lit(1L)).when(pColor === 2, lit(3L))
      .when(pColor === 6, lit(4L)).otherwise(lit(0L))
    val pOk = substring(hx, 1, 16) === "89504E470D0A1A0A" &&
      crc32(substring(p, 13, 17)) === rdbe32(p, 30)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, jpegPayload).otherwise(pngPayload).as("payload"))
      .select(col("doc_id"),
        when(isJpeg, lit("JPEG")).otherwise(lit("PNG")).as("format"),
        octet_length(p).cast("long").as("n_bytes"),
        when(isJpeg, jW).otherwise(pW).as("width"),
        when(isJpeg, jH).otherwise(pH).as("height"),
        when(isJpeg, jDepth).otherwise(pDepth).as("bit_depth"),
        when(isJpeg, jNf).otherwise(pChan).as("n_channels"),
        round(lit(1e-9) + when(isJpeg, jW).otherwise(pW) /
          when(isJpeg, jH).otherwise(pH).cast("double"), 6).as("aspect"),
        when(isJpeg, jOk).otherwise(pOk).as("header_ok"))
      .orderBy("doc_id")
  }

  val all: Seq[Q] = Seq(meta, frames, resample, image, segments, phashPairs, phashIncremental,
    audioHash, phashClusters, codecMeta)
}
