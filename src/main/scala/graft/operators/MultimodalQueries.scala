package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.MediaBatchProcessor.{ImageFeatures, MediaRow, PpmImage,
  WavAudio, decodePng, decodePpm, encodePng, encodeWav, imageFeatures, resizePngFeatures,
  videoFrameFeatures, wavFeatures, wavWindowFeatures}

/** Multimodal-column plumbing (north-star surface): treat image/audio/video
  * payloads as opaque `binary` columns with typed metadata, and run
  * decode / feature-extract / frame-sample stages over them.
  *
  * The PPM, WAV, PNG, JPEG and MJPEG queries run REAL decode kernels
  * ([[MediaBatchProcessor]], [[JpegKernel]]) one payload at a time in a
  * narrow `map`/`flatMap`; the metadata and byte-slice queries are
  * codegen'd expressions over the binary column. No stage shuffles until
  * an aggregate. Payload bytes are manufactured from `documents.text`
  * (UTF-8) so every stage is reproducible across engines.
  */
object MultimodalQueries {

  /** documents → opaque binary payload + typed metadata struct.
    * STUB: width/height are derived from the byte length, not a real
    * header parse — a production decoder replaces exactly this struct. */
  def withMedia(df: DataFrame): DataFrame = df
    .withColumn("payload", expr("encode(text, 'UTF-8')"))
    .withColumn("meta", struct(
      when(col("doc_id") % 3 === 0, "image/png")
        .when(col("doc_id") % 3 === 1, "audio/wav")
        .otherwise("video/mp4").as("media_type"),
      expr("octet_length(payload)").cast(LongType).as("byte_len"),
      (expr("octet_length(payload)") % 64 + 1).cast(IntegerType).as("width"),
      (expr("octet_length(payload)") % 48 + 1).cast(IntegerType).as("height"),
      lit(3).as("channels")))

  /** The text bytes every payload builder cycles. The mm_wav/png/jpeg
    * oracles model the payload as CHARACTER code points
    * (`unicode(substr(text, …))`) while the builders cycle UTF-8
    * BYTES — identical only when the text is pure ASCII (one byte per
    * char, byte value ≡ code point). Enforce that contract HERE, at the
    * builder, so a non-ASCII document fails loudly at payload time
    * instead of silently diverging from the oracle downstream. The
    * fixture is verified ASCII at every SF. */
  private def asciiBytes(id: Long, t: String): Array[Byte] = {
    var i = 0
    while (i < t.length) {
      if (t.charAt(i) >= 0x80)
        throw new IllegalArgumentException(
          s"doc $id: non-ASCII char U+${t.charAt(i).toInt.toHexString} at " +
            s"index $i — the byte-cycling payload builders and their " +
            "code-point oracles only agree on ASCII text")
      i += 1
    }
    t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** `mm_wav_decode`'s payload builder: the document text
    * deterministically modulates a 2-channel 16-bit PCM signal (per
    * frame k, channel c: u = (byte[(2k+c) mod n] · 517) mod 2¹⁶,
    * sign-decoded as two's complement), written through the canonical
    * RIFF encoder. Empty-text guard: a 0-length doc modulates SILENCE
    * (code 0) instead of throwing ArithmeticException on `% 0` inside
    * the executor map; the oracle's `CASE WHEN n = 0` arm mirrors it. */
  def textToWavRow(id: Long, t: String): MediaRow = {
    val bytes = asciiBytes(id, t)
    val n = bytes.length
    val samples = new Array[Int](64 * 2)
    var k = 0
    while (k < 64) {
      var c = 0
      while (c < 2) {
        val code = if (n == 0) 0 else bytes((2 * k + c) % n) & 0xff
        val u = (code * 517) % 65536
        samples(k * 2 + c) = if (u >= 32768) u - 65536 else u
        c += 1
      }
      k += 1
    }
    MediaRow(id, encodeWav(WavAudio(numChannels = 2, sampleRate = 8000,
      bitsPerSample = 16, samples)), "audio/wav")
  }

  /** `mm_png_decode`'s payload builder: the document's UTF-8 bytes fill
    * an 8×8 RGB raster cyclically (raster byte i = text byte i mod n;
    * SILENCE — byte 0 — for an empty doc, mirroring the WAV guard), then
    * the canonical PNG writer compresses it for real: per-row filters
    * cycling None/Sub/Up/Average/Paeth, zlib DEFLATE, CRC32-stamped
    * chunks. The decode side must therefore walk chunks, verify CRCs,
    * INFLATE, and reverse all five filters to get the pixels back. */
  def textToPngRow(id: Long, t: String): MediaRow =
    textToPngRowSized(id, t, 8, 8)

  /** Size-parameterized PNG payload builder (same byte-cycled raster
    * model at any w×h — `mm_resize_real` feeds 16×16 so a 2× box
    * downsample lands on an aHash-able 8×8). */
  def textToPngRowSized(id: Long, t: String, w: Int, h: Int): MediaRow = {
    val bytes = asciiBytes(id, t)
    val n = bytes.length
    val raster = new Array[Byte](w * h * 3)
    var i = 0
    while (i < raster.length) {
      raster(i) = if (n == 0) 0 else bytes(i % n); i += 1
    }
    MediaRow(id, encodePng(PpmImage(w, h, 255, raster)), "image/png")
  }

  /** The shared 16×16 flat-block raster model every JPEG fixture uses:
    * block bi (row-major, offset by `blockBase`) takes RGB from text
    * bytes (3bi, 3bi+1, 3bi+2) mod n — SILENCE for empty text. */
  private def flatBlockRaster(bytes: Array[Byte],
      blockBase: Int): Array[Byte] = {
    val n = bytes.length
    def tb(i: Int): Int = if (n == 0) 0 else bytes(i % n) & 0xff
    val raster = new Array[Byte](16 * 16 * 3)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val bi = blockBase + (y / 8) * 2 + x / 8
        val p = (y * 16 + x) * 3
        raster(p) = tb(3 * bi).toByte
        raster(p + 1) = tb(3 * bi + 1).toByte
        raster(p + 2) = tb(3 * bi + 2).toByte
        x += 1
      }
      y += 1
    }
    raster
  }

  /** `mm_jpeg_decode`'s payload builder: a 16×16 raster of four FLAT
    * 8×8 blocks — block bi (row-major: by·2+bx) takes RGB from text
    * bytes (3bi, 3bi+1, 3bi+2) mod n (SILENCE for empty text) — pushed
    * through the conforming baseline encoder (4:4:4 MCUs, Annex K
    * Huffman tables, byte stuffing). Flat blocks make the
    * DCT→quantize→dequantize→IDCT chain LOSSLESS (DC-only, quantizer
    * divides exactly), so the decoded pixels are the exact integer
    * rgb→ycc→rgb fixed-point model the SQL oracle re-derives — while
    * the decoder still runs the real general machinery: marker walk,
    * DQT/DHT parse, canonical Huffman decode, DC prediction across the
    * four MCUs, dequant, full IDCT, color reconstruction. */
  def textToJpegRow(id: Long, t: String): MediaRow = MediaRow(id,
    JpegKernel.encodeJpeg(PpmImage(16, 16, 255,
      flatBlockRaster(asciiBytes(id, t), 0))), "image/jpeg")

  /** `mm_jpeg_progressive`'s payload builder (round 14): the SAME
    * 16×16 flat-block raster as [[textToJpegRow]] through the
    * PROGRESSIVE (SOF2) encoder — 8 scans: DC at Al=1, DC refinement,
    * per-component AC first pass (pure EOB runs on flat blocks → the
    * decoder's EOBn>1 path), per-component AC refinement. Progressive
    * reorders the same quantized coefficients, so the decoded pixels —
    * and therefore the oracle — are IDENTICAL to the baseline fixture's
    * (MediaBatchSpec pins the equality on non-flat rasters too). */
  def textToJpegProgressiveRow(id: Long, t: String): MediaRow = MediaRow(id,
    JpegKernel.encodeJpegProgressive(PpmImage(16, 16, 255,
      flatBlockRaster(asciiBytes(id, t), 0))), "image/jpeg")

  /** A 4-frame MJPEG stream, each frame a 16×16 flat-block JPEG from
    * `encode` — frame f's block bi takes RGB from text bytes
    * (3·(4f+bi) .. 3·(4f+bi)+2) mod n, so every frame differs and the
    * oracle re-derives all of them. */
  private def mjpegRow(id: Long, t: String,
      encode: PpmImage => Array[Byte]): MediaRow = {
    val bytes = asciiBytes(id, t)
    val out = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < 4) {
      val frame = encode(PpmImage(16, 16, 255, flatBlockRaster(bytes, 4 * f)))
      out.write(frame, 0, frame.length)
      f += 1
    }
    MediaRow(id, out.toByteArray, "video/x-motion-jpeg")
  }

  /** `mm_video_frames`' payload builder: [[mjpegRow]] through the
    * baseline encoder. Same flat-block losslessness contract as
    * [[textToJpegRow]]. */
  def textToMjpegRow(id: Long, t: String): MediaRow =
    mjpegRow(id, t, JpegKernel.encodeJpeg)

  /** `mm_video_frames_dri`'s payload builder (round 14): the SAME
    * 4-frame MJPEG content as [[textToMjpegRow]], but every frame
    * carries a DRI restart interval of 2 MCUs — an RST marker splits
    * each frame's entropy data mid-stream (DC predictors reset, marker
    * sequence checked), the standard camera/MJPEG resync structure.
    * Same decoded pixels, so the oracle is mm_video_frames' verbatim;
    * the frame SPLITTER must additionally pass RSTn markers inside
    * entropy data without mistaking them for boundaries. */
  def textToMjpegDriRow(id: Long, t: String): MediaRow =
    mjpegRow(id, t, JpegKernel.encodeJpegDri(_, restartInterval = 2))

  /** `mm_jpeg420_decode`'s payload builder: a GRAYSCALE 16×16 raster
    * (four flat blocks, block bi = text byte bi mod n) through the
    * 4:2:0 encoder. Gray makes the subsampled layout LOSSLESS: r=g=b=v
    * → y = (256v)>>8 = v exactly and cb = cr = 128, so the half-res
    * chroma planes are flat and every decoded pixel equals v — the
    * decoder's subsampled MCU structure (four Y blocks + one block per
    * chroma per MCU) and replication upsample are verified bit-for-bit
    * by the oracle. */
  def textToJpeg420Row(id: Long, t: String): MediaRow = {
    val bytes = asciiBytes(id, t)
    val n = bytes.length
    def tb(i: Int): Int = if (n == 0) 0 else bytes(i % n) & 0xff
    val raster = new Array[Byte](16 * 16 * 3)
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val v = tb((y / 8) * 2 + x / 8).toByte
        val p = (y * 16 + x) * 3
        raster(p) = v; raster(p + 1) = v; raster(p + 2) = v
        x += 1
      }
      y += 1
    }
    MediaRow(id, JpegKernel.encodeJpeg420(PpmImage(16, 16, 255, raster)),
      "image/jpeg")
  }

  /** The documents source for the CODEC-heavy mm queries, scan-spread
    * (round 14, guide §2.5): the fixture is ONE single-row-group parquet
    * file, so the scan is one task and the JPEG/PNG encode+decode
    * kernels — the heaviest per-row work on the board — ran on ONE core
    * regardless of session size. [[Layout.spread]] round-robins the
    * tiny (doc_id, text) rows across the session's parallelism first;
    * on a real multi-split corpus it is the identity. Applied ONLY to
    * the real-codec paths (jpeg/png/resize/phash tiers): the final
    * bench showed the exchange costs ~0.1–0.3 s, a net LOSS for the
    * cheap byte-slice/metadata queries (mm_wav_*, mm_dedup_bytes,
    * mm_frame_sample, … 0.13 s → 0.41 s), which therefore read the
    * plain scan. */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    Layout.spread(Tables(s, dir, "documents"))

  /** The perceptual near-dup audit over decoded-image features: the
    * 64-bit aHash splits into four 16-bit LSH bands, candidates share
    * ≥1 band (equi-join, never all-pairs), band buckets over 1000
    * members are dropped (the dedup_minhash_lsh cap — a perceptual
    * bucket is SEMANTIC, e.g. near-uniform images all land together,
    * so the cap is what keeps bucket² bounded at 100 TB), merge-pinned
    * self-join, then the integer Hamming verify: every candidate with
    * its distance and the ≤ 8 near-dup verdict. */
  private def aHashNearDupAudit(feats: Dataset[ImageFeatures]): DataFrame = {
    val sig = feats.select(col("doc_id"),
      (col("ahash_lo") % 65536).as("b0"),
      expr("ahash_lo div 65536").as("b1"),
      (col("ahash_hi") % 65536).as("b2"),
      expr("ahash_hi div 65536").as("b3"),
      col("ahash_hi"), col("ahash_lo"))
    val bands = sig.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("bi", "bv")))
    val underCap = bands.groupBy("bi", "bv")
      .agg(count(lit(1)).as("n")).filter(col("n") <= 1000)
      .select("bi", "bv")
    val capped = bands.join(underCap.hint("merge"), Seq("bi", "bv"))
    val cand = capped.as("x").join(capped.hint("merge").as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val ha = sig.select(col("doc_id").as("a"),
      col("ahash_hi").as("hi_a"), col("ahash_lo").as("lo_a"))
    val hb = sig.select(col("doc_id").as("b"),
      col("ahash_hi").as("hi_b"), col("ahash_lo").as("lo_b"))
    cand.join(ha, "a").join(hb, "b")
      .select(col("a"), col("b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long")
          .as("hamming"))
      .withColumn("near_dup", col("hamming") <= 8)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary ingest + metadata extraction — the oracle-checkable slice
    // (byte length and media-type routing are exact integer/string logic).
    "mm_binary_meta" -> { (s, dir) =>
      withMedia(Tables(s, dir, "documents")).select(
        col("doc_id"),
        col("meta.media_type").as("media_type"),
        col("meta.byte_len").as("byte_len"),
        col("meta.width").as("width"),
        col("meta.height").as("height"))
    },
    // Content-addressed exact media dedup: identical payload bytes →
    // one keeper (min doc_id). The digest group-by is ONE shuffle keyed
    // on md5(payload) — at 100 TB the shuffle carries 16-byte digests,
    // never the blobs, and a byte_len pre-group can prune further. This
    // is the byte-exact tier of media dedup (perceptual hashing needs
    // the decode kernel this container stubs).
    "mm_dedup_bytes" -> { (s, dir) =>
      withMedia(Tables(s, dir, "documents"))
        .groupBy(md5(col("payload")).as("payload_md5"))
        .agg(min("doc_id").as("keep_id"),
          count(lit(1)).as("n_copies"),
          min("meta.byte_len").as("byte_len"))
    },
    // STUBBED decode + feature extraction: 8 deterministic "features" per
    // payload (md5 of byte-range slices, first 8 hex digits as an
    // integer — stands in for pixel statistics). md5 exists on both
    // engines, so the features are ORACLE-exact: DuckDB slices the text
    // by chars where Spark slices the payload by bytes, identical on the
    // ASCII fixture. Features are scalar columns f0..f7 (not an array)
    // so the driver's row-sort comparator can order cells; the schema,
    // batching and partition shape are what this query exercises.
    "mm_feature_extract" -> { (s, dir) =>
      val feats = (0 to 7).map(i => graft.functions.HashFunctions
        .md5_prefix64(expr(s"substr(payload, ${i * 16 + 1}, 16)"), 8)
        .as(s"f$i"))
      withMedia(Tables(s, dir, "documents"))
        .filter(col("meta.media_type") === "image/png")
        .select(col("doc_id") +: feats: _*)
    },
    // Resize stage (STUB): 2:1 downsample in byte space — real resizing
    // swaps in a codec kernel, but the metadata recomputation and the
    // payload-size contract (ceil semantics, channel preservation) are
    // the pipeline-visible behavior, and they're exact integer math.
    // Perceptual near-dup tier of media dedup: a banded 64-bit
    // pHash-STUB (four 16-bit blocks, each the md5 of one payload
    // QUARTER — block-local, so payloads sharing a quarter share that
    // band; a real perceptual hash replaces exactly the block
    // function, the banding/verify plumbing is the production shape).
    // Candidates = pairs sharing ANY band (equi-join on (band, value),
    // NEVER all-pairs — the same LSH discipline as dedup_minhash_lsh;
    // bucket sizes are corpus/2^16 per band plus true near-dups), then
    // the integer Hamming over all four blocks is the verify stage.
    // Emitted as an AUDIT: every candidate with its distance and the
    // ≤16 near-dup verdict, so threshold tuning reads one table.
    "mm_phash_near_dup" -> { (s, dir) =>
      val m = withMedia(Tables(s, dir, "documents"))
      def block(q: Int) = graft.functions.HashFunctions.md5_prefix64(expr(
        s"""substr(payload,
           |  1 + ($q * octet_length(payload)) div 4,
           |  ((${q + 1} * octet_length(payload)) div 4)
           |    - (($q * octet_length(payload)) div 4))""".stripMargin), 4)
      val sig = m.select(col("doc_id"), block(0).as("b0"), block(1).as("b1"),
        block(2).as("b2"), block(3).as("b3"))
      val bands = sig.select(col("doc_id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("bi", "bv")))
      // corpus×4 banded rows per side — merge-pinned like the LSH
      // self-joins (round-9 100x lesson)
      val cand = bands.as("x").join(bands.hint("merge").as("y"),
          col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
      val sa = sig.select(col("doc_id").as("a"), col("b0").as("a0"),
        col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
      val sb = sig.select(col("doc_id").as("b"), col("b0").as("c0"),
        col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
      cand.join(sa, "a").join(sb, "b")
        .select(col("a"), col("b"),
          (bit_count(col("a0").bitwiseXOR(col("c0"))) +
            bit_count(col("a1").bitwiseXOR(col("c1"))) +
            bit_count(col("a2").bitwiseXOR(col("c2"))) +
            bit_count(col("a3").bitwiseXOR(col("c3")))).cast("long")
            .as("hamming"))
        .withColumn("near_dup", col("hamming") <= 16)
    },
    // REAL decode (no stub): each document becomes a genuine P6 PPM —
    // conforming header + 8×8 RGB raster whose bytes are the text's
    // UTF-8 bytes repeated cyclically — and MediaBatchProcessor's real
    // parser reads the dimensions back OUT OF THE BYTES and runs actual
    // pixel math: integer per-channel means, mean luminance, and a true
    // block-mean average-hash (8×8 grid, threshold vs global mean).
    // Everything is integer division, and the ASCII fixture makes
    // byte j ≡ unicode(char j) in DuckDB, so the WHOLE decode output —
    // hash bits included — is oracle-exact. One narrow map per payload,
    // no shuffle. (The codec-format stub in decodeBatched remains
    // labeled; this path has no stub left.)
    "mm_ppm_decode" -> { (s, dir) =>
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .select(col("doc_id"),
          expr("""encode(concat('P6\n8 8\n255\n',
            | substr(repeat(text, cast(192 div octet_length(text) as int) + 1),
            |        1, 192)), 'UTF-8')""".stripMargin).as("payload"),
          lit("image/ppm").as("media_type"))
        .as[MediaRow]
      media.map(m => imageFeatures(m.doc_id, decodePpm(m.payload))).toDF()
    },
    // REAL WAV decode (round 10): each document's text deterministically
    // modulates a 2-channel 16-bit PCM signal (per frame k, channel c:
    // u = (byte[(2k+c) mod n] · 517) mod 2¹⁶, sign-decoded as two's
    // complement — the ·517 spreads ASCII codes across the full signed
    // range so negative samples and the sign logic are genuinely
    // exercised); the payload is a complete RIFF container from the
    // canonical writer (binary little-endian header fields are not SQL-
    // literal-able the way PPM's ASCII header was), and the kernel
    // re-derives EVERY output — channel count, rate, bit depth, frame
    // count, per-channel sum/peak/energy — from the container bytes via
    // the chunk-walking parser. Narrow map, no shuffle.
    "mm_wav_decode" -> { (s, dir) =>
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToWavRow(id, t) }
      media.map(m => wavFeatures(m.doc_id, m.payload)).toDF()
    },
    // REAL windowed audio analysis (round 13): the text-modulated PCM
    // payload is decoded by the RIFF kernel and channel 0 is scored in
    // 16-frame windows with the classic speech/music discriminators —
    // zero-crossing count (strict sign change, boundary crossings
    // excluded so windows are independent), Σ|s|, and peak. Exact
    // integers end to end; the oracle rebuilds the same PCM from text
    // and reproduces every cell. Narrow flatMap, window fan-out inside
    // the task.
    "mm_wav_features" -> { (s, dir) =>
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToWavRow(id, t) }
      media.flatMap(m => wavWindowFeatures(m.doc_id, m.payload)).toDF()
    },
    // REAL PNG decode (round 12) — the first COMPRESSED format: the
    // payload is a conforming PNG (zlib-deflated scanlines, all five
    // filter types across the 8 rows, CRC32-checked chunks) built by the
    // canonical writer, and the kernel re-derives EVERYTHING from the
    // container bytes: signature check, chunk walk with CRC verify,
    // IHDR dimensions, Inflater decompress, per-row unfilter
    // (None/Sub/Up/Average/Paeth), then the shared integer pixel math
    // (channel means, luminance, block-mean aHash). The raster equals
    // mm_ppm_decode's byte-cycled 8×8, so the oracle is the same exact
    // pixel arithmetic — if inflate or any filter reversal were wrong,
    // every mean and hash bit would diverge. Narrow map.
    "mm_png_decode" -> { (s, dir) =>
      import s.implicits._
      val media = docsSpread(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToPngRow(id, t) }
      media.map(m => imageFeatures(m.doc_id, decodePng(m.payload))).toDF()
    },
    // REAL-pixel perceptual near-dup (round 12) — the tier the
    // mm_phash_near_dup stub documented as "needs the decode kernel":
    // the signature is now the TRUE block-mean average-hash of decoded
    // PNG pixels (inflate + unfilter + integer luminance via the
    // mm_png_decode kernel), not an md5 relabel, then the banded LSH
    // audit of [[aHashNearDupAudit]].
    "mm_phash_png" -> { (s, dir) =>
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToPngRow(id, t) }
      aHashNearDupAudit(
        media.map(m => imageFeatures(m.doc_id, decodePng(m.payload))))
    },
    // REAL baseline JPEG decode (round 13 — the LAST contract-only image
    // codec retired): the payload is a conforming SOF0 JPEG from the
    // canonical encoder and the kernel re-derives EVERYTHING from the
    // container bytes — marker walk, DQT/DHT parse, canonical Huffman
    // decode with byte unstuffing, DC prediction across MCUs, dequant,
    // full 8×8 IDCT, fixed-point YCbCr→RGB — then the shared integer
    // pixel math. The fixture's flat blocks make the transform chain
    // lossless (see textToJpegRow), so every output — hash bits
    // included — is oracle-exact. Narrow map, no shuffle.
    "mm_jpeg_decode" -> { (s, dir) =>
      import s.implicits._
      val media = docsSpread(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToJpegRow(id, t) }
      media.map(m => imageFeatures(m.doc_id, JpegKernel.decodeJpeg(m.payload)))
        .toDF()
    },
    // REAL PROGRESSIVE JPEG decode (round 14 — the dominant web-scraped
    // encoding, previously a documented loud failure): the payload is a
    // conforming SOF2 stream (8 scans: DC successive approximation +
    // refinement, per-component AC spectral bands + refinement, EOBn
    // run codes) and the decoder accumulates every scan into the
    // coefficient buffers before one shared reconstruction. Progressive
    // reorders the same quantized coefficients as baseline, so the
    // flat-block fixture stays LOSSLESS and the oracle is
    // mm_jpeg_decode's integer model verbatim — a wrong scan-
    // accumulation order, EOB-run miscount, or refinement-bit slip
    // diverges every mean and hash bit.
    "mm_jpeg_progressive" -> { (s, dir) =>
      import s.implicits._
      val media = docsSpread(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToJpegProgressiveRow(id, t) }
      media.map(m => imageFeatures(m.doc_id, JpegKernel.decodeJpeg(m.payload)))
        .toDF()
    },
    // REAL 4:2:0 JPEG decode (round 13) — the DOMINANT real-world JPEG
    // layout: the payload's Y component samples at 2×2 (four Y blocks
    // per MCU) with half-resolution chroma, and the decoder walks the
    // interleaved subsampled MCU structure and replication-upsamples
    // the chroma planes. The grayscale flat-block fixture makes the
    // whole chain lossless (see textToJpeg420Row), so every mean and
    // hash bit is oracle-exact — a wrong block-to-plane mapping or a
    // broken upsample diverges all of them.
    "mm_jpeg420_decode" -> { (s, dir) =>
      import s.implicits._
      val media = docsSpread(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToJpeg420Row(id, t) }
      media.map(m => imageFeatures(m.doc_id, JpegKernel.decodeJpeg(m.payload)))
        .toDF()
    },
    // REAL video-frame decode (round 13 — the last contract-only media
    // stub retired; mm_frame_sample's offset arithmetic remains as the
    // sampling-plumbing demo): the payload is an MJPEG stream — four
    // back-to-back baseline JPEGs, a genuine video format — and the
    // kernel SPLITS it by exact marker/entropy walk (byte stuffing
    // respected, no offset heuristics), then fully decodes EVERY frame
    // (Huffman, dequant, IDCT, YCbCr→RGB) into per-frame pixel stats.
    // Frame count and dimensions come from the bytes. One doc → 4 rows.
    "mm_video_frames" -> { (s, dir) =>
      import s.implicits._
      val media = docsSpread(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToMjpegRow(id, t) }
      media.flatMap(m => videoFrameFeatures(m.doc_id, m.payload)).toDF()
    },
    // MJPEG with RESTART INTERVALS (round 14): same 4-frame content as
    // mm_video_frames, but every frame carries DRI=2 and an RSTn marker
    // mid-entropy — the standard IP-camera output. The splitter must
    // pass restart markers without mistaking them for frame boundaries
    // and the decoder must resync (marker sequence checked, DC
    // predictors reset). Same decoded pixels → mm_video_frames' oracle
    // verbatim; a splitter that broke on RSTn would change the row
    // count, a resync error every mean after the marker.
    "mm_video_frames_dri" -> { (s, dir) =>
      import s.implicits._
      val media = docsSpread(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToMjpegDriRow(id, t) }
      media.flatMap(m => videoFrameFeatures(m.doc_id, m.payload)).toDF()
    },
    // Perceptual near-dup over REAL decoded JPEG pixels (round 13) —
    // the mm_phash_png discipline applied to the dominant real-corpus
    // image format: full baseline decode (Huffman/dequant/IDCT/YCbCr)
    // → block-mean aHash → the same [[aHashNearDupAudit]]. Never
    // all-pairs; the sketch join carries 8-byte band values.
    "mm_phash_jpeg" -> { (s, dir) =>
      import s.implicits._
      val media = docsSpread(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToJpegRow(id, t) }
      aHashNearDupAudit(media.map(m =>
        imageFeatures(m.doc_id, JpegKernel.decodeJpeg(m.payload))))
    },
    // REAL image resize (round 13 — the retired mm_resize_stub computed
    // new dims from METADATA; this touches every pixel): each document
    // becomes a 16×16 byte-cycled PNG through the canonical writer, the
    // kernel decodes it (chunk walk, CRC, inflate, unfilter), then
    // box-downsamples the REAL raster 2× — output pixel = floor(mean of
    // its 2×2 source block), per channel, exact integer math — and
    // featurizes the RESIZED 8×8 (channel means, luminance, block-mean
    // aHash). The oracle re-runs the identical tap sums on the
    // byte-cycled source model, so every output — hash bits included —
    // is decode+resize-exact. Narrow map, no shuffle.
    "mm_resize_real" -> { (s, dir) =>
      import s.implicits._
      val media = docsSpread(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) => textToPngRowSized(id, t, 16, 16) }
      media.map(m => resizePngFeatures(m.doc_id, m.payload, factor = 2)).toDF()
    },
    // Frame sampling for "video" payloads: every k-th 32-byte frame —
    // the mapping (frame index → byte offsets) is the real plumbing a
    // frame sampler needs; the frame "content" is the raw slice hash.
    "mm_frame_sample" -> { (s, dir) =>
      withMedia(Tables(s, dir, "documents"))
        .filter(col("meta.media_type") === "video/mp4")
        .select(col("doc_id"), col("meta.byte_len").as("byte_len"),
          posexplode(expr(
            """transform(sequence(0, cast((meta.byte_len - 1) div 96 as int)),
              | f -> cast(f * 96 as bigint))""".stripMargin)))
        .withColumnRenamed("pos", "frame_no")
        .withColumnRenamed("col", "frame_offset")
        .select("doc_id", "frame_no", "frame_offset")
    },
    // Overlapping windowed segmentation for "audio" payloads: 64-byte
    // windows on a 48-byte hop (25% overlap) — the STFT-style framing a
    // feature extractor consumes. Offsets/lengths are exact integer
    // math; the window "signal" is the md5 of the byte slice (ASCII
    // fixture ⇒ byte slice ≡ char slice in the oracle). The window
    // arithmetic stays OUT of the lambda (hop math only) so the payload
    // is not re-sliced per element beyond the one substr each.
    "mm_audio_windows" -> { (s, dir) =>
      withMedia(Tables(s, dir, "documents"))
        .filter(col("meta.media_type") === "audio/wav")
        .select(col("doc_id"), col("payload"), col("meta.byte_len").as("byte_len"),
          posexplode(expr(
            """transform(sequence(0, cast((meta.byte_len - 1) div 48 as int)),
              | w -> cast(w * 48 as bigint))""".stripMargin)))
        .withColumnRenamed("pos", "win_no")
        .withColumnRenamed("col", "win_offset")
        .withColumn("win_len", least(lit(64L), col("byte_len") - col("win_offset")))
        .withColumn("win_md5",
          md5(expr("substr(payload, win_offset + 1, 64)")))
        .select("doc_id", "win_no", "win_offset", "win_len", "win_md5")
    })

  private val baseOracles: Map[String, String] = Map(
    "mm_feature_extract" -> {
      val feats = (0 to 7).map(i =>
        s"('0x' || substr(md5(substr(text, ${i * 16 + 1}, 16)), 1, 8))::BIGINT AS f$i")
        .mkString(",\n ")
      s"""SELECT doc_id,
         | $feats
         |FROM documents WHERE doc_id % 3 = 0""".stripMargin
    },
    "mm_binary_meta" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |      WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |      ELSE 'video/mp4' END AS media_type,
        | CAST(strlen(text) AS BIGINT) AS byte_len,
        | CAST(strlen(text) % 64 + 1 AS INT) AS width,
        | CAST(strlen(text) % 48 + 1 AS INT) AS height
        |FROM documents""".stripMargin,
    // text quarters by CHARS where Spark slices payload BYTES —
    // identical on the ASCII fixture (same note as mm_feature_extract)
    "mm_phash_near_dup" ->
      """WITH m AS (SELECT doc_id, text FROM documents),
        |sig AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5(substr(text, 1 + (0*strlen(text))//4,
        |    (1*strlen(text))//4 - (0*strlen(text))//4)),1,4))::BIGINT AS b0,
        |  ('0x' || substr(md5(substr(text, 1 + (1*strlen(text))//4,
        |    (2*strlen(text))//4 - (1*strlen(text))//4)),1,4))::BIGINT AS b1,
        |  ('0x' || substr(md5(substr(text, 1 + (2*strlen(text))//4,
        |    (3*strlen(text))//4 - (2*strlen(text))//4)),1,4))::BIGINT AS b2,
        |  ('0x' || substr(md5(substr(text, 1 + (3*strlen(text))//4,
        |    (4*strlen(text))//4 - (3*strlen(text))//4)),1,4))::BIGINT AS b3
        | FROM m),
        |bands AS (
        | SELECT doc_id, 0 AS bi, b0 AS bv FROM sig
        | UNION ALL SELECT doc_id, 1, b1 FROM sig
        | UNION ALL SELECT doc_id, 2, b2 FROM sig
        | UNION ALL SELECT doc_id, 3, b3 FROM sig),
        |cand AS (
        | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        | FROM bands x JOIN bands y
        |  ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id)
        |SELECT a, b,
        | CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
        |    + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
        |   AS BIGINT) AS hamming,
        | (CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
        |     + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
        |    AS BIGINT) <= 16) AS near_dup
        |FROM cand
        |JOIN sig sa ON sa.doc_id = a
        |JOIN sig sb ON sb.doc_id = b""".stripMargin,
    // md5 over VARCHAR hashes its UTF-8 bytes — the same bytes Spark's
    // md5 sees on the encoded payload column
    "mm_dedup_bytes" ->
      """SELECT md5(text) AS payload_md5, MIN(doc_id) AS keep_id,
        | CAST(COUNT(*) AS BIGINT) AS n_copies,
        | CAST(MIN(strlen(text)) AS BIGINT) AS byte_len
        |FROM documents GROUP BY 1""".stripMargin,
    // pixel j (0-based, row-major; 8×8 image so block ≡ pixel) has
    // channel bytes text[(3j+c) mod n]; unicode() = byte value on the
    // ASCII fixture. Integer luminance (2R+5G+B)//8; hash bit k set
    // when lum_k > (Σlum)//64, split into non-negative 32-bit halves.
    "mm_ppm_decode" ->
      """WITH px AS (
        | SELECT doc_id, k,
        |  unicode(substr(text, CAST((3*k) % n AS INT) + 1, 1)) AS r,
        |  unicode(substr(text, CAST((3*k+1) % n AS INT) + 1, 1)) AS g,
        |  unicode(substr(text, CAST((3*k+2) % n AS INT) + 1, 1)) AS b
        | FROM (SELECT doc_id, text, strlen(text) AS n,
        |        unnest(range(0, 64)) AS k
        |       FROM documents)),
        |lm AS (SELECT doc_id, k, r, g, b, (2*r + 5*g + b) // 8 AS l FROM px),
        |st AS (
        | SELECT doc_id, SUM(r) // 64 AS mean_r, SUM(g) // 64 AS mean_g,
        |        SUM(b) // 64 AS mean_b, SUM(l) // 64 AS lum_mean
        | FROM lm GROUP BY doc_id)
        |SELECT lm.doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        | CAST(ANY_VALUE(st.mean_r) AS BIGINT) AS mean_r,
        | CAST(ANY_VALUE(st.mean_g) AS BIGINT) AS mean_g,
        | CAST(ANY_VALUE(st.mean_b) AS BIGINT) AS mean_b,
        | CAST(ANY_VALUE(st.lum_mean) AS BIGINT) AS lum_mean,
        | CAST(SUM(CASE WHEN lm.l > st.lum_mean AND lm.k >= 32
        |          THEN 1::BIGINT << CAST(lm.k - 32 AS INT) ELSE 0 END)
        |   AS BIGINT) AS ahash_hi,
        | CAST(SUM(CASE WHEN lm.l > st.lum_mean AND lm.k < 32
        |          THEN 1::BIGINT << CAST(lm.k AS INT) ELSE 0 END)
        |   AS BIGINT) AS ahash_lo
        |FROM lm JOIN st ON st.doc_id = lm.doc_id
        |GROUP BY lm.doc_id""".stripMargin,
    // channel-0 PCM rebuilt from text (the mm_wav_decode model), then
    // lag() inside (doc, window) partitions counts strict sign changes
    "mm_wav_features" ->
      """WITH sm AS (
        | SELECT doc_id, k,
        |  (CASE WHEN n = 0 THEN 0
        |        ELSE unicode(substr(text,
        |               CAST((2*k) % greatest(n, 1) AS INT) + 1, 1))
        |   END * 517) % 65536 AS u
        | FROM (SELECT doc_id, text, strlen(text) AS n,
        |        unnest(range(0, 64)) AS k FROM documents)),
        |sg AS (SELECT doc_id, k, CAST(k // 16 AS INT) AS win_no,
        |        CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s FROM sm),
        |lg AS (
        | SELECT doc_id, win_no, s,
        |  lag(s) OVER (PARTITION BY doc_id, win_no ORDER BY k) AS prev
        | FROM sg)
        |SELECT doc_id, win_no,
        | CAST(COUNT(*) AS BIGINT) AS n_samples,
        | CAST(SUM(CASE WHEN prev IS NOT NULL
        |           AND ((prev < 0) != (s < 0)) THEN 1 ELSE 0 END)
        |   AS BIGINT) AS zcr,
        | CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
        | CAST(MAX(abs(s)) AS BIGINT) AS peak
        |FROM lg GROUP BY doc_id, win_no""".stripMargin,
    // the oracle rebuilds the PCM signal straight from text (ASCII
    // fixture ⇒ unicode(char) ≡ payload byte) and aggregates the same
    // exact integers the kernel computes from the decoded container
    "mm_wav_decode" ->
      """WITH sm AS (
        | SELECT doc_id, k, c,
        |  (CASE WHEN n = 0 THEN 0
        |        ELSE unicode(substr(text,
        |               CAST((2*k + c) % greatest(n, 1) AS INT) + 1, 1))
        |   END * 517) % 65536 AS u
        | FROM (SELECT doc_id, text, strlen(text) AS n,
        |        unnest(range(0, 64)) AS k FROM documents) t,
        |      (SELECT unnest(range(0, 2)) AS c) cc),
        |sg AS (SELECT doc_id, c,
        |        CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s FROM sm)
        |SELECT doc_id,
        | CAST(2 AS INT) AS n_channels,
        | CAST(8000 AS INT) AS sample_rate,
        | CAST(16 AS INT) AS bits_per_sample,
        | CAST(64 AS BIGINT) AS n_frames,
        | CAST(SUM(CASE WHEN c = 0 THEN s ELSE 0 END) AS BIGINT) AS sum_ch0,
        | CAST(SUM(CASE WHEN c = 1 THEN s ELSE 0 END) AS BIGINT) AS sum_ch1,
        | CAST(MAX(CASE WHEN c = 0 THEN abs(s) ELSE 0 END) AS BIGINT) AS peak_ch0,
        | CAST(MAX(CASE WHEN c = 1 THEN abs(s) ELSE 0 END) AS BIGINT) AS peak_ch1,
        | CAST(SUM(CASE WHEN c = 0 THEN s * s ELSE 0 END) AS BIGINT) AS energy_ch0,
        | CAST(SUM(CASE WHEN c = 1 THEN s * s ELSE 0 END) AS BIGINT) AS energy_ch1
        |FROM sg GROUP BY doc_id""".stripMargin,
    // identical pixel model to mm_ppm_decode (raster byte i = text byte
    // i mod n) plus the empty-text SILENCE arm; if the Spark side's
    // inflate/unfilter were wrong, every aggregate here would diverge
    "mm_png_decode" ->
      """WITH px AS (
        | SELECT doc_id, k,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*k) % greatest(n, 1) AS INT) + 1, 1)) END AS r,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*k+1) % greatest(n, 1) AS INT) + 1, 1)) END AS g,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*k+2) % greatest(n, 1) AS INT) + 1, 1)) END AS b
        | FROM (SELECT doc_id, text, strlen(text) AS n,
        |        unnest(range(0, 64)) AS k
        |       FROM documents)),
        |lm AS (SELECT doc_id, k, r, g, b, (2*r + 5*g + b) // 8 AS l FROM px),
        |st AS (
        | SELECT doc_id, SUM(r) // 64 AS mean_r, SUM(g) // 64 AS mean_g,
        |        SUM(b) // 64 AS mean_b, SUM(l) // 64 AS lum_mean
        | FROM lm GROUP BY doc_id)
        |SELECT lm.doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        | CAST(ANY_VALUE(st.mean_r) AS BIGINT) AS mean_r,
        | CAST(ANY_VALUE(st.mean_g) AS BIGINT) AS mean_g,
        | CAST(ANY_VALUE(st.mean_b) AS BIGINT) AS mean_b,
        | CAST(ANY_VALUE(st.lum_mean) AS BIGINT) AS lum_mean,
        | CAST(SUM(CASE WHEN lm.l > st.lum_mean AND lm.k >= 32
        |          THEN 1::BIGINT << CAST(lm.k - 32 AS INT) ELSE 0 END)
        |   AS BIGINT) AS ahash_hi,
        | CAST(SUM(CASE WHEN lm.l > st.lum_mean AND lm.k < 32
        |          THEN 1::BIGINT << CAST(lm.k AS INT) ELSE 0 END)
        |   AS BIGINT) AS ahash_lo
        |FROM lm JOIN st ON st.doc_id = lm.doc_id
        |GROUP BY lm.doc_id""".stripMargin,
    // the aHash CTEs are mm_png_decode's oracle verbatim (same pixel
    // model), then the identical band/cap/join/Hamming SQL
    "mm_phash_png" ->
      """WITH px AS (
        | SELECT doc_id, k,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*k) % greatest(n, 1) AS INT) + 1, 1)) END AS r,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*k+1) % greatest(n, 1) AS INT) + 1, 1)) END AS g,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*k+2) % greatest(n, 1) AS INT) + 1, 1)) END AS b
        | FROM (SELECT doc_id, text, strlen(text) AS n,
        |        unnest(range(0, 64)) AS k
        |       FROM documents)),
        |lm AS (SELECT doc_id, k, (2*r + 5*g + b) // 8 AS l FROM px),
        |st AS (SELECT doc_id, SUM(l) // 64 AS lum_mean FROM lm GROUP BY doc_id),
        |sig AS (
        | SELECT lm.doc_id,
        |  CAST(SUM(CASE WHEN lm.l > st.lum_mean AND lm.k >= 32
        |           THEN 1::BIGINT << CAST(lm.k - 32 AS INT) ELSE 0 END)
        |    AS BIGINT) AS hi,
        |  CAST(SUM(CASE WHEN lm.l > st.lum_mean AND lm.k < 32
        |           THEN 1::BIGINT << CAST(lm.k AS INT) ELSE 0 END)
        |    AS BIGINT) AS lo
        | FROM lm JOIN st ON st.doc_id = lm.doc_id
        | GROUP BY lm.doc_id),
        |bands AS (
        | SELECT doc_id, 0 AS bi, lo % 65536 AS bv FROM sig
        | UNION ALL SELECT doc_id, 1, lo // 65536 FROM sig
        | UNION ALL SELECT doc_id, 2, hi % 65536 FROM sig
        | UNION ALL SELECT doc_id, 3, hi // 65536 FROM sig),
        |capped AS (
        | SELECT b.* FROM bands b
        | JOIN (SELECT bi, bv FROM bands GROUP BY bi, bv
        |       HAVING COUNT(*) <= 1000) u USING (bi, bv)),
        |cand AS (
        | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        | FROM capped x JOIN capped y
        |  ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id)
        |SELECT a, b,
        | CAST(bit_count(xor(sa.hi, sb.hi)) + bit_count(xor(sa.lo, sb.lo))
        |   AS BIGINT) AS hamming,
        | (CAST(bit_count(xor(sa.hi, sb.hi)) + bit_count(xor(sa.lo, sb.lo))
        |   AS BIGINT) <= 8) AS near_dup
        |FROM cand
        |JOIN sig sa ON sa.doc_id = a
        |JOIN sig sb ON sb.doc_id = b""".stripMargin,
    // gray lossless model: decoded pixel = v = text byte (y = (256v)>>8
    // = v, chroma flat 128 → zero color terms); lum of gray v is
    // (2v+5v+v)//8 = v exactly, so the aHash cells carry v directly
    "mm_jpeg420_decode" ->
      """WITH blocks AS (
        | SELECT doc_id, bi,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST(bi % greatest(n, 1) AS INT) + 1, 1)) END AS v
        | FROM (SELECT doc_id, text, strlen(text) AS n,
        |        unnest(range(0, 4)) AS bi FROM documents)),
        |st AS (SELECT doc_id, SUM(v) // 4 AS mv FROM blocks GROUP BY doc_id),
        |cl AS (
        | SELECT b.doc_id, c.k, b.v AS l
        | FROM (SELECT doc_id, k, ((k//8)//4)*2 + (k%8)//4 AS bi
        |       FROM documents, (SELECT unnest(range(0, 64)) AS k) kk) c
        | JOIN blocks b ON b.doc_id = c.doc_id AND b.bi = c.bi),
        |mn AS (SELECT doc_id, SUM(l) // 64 AS m FROM cl GROUP BY doc_id)
        |SELECT cl.doc_id,
        | CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        | CAST(ANY_VALUE(st.mv) AS BIGINT) AS mean_r,
        | CAST(ANY_VALUE(st.mv) AS BIGINT) AS mean_g,
        | CAST(ANY_VALUE(st.mv) AS BIGINT) AS mean_b,
        | CAST(ANY_VALUE(st.mv) AS BIGINT) AS lum_mean,
        | CAST(SUM(CASE WHEN cl.l > mn.m AND cl.k >= 32
        |          THEN 1::BIGINT << CAST(cl.k - 32 AS INT) ELSE 0 END)
        |   AS BIGINT) AS ahash_hi,
        | CAST(SUM(CASE WHEN cl.l > mn.m AND cl.k < 32
        |          THEN 1::BIGINT << CAST(cl.k AS INT) ELSE 0 END)
        |   AS BIGINT) AS ahash_lo
        |FROM cl
        |JOIN mn ON mn.doc_id = cl.doc_id
        |JOIN st ON st.doc_id = cl.doc_id
        |GROUP BY cl.doc_id""".stripMargin,
    // same integer model as mm_jpeg_decode, indexed by the GLOBAL block
    // number 4f+bi so each of the four frames re-derives independently;
    // a frame-splitting error (wrong boundary, dropped frame) changes
    // the row count, a decode error changes every mean
    "mm_video_frames" ->
      """WITH blocks AS (
        | SELECT doc_id, f, bi,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*(4*f+bi)) % greatest(n, 1) AS INT) + 1, 1)) END AS r0,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*(4*f+bi)+1) % greatest(n, 1) AS INT) + 1, 1)) END AS g0,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*(4*f+bi)+2) % greatest(n, 1) AS INT) + 1, 1)) END AS b0
        | FROM (SELECT doc_id, text, strlen(text) AS n,
        |        unnest(range(0, 4)) AS f FROM documents) d,
        |      (SELECT unnest(range(0, 4)) AS bi) bb),
        |ycc AS (
        | SELECT doc_id, f, bi,
        |  (77*r0 + 150*g0 + 29*b0) // 256 AS y,
        |  128 + CAST(floor((-43*r0 - 85*g0 + 128*b0) / 256.0) AS INT) AS cb,
        |  128 + CAST(floor((128*r0 - 107*g0 - 21*b0) / 256.0) AS INT) AS cr
        | FROM blocks),
        |rgb AS (
        | SELECT doc_id, f, bi,
        |  GREATEST(0, LEAST(255,
        |    y + CAST(floor(359*(cr-128) / 256.0) AS INT))) AS r,
        |  GREATEST(0, LEAST(255,
        |    y - CAST(floor((88*(cb-128) + 183*(cr-128)) / 256.0) AS INT))) AS g,
        |  GREATEST(0, LEAST(255,
        |    y + CAST(floor(454*(cb-128) / 256.0) AS INT))) AS b
        | FROM ycc)
        |SELECT doc_id, CAST(f AS INT) AS frame_no,
        | CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        | CAST(SUM(r) // 4 AS BIGINT) AS mean_r,
        | CAST(SUM(g) // 4 AS BIGINT) AS mean_g,
        | CAST(SUM(b) // 4 AS BIGINT) AS mean_b,
        | CAST(SUM((2*r + 5*g + b) // 8) // 4 AS BIGINT) AS lum_mean
        |FROM rgb GROUP BY doc_id, f""".stripMargin,
    // the aHash CTEs are mm_jpeg_decode's oracle (same integer
    // decode model), then the identical band/cap/join/Hamming SQL as
    // mm_phash_png
    "mm_phash_jpeg" ->
      """WITH blocks AS (
        | SELECT doc_id, bi,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*bi) % greatest(n, 1) AS INT) + 1, 1)) END AS r0,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*bi+1) % greatest(n, 1) AS INT) + 1, 1)) END AS g0,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*bi+2) % greatest(n, 1) AS INT) + 1, 1)) END AS b0
        | FROM (SELECT doc_id, text, strlen(text) AS n,
        |        unnest(range(0, 4)) AS bi FROM documents)),
        |ycc AS (
        | SELECT doc_id, bi,
        |  (77*r0 + 150*g0 + 29*b0) // 256 AS y,
        |  128 + CAST(floor((-43*r0 - 85*g0 + 128*b0) / 256.0) AS INT) AS cb,
        |  128 + CAST(floor((128*r0 - 107*g0 - 21*b0) / 256.0) AS INT) AS cr
        | FROM blocks),
        |lm AS (
        | SELECT doc_id, bi,
        |  (2 * GREATEST(0, LEAST(255,
        |     y + CAST(floor(359*(cr-128) / 256.0) AS INT)))
        |   + 5 * GREATEST(0, LEAST(255,
        |     y - CAST(floor((88*(cb-128) + 183*(cr-128)) / 256.0) AS INT)))
        |   + GREATEST(0, LEAST(255,
        |     y + CAST(floor(454*(cb-128) / 256.0) AS INT)))) // 8 AS l
        | FROM ycc),
        |cl AS (
        | SELECT lm.doc_id, c.k, lm.l
        | FROM (SELECT doc_id, k, ((k//8)//4)*2 + (k%8)//4 AS bi
        |       FROM documents, (SELECT unnest(range(0, 64)) AS k) kk) c
        | JOIN lm ON lm.doc_id = c.doc_id AND lm.bi = c.bi),
        |mn AS (SELECT doc_id, SUM(l) // 64 AS m FROM cl GROUP BY doc_id),
        |sig AS (
        | SELECT cl.doc_id,
        |  CAST(SUM(CASE WHEN cl.l > mn.m AND cl.k >= 32
        |           THEN 1::BIGINT << CAST(cl.k - 32 AS INT) ELSE 0 END)
        |    AS BIGINT) AS hi,
        |  CAST(SUM(CASE WHEN cl.l > mn.m AND cl.k < 32
        |           THEN 1::BIGINT << CAST(cl.k AS INT) ELSE 0 END)
        |    AS BIGINT) AS lo
        | FROM cl JOIN mn ON mn.doc_id = cl.doc_id
        | GROUP BY cl.doc_id),
        |bands AS (
        | SELECT doc_id, 0 AS bi, lo % 65536 AS bv FROM sig
        | UNION ALL SELECT doc_id, 1, lo // 65536 FROM sig
        | UNION ALL SELECT doc_id, 2, hi % 65536 FROM sig
        | UNION ALL SELECT doc_id, 3, hi // 65536 FROM sig),
        |capped AS (
        | SELECT b.* FROM bands b
        | JOIN (SELECT bi, bv FROM bands GROUP BY bi, bv
        |       HAVING COUNT(*) <= 1000) u USING (bi, bv)),
        |cand AS (
        | SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        | FROM capped x JOIN capped y
        |  ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id)
        |SELECT a, b,
        | CAST(bit_count(xor(sa.hi, sb.hi)) + bit_count(xor(sa.lo, sb.lo))
        |   AS BIGINT) AS hamming,
        | (CAST(bit_count(xor(sa.hi, sb.hi)) + bit_count(xor(sa.lo, sb.lo))
        |   AS BIGINT) <= 8) AS near_dup
        |FROM cand
        |JOIN sig sa ON sa.doc_id = a
        |JOIN sig sb ON sb.doc_id = b""".stripMargin,
    // the oracle re-derives the decoded raster arithmetically: block bi
    // takes RGB from text bytes (3bi..3bi+2); the fixed-point forward
    // transform (y = (77r+150g+29b)>>8, cb/cr with FLOOR division —
    // DuckDB's `//` TRUNCATES, so the signed divisions use
    // floor(x/256.0)) round-trips losslessly through the flat-block DCT
    // chain, and the inverse transform + clamp gives the exact decoded
    // pixels; means are over 64-pixel flat blocks (Σ·64 // 256 = Σ //
    // 4) and the aHash's 2×2 cells each lie inside one flat block
    // (cell bi = ((k//8)//4)*2 + (k%8)//4). Any error in the kernel's
    // Huffman decode, DC prediction, dequant, IDCT rounding, or color
    // math diverges every aggregate and hash bit.
    "mm_jpeg_decode" ->
      """WITH blocks AS (
        | SELECT doc_id, bi,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*bi) % greatest(n, 1) AS INT) + 1, 1)) END AS r0,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*bi+1) % greatest(n, 1) AS INT) + 1, 1)) END AS g0,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*bi+2) % greatest(n, 1) AS INT) + 1, 1)) END AS b0
        | FROM (SELECT doc_id, text, strlen(text) AS n,
        |        unnest(range(0, 4)) AS bi FROM documents)),
        |ycc AS (
        | SELECT doc_id, bi,
        |  (77*r0 + 150*g0 + 29*b0) // 256 AS y,
        |  128 + CAST(floor((-43*r0 - 85*g0 + 128*b0) / 256.0) AS INT) AS cb,
        |  128 + CAST(floor((128*r0 - 107*g0 - 21*b0) / 256.0) AS INT) AS cr
        | FROM blocks),
        |rgb AS (
        | SELECT doc_id, bi,
        |  GREATEST(0, LEAST(255,
        |    y + CAST(floor(359*(cr-128) / 256.0) AS INT))) AS r,
        |  GREATEST(0, LEAST(255,
        |    y - CAST(floor((88*(cb-128) + 183*(cr-128)) / 256.0) AS INT))) AS g,
        |  GREATEST(0, LEAST(255,
        |    y + CAST(floor(454*(cb-128) / 256.0) AS INT))) AS b
        | FROM ycc),
        |lm AS (SELECT doc_id, bi, r, g, b, (2*r + 5*g + b) // 8 AS l FROM rgb),
        |st AS (
        | SELECT doc_id, SUM(r) // 4 AS mean_r, SUM(g) // 4 AS mean_g,
        |        SUM(b) // 4 AS mean_b, SUM(l) // 4 AS lum_mean
        | FROM lm GROUP BY doc_id),
        |cl AS (
        | SELECT lm.doc_id, c.k, lm.l
        | FROM (SELECT doc_id, k, ((k//8)//4)*2 + (k%8)//4 AS bi
        |       FROM documents, (SELECT unnest(range(0, 64)) AS k) kk) c
        | JOIN lm ON lm.doc_id = c.doc_id AND lm.bi = c.bi),
        |mn AS (SELECT doc_id, SUM(l) // 64 AS m FROM cl GROUP BY doc_id)
        |SELECT cl.doc_id,
        | CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        | CAST(ANY_VALUE(st.mean_r) AS BIGINT) AS mean_r,
        | CAST(ANY_VALUE(st.mean_g) AS BIGINT) AS mean_g,
        | CAST(ANY_VALUE(st.mean_b) AS BIGINT) AS mean_b,
        | CAST(ANY_VALUE(st.lum_mean) AS BIGINT) AS lum_mean,
        | CAST(SUM(CASE WHEN cl.l > mn.m AND cl.k >= 32
        |          THEN 1::BIGINT << CAST(cl.k - 32 AS INT) ELSE 0 END)
        |   AS BIGINT) AS ahash_hi,
        | CAST(SUM(CASE WHEN cl.l > mn.m AND cl.k < 32
        |          THEN 1::BIGINT << CAST(cl.k AS INT) ELSE 0 END)
        |   AS BIGINT) AS ahash_lo
        |FROM cl
        |JOIN mn ON mn.doc_id = cl.doc_id
        |JOIN st ON st.doc_id = cl.doc_id
        |GROUP BY cl.doc_id""".stripMargin,
    // the oracle re-runs decode+resize arithmetically: source pixel
    // p = y*16+x has channel bytes text[(3p+c) mod n] (the byte-cycled
    // builder model; SILENCE for empty text), resized pixel k
    // (X=k%8, Y=k//8) box-averages its four taps (2X+dx, 2Y+dy), then
    // the standard integer means + block-mean aHash over the RESIZED
    // 8×8 — any error in the kernel's inflate, unfilter, tap indexing,
    // or floor division diverges every aggregate and hash bit
    "mm_resize_real" ->
      """WITH taps AS (
        | SELECT doc_id, text, n, k,
        |  (2*(k//8) + dy) * 16 + 2*(k%8) + dx AS p
        | FROM (SELECT doc_id, text, strlen(text) AS n,
        |        unnest(range(0, 64)) AS k FROM documents) t,
        |      (SELECT unnest(range(0, 2)) AS dx) xx,
        |      (SELECT unnest(range(0, 2)) AS dy) yy),
        |tapv AS (
        | SELECT doc_id, k,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*p) % greatest(n, 1) AS INT) + 1, 1)) END AS r,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*p+1) % greatest(n, 1) AS INT) + 1, 1)) END AS g,
        |  CASE WHEN n = 0 THEN 0 ELSE unicode(substr(text,
        |    CAST((3*p+2) % greatest(n, 1) AS INT) + 1, 1)) END AS b
        | FROM taps),
        |px AS (SELECT doc_id, k, SUM(r) // 4 AS r, SUM(g) // 4 AS g,
        |        SUM(b) // 4 AS b
        |       FROM tapv GROUP BY doc_id, k),
        |lm AS (SELECT doc_id, k, r, g, b, (2*r + 5*g + b) // 8 AS l FROM px),
        |st AS (
        | SELECT doc_id, SUM(r) // 64 AS mean_r, SUM(g) // 64 AS mean_g,
        |        SUM(b) // 64 AS mean_b, SUM(l) // 64 AS lum_mean
        | FROM lm GROUP BY doc_id)
        |SELECT lm.doc_id,
        | CAST(16 AS INT) AS src_width, CAST(16 AS INT) AS src_height,
        | CAST(8 AS INT) AS new_width, CAST(8 AS INT) AS new_height,
        | CAST(ANY_VALUE(st.mean_r) AS BIGINT) AS mean_r,
        | CAST(ANY_VALUE(st.mean_g) AS BIGINT) AS mean_g,
        | CAST(ANY_VALUE(st.mean_b) AS BIGINT) AS mean_b,
        | CAST(ANY_VALUE(st.lum_mean) AS BIGINT) AS lum_mean,
        | CAST(SUM(CASE WHEN lm.l > st.lum_mean AND lm.k >= 32
        |          THEN 1::BIGINT << CAST(lm.k - 32 AS INT) ELSE 0 END)
        |   AS BIGINT) AS ahash_hi,
        | CAST(SUM(CASE WHEN lm.l > st.lum_mean AND lm.k < 32
        |          THEN 1::BIGINT << CAST(lm.k AS INT) ELSE 0 END)
        |   AS BIGINT) AS ahash_lo
        |FROM lm JOIN st ON st.doc_id = lm.doc_id
        |GROUP BY lm.doc_id""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id, CAST(x // 96 AS INT) AS frame_no, x AS frame_offset
        |FROM (
        | SELECT doc_id,
        |  unnest([f * 96 for f in range(0, (strlen(text) - 1) // 96 + 1)]) AS x
        | FROM documents WHERE doc_id % 3 = 2) t""".stripMargin,
    "mm_audio_windows" ->
      """SELECT doc_id, CAST(x // 48 AS INT) AS win_no, x AS win_offset,
        | LEAST(64, CAST(strlen(text) AS BIGINT) - x) AS win_len,
        | md5(substr(text, CAST(x AS INT) + 1, 64)) AS win_md5
        |FROM (
        | SELECT doc_id, text,
        |  unnest([w * 48 for w in range(0, (strlen(text) - 1) // 48 + 1)]) AS x
        | FROM documents WHERE doc_id % 3 = 1) t""".stripMargin)

  // progressive scans and restart intervals reorder/resync the SAME
  // quantized coefficients — decoded pixels are identical, so the round-
  // 14 queries share the existing integer oracle models verbatim
  val oracles: Map[String, String] = baseOracles ++ Map(
    "mm_jpeg_progressive" -> baseOracles("mm_jpeg_decode"),
    "mm_video_frames_dri" -> baseOracles("mm_video_frames"))
}
