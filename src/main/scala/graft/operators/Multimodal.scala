package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2.2 ➕): image/audio/video as
  * opaque `binary` columns with typed metadata, plus the decode /
  * feature-extract / frame-sample stages a training pipeline runs over
  * them.
  *
  * The container has no image/audio codec LIBRARIES, so the decode path
  * implements one from the published format spec instead (`BmpCodec` —
  * 24-bit BMP: header parse, little-endian fields, bottom-up rows,
  * 4-byte stride padding, BGR order) and every decode stage runs on
  * REAL bytes; pixel content is a deterministic (x, y, id) pattern so
  * the DuckDB oracles recompute decoded features in closed form. The
  * frame-grain ops (q36/q94/q203) window text-derived payload bytes —
  * real byte work by construction.
  */
object Multimodal {

  /** Synthesize a binary asset table from `documents` (the driver fixtures
    * carry no real media): payload = UTF-8 bytes of the text. Deterministic,
    * so oracles can recompute every derived feature.
    */
  def assetsFromDocuments(documents: DataFrame): DataFrame =
    documents.select(
      $"doc_id".as("asset_id"),
      when($"doc_id" % 3 === 0, "image").when($"doc_id" % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      $"text".cast("binary").as("payload"),
      struct(
        lit("application/octet-stream").as("mime"),
        length($"text".cast("binary")).cast("long").as("n_bytes"),
        md5($"text".cast("binary")).as("checksum")).as("meta"))

  /** REAL image codec over REAL bytes (round 11 — the fake seam is
    * gone): BMP is simple enough to implement from the published format
    * spec with no library, so the decode path exercises everything a
    * codec integration needs — magic/header validation, little-endian
    * field parsing, the bottom-up row order, 4-byte row padding, and
    * BGR byte order. Pixels are a DETERMINISTIC arithmetic pattern of
    * (x, y, asset_id), so the DuckDB oracle can compute every decoded
    * feature in closed form WITHOUT touching bytes — the gate then
    * proves the encoder and parser round-trip real binary exactly
    * (and a hand-written golden file in PipelineSpec pins the format
    * against self-consistent encode/decode bugs).
    */
  object BmpCodec {
    def width(d: Long): Int = 16 + (d * 7 % 48).toInt
    def height(d: Long): Int = 16 + (d * 13 % 32).toInt
    def r(d: Long, x: Int, y: Int): Int = ((3L * x + 5L * y + d) % 256).toInt
    def g(d: Long, x: Int, y: Int): Int = ((7L * x + 11L * y + 2 * d) % 256).toInt
    def b(d: Long, x: Int, y: Int): Int = ((13L * x + 17L * y + 3 * d) % 256).toInt
    def rowBytes(w: Int): Int = (w * 3 + 3) / 4 * 4
    def fileBytes(w: Int, h: Int): Int = 54 + rowBytes(w) * h

    /** 24-bit uncompressed BMP of an arbitrary pixel function — the
      * generalized writer behind `encode` and the q306 thumbnail
      * re-encode. `px(x, y)` returns (r, g, b) top-down.
      */
    def encodePixels(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val stride = rowBytes(w)
      val buf = java.nio.ByteBuffer.allocate(fileBytes(w, h))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(fileBytes(w, h))
        .putShort(0).putShort(0).putInt(54) // data offset
      buf.putInt(40).putInt(w).putInt(h) // positive height = bottom-up
        .putShort(1).putShort(24).putInt(0).putInt(stride * h)
        .putInt(2835).putInt(2835).putInt(0).putInt(0)
      for (y <- (h - 1) to 0 by -1) { // rows stored bottom-up
        for (x <- 0 until w) { // BGR byte order
          val (rr, gg, bb) = px(x, y)
          buf.put(bb.toByte).put(gg.toByte).put(rr.toByte)
        }
        for (_ <- w * 3 until stride) buf.put(0.toByte)
      }
      buf.array()
    }

    /** 24-bit uncompressed BMP of the deterministic pattern. */
    def encode(d: Long): Array[Byte] =
      encodePixels(width(d), height(d), (x, y) => (r(d, x, y), g(d, x, y), b(d, x, y)))

    /** (width, height, Σr, Σg, Σb, Σ(x+1)(y+1)·r). The position-weighted
      * sum makes row ORDER observable: plain channel sums round-trip
      * even under a mirrored-row bug, the weighted sum does not.
      */
    def decode(bytes: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
        "not a BMP payload")
      val dataOffset = buf.getInt(10)
      val w = buf.getInt(18); val h = buf.getInt(22)
      require(buf.getShort(28) == 24 && buf.getInt(30) == 0,
        "decoder supports 24bpp uncompressed only")
      val stride = rowBytes(w)
      var (rs, gs, bs, rw) = (0L, 0L, 0L, 0L)
      for (i <- 0 until h) {
        val y = h - 1 - i // file rows are bottom-up
        val base = dataOffset + i * stride
        for (x <- 0 until w) {
          val bb = bytes(base + 3 * x) & 0xff
          val gg = bytes(base + 3 * x + 1) & 0xff
          val rr = bytes(base + 3 * x + 2) & 0xff
          rs += rr; gs += gg; bs += bb
          rw += (x + 1).toLong * (y + 1) * rr
        }
      }
      (w, h, rs, gs, bs, rw)
    }

    /** Full decoded pixel array `(w, h, px)` with `px(y)(x) = (r, g, b)`
      * top-down — the pixel-level reader the q306 resize stage needs
      * (the feature `decode` above only returns moment sums).
      */
    def decodePixels(bytes: Array[Byte]): (Int, Int, Array[Array[(Int, Int, Int)]]) = {
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
        "not a BMP payload")
      val dataOffset = buf.getInt(10)
      val w = buf.getInt(18); val h = buf.getInt(22)
      require(buf.getShort(28) == 24 && buf.getInt(30) == 0,
        "decoder supports 24bpp uncompressed only")
      val stride = rowBytes(w)
      require(dataOffset >= 54 && dataOffset.toLong + stride.toLong * h <= bytes.length,
        "corrupt BMP: pixel data exceeds the payload")
      val px = Array.ofDim[(Int, Int, Int)](h, w)
      for (i <- 0 until h) {
        val y = h - 1 - i // file rows are bottom-up
        val base = dataOffset + i * stride
        for (x <- 0 until w)
          px(y)(x) = (bytes(base + 3 * x + 2) & 0xff,
            bytes(base + 3 * x + 1) & 0xff, bytes(base + 3 * x) & 0xff)
      }
      (w, h, px)
    }
  }

  /** Parquet-BINARY-backed media asset store (round 14 — closes the r13
    * "what's missing #1": payloads used to be synthesized in-flight from
    * `doc_id` inside every consumer's `mapPartitions`, so no query ever
    * exercised the binary-column SCAN path a real 100 TB multimodal lake
    * lives on). Each asset family is encoded and written ONCE per
    * (corpus plan, kind) per JVM as parquet with the payload in a BINARY
    * column beside its typed metadata; every consumer is then a real
    * parquet scan. Metadata-only consumers (the q310/q312/q313/q315
    * compaction block) read `(asset_id, media_type, n_bytes)` and the
    * reader PRUNES the payload column entirely (ReadSchema excludes it —
    * spec-asserted), which is exactly how a production lake queries blob
    * tables without shipping the blobs.
    *
    * Store schema: `asset_id LONG, media_type STRING, n_bytes LONG`
    * (payload length stored AS metadata so size queries never touch
    * bytes), `payload BINARY`.
    *
    * The cache value is a PATH under the self-cleaning Scratch root,
    * keyed by (canonicalized corpus plan, kind): unlike the frame-level
    * session caches, parquet files survive a SparkSession restart, so a
    * fresh-session trial re-READS the store rather than re-writing it.
    * The write is charged to the kind's first consumer in bench order
    * (q35 for `bmp` — documented beside the other index carriers in
    * `Bench.scala`); the WAV stores cover only the audio rotation and
    * cost well under a second to build at sf0.1.
    * Not a SessionArtifacts kind, so `clearAll` keeps it: q306/q308/q310
    * ride q35's `bmp` store after q302's isolation reset.
    */
  private val storePaths =
    new java.util.concurrent.ConcurrentHashMap[(LogicalPlan, String), String]()

  /** kind -> (doc_id filter, encoder). `bmp` spans the whole corpus with
    * the q35 media-type rotation; the WAV kinds cover the audio rotation
    * (doc_id % 3 == 1), one store per export format because the formats
    * differ exactly in the bytes on the wire.
    */
  private val storeEncoders: Map[String, (Long => Boolean, Long => Array[Byte])] = Map(
    "bmp" -> ((_: Long) => true, (d: Long) => BmpCodec.encode(d)),
    "wav16" -> ((d: Long) => d % 3 == 1, (d: Long) => WavCodec.encode(d)),
    "wav8" -> ((d: Long) => d % 3 == 1, (d: Long) => WavCodec.encode8(d)),
    "wav4" -> ((d: Long) => d % 3 == 1, (d: Long) => WavCodec.encode4(d)),
    "wavburst" -> ((d: Long) => d % 3 == 1, (d: Long) => WavCodec.encodeBurst(d)))

  def assetStore(documents: DataFrame, kind: String): DataFrame = {
    val (keep, enc) = storeEncoders.getOrElse(kind, throw new IllegalArgumentException(
      s"assetStore: unknown kind '$kind' (valid: ${storeEncoders.keys.toSeq.sorted.mkString(", ")})"))
    val spark = documents.sparkSession
    val ids = documents.select($"doc_id")
    val plan = ids.queryExecution.analyzed.canonicalized
    val path = storePaths.computeIfAbsent((plan, kind), _ => {
      import spark.implicits.{newLongEncoder, newProductEncoder}
      val dir = graft.sources.Scratch.dir(s"graft_assets_$kind")
      ids.as[Long]
        .mapPartitions(_.collect { case d if keep(d) =>
          val bytes = enc(d)
          val mt =
            if (kind == "bmp") {
              if (d % 3 == 0) "image" else if (d % 3 == 1) "audio" else "video"
            } else "audio"
          (d, mt, bytes.length.toLong, bytes)
        })
        .toDF("asset_id", "media_type", "n_bytes", "payload")
        .write.mode("overwrite").parquet(dir)
      dir
    })
    spark.read.parquet(path)
  }

  /** Batched per-partition decode — the integration shape for a codec
    * (setup amortizes per batch, not per row). The decoder is the real
    * `BmpCodec.decode`; a different codec swaps in at the one
    * `mapPartitions` call with partitioning, schema, and downstream plan
    * untouched.
    */
  def decodeBatched(assets: DataFrame): DataFrame = {
    import assets.sparkSession.implicits.newProductEncoder
    val out = assets
      .select($"asset_id", $"payload", $"media_type")
      .as[(Long, Array[Byte], String)]
      .mapPartitions(bmpBatchDecoder)
      .toDF("asset_id", "media_type", "n_bytes", "width", "height")
    out.withColumn("duration_s", round(col("n_bytes") / 1000.0, 3))
  }

  private def bmpBatchDecoder(
      rows: Iterator[(Long, Array[Byte], String)]): Iterator[(Long, String, Long, Int, Int)] =
    rows.map { case (id, payload, mediaType) =>
      val (w, h, _, _, _, _) = BmpCodec.decode(payload)
      (id, mediaType, payload.length.toLong, w, h)
    }

  /** Feature-extract stage over DECODED assets (q35): per-media-type
    * stats where width/height come from parsing the real BMP headers —
    * the oracle recomputes them from the generation closed form, so the
    * gate spans encode → bytes → decode cross-engine.
    */
  def mediaProfile(documents: DataFrame): DataFrame =
    decodeBatched(assetStore(documents, "bmp"))
      .groupBy($"media_type")
      .agg(
        count(lit(1)).as("n_assets"),
        sum($"n_bytes").as("total_bytes"),
        round(avg($"width"), 4).as("avg_width"),
        round(avg($"height"), 4).as("avg_height"),
        round(sum($"duration_s"), 3).as("total_duration"))
      .orderBy($"media_type")

  /** Per-asset decoded pixel features (q244): channel sums and the
    * position-weighted red sum from the REAL pixel array — integer-
    * exact, so a padding/BGR/row-order bug in either codec direction
    * breaks the hash gate.
    */
  def bmpPixelFeatures(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits.newProductEncoder
    assetStore(documents, "bmp")
      .select($"asset_id", $"payload")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (w, h, rs, gs, bs, rw) = BmpCodec.decode(payload)
        (id, w, h, payload.length.toLong, rs, gs, bs, rw)
      })
      .toDF("asset_id", "width", "height", "n_bytes", "r_sum", "g_sum",
        "b_sum", "rw_sum")
      .orderBy($"asset_id")
  }

  /** Thumbnail (resize) stage through the REAL codec both ways (q306;
    * round 13 — the vision-pipeline preprocessing step beside q244's
    * feature extraction): decode the BMP payload to PIXELS,
    * nearest-neighbor downsample by `k` (out(x,y) = in(kx, ky),
    * wOut = ⌈w/k⌉ — both engines share the ceil convention), RE-ENCODE
    * the thumbnail as a real BMP, and feature-decode THAT file. The
    * double codec pass makes the thumbnail's OWN stride class
    * observable: ⌈w/k⌉ lands in different mod-4 padding classes than w,
    * so a pad bug that the original widths never trip breaks the gate
    * here (spec asserts the fixture covers all four classes). Oracle:
    * closed forms of the pattern at (kx, ky) summed over the output
    * grid — no byte touched. Shape: per-partition batched, pixel work
    * ∝ w·h per asset, asset-proportional rows, no shuffle beyond the
    * sort — at 100 TB this is the embarrassingly-parallel map stage a
    * thumbnailing pass is.
    */
  def bmpThumbnails(documents: DataFrame): DataFrame = {
    val k = 2
    import documents.sparkSession.implicits.newProductEncoder
    assetStore(documents, "bmp")
      .filter($"media_type" === "image") // the q35 image rotation, pushed to the scan
      .select($"asset_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (d, stored) =>
        val (w, h, px) = BmpCodec.decodePixels(stored)
        val wo = (w + k - 1) / k; val ho = (h + k - 1) / k
        val thumb = BmpCodec.encodePixels(wo, ho, (x, y) => px(y * k)(x * k))
        val (w2, h2, rs, gs, bs, rw) = BmpCodec.decode(thumb)
        (d, w, h, w2, h2, thumb.length.toLong, rs, gs, bs, rw)
      })
      .toDF("asset_id", "width", "height", "thumb_w", "thumb_h",
        "thumb_bytes", "r_sum", "g_sum", "b_sum", "rw_sum")
      .orderBy($"asset_id")
  }

  /** Grayscale conversion through the real codec both ways (q308; round
    * 13 — the vision-preprocessing staple beside q306's thumbnailing:
    * most vision featurizers and OCR passes run on luma, not RGB):
    * decode the BMP payload to pixels, integer BT.601 luma
    * l = (299·r + 587·g + 114·b) / 1000 (scaled-integer floor division
    * — both engines share the convention exactly; no float rounding
    * seam), RE-ENCODE the gray image (r = g = b = l) as a real BMP,
    * feature-decode THAT file, and read its pixels back for a 4-bucket
    * luma HISTOGRAM (l / 64 ∈ 0..3) — the exposure/contrast QA
    * distribution an image-quality filter computes over a corpus. Both
    * the sums and the histogram come from the SECOND codec pass, so the
    * gray file's own stride/BGR round-trip is load-bearing for every
    * output column; a decoded channel inequality fails loudly. Oracle:
    * luma closed forms over the (x, y) grid — no byte touched. Shape:
    * per-partition batched, pixel work ∝ w·h per asset,
    * asset-proportional rows, no shuffle beyond the sort.
    */
  def bmpGrayscale(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits.newProductEncoder
    assetStore(documents, "bmp")
      .filter($"media_type" === "image") // the q35 image rotation, pushed to the scan
      .select($"asset_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (d, stored) =>
        val (w, h, px) = BmpCodec.decodePixels(stored)
        val gray = BmpCodec.encodePixels(w, h, (x, y) => {
          val (r, g, b) = px(y)(x)
          val l = (299 * r + 587 * g + 114 * b) / 1000
          (l, l, l)
        })
        // ONE pixel-level parse of the gray file serves sums, weighted
        // sum, histogram AND the channel-equality check (a second
        // decode() pass would re-walk every pixel for nothing)
        val (w2, h2, gp) = BmpCodec.decodePixels(gray)
        val hist = new Array[Long](4)
        var (rs, gs, bs, rw) = (0L, 0L, 0L, 0L)
        var y = 0
        while (y < h2) {
          var x = 0
          while (x < w2) {
            val (r, g, b) = gp(y)(x)
            rs += r; gs += g; bs += b
            rw += (x + 1).toLong * (y + 1) * r
            hist(r / 64) += 1
            x += 1
          }
          y += 1
        }
        require(rs == gs && gs == bs,
          s"gray asset $d decoded unequal channel sums ($rs, $gs, $bs)")
        (d, w2, h2, gray.length.toLong, rs, rw,
          hist(0), hist(1), hist(2), hist(3))
      })
      .toDF("asset_id", "width", "height", "n_bytes", "l_sum", "lw_sum",
        "h0", "h1", "h2", "h3")
      .orderBy($"asset_id")
  }

  /** REAL audio codec over REAL bytes — the WAV/PCM twin of `BmpCodec`
    * (round 12; completes the binary-columns story for the audio
    * modality): RIFF/WAVE with 16-bit signed little-endian PCM is simple
    * enough to implement from the published format spec with no library,
    * and it exercises the parts a codec integration needs that BMP does
    * NOT — the chunked container walk (unknown chunks skipped, odd sizes
    * pad to even per the RIFF spec), interleaved multi-channel frames,
    * and signed 16-bit little-endian sample decoding. Samples are a
    * DETERMINISTIC arithmetic pattern of (frame, channel, asset_id)
    * spanning the full s16 range, so the DuckDB oracle computes every
    * decoded feature in closed form without touching bytes — equality
    * proves the encoder and parser round-trip real binary exactly (and a
    * hand-written golden file in PipelineSpec pins the format against
    * self-consistent encode/decode bugs).
    */
  object WavCodec {
    def channels(d: Long): Int = 1 + (d % 2).toInt // mono / stereo
    def sampleRate(d: Long): Int = 8000 + (d % 4).toInt * 4000
    def frames(d: Long): Int = 64 + (d * 11 % 192).toInt
    def sample(d: Long, c: Int, i: Int): Int =
      ((37L * i + 101L * c + d) % 65536).toInt - 32768
    def fileBytes(d: Long): Int = 44 + channels(d) * 2 * frames(d)

    // 8-bit-export generators (q303; round 13): the same audio-rotation
    // assets re-encoded as 8-bit PCM — UNSIGNED per the WAVE spec
    // (stored byte u ∈ [0,256), decoded sample = u − 128), the
    // sign-convention corner a 16-bit fixture can never exercise, plus
    // block-align = channels·1 (vs ·2), which makes any hard-coded
    // 2-bytes-per-sample stride observable.
    def frames8(d: Long): Int = 48 + (d * 13 % 160).toInt
    def sampleRate8(d: Long): Int = 8000 + (d % 2).toInt * 3000
    def sample8u(d: Long, c: Int, i: Int): Int =
      ((29L * i + 67L * c + d) % 256).toInt
    def fileBytes8(d: Long): Int = 44 + channels(d) * frames8(d)

    private def tag(buf: java.nio.ByteBuffer, s: String): java.nio.ByteBuffer =
      buf.put(s.getBytes("US-ASCII"))

    /** Canonical RIFF/WAVE: 44-byte header (12 RIFF + 24 fmt + 8 data)
      * then interleaved PCM frames (s16le, or unsigned bytes at 8 bps).
      * `sampleOf(c, i)` supplies the STORED value — two's-complement
      * for 16-bit, the unsigned byte for 8-bit. Public since round 13:
      * the generalized writer behind every fixture encode AND the q307
      * resample re-encode (the WAV analog of `BmpCodec.encodePixels`).
      */
    def encodePcm(ch: Int, sr: Int, bits: Int, n: Int)(
        sampleOf: (Int, Int) => Int): Array[Byte] = {
      val bytesPer = bits / 8
      val dataBytes = ch * bytesPer * n
      val buf = java.nio.ByteBuffer.allocate(44 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      tag(buf, "RIFF").putInt(36 + dataBytes)
      tag(buf, "WAVE")
      tag(buf, "fmt ").putInt(16)
        .putShort(1) // PCM
        .putShort(ch.toShort).putInt(sr)
        .putInt(sr * ch * bytesPer) // byte rate
        .putShort((ch * bytesPer).toShort) // block align
        .putShort(bits.toShort)
      tag(buf, "data").putInt(dataBytes)
      for (i <- 0 until n; c <- 0 until ch) // frames outer = interleaved
        if (bits == 16) buf.putShort(sampleOf(c, i).toShort)
        else buf.put(sampleOf(c, i).toByte)
      buf.array()
    }

    def encode(d: Long): Array[Byte] =
      encodePcm(channels(d), sampleRate(d), 16, frames(d))(
        (c, i) => sample(d, c, i))

    def encode8(d: Long): Array[Byte] =
      encodePcm(channels(d), sampleRate8(d), 8, frames8(d))(
        (c, i) => sample8u(d, c, i))

    // Quad-channel export (q314; round 13): the same audio-rotation
    // assets as FOUR-channel 16-bit files — block-align = 4·2 = 8 and a
    // 4-way interleave, the >stereo corner neither q301 (ch ∈ {1,2})
    // nor q303 (1-byte stride) can see: a reader that hard-codes
    // mono/stereo, or walks frames by a 2- or 4-byte stride, decodes
    // the wrong samples here and every per-channel sum moves.
    def frames4(d: Long): Int = 40 + (d * 9 % 128).toInt
    def encode4(d: Long): Array[Byte] =
      encodePcm(4, sampleRate(d), 16, frames4(d))(
        (c, i) => sample(d, c, i))
    def fileBytes4(d: Long): Int = 44 + 4 * 2 * frames4(d)

    // Burst-envelope assets (q305): 16-frame blocks alternate a quiet
    // envelope (|s| ≤ 128) and a ×255 loud envelope (|s| ≤ 32640) — the
    // linear q301 sawtooth wraps at most once inside an asset, so any
    // amplitude predicate on it yields ≤ 2 runs and a segmentation
    // fixture needs this faster-alternating family. Loud blocks still
    // contain the occasional zero sample (base = 0 → s = 0), so run
    // boundaries are NOT exactly block boundaries — a segmenter that
    // assumes the envelope instead of reading samples diverges.
    def framesBurst(d: Long): Int = 96 + (d * 7 % 160).toInt
    def sampleBurst(d: Long, c: Int, i: Int): Int = {
      val base = ((29L * i + 67L * c + d) % 256).toInt - 128
      if ((i / 16 + c + d) % 2 == 1) base * 255 else base
    }
    def encodeBurst(d: Long): Array[Byte] =
      encodePcm(channels(d), sampleRate(d), 16, framesBurst(d))(
        (c, i) => sampleBurst(d, c, i))

    /** RIFF chunk walk → (channels, sampleRate, bitsPerSample, dataOff,
      * nFrames). Unknown chunks (LIST, fact, ...) are skipped with the
      * spec's odd-size pad byte, exactly what real-world WAV files
      * require of a parser. Chunk sizes are VALIDATED against the
      * buffer (round-13 advice fix): a negative or overrunning size
      * field fails loudly instead of looping forever on a non-advancing
      * `pos` or throwing a raw IndexOutOfBounds from the sample reads.
      */
    private def parse(bytes: Array[Byte]): (Int, Int, Int, Int, Int) = {
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourCc(off: Int): String =
        new String(bytes, off, 4, "US-ASCII")
      require(bytes.length >= 44 && fourCc(0) == "RIFF" && fourCc(8) == "WAVE",
        "not a RIFF/WAVE payload")
      var pos = 12
      var ch = -1; var sr = -1; var bits = -1; var dataOff = -1; var dataLen = -1
      while (pos + 8 <= bytes.length && (ch < 0 || dataOff < 0)) {
        val id = fourCc(pos); val size = buf.getInt(pos + 4)
        // Long arithmetic: a size near Int.MaxValue would overflow the
        // bound check negative and sneak past an Int comparison
        require(size >= 0 && pos.toLong + 8L + size <= bytes.length,
          s"corrupt RIFF: chunk '$id' at offset $pos declares $size bytes " +
            s"in a ${bytes.length}-byte payload")
        id match {
          case "fmt " =>
            require(buf.getShort(pos + 8) == 1,
              "decoder supports PCM (format 1) only")
            bits = buf.getShort(pos + 22).toInt
            require(bits == 8 || bits == 16,
              s"decoder supports 8/16 bits per sample only, got $bits")
            ch = buf.getShort(pos + 10).toInt
            sr = buf.getInt(pos + 12)
          case "data" => dataOff = pos + 8; dataLen = size
          case _ => // skip unknown chunk
        }
        pos += 8 + size + (size & 1) // RIFF pads odd chunks to even
      }
      require(ch > 0 && sr > 0 && bits > 0 && dataOff >= 0,
        "missing fmt /data chunk")
      (ch, sr, bits, dataOff, dataLen / (ch * (bits / 8)))
    }

    /** Stored→numeric sample at interleave index `idx`: s16le two's
      * complement, or the 8-bit UNSIGNED byte centered to u − 128.
      */
    private def sampleAt(buf: java.nio.ByteBuffer, bytes: Array[Byte],
        dataOff: Int, bits: Int, idx: Int): Int =
      if (bits == 16) buf.getShort(dataOff + idx * 2).toInt
      else (bytes(dataOff + idx) & 0xFF) - 128

    /** (channels, sampleRate, nFrames, per-channel (Σs, Σs², Σ(i+1)·s)).
      * The position-weighted sum makes frame ORDER and the channel
      * INTERLEAVE observable: plain channel sums round-trip even under a
      * deinterleave or frame-reversal bug, the weighted sum does not.
      */
    def decode(bytes: Array[Byte]): (Int, Int, Int, Array[(Long, Long, Long)]) = {
      val (ch, sr, bits, dataOff, n) = parse(bytes)
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val acc = Array.fill(ch)((0L, 0L, 0L))
      for (i <- 0 until n; c <- 0 until ch) {
        val s = sampleAt(buf, bytes, dataOff, bits, i * ch + c).toLong
        val (ss, sq, ws) = acc(c)
        acc(c) = (ss + s, sq + s * s, ws + (i + 1) * s)
      }
      (ch, sr, n, acc)
    }

    /** Full decoded waveform — (channels, sampleRate, bitsPerSample,
      * per-channel sample arrays) — for analyses that need the actual
      * series (q304 zero-crossings / dynamics), not just moment sums.
      */
    def decodeSamples(bytes: Array[Byte]): (Int, Int, Int, Array[Array[Int]]) = {
      val (ch, sr, bits, dataOff, n) = parse(bytes)
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = Array.ofDim[Int](ch, n)
      for (i <- 0 until n; c <- 0 until ch)
        out(c)(i) = sampleAt(buf, bytes, dataOff, bits, i * ch + c)
      (ch, sr, bits, out)
    }
  }

  /** Per-asset, per-channel decoded waveform features (q301): channel
    * sums, exact sum-of-squares, and the position-weighted sum from the
    * REAL sample array of the audio-rotation assets — integer-exact, so
    * an endianness / interleave / chunk-walk bug in either codec
    * direction breaks the hash gate. RMS is the one double render
    * (sqrt(Σs²/n), rounded 4 — both engines compute it from the same
    * exact integers). Shape: encode+decode run batched per partition
    * (the decodeBatched integration shape); output is asset×channel
    * rows, corpus-proportional, no shuffle beyond the final sort.
    */
  def wavChannelFeatures(documents: DataFrame): DataFrame =
    wavFeatureRows(documents, "wav16")

  /** Shared feature pass behind q301/q303/q314: read the audio-rotation
    * assets of the given STORE kind (parquet BINARY — encode ran once at
    * store-build), decode the REAL bytes, and emit the per-channel
    * moment rows (the rms render is the one double, from the same exact
    * integers both engines hold). The kind parameter is the same seam
    * `decodeBatched` uses for decoders — the three export formats differ
    * ONLY in the bytes on the wire.
    */
  private def wavFeatureRows(documents: DataFrame, kind: String): DataFrame = {
    import documents.sparkSession.implicits.newProductEncoder
    assetStore(documents, kind)
      .select($"asset_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (d, bytes) =>
        val (ch, sr, n, perCh) = WavCodec.decode(bytes)
        perCh.zipWithIndex.map { case ((ss, sq, ws), c) =>
          val rms = java.math.BigDecimal.valueOf(math.sqrt(sq.toDouble / n))
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
          (d, ch, sr, n, bytes.length.toLong, c, ss, sq, ws, rms)
        }
      })
      .toDF("asset_id", "n_channels", "sample_rate", "n_frames", "n_bytes",
        "channel", "s_sum", "s_sq_sum", "w_sum", "rms")
      .orderBy($"asset_id", $"channel")
  }

  /** q301's feature set over the 8-BIT export of the same audio assets
    * (q303; round 13): identical column shape, but the bytes on the
    * wire are unsigned 8-bit PCM with block-align = channels — the
    * decode path proves the unsigned-with-128-offset sign convention
    * and the 1-byte stride that 16-bit files cannot distinguish from a
    * hard-coded short reader. Same per-partition batched shape as q301.
    */
  def wavPcm8Features(documents: DataFrame): DataFrame =
    wavFeatureRows(documents, "wav8")

  /** q301's feature set over the QUAD-channel export (q314; round 13 —
    * the last block-align corner: four interleaved 16-bit channels,
    * block-align 8). The position-weighted per-channel sums make the
    * 4-way interleave order observable — swapping any two channels or
    * misreading the stride moves some channel's sums. Same
    * per-partition batched shape as q301/q303.
    */
  def wavQuadFeatures(documents: DataFrame): DataFrame =
    wavFeatureRows(documents, "wav4")

  /** Resample (decimation) stage through the real codec both ways
    * (q307; round 13 — the audio twin of q306's thumbnailing, and the
    * 48 kHz→16 kHz downsampling staple of every speech pipeline):
    * decode the 16-bit payload to per-channel series, keep every k-th
    * frame (out(j) = in(kj), nOut = ⌈n/k⌉ — plain decimation; no
    * anti-alias filter, documented, the fixture patterns are not
    * band-limited anyway and the gate checks the served semantics),
    * RE-ENCODE at sampleRate/k through `encodePcm`, and feature-decode
    * THAT file. The position-weighted sum of the resampled file makes
    * decimation SELECTION observable: a "truncate to the first ⌈n/k⌉
    * frames" bug preserves frame count and byte length but breaks
    * every sum. Oracle: the q301 closed forms evaluated at i = kj.
    * Shape: per-partition batched, asset-proportional, no shuffle
    * beyond the sort.
    */
  def wavResample(documents: DataFrame): DataFrame = {
    val k = 2
    import documents.sparkSession.implicits.newProductEncoder
    assetStore(documents, "wav16")
      .select($"asset_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (d, stored) =>
        val (ch, sr, _, chans) = WavCodec.decodeSamples(stored)
        val n = chans(0).length
        val nOut = (n + k - 1) / k
        val out = WavCodec.encodePcm(ch, sr / k, 16, nOut)(
          (c, j) => chans(c)(j * k))
        val (_, srOut, n2, acc) = WavCodec.decode(out)
        acc.zipWithIndex.map { case ((ss, sq, ws), c) =>
          (d, sr, srOut, n, n2, out.length.toLong, c, ss, sq, ws)
        }
      })
      .toDF("asset_id", "sr_in", "sr_out", "n_in", "n_out", "n_bytes",
        "channel", "s_sum", "s_sq_sum", "w_sum")
      .orderBy($"asset_id", $"channel")
  }

  /** Waveform dynamics over the decoded sample SERIES (q304; round 13
    * — audio analysis beyond moment sums): per (asset, channel) the
    * zero-crossing count (the classic voiced/unvoiced + noisiness
    * proxy), min/max sample, mean-absolute-amplitude numerator, and
    * the crest factor peak/RMS (how "peaky" the waveform is). ZCR
    * counts strict sign-class changes between consecutive frames
    * (nonneg↔neg), an ORDER-sensitive statistic: any frame shuffle or
    * interleave bug that the q301 moment sums might survive changes
    * it. Everything but crest is integer-exact; crest is one double
    * render from the same exact integers on both engines
    * (max|s| / sqrt(Σs²/n), rounded 4). Shape: per-partition batched
    * decode, asset×channel output rows, no shuffle beyond the sort.
    */
  /** Silence-run segmentation over the decoded series (q305; round 13
    * — the VAD-preprocessing shape: "cut the quiet spans before
    * shipping audio to ASR/training"): per (asset, channel), the
    * maximal runs of consecutive frames with |s| ≤ `threshold` over the
    * burst-envelope assets, reported as run COUNT, longest run, total
    * quiet frames, and the first quiet frame index (−1 when none) —
    * the classic gaps-and-islands statistic, which only a correctly
    * ORDERED decode can produce (any frame permutation that preserves
    * the q301 moment sums and even the q304 ZCR count still breaks run
    * lengths). All integers; the oracle re-derives the runs with the
    * standard `i − row_number()` island key over the generated sample
    * grid. Shape: per-partition batched decode, per-channel O(n) scan,
    * asset×channel output rows, no shuffle beyond the sort.
    */
  def wavSilenceRuns(documents: DataFrame): DataFrame = {
    val threshold = 128
    import documents.sparkSession.implicits.newProductEncoder
    assetStore(documents, "wavburst")
      .select($"asset_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (d, stored) =>
        val (_, _, _, chans) = WavCodec.decodeSamples(stored)
        chans.zipWithIndex.map { case (arr, c) =>
          var nQuiet = 0L; var nRuns = 0L; var longest = 0L
          var first = -1L; var run = 0L
          var i = 0
          while (i < arr.length) {
            if (math.abs(arr(i)) <= threshold) {
              if (run == 0L) nRuns += 1
              run += 1; nQuiet += 1
              if (first < 0L) first = i
              if (run > longest) longest = run
            } else run = 0L
            i += 1
          }
          (d, c, arr.length, nQuiet, nRuns, longest, first)
        }
      })
      .toDF("asset_id", "channel", "n_frames", "n_quiet", "n_runs",
        "longest_run", "first_quiet")
      .orderBy($"asset_id", $"channel")
  }

  def wavDynamics(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits.newProductEncoder
    assetStore(documents, "wav16")
      .select($"asset_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (d, stored) =>
        val (_, _, _, chans) = WavCodec.decodeSamples(stored)
        chans.zipWithIndex.map { case (arr, c) =>
          var zcr = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
          var absSum = 0L; var sq = 0L
          var i = 0
          while (i < arr.length) {
            val v = arr(i)
            if (i > 0 && ((v >= 0) != (arr(i - 1) >= 0))) zcr += 1
            if (v < mn) mn = v
            if (v > mx) mx = v
            absSum += math.abs(v.toLong)
            sq += v.toLong * v.toLong
            i += 1
          }
          val peak = math.max(math.abs(mn.toLong), math.abs(mx.toLong))
          val crest = java.math.BigDecimal.valueOf(
              peak.toDouble / math.sqrt(sq.toDouble / arr.length))
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
          (d, c, arr.length, zcr, mn.toLong, mx.toLong, absSum, crest)
        }
      })
      .toDF("asset_id", "channel", "n_frames", "zcr", "s_min", "s_max",
        "abs_sum", "crest")
      .orderBy($"asset_id", $"channel")
  }

  /** Waveform autocorrelation at fixed lags (q309; round 13 — the
    * periodicity/pitch proxy beside q304's ZCR: speech pipelines rank
    * voiced frames by which short lag maximizes Σ sᵢ·sᵢ₋L): per
    * (asset, channel), the INTEGER-EXACT autocorrelation numerators
    * ac_L = Σ_{i=L}^{n−1} sᵢ·sᵢ₋L at L ∈ {1, 2, 4} plus the energy
    * ac₀ = Σ s², and best_lag = the L maximizing ac_L (smallest lag on
    * ties — both engines share the tie rule). Products of CONSECUTIVE
    * samples are order-sensitive in a way the q301 moment sums are not
    * (any permutation preserves Σs/Σs²; almost none preserves ac₁), and
    * unlike q304's sign-class ZCR they see magnitude re-orderings too.
    * All integers — no float anywhere, so the gate is exact. Oracle:
    * lag() windows over the generated (frame, channel) grid. Shape:
    * per-partition batched decode, O(n) per lag per channel,
    * asset×channel output rows, no shuffle beyond the sort.
    */
  def wavAutocorr(documents: DataFrame): DataFrame = {
    import documents.sparkSession.implicits.newProductEncoder
    assetStore(documents, "wav16")
      .select($"asset_id", $"payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (d, stored) =>
        val (_, _, _, chans) = WavCodec.decodeSamples(stored)
        chans.zipWithIndex.map { case (arr, c) =>
          val n = arr.length
          def ac(lag: Int): Long = {
            var s = 0L; var i = lag
            while (i < n) { s += arr(i).toLong * arr(i - lag); i += 1 }
            s
          }
          val (a0, a1, a2, a4) = (ac(0), ac(1), ac(2), ac(4))
          val best = if (a1 >= a2 && a1 >= a4) 1L
                     else if (a2 >= a4) 2L else 4L
          (d, c, n, a0, a1, a2, a4, best)
        }
      })
      .toDF("asset_id", "channel", "n_frames", "ac0", "ac1", "ac2", "ac4",
        "best_lag")
      .orderBy($"asset_id", $"channel")
  }

  /** Frame-sample stage: take every k-th "frame" (byte window) of each
    * video payload — the batch shape of video frame extraction: explode to
    * (asset, frame_no, frame_bytes) rows, repartition-friendly.
    * ASCII payload constraint (like RollingHash): the oracle slices text by
    * characters while this slices payload bytes — identical only when
    * chars == bytes, which the fixtures guarantee.
    */
  /** Frame-level dedup across the whole asset table — the multimodal
    * member of the dedup family: checksum every `frameBytes` window of
    * every payload and report the duplicated frames (shared intro/outro
    * cards, repeated stock footage) with a deterministic keeper. One
    * hash-shuffle on the frame checksum, no frame-content comparisons —
    * `exactDedup`'s shape applied to frames instead of documents, so it
    * scales identically (state per distinct checksum, duplicates-only
    * output).
    */
  def frameDedup(documents: DataFrame): DataFrame = {
    val frameBytes = 64
    assetsFromDocuments(documents)
      .select($"asset_id", $"payload",
        explode(sequence(lit(0),
          greatest(floor($"meta.n_bytes" / frameBytes).cast("int") - 1, lit(0))))
          .as("frame_no"))
      .select($"asset_id", $"frame_no".cast("bigint").as("frame_no"),
        md5($"payload".substr(($"frame_no" * frameBytes + 1).cast("int"), lit(frameBytes)))
          .as("fc"))
      .groupBy($"fc")
      .agg(count(lit(1)).as("n_copies"), countDistinct($"asset_id").as("n_assets"),
        min(struct($"asset_id", $"frame_no")).as("k"))
      .filter($"n_copies" > 1)
      .select($"fc".as("frame_checksum"), $"n_copies", $"n_assets",
        $"k.asset_id".as("keeper_asset"), $"k.frame_no".as("keeper_frame"))
      .orderBy($"frame_checksum")
  }

  /** Perceptual-hash near-dup over media assets (q203): a 60-bit
    * signature per asset from the PER-BIT MAJORITY of its frame hashes
    * (the SimHash construction applied at the asset grain), banded into
    * 4 disjoint 15-bit LSH keys, with hamming-distance verification on
    * band-sharing candidates. Completes the media dedup ladder: q94
    * finds byte-identical FRAMES, this finds assets whose frame SETS
    * mostly agree — re-encoded or lightly-edited copies whose bytes
    * differ (majority bits survive a minority of changed frames).
    *
    * The real pHash DCTs decoded pixels; the container has no codecs,
    * so the per-frame feature is the deterministic frame checksum (the
    * module's documented fake-decode seam — swap `fc` for a codec's
    * frame feature and nothing downstream changes). What IS real: the
    * banding recall theorem (hamming ≤ 3 over 4 disjoint bands ⇒ ≥ 1
    * band exact, by pigeonhole — so the oracle's exact all-pairs form
    * doubles as the blocking's recall proof, the q178 convention), the
    * bucket-join candidate generation (never all-pairs on the engine
    * side), and the integer bit arithmetic (majority counts, shifts,
    * bit_count — engine-exact everywhere).
    *
    * ASCII fixture assumption (like frameSample): frames slice the
    * payload by BYTE offsets; the oracle slices text by CHARACTER
    * offsets (DuckDB has no md5-over-BLOB). They agree iff bytes ==
    * chars — `Tables.nonAsciiDocs` is the drift probe that names this
    * cause if a regenerated fixture ever ships multi-byte text.
    */
  def framePhashNearDup(documents: DataFrame): DataFrame = {
    val frameBytes = 64
    val frames = assetsFromDocuments(documents)
      .select($"asset_id", $"payload",
        explode(sequence(lit(0),
          greatest(floor($"meta.n_bytes" / frameBytes).cast("int") - 1, lit(0))))
          .as("frame_no"))
      .select($"asset_id",
        md5($"payload".substr(($"frame_no" * frameBytes + 1).cast("int"), lit(frameBytes)))
          .as("fc"))
    val phash = frames
      .select($"asset_id",
        conv(substring($"fc", 1, 15), 16, 10).cast("long").as("h"))
      .select($"asset_id", $"h", explode(sequence(lit(0), lit(59))).as("j"))
      .select($"asset_id", $"j", expr("shiftright(h, CAST(j AS INT)) & 1").as("bit"))
      .groupBy($"asset_id", $"j")
      .agg(sum($"bit").as("c"), count(lit(1)).as("nf"))
      .groupBy($"asset_id")
      .agg(sum(when($"c" * 2 > $"nf",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))")).otherwise(0L))
        .as("phash"))
      .localCheckpoint() // probed by 4 band projections + the verify join
    val bands = phash.select($"asset_id", $"phash",
        explode(sequence(lit(0), lit(3))).as("b"))
      .select($"asset_id", $"phash", $"b",
        expr("shiftright(phash, CAST(b * 15 AS INT)) & 32767").as("bkey"))
    bands.select($"asset_id".as("id1"), $"phash".as("p1"), $"b", $"bkey")
      .join(bands.select($"asset_id".as("id2"), $"phash".as("p2"), $"b", $"bkey"),
        Seq("b", "bkey"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2", expr("bit_count(p1 ^ p2)").cast("int").as("hamming"))
      .distinct() // a close pair can share several bands
      .filter($"hamming" <= 3)
      .orderBy($"id1", $"id2")
  }

  def frameSample(documents: DataFrame): DataFrame = {
    val frameBytes = 64
    val assets = assetsFromDocuments(documents).filter($"media_type" === "video")
    assets
      .select($"asset_id", $"payload",
        explode(sequence(lit(0),
          greatest(floor($"meta.n_bytes" / frameBytes).cast("int") - 1, lit(0)))).as("frame_no"))
      .filter($"frame_no" % 4 === 0)
      .select(
        $"asset_id", $"frame_no".cast("bigint").as("frame_no"),
        md5($"payload".substr(($"frame_no" * frameBytes + 1).cast("int"), lit(frameBytes)))
          .as("frame_checksum"))
      .orderBy($"asset_id", $"frame_no")
  }
}
