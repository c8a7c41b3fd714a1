package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Multimodal
import graft.sources.Tables
import graft.OracleHelpers._

/** Multimodal family queries: multimodal binary columns: codec seam, frame dedup, pHash near-dup.
  * SparkEntry concatenates the families and asserts the key sets stay
  * disjoint and aligned.
  */
private[graft] object MultimodalQueries extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q35_media_profile"    -> ((s, d) => Multimodal.mediaProfile(Tables.documents(s, d))),
    "q36_frame_sample"     -> ((s, d) => Multimodal.frameSample(Tables.documents(s, d))),
    // frame-level dedup across the multimodal asset table (exactDedup's
    // shape applied to payload windows)
    "q94_frame_dedup" -> ((s, d) => Multimodal.frameDedup(Tables.documents(s, d))),
    // perceptual-hash media near-dup: per-bit frame majority signature,
    // 4x15-bit LSH bands (hamming<=3 => a band exact, pigeonhole), the
    // oracle's all-pairs form proves the blocking's recall
    "q203_frame_phash" -> ((s, d) =>
      Multimodal.framePhashNearDup(Tables.documents(s, d))),
    // REAL codec gate: per-asset pixel features from decoding actual
    // BMP bytes (header parse, bottom-up rows, stride padding, BGR);
    // the oracle computes the generation closed forms without bytes,
    // so equality proves the encoder+parser round-trip real binary
    "q244_bmp_pixels" -> ((s, d) =>
      Multimodal.bmpPixelFeatures(Tables.documents(s, d))),
    // REAL audio codec gate (the q244 discipline on the WAV/PCM format):
    // per-channel waveform features from decoding actual RIFF bytes
    // (chunk walk, interleaved s16le frames); the oracle computes the
    // generation closed forms without bytes
    "q301_wav_features" -> ((s, d) =>
      Multimodal.wavChannelFeatures(Tables.documents(s, d))),
    // 8-bit UNSIGNED PCM export of the same audio assets (round 13):
    // the sign-convention + block-align corners 16-bit files can't see
    "q303_wav_pcm8" -> ((s, d) =>
      Multimodal.wavPcm8Features(Tables.documents(s, d))),
    // waveform dynamics off the decoded sample SERIES: zero-crossing
    // rate, min/max, mean-abs numerator, crest factor (round 13)
    "q304_wav_dynamics" -> ((s, d) =>
      Multimodal.wavDynamics(Tables.documents(s, d))),
    // silence-run segmentation (VAD preprocessing shape) over the
    // burst-envelope assets: gaps-and-islands on |s| <= 128 (round 13)
    "q305_wav_silence" -> ((s, d) =>
      Multimodal.wavSilenceRuns(Tables.documents(s, d))),
    // thumbnail/resize through the real BMP codec BOTH ways: decode
    // pixels, nearest-neighbor downsample x2, re-encode, feature-decode
    // the thumbnail file (round 13)
    "q306_bmp_thumbnail" -> ((s, d) =>
      Multimodal.bmpThumbnails(Tables.documents(s, d))),
    // resample (x2 decimation) through the real WAV codec both ways:
    // the audio twin of q306 (round 13)
    "q307_wav_resample" -> ((s, d) =>
      Multimodal.wavResample(Tables.documents(s, d))),
    // grayscale (integer BT.601 luma) through the BMP codec both ways
    // + 4-bucket luma histogram off the re-decoded gray file (round 13)
    "q308_bmp_grayscale" -> ((s, d) =>
      Multimodal.bmpGrayscale(Tables.documents(s, d))),
    // integer-exact waveform autocorrelation at lags {1,2,4} + best
    // lag: the periodicity/pitch proxy beside q304's ZCR (round 13)
    "q309_wav_autocorr" -> ((s, d) =>
      Multimodal.wavAutocorr(Tables.documents(s, d))),
    // quad-channel 16-bit export: block-align 8 + 4-way interleave —
    // the >stereo corner q301/q303 cannot see (round 13)
    "q314_wav_quad" -> ((s, d) =>
      Multimodal.wavQuadFeatures(Tables.documents(s, d))),
    // WebDataset tar-shard container block (round 14): real .tar shards
    // of interleaved <id>.bmp + <id>.json sample members on scratch
    // disk, read back through binaryFile + a validating ustar walk.
    // q317 = the loader's shard manifest (counts/bytes per shard, with
    // on-disk archive size from the filesystem)
    "q317_tar_inventory" -> ((s, d) =>
      graft.operators.WebDataset.tarInventory(Tables.documents(s, d))),
    // q318 = decode THROUGH the container: q244's pixel moments from
    // bytes that traveled shard-build -> header walk -> member slice
    "q318_tar_decode" -> ((s, d) =>
      graft.operators.WebDataset.tarDecodeFeatures(Tables.documents(s, d))),
    // q319 = sample integrity: sidecar JSON (real from_json) vs the
    // paired BMP header dims + ustar padding accounting vs file length
    "q319_tar_integrity" -> ((s, d) =>
      graft.operators.WebDataset.tarIntegrity(Tables.documents(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    "q35_media_profile" ->
      // decoded dims/sizes restated as the BmpCodec closed forms:
      // w = 16 + 7d mod 48, h = 16 + 13d mod 32, stride padded to 4
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS media_type,
        |    16 + (doc_id * 7) % 48 AS w, 16 + (doc_id * 13) % 32 AS h
        |  FROM documents
        |),
        |b AS (
        |  SELECT media_type, w, h,
        |    CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS n_bytes
        |  FROM a
        |)
        |SELECT media_type, count(*) AS n_assets,
        | CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        | round(avg(w), 4) AS avg_width,
        | round(avg(h), 4) AS avg_height,
        | round(sum(round(n_bytes / 1000.0, 3)), 3) AS total_duration
        |FROM b GROUP BY media_type ORDER BY media_type""".stripMargin,
    "q244_bmp_pixels" ->
      // the pixel-pattern closed forms summed over each asset's (x, y)
      // grid - no byte ever touched on the oracle side
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(16 + (doc_id * 7) % 48 AS INT) AS w,
        |    CAST(16 + (doc_id * 13) % 32 AS INT) AS h
        |  FROM documents
        |),
        |px AS (
        |  SELECT doc_id, w, h, x, y, (3 * x + 5 * y + doc_id) % 256 AS r
        |  FROM d,
        |    LATERAL (SELECT unnest(range(0, w)) AS x),
        |    LATERAL (SELECT unnest(range(0, h)) AS y)
        |)
        |SELECT doc_id AS asset_id, w AS width, h AS height,
        | CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
        | CAST(sum(r) AS BIGINT) AS r_sum,
        | CAST(sum((7 * x + 11 * y + 2 * doc_id) % 256) AS BIGINT) AS g_sum,
        | CAST(sum((13 * x + 17 * y + 3 * doc_id) % 256) AS BIGINT) AS b_sum,
        | CAST(sum((x + 1) * (y + 1) * r) AS BIGINT) AS rw_sum
        |FROM px GROUP BY doc_id, w, h ORDER BY asset_id""".stripMargin,
    "q301_wav_features" ->
      // the sample-pattern closed forms summed over each audio asset's
      // (frame, channel) grid — no byte ever touched on the oracle side;
      // rms is the one double render from the same exact integers
      """WITH p AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS ch,
        |    CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sr,
        |    CAST(64 + (doc_id * 11) % 192 AS INT) AS n
        |  FROM documents WHERE doc_id % 3 = 1
        |),
        |s AS (
        |  SELECT doc_id, ch, sr, n, c, i,
        |    (37 * i + 101 * c + doc_id) % 65536 - 32768 AS s
        |  FROM p,
        |    LATERAL (SELECT unnest(range(0, ch)) AS c),
        |    LATERAL (SELECT unnest(range(0, n)) AS i)
        |)
        |SELECT doc_id AS asset_id, ch AS n_channels, sr AS sample_rate,
        | n AS n_frames, CAST(44 + ch * 2 * n AS BIGINT) AS n_bytes,
        | CAST(c AS INT) AS channel,
        | CAST(sum(s) AS BIGINT) AS s_sum,
        | CAST(sum(s * s) AS BIGINT) AS s_sq_sum,
        | CAST(sum((i + 1) * s) AS BIGINT) AS w_sum,
        | round(sqrt(CAST(sum(s * s) AS DOUBLE) / n), 4) AS rms
        |FROM s GROUP BY doc_id, ch, sr, n, c
        |ORDER BY asset_id, channel""".stripMargin,
    "q303_wav_pcm8" ->
      // the 8-bit export: stored byte u = (29i + 67c + d) mod 256,
      // decoded sample s = u − 128 (8-bit PCM is UNSIGNED per the WAVE
      // spec); n_bytes = 44 + ch·1·n (block-align = channels)
      """WITH p AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS ch,
        |    CAST(8000 + (doc_id % 2) * 3000 AS INT) AS sr,
        |    CAST(48 + (doc_id * 13) % 160 AS INT) AS n
        |  FROM documents WHERE doc_id % 3 = 1
        |),
        |s AS (
        |  SELECT doc_id, ch, sr, n, c, i,
        |    (29 * i + 67 * c + doc_id) % 256 - 128 AS s
        |  FROM p,
        |    LATERAL (SELECT unnest(range(0, ch)) AS c),
        |    LATERAL (SELECT unnest(range(0, n)) AS i)
        |)
        |SELECT doc_id AS asset_id, ch AS n_channels, sr AS sample_rate,
        | n AS n_frames, CAST(44 + ch * n AS BIGINT) AS n_bytes,
        | CAST(c AS INT) AS channel,
        | CAST(sum(s) AS BIGINT) AS s_sum,
        | CAST(sum(s * s) AS BIGINT) AS s_sq_sum,
        | CAST(sum((i + 1) * s) AS BIGINT) AS w_sum,
        | round(sqrt(CAST(sum(s * s) AS DOUBLE) / n), 4) AS rms
        |FROM s GROUP BY doc_id, ch, sr, n, c
        |ORDER BY asset_id, channel""".stripMargin,
    "q304_wav_dynamics" ->
      // dynamics off the SERIES: zcr counts nonneg↔neg transitions via
      // lag over the generated (frame, channel) grid; crest is the one
      // double render from the same exact integers
      """WITH p AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS ch,
        |    CAST(64 + (doc_id * 11) % 192 AS INT) AS n
        |  FROM documents WHERE doc_id % 3 = 1
        |),
        |s AS (
        |  SELECT doc_id, ch, n, c, i,
        |    (37 * i + 101 * c + doc_id) % 65536 - 32768 AS s
        |  FROM p,
        |    LATERAL (SELECT unnest(range(0, ch)) AS c),
        |    LATERAL (SELECT unnest(range(0, n)) AS i)
        |),
        |w AS (
        |  SELECT *, lag(s) OVER (PARTITION BY doc_id, c ORDER BY i) AS prev
        |  FROM s
        |)
        |SELECT doc_id AS asset_id, CAST(c AS INT) AS channel, n AS n_frames,
        | CAST(count(CASE WHEN prev IS NOT NULL
        |   AND (s >= 0) <> (prev >= 0) THEN 1 END) AS BIGINT) AS zcr,
        | CAST(min(s) AS BIGINT) AS s_min, CAST(max(s) AS BIGINT) AS s_max,
        | CAST(sum(abs(s)) AS BIGINT) AS abs_sum,
        | round(greatest(abs(min(s)), abs(max(s)))
        |   / sqrt(CAST(sum(s * s) AS DOUBLE) / n), 4) AS crest
        |FROM w GROUP BY doc_id, c, n
        |ORDER BY asset_id, channel""".stripMargin,
    "q305_wav_silence" ->
      // the burst-envelope closed forms + the standard i - row_number()
      // island key over quiet frames; channels with no quiet frame keep
      // their row via the LEFT join (first_quiet = -1)
      """WITH p AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS ch,
        |    CAST(96 + (doc_id * 7) % 160 AS INT) AS n
        |  FROM documents WHERE doc_id % 3 = 1
        |),
        |s AS (
        |  SELECT doc_id, ch, n, c, i,
        |    CASE WHEN ((i // 16) + c + doc_id) % 2 = 1
        |      THEN ((29 * i + 67 * c + doc_id) % 256 - 128) * 255
        |      ELSE (29 * i + 67 * c + doc_id) % 256 - 128 END AS s
        |  FROM p,
        |    LATERAL (SELECT unnest(range(0, ch)) AS c),
        |    LATERAL (SELECT unnest(range(0, n)) AS i)
        |),
        |q AS (
        |  SELECT doc_id, c, i,
        |    i - row_number() OVER (PARTITION BY doc_id, c ORDER BY i) AS grp
        |  FROM s WHERE abs(s) <= 128
        |),
        |runs AS (
        |  SELECT doc_id, c, grp, count(*) AS len, min(i) AS st
        |  FROM q GROUP BY doc_id, c, grp
        |),
        |agg AS (
        |  SELECT doc_id, c, sum(len) AS n_quiet, count(*) AS n_runs,
        |    max(len) AS longest_run, min(st) AS first_quiet
        |  FROM runs GROUP BY doc_id, c
        |),
        |chans AS (
        |  SELECT doc_id, n, c FROM p,
        |    LATERAL (SELECT unnest(range(0, ch)) AS c)
        |)
        |SELECT chans.doc_id AS asset_id, CAST(chans.c AS INT) AS channel,
        | chans.n AS n_frames,
        | CAST(coalesce(a.n_quiet, 0) AS BIGINT) AS n_quiet,
        | CAST(coalesce(a.n_runs, 0) AS BIGINT) AS n_runs,
        | CAST(coalesce(a.longest_run, 0) AS BIGINT) AS longest_run,
        | CAST(coalesce(a.first_quiet, -1) AS BIGINT) AS first_quiet
        |FROM chans LEFT JOIN agg a
        |  ON a.doc_id = chans.doc_id AND a.c = chans.c
        |ORDER BY asset_id, channel""".stripMargin,
    "q306_bmp_thumbnail" ->
      // the thumbnail pixel at (x, y) is the ORIGINAL pattern at
      // (2x, 2y); sums run over the ceil(w/2) x ceil(h/2) output grid;
      // thumb_bytes re-derives the thumbnail's own stride padding
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(16 + (doc_id * 7) % 48 AS INT) AS w,
        |    CAST(16 + (doc_id * 13) % 32 AS INT) AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |),
        |t AS (
        |  SELECT doc_id, w, h,
        |    CAST((w + 1) // 2 AS INT) AS wo, CAST((h + 1) // 2 AS INT) AS ho
        |  FROM d
        |),
        |px AS (
        |  SELECT doc_id, w, h, wo, ho, x, y,
        |    (3 * (x * 2) + 5 * (y * 2) + doc_id) % 256 AS r,
        |    (7 * (x * 2) + 11 * (y * 2) + 2 * doc_id) % 256 AS g,
        |    (13 * (x * 2) + 17 * (y * 2) + 3 * doc_id) % 256 AS b
        |  FROM t,
        |    LATERAL (SELECT unnest(range(0, wo)) AS x),
        |    LATERAL (SELECT unnest(range(0, ho)) AS y)
        |)
        |SELECT doc_id AS asset_id, w AS width, h AS height,
        | wo AS thumb_w, ho AS thumb_h,
        | CAST(54 + ((wo * 3 + 3) // 4) * 4 * ho AS BIGINT) AS thumb_bytes,
        | CAST(sum(r) AS BIGINT) AS r_sum,
        | CAST(sum(g) AS BIGINT) AS g_sum,
        | CAST(sum(b) AS BIGINT) AS b_sum,
        | CAST(sum((x + 1) * (y + 1) * r) AS BIGINT) AS rw_sum
        |FROM px GROUP BY doc_id, w, h, wo, ho
        |ORDER BY asset_id""".stripMargin,
    "q307_wav_resample" ->
      // decimation: output frame j is the q301 sample pattern at i = 2j;
      // sums run over the ceil(n/2) output frames; sr halves exactly
      // (every fixture rate is even), n_bytes re-derives the new header
      """WITH p AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS ch,
        |    CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sr,
        |    CAST(64 + (doc_id * 11) % 192 AS INT) AS n
        |  FROM documents WHERE doc_id % 3 = 1
        |),
        |t AS (SELECT doc_id, ch, sr, n, CAST((n + 1) // 2 AS INT) AS no FROM p),
        |s AS (
        |  SELECT doc_id, ch, sr, n, no, c, j,
        |    (37 * (2 * j) + 101 * c + doc_id) % 65536 - 32768 AS s
        |  FROM t,
        |    LATERAL (SELECT unnest(range(0, ch)) AS c),
        |    LATERAL (SELECT unnest(range(0, no)) AS j)
        |)
        |SELECT doc_id AS asset_id, sr AS sr_in, CAST(sr // 2 AS INT) AS sr_out,
        | n AS n_in, no AS n_out,
        | CAST(44 + ch * 2 * no AS BIGINT) AS n_bytes,
        | CAST(c AS INT) AS channel,
        | CAST(sum(s) AS BIGINT) AS s_sum,
        | CAST(sum(s * s) AS BIGINT) AS s_sq_sum,
        | CAST(sum((j + 1) * s) AS BIGINT) AS w_sum
        |FROM s GROUP BY doc_id, ch, sr, n, no, c
        |ORDER BY asset_id, channel""".stripMargin,
    "q308_bmp_grayscale" ->
      // the luma closed form over the (x, y) grid: integer BT.601 with
      // the // 1000 floor shared by both engines; the histogram buckets
      // l // 64; n_bytes is the gray file's own header + stride math
      // (same dims as the original, so the same closed form)
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(16 + (doc_id * 7) % 48 AS INT) AS w,
        |    CAST(16 + (doc_id * 13) % 32 AS INT) AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |),
        |px AS (
        |  SELECT doc_id, w, h, x, y,
        |    (299 * ((3 * x + 5 * y + doc_id) % 256)
        |     + 587 * ((7 * x + 11 * y + 2 * doc_id) % 256)
        |     + 114 * ((13 * x + 17 * y + 3 * doc_id) % 256)) // 1000 AS l
        |  FROM d,
        |    LATERAL (SELECT unnest(range(0, w)) AS x),
        |    LATERAL (SELECT unnest(range(0, h)) AS y)
        |)
        |SELECT doc_id AS asset_id, w AS width, h AS height,
        | CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
        | CAST(sum(l) AS BIGINT) AS l_sum,
        | CAST(sum((x + 1) * (y + 1) * l) AS BIGINT) AS lw_sum,
        | CAST(count(CASE WHEN l // 64 = 0 THEN 1 END) AS BIGINT) AS h0,
        | CAST(count(CASE WHEN l // 64 = 1 THEN 1 END) AS BIGINT) AS h1,
        | CAST(count(CASE WHEN l // 64 = 2 THEN 1 END) AS BIGINT) AS h2,
        | CAST(count(CASE WHEN l // 64 = 3 THEN 1 END) AS BIGINT) AS h3
        |FROM px GROUP BY doc_id, w, h ORDER BY asset_id""".stripMargin,
    "q309_wav_autocorr" ->
      // lag() windows over the generated (frame, channel) grid: sum
      // skips the NULL first-lag rows, matching the i >= L loop bound;
      // best_lag shares the smallest-lag-on-ties rule
      """WITH p AS (
        |  SELECT doc_id, CAST(1 + doc_id % 2 AS INT) AS ch,
        |    CAST(64 + (doc_id * 11) % 192 AS INT) AS n
        |  FROM documents WHERE doc_id % 3 = 1
        |),
        |s AS (
        |  SELECT doc_id, ch, n, c, i,
        |    (37 * i + 101 * c + doc_id) % 65536 - 32768 AS s
        |  FROM p,
        |    LATERAL (SELECT unnest(range(0, ch)) AS c),
        |    LATERAL (SELECT unnest(range(0, n)) AS i)
        |),
        |w AS (
        |  SELECT doc_id, c, n, s,
        |    lag(s, 1) OVER (PARTITION BY doc_id, c ORDER BY i) AS p1,
        |    lag(s, 2) OVER (PARTITION BY doc_id, c ORDER BY i) AS p2,
        |    lag(s, 4) OVER (PARTITION BY doc_id, c ORDER BY i) AS p4
        |  FROM s
        |),
        |a AS (
        |  SELECT doc_id, c, n,
        |    CAST(sum(s * s) AS BIGINT) AS ac0,
        |    CAST(sum(s * p1) AS BIGINT) AS ac1,
        |    CAST(sum(s * p2) AS BIGINT) AS ac2,
        |    CAST(sum(s * p4) AS BIGINT) AS ac4
        |  FROM w GROUP BY doc_id, c, n
        |)
        |SELECT doc_id AS asset_id, CAST(c AS INT) AS channel, n AS n_frames,
        | ac0, ac1, ac2, ac4,
        | CAST(CASE WHEN ac1 >= ac2 AND ac1 >= ac4 THEN 1
        |           WHEN ac2 >= ac4 THEN 2 ELSE 4 END AS BIGINT) AS best_lag
        |FROM a ORDER BY asset_id, channel""".stripMargin,
    "q314_wav_quad" ->
      // the q301 sample closed forms over a FIXED ch = 4 grid with the
      // quad frame-count formula; n_bytes = 44 + 4*2*n (block-align 8)
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sr,
        |    CAST(40 + (doc_id * 9) % 128 AS INT) AS n
        |  FROM documents WHERE doc_id % 3 = 1
        |),
        |s AS (
        |  SELECT doc_id, sr, n, c, i,
        |    (37 * i + 101 * c + doc_id) % 65536 - 32768 AS s
        |  FROM p,
        |    LATERAL (SELECT unnest(range(0, 4)) AS c),
        |    LATERAL (SELECT unnest(range(0, n)) AS i)
        |)
        |SELECT doc_id AS asset_id, CAST(4 AS INT) AS n_channels,
        | sr AS sample_rate, n AS n_frames,
        | CAST(44 + 8 * n AS BIGINT) AS n_bytes,
        | CAST(c AS INT) AS channel,
        | CAST(sum(s) AS BIGINT) AS s_sum,
        | CAST(sum(s * s) AS BIGINT) AS s_sq_sum,
        | CAST(sum((i + 1) * s) AS BIGINT) AS w_sum,
        | round(sqrt(CAST(sum(s * s) AS DOUBLE) / n), 4) AS rms
        |FROM s GROUP BY doc_id, sr, n, c
        |ORDER BY asset_id, channel""".stripMargin,
    "q36_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id AS asset_id, text,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents WHERE doc_id % 3 = 2
        |),
        |frames AS (
        |  SELECT asset_id, text,
        |    unnest(generate_series(0, greatest(CAST(floor(n_bytes / 64.0) AS INT) - 1, 0))) AS frame_no
        |  FROM v
        |)
        |SELECT asset_id, frame_no, md5(substr(text, frame_no * 64 + 1, 64)) AS frame_checksum
        |FROM frames WHERE frame_no % 4 = 0
        |ORDER BY asset_id, frame_no""".stripMargin,
    "q94_frame_dedup" ->
      // same 64-byte frame windows (ASCII payloads: char slices == byte
      // slices); keeper = lexicographic-min (asset, frame) via the
      // min-asset window
      """WITH f AS (
        |  SELECT doc_id AS asset_id, i AS frame_no,
        |    md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS fc
        |  FROM documents,
        |    LATERAL (SELECT unnest(range(0, greatest(length(text) // 64, 1))) AS i)
        |),
        |m AS (SELECT *, min(asset_id) OVER (PARTITION BY fc) AS ma FROM f)
        |SELECT fc AS frame_checksum, count(*) AS n_copies,
        | count(DISTINCT asset_id) AS n_assets,
        | min(asset_id) AS keeper_asset,
        | CAST(min(CASE WHEN asset_id = ma THEN frame_no END) AS BIGINT) AS keeper_frame
        |FROM m GROUP BY fc HAVING count(*) > 1
        |ORDER BY fc""".stripMargin,
    "q203_frame_phash" -> {
      // exact all-pairs hamming (no banding) - the gate doubles as the
      // blocking's recall proof, the q178/q26 convention
      def hv(idx: Int) = s"(strpos('0123456789abcdef', substr(fc, $idx, 1)) - 1)"
      val h60 = (2 to 15).foldLeft(hv(1))((acc, i) => s"($acc * 16 + ${hv(i)})")
      s"""WITH f AS (
         |  SELECT doc_id AS asset_id,
         |    md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS fc
         |  FROM documents,
         |    LATERAL (SELECT unnest(range(0, greatest(length(text) // 64, 1))) AS i)
         |),
         |fh AS (SELECT asset_id, CAST($h60 AS BIGINT) AS h FROM f),
         |bits AS (
         |  SELECT asset_id, j,
         |    CASE WHEN 2 * sum((h >> CAST(j AS INT)) & 1) > count(*)
         |      THEN CAST(1 AS BIGINT) << CAST(j AS INT)
         |      ELSE CAST(0 AS BIGINT) END AS bitv
         |  FROM fh, LATERAL (SELECT unnest(range(0, 60)) AS j)
         |  GROUP BY asset_id, j
         |),
         |ph AS (SELECT asset_id, CAST(sum(bitv) AS BIGINT) AS phash
         |       FROM bits GROUP BY 1)
         |SELECT a.asset_id AS id1, b.asset_id AS id2,
         | CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
         |FROM ph a JOIN ph b ON a.asset_id < b.asset_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY id1, id2""".stripMargin
    },
    "q317_tar_inventory" ->
      // shard membership = doc_id div (3*16); member sizes are the BMP
      // closed form + the sidecar's digit-length closed form
      // (17 + digits(id) + digits(w) + digits(h)); archive size = ustar
      // block arithmetic (512-byte header + content rounded to blocks
      // per member, 1024-byte end marker, blocked to 10240). The ENGINE
      // side derives every number from walking real archives.
      """WITH img AS (
        |  SELECT doc_id, doc_id // 48 AS shard_id,
        |    CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS w,
        |    CAST(16 + (doc_id * 13) % 32 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |),
        |m AS (
        |  SELECT shard_id,
        |    CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS bmp_bytes,
        |    CAST(17 + length(CAST(doc_id AS VARCHAR)) + length(CAST(w AS VARCHAR))
        |       + length(CAST(h AS VARCHAR)) AS BIGINT) AS json_bytes
        |  FROM img
        |)
        |SELECT shard_id, CAST(2 * count(*) AS BIGINT) AS n_members,
        | count(*) AS n_bmp, count(*) AS n_json,
        | CAST(sum(bmp_bytes + json_bytes) AS BIGINT) AS member_bytes,
        | CAST(((sum(1024 + (bmp_bytes + 511) // 512 * 512
        |          + (json_bytes + 511) // 512 * 512) + 1024 + 10239)
        |        // 10240) * 10240 AS BIGINT) AS archive_bytes
        |FROM m GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "q318_tar_decode" ->
      // the q244 pixel-moment closed forms, restricted to the image
      // rotation and rolled up per shard — no byte touched on the
      // oracle side; the engine decodes members sliced out of real tars
      """WITH d AS (
        |  SELECT doc_id, doc_id // 48 AS shard_id,
        |    CAST(16 + (doc_id * 7) % 48 AS INT) AS w,
        |    CAST(16 + (doc_id * 13) % 32 AS INT) AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |),
        |px AS (
        |  SELECT doc_id, shard_id, w, h, x, y,
        |    (3 * x + 5 * y + doc_id) % 256 AS r,
        |    (7 * x + 11 * y + 2 * doc_id) % 256 AS g,
        |    (13 * x + 17 * y + 3 * doc_id) % 256 AS b
        |  FROM d,
        |    LATERAL (SELECT unnest(range(0, w)) AS x),
        |    LATERAL (SELECT unnest(range(0, h)) AS y)
        |),
        |per AS (
        |  SELECT doc_id, shard_id, w, h,
        |    sum(r) AS rs, sum(g) AS gs, sum(b) AS bs,
        |    sum((x + 1) * (y + 1) * r) AS rw
        |  FROM px GROUP BY doc_id, shard_id, w, h
        |)
        |SELECT shard_id, count(*) AS n_assets,
        | CAST(min(w) AS BIGINT) AS min_width,
        | CAST(max(h) AS BIGINT) AS max_height,
        | CAST(sum(rs) AS BIGINT) AS r_sum, CAST(sum(gs) AS BIGINT) AS g_sum,
        | CAST(sum(bs) AS BIGINT) AS b_sum, CAST(sum(rw) AS BIGINT) AS rw_sum
        |FROM per GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "q319_tar_integrity" ->
      // every sidecar matches its paired image by construction, so
      // n_dim_match == n_samples; padding = blocked archive size minus
      // end marker minus member blocks — the engine recomputes all of
      // it from parsed headers + the filesystem length
      """WITH img AS (
        |  SELECT doc_id, doc_id // 48 AS shard_id,
        |    CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS w,
        |    CAST(16 + (doc_id * 13) % 32 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |),
        |m AS (
        |  SELECT shard_id,
        |    CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS bmp_bytes,
        |    CAST(17 + length(CAST(doc_id AS VARCHAR)) + length(CAST(w AS VARCHAR))
        |       + length(CAST(h AS VARCHAR)) AS BIGINT) AS json_bytes
        |  FROM img
        |),
        |agg AS (
        |  SELECT shard_id, count(*) AS n_samples, count(*) AS n_dim_match,
        |    sum(1024 + (bmp_bytes + 511) // 512 * 512
        |        + (json_bytes + 511) // 512 * 512) AS blocks
        |  FROM m GROUP BY shard_id
        |)
        |SELECT shard_id, n_samples, n_dim_match,
        | CAST(((blocks + 1024 + 10239) // 10240) * 10240 AS BIGINT)
        |   AS archive_bytes,
        | CAST(((blocks + 1024 + 10239) // 10240) * 10240 - 1024 - blocks
        |   AS BIGINT) AS padding_bytes
        |FROM agg ORDER BY shard_id""".stripMargin,
  )
}
