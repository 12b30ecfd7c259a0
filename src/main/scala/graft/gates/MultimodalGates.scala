package graft.gates

import graft.gates.Shared._
import graft.pipeline._
import org.apache.spark.sql.functions._

/** Multimodal gates: decode, resize and frame sampling over real
  * PGM/WAV/Y4M containers synthesized from the documents. */
object MultimodalGates {

  val all: Seq[Gate] = Seq(
    // every kind is a REAL container with a real pure-JVM codec:
    // P5 PGM images, RIFF PCM16 WAVs, mono Y4M video streams. The
    // oracle re-derives pixels / signed samples / per-frame planes
    // independently from the source text and checks decoded-VALUE
    // statistics (min/max/sum), not just container metadata
    Gate("multimodal_decode", (s, dir) => {
      val decoded = Multimodal.decode(s, Multimodal.synthesize(s, docs(s, dir)))
      decoded.toDF()
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          col("n_payload_bytes"), col("n_frames"), col("checksum"),
          size(col("feat")).as("feat_dim"),
          col("px_min"), col("px_max"), col("px_sum"))
        .orderBy("doc_id")
    },
      // each payload is re-derived INDEPENDENTLY from the source text:
      // PGM pixels = text bytes cycled to w*h; WAV samples = b*257-32768
      // (signed PCM16, data bytes [b, b+128]); Y4M frame f pixels =
      // bytes cycled with shift 11*f. Statistics are checked against
      // the real decoders' DECODED VALUES (signed samples for audio)
      Some("WITH d AS (SELECT doc_id, text, CAST(strlen(text) AS INT) AS n, " +
        "['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind FROM documents), " +
        "img AS (SELECT doc_id, kind, CAST(16 + n % 64 AS INT) AS width, CAST(16 + (n * 7) % 64 AS INT) AS height, " +
        "[ascii(substring(text, CAST(i % n AS INT) + 1, 1)) for i in range(0, (16 + n % 64) * (16 + (n * 7) % 64))] AS p " +
        "FROM d WHERE kind = 'image'), " +
        "imgo AS (SELECT doc_id, kind, width, height, CAST(len(p) AS INT) AS n_payload_bytes, CAST(1 AS INT) AS n_frames, " +
        "CAST(list_sum(p) % 1000000007 AS BIGINT) AS checksum, CAST(16 AS INT) AS feat_dim, " +
        "CAST(list_min(p) AS INT) AS px_min, CAST(list_max(p) AS INT) AS px_max, CAST(list_sum(p) AS BIGINT) AS px_sum FROM img), " +
        "aud AS (SELECT doc_id, kind, n, list_transform(string_split(text, ''), c -> ascii(c)) AS b FROM d WHERE kind = 'audio'), " +
        "audo AS (SELECT doc_id, kind, CAST(8000 AS INT) AS width, CAST(1 AS INT) AS height, " +
        "CAST(2 * n AS INT) AS n_payload_bytes, CAST(n AS INT) AS n_frames, " +
        "CAST((2 * list_sum(b) + 128 * n) % 1000000007 AS BIGINT) AS checksum, CAST(16 AS INT) AS feat_dim, " +
        "CAST(257 * list_min(b) - 32768 AS INT) AS px_min, CAST(257 * list_max(b) - 32768 AS INT) AS px_max, " +
        "CAST(257 * list_sum(b) - 32768 * n AS BIGINT) AS px_sum FROM aud), " +
        "vid AS (SELECT doc_id, kind, text, n, CAST(8 + n % 24 AS INT) AS width, CAST(8 + (n * 5) % 24 AS INT) AS height, " +
        "CAST(2 + n % 3 AS INT) AS nf FROM d WHERE kind = 'video'), " +
        "vidp AS (SELECT doc_id, kind, width, height, nf, flatten(list_transform(range(0, nf), f -> " +
        "list_transform(range(0, width * height), i -> ascii(substring(text, CAST((i + 11 * f) % n AS INT) + 1, 1))))) AS p FROM vid), " +
        "vido AS (SELECT doc_id, kind, width, height, CAST(len(p) AS INT) AS n_payload_bytes, nf AS n_frames, " +
        "CAST(list_sum(p) % 1000000007 AS BIGINT) AS checksum, CAST(16 AS INT) AS feat_dim, " +
        "CAST(list_min(p) AS INT) AS px_min, CAST(list_max(p) AS INT) AS px_max, CAST(list_sum(p) AS BIGINT) AS px_sum FROM vidp) " +
        "SELECT * FROM (SELECT * FROM imgo UNION ALL SELECT * FROM audo UNION ALL SELECT * FROM vido) ORDER BY doc_id")),

    // resize then decode: PGM images AND every Y4M frame are REALLY
    // resampled (nearest neighbor, integer index math) — the oracle
    // replays the resample and checks the resulting pixels; audio has
    // no spatial dimensions, so the resize passes WAV rows through
    // and the oracle expects their original decode
    Gate("multimodal_transform", (s, dir) => {
      val media = Multimodal.resize(s, Multimodal.synthesize(s, docs(s, dir)), 32, 24)
      Multimodal.decode(s, media).toDF()
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          col("n_payload_bytes"), col("checksum"),
          col("px_min"), col("px_max"), col("px_sum"))
        .orderBy("doc_id")
    },
      // images AND every Y4M frame: replay the nearest-neighbor
      // resample to 32x24 with the same integer index math
      // ((y*h0)//24, (x*w0)//32) and check the RESAMPLED pixels; audio
      // rows pass through the spatial resize untouched, so the oracle
      // expects their original signed-sample decode
      Some("WITH d AS (SELECT doc_id, text, CAST(strlen(text) AS INT) AS n, " +
        "['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind FROM documents), " +
        "img AS (SELECT doc_id, kind, text, n, CAST(16 + n % 64 AS INT) AS w0, CAST(16 + (n * 7) % 64 AS INT) AS h0 " +
        "FROM d WHERE kind = 'image'), " +
        "imgp AS (SELECT doc_id, kind, w0, h0, [ascii(substring(text, CAST(i % n AS INT) + 1, 1)) for i in range(0, w0 * h0)] AS p FROM img), " +
        "imgo AS (SELECT doc_id, kind, CAST(32 AS INT) AS width, CAST(24 AS INT) AS height, " +
        "CAST(768 AS INT) AS n_payload_bytes, " +
        "[p[CAST((i // 32) * h0 // 24 AS INT) * w0 + CAST((i % 32) * w0 // 32 AS INT) + 1] for i in range(0, 768)] AS q FROM imgp), " +
        "aud AS (SELECT doc_id, kind, n, list_transform(string_split(text, ''), c -> ascii(c)) AS b FROM d WHERE kind = 'audio'), " +
        "audo AS (SELECT doc_id, kind, CAST(8000 AS INT) AS width, CAST(1 AS INT) AS height, " +
        "CAST(2 * n AS INT) AS n_payload_bytes, " +
        "CAST((2 * list_sum(b) + 128 * n) % 1000000007 AS BIGINT) AS checksum, " +
        "CAST(257 * list_min(b) - 32768 AS INT) AS px_min, CAST(257 * list_max(b) - 32768 AS INT) AS px_max, " +
        "CAST(257 * list_sum(b) - 32768 * n AS BIGINT) AS px_sum FROM aud), " +
        "vid AS (SELECT doc_id, kind, text, n, CAST(8 + n % 24 AS INT) AS w0, CAST(8 + (n * 5) % 24 AS INT) AS h0, " +
        "CAST(2 + n % 3 AS INT) AS nf FROM d WHERE kind = 'video'), " +
        "vido AS (SELECT doc_id, kind, CAST(32 AS INT) AS width, CAST(24 AS INT) AS height, " +
        "CAST(nf * 768 AS INT) AS n_payload_bytes, flatten(list_transform(range(0, nf), f -> " +
        "list_transform(range(0, 768), i -> ascii(substring(text, " +
        "CAST(((CAST((i // 32) * h0 // 24 AS INT) * w0 + CAST((i % 32) * w0 // 32 AS INT)) + 11 * f) % n AS INT) + 1, 1))))) AS q FROM vid), " +
        "spatial AS (SELECT doc_id, kind, width, height, n_payload_bytes, " +
        "CAST(list_sum(q) % 1000000007 AS BIGINT) AS checksum, " +
        "CAST(list_min(q) AS INT) AS px_min, CAST(list_max(q) AS INT) AS px_max, CAST(list_sum(q) AS BIGINT) AS px_sum " +
        "FROM (SELECT * FROM imgo UNION ALL SELECT * FROM vido)) " +
        "SELECT * FROM (SELECT * FROM spatial UNION ALL SELECT * FROM audo) ORDER BY doc_id")),

    // frame sampling: every 2nd REAL Y4M frame of video streams
    // (n_bytes = the frame's plane size), single frame 0 (first 256
    // payload bytes) for other kinds; per-frame checksums
    Gate("multimodal_frames", (s, dir) =>
      Multimodal.sampleFrames(s, Multimodal.synthesize(s, docs(s, dir)), 2)
        .toDF().orderBy("doc_id", "frame_idx"),
      // image/audio frame 0 = the first 256 bytes of the parser-located
      // payload (decoded pixels / PCM data bytes [b, b+128] per
      // sample); video = every 2nd REAL Y4M frame, n_bytes = the
      // frame's w*h plane, checksum over that frame's shifted pixels
      Some("WITH d AS (SELECT doc_id, ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind, " +
        "text, CAST(strlen(text) AS INT) AS n FROM documents), " +
        "imf AS (SELECT doc_id, kind, CAST(0 AS INT) AS frame_idx, " +
        "CAST(least(256, (16 + n % 64) * (16 + (n * 7) % 64)) AS INT) AS n_bytes, " +
        "CAST(list_sum([ascii(substring(text, CAST(i % n AS INT) + 1, 1)) " +
        "for i in range(0, least(256, (16 + n % 64) * (16 + (n * 7) % 64)))]) % 1000000007 AS BIGINT) AS checksum " +
        "FROM d WHERE kind = 'image'), " +
        "auf AS (SELECT doc_id, kind, CAST(0 AS INT) AS frame_idx, CAST(least(256, 2 * n) AS INT) AS n_bytes, " +
        "CAST((2 * list_sum(list_transform(string_split(substring(text, 1, CAST(least(128, n) AS INT)), ''), c -> ascii(c))) " +
        "+ 128 * least(128, n)) % 1000000007 AS BIGINT) AS checksum " +
        "FROM d WHERE kind = 'audio'), " +
        "vid AS (SELECT doc_id, kind, text, n, CAST(8 + n % 24 AS INT) AS w, CAST(8 + (n * 5) % 24 AS INT) AS h, " +
        "CAST(2 + n % 3 AS INT) AS nf FROM d WHERE kind = 'video'), " +
        "vf AS (SELECT doc_id, kind, CAST(f AS INT) AS frame_idx, CAST(w * h AS INT) AS n_bytes, " +
        "CAST(list_sum([ascii(substring(text, CAST((i + 11 * f) % n AS INT) + 1, 1)) for i in range(0, w * h)]) % 1000000007 AS BIGINT) AS checksum " +
        "FROM (SELECT v.*, unnest(range(0, nf, 2)) AS f FROM vid v)) " +
        "SELECT * FROM (SELECT * FROM imf UNION ALL SELECT * FROM auf UNION ALL SELECT * FROM vf) ORDER BY doc_id, frame_idx"))
  )
}
