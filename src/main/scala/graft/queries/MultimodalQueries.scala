package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.multimodal.Multimodal

/** Multimodal-column queries over fake binary media derived from the
  * documents table. Frame sampling is pure expression → oracle-checked;
  * the stub-decode feature extraction involves JVM hashing → rows-only. */
object MultimodalQueries extends QueryPack {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary frame sampling: chunk + stride select, all in expressions.
    "q_mm_frame_sample" -> ((s, d) => {
      val docs = Multimodal.withFakeImage(
        Tables(s, d, "documents").filter(col("doc_id") < 50), "text")
      Multimodal.sampleFrames(docs, "doc_id", "image", frameBytes = 32, stride = 2)
        // surface the frame as UTF-8 text (the fake media is ASCII): the
        // driver's pandas-side hasher cannot hash raw binary cells
        .withColumn("frame", decode(col("frame"), "UTF-8"))
        .orderBy("doc_id", "frame_idx")
    }),

    // "Audio" waveform framing: per-frame energy/RMS over the byte samples.
    "q_mm_audio_energy" -> ((s, d) => {
      val docs = Multimodal.withFakeImage(
        Tables(s, d, "documents").filter(col("doc_id") < 50), "text", out = "audio")
      Multimodal.frameEnergy(docs, "doc_id", "audio", frameBytes = 32)
        .orderBy("doc_id", "frame_idx")
    }),

    // REAL WAV round trip: synthesize an integer-exact PCM16 waveform per
    // doc, encode it as genuine RIFF/WAVE bytes, decode with the chunk-
    // walking parser, extract features. The oracle recomputes the same
    // waveform in closed form — a header/byte-order/chunk bug anywhere in
    // the codec corrupts samples and breaks the hash match.
    "q_mm_wav_roundtrip" -> ((s, d) => {
      val docs = Tables(s, d, "documents").filter(col("doc_id") < 200)
        .select("doc_id")
      Multimodal.extractWavFeatures(
        Multimodal.withSyntheticWav(docs, "doc_id"), "doc_id", "wav")
        .toDF().orderBy("id")
    }),

    // REAL BMP round trip: synthetic BGR24 image per doc (odd widths force
    // row padding), encoded as genuine BMP bytes, decoded by the header
    // parser; per-channel pixel sums are exact integers the closed-form
    // oracle recomputes — bottom-up row order or padding bugs break it.
    "q_mm_bmp_roundtrip" -> ((s, d) => {
      val docs = Tables(s, d, "documents").filter(col("doc_id") < 200)
        .select("doc_id")
      Multimodal.extractBmpFeatures(
        Multimodal.withSyntheticBmp(docs, "doc_id"), "doc_id", "bmp")
        .toDF().orderBy("id")
    }),

    // Decode → nearest-neighbor RESIZE → re-encode → decode, all through
    // the real BMP codec; the closed-form oracle recomputes the resized
    // grid's channel sums from the synthetic pixel formula at the sampled
    // (2x, 2y) coordinates — any sampling, row-order, or padding bug in
    // the resize path breaks the hash.
    "q_mm_bmp_resize" -> ((s, d) => {
      val docs = Tables(s, d, "documents").filter(col("doc_id") < 200)
        .select("doc_id")
      val resized = Multimodal.resizeBmpNearest(
        Multimodal.withSyntheticBmp(docs, "doc_id"), "doc_id", "bmp",
        factor = 2)
      Multimodal.extractBmpFeatures(resized, "doc_id", "bmp")
        .toDF().orderBy("id")
    }),

    // Stub decode → features (mapPartitions batch path). Oracle-checked:
    // the stub codec's hash is a 31-multiplier byte fold reproduced in SQL
    // via list_reduce, and resize/mean are plain integer arithmetic.
    "q_mm_features" -> ((s, d) => {
      val docs = Multimodal.withFakeImage(
        Tables(s, d, "documents").filter(col("doc_id") < 50), "text")
      Multimodal.filterDecodable(
        Multimodal.extractImageFeatures(docs, "doc_id", "image"))
        .toDF()
        .select("id", "format", "width", "height", "sizeBytes", "meanIntensity")
        .orderBy("id")
    }))

  val oracles: Map[String, String] = Map(
    "q_mm_wav_roundtrip" ->
      // closed-form recomputation of the synthetic sawtooth
      // s(i) = (((i·k + b) mod p)·2 − (p−1))·300 — verifying the engine's
      // WAV encode→decode round trip without parsing any bytes here
      """WITH par AS (SELECT doc_id AS id,
        |  CAST(800 + (doc_id % 5) * 160 AS INTEGER) AS n,
        |  CAST(doc_id % 7 + 2 AS INTEGER) AS k,
        |  CAST(doc_id % 13 AS INTEGER) AS b,
        |  CAST(20 + (doc_id % 30) AS INTEGER) AS p
        |  FROM documents WHERE doc_id < 200),
        |w AS (SELECT id, n,
        |  list_transform(range(0, n),
        |    i -> (((i * k + b) % p) * 2 - (p - 1)) * 300) AS s
        |  FROM par)
        |SELECT id, CAST(8000 AS INTEGER) AS sample_rate,
        | CAST(n AS BIGINT) AS n_samples,
        | CAST(n AS DOUBLE) / 8000 AS duration_s,
        | CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
        | CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS energy,
        | CAST(list_sum(list_transform(range(1, n),
        |   i -> CASE WHEN (s[i] < 0 AND s[i + 1] >= 0)
        |          OR (s[i] >= 0 AND s[i + 1] < 0) THEN 1 ELSE 0 END))
        |   AS BIGINT) AS zero_crossings
        |FROM w ORDER BY id""".stripMargin,

    "q_mm_bmp_roundtrip" ->
      """WITH par AS (SELECT doc_id AS id,
        |  CAST(17 + doc_id % 15 AS INTEGER) AS w,
        |  CAST(9 + doc_id % 7 AS INTEGER) AS h
        |  FROM documents WHERE doc_id < 200),
        |px AS (SELECT id, w, h,
        |  list_sum(flatten(list_transform(range(0, h), y ->
        |    list_transform(range(0, w), x -> (x * 3 + y * 7 + id) % 256))))
        |    AS sum_b,
        |  list_sum(flatten(list_transform(range(0, h), y ->
        |    list_transform(range(0, w), x -> (x + y * 11 + id * 5) % 256))))
        |    AS sum_g,
        |  list_sum(flatten(list_transform(range(0, h), y ->
        |    list_transform(range(0, w), x -> (x * 13 + y + id * 9) % 256))))
        |    AS sum_r
        |  FROM par)
        |SELECT id, w AS width, h AS height,
        | CAST(54 + (3 * w + (4 - (3 * w) % 4) % 4) * h AS BIGINT) AS size_bytes,
        | CAST(sum_b AS BIGINT) AS sum_b, CAST(sum_g AS BIGINT) AS sum_g,
        | CAST(sum_r AS BIGINT) AS sum_r
        |FROM px ORDER BY id""".stripMargin,

    "q_mm_bmp_resize" ->
      """WITH par AS (SELECT doc_id AS id,
        |  CAST((17 + doc_id % 15) // 2 AS INTEGER) AS w2,
        |  CAST((9 + doc_id % 7) // 2 AS INTEGER) AS h2
        |  FROM documents WHERE doc_id < 200),
        |px AS (SELECT id, w2, h2,
        |  list_sum(flatten(list_transform(range(0, h2), y ->
        |    list_transform(range(0, w2), x -> (2*x * 3 + 2*y * 7 + id) % 256))))
        |    AS sum_b,
        |  list_sum(flatten(list_transform(range(0, h2), y ->
        |    list_transform(range(0, w2), x -> (2*x + 2*y * 11 + id * 5) % 256))))
        |    AS sum_g,
        |  list_sum(flatten(list_transform(range(0, h2), y ->
        |    list_transform(range(0, w2), x -> (2*x * 13 + 2*y + id * 9) % 256))))
        |    AS sum_r
        |  FROM par)
        |SELECT id, w2 AS width, h2 AS height,
        | CAST(54 + (3 * w2 + (4 - (3 * w2) % 4) % 4) * h2 AS BIGINT) AS size_bytes,
        | CAST(sum_b AS BIGINT) AS sum_b, CAST(sum_g AS BIGINT) AS sum_g,
        | CAST(sum_r AS BIGINT) AS sum_r
        |FROM px ORDER BY id""".stripMargin,

    "q_mm_frame_sample" ->
      // the fake media bytes are UTF-8 of ASCII text, so a VARCHAR
      // substring is byte-identical to the binary slice decoded back
      """SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
        | substring(text, CAST(fi AS INTEGER) * 32 + 1, 32) AS frame
        |FROM documents,
        | LATERAL (SELECT unnest(range(0, CAST(octet_length(CAST(text AS BLOB)) // 32
        |   AS INTEGER), 2)) AS fi) t
        |WHERE doc_id < 50 AND octet_length(CAST(text AS BLOB)) // 32 > 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "q_mm_features" ->
      // java.util.Arrays.hashCode = fold(31·h + b) in wrapping 32-bit
      // arithmetic; the fold runs in unsigned-congruent BIGINT space and
      // converts to the signed value once at the end. width/height come
      // from the stride resize (the hash-derived dims are overwritten).
      """WITH d AS (SELECT doc_id AS id, text,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
        |  FROM documents WHERE doc_id < 50),
        |hb AS (SELECT id, text, n,
        |  list_reduce(
        |    list_prepend(CAST(1 AS BIGINT),
        |      list_transform(range(1, CAST(n + 1 AS INTEGER)),
        |        i -> CAST(ord(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |    (a, b) -> ((a * 31 + b) % 4294967296 + 4294967296) % 4294967296) AS u
        |  FROM d),
        |hs AS (SELECT id, text, n,
        |  u - (CASE WHEN u >= 2147483648 THEN 4294967296 ELSE 0 END) AS h FROM hb),
        |f AS (SELECT id, text, n,
        |  ['png', 'jpeg', 'webp'][CAST(((h % 3) + 3) % 3 AS INTEGER) + 1] AS format,
        |  GREATEST(1, n // 64) AS s FROM hs),
        |sam AS (SELECT id, format, n,
        |  CAST((n + s - 1) // s AS INTEGER) AS width,
        |  list_transform(range(0, CAST(n AS INTEGER), CAST(s AS INTEGER)),
        |    i -> CAST(ord(substr(text, CAST(i + 1 AS INTEGER), 1)) AS BIGINT)) AS px
        |  FROM f)
        |SELECT id, format, width, CAST(1 AS INTEGER) AS height, n AS sizeBytes,
        |  CAST(list_sum(px) AS DOUBLE) / len(px) AS meanIntensity
        |FROM sam ORDER BY id""".stripMargin,

    "q_mm_audio_energy" ->
      // per-frame Σ byte² over the ASCII text bytes — integer-exact on
      // both engines, so energy and rms = sqrt(energy/32) hash-match
      """WITH fr AS (SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
        |  substring(text, CAST(fi AS INTEGER) * 32 + 1, 32) AS f
        | FROM documents,
        |  LATERAL (SELECT unnest(range(0, CAST(octet_length(CAST(text AS BLOB)) // 32
        |    AS INTEGER))) AS fi) t
        | WHERE doc_id < 50 AND octet_length(CAST(text AS BLOB)) // 32 > 0),
        |en AS (SELECT doc_id, frame_idx,
        |  CAST(list_sum(list_transform(range(1, 33),
        |    i -> ord(substr(f, CAST(i AS INTEGER), 1))
        |       * ord(substr(f, CAST(i AS INTEGER), 1)))) AS BIGINT) AS energy
        | FROM fr)
        |SELECT doc_id, frame_idx, energy, SQRT(energy / 32.0) AS rms
        |FROM en ORDER BY doc_id, frame_idx""".stripMargin)
}
