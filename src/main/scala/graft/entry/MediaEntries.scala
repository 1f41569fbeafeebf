package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.ops._
import graft.quality.RuleBasedScorer
import graft.similarity.Similarity
import graft.textanalysis.TextAnalysis

import EntryInfra._

/** Multimodal (image/audio/video) queries — one module of the per-family SparkEntry split (round 14):
  * this family's `Seq[Query]`, each query declared once beside its
  * oracle decision, plus the builders and generated oracles only
  * this family uses. Aggregated by [[SparkEntry]].
  */
private[graft] trait MediaEntries extends EntryInfra {

  protected def mediaQueries: Seq[Query] = Seq(
    // Multimodal: typed-metadata rollup over the binary asset table
    Query("q_media_metadata", (s, d) =>
      Multimodal.metadataStats(
        Multimodal.syntheticAssets(Tables.documents(s, d))),
      Sql("""SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                     WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         count(*) AS n_assets,
         CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
         CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 0
                  ELSE 1000 + (doc_id % 60) * 1000 END) AS BIGINT) AS total_duration_ms,
         max(CAST(640 + (doc_id % 4) * 160 AS INT)) AS max_width
         FROM documents GROUP BY 1 ORDER BY kind""")),
    // Multimodal: per-partition codec pass → byte-histogram features
    Query("q_media_features", (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.syntheticAssets(Tables.documents(s, d)))
        .toDF()
        .select(col("asset_id"), col("n_bytes"),
          round(element_at(col("histogram"), 1), 4).as("h0"))
        .orderBy("asset_id"),
      Sql("""SELECT doc_id AS asset_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
         round(len(list_filter([ascii(c) % 16 for c in string_split(text, '')],
                               x -> x = 0)) / strlen(text), 4) AS h0
         FROM documents ORDER BY asset_id""")),
    // Multimodal: frame sampling (row explosion), frames per video
    Query("q_frame_sample", (s, d) =>
      Multimodal.sampleFrames(
        Multimodal.syntheticAssets(Tables.documents(s, d)), 1000L)
        .toDF()
        .groupBy(col("asset_id")).agg(count(lit(1)).as("n_frames"))
        .orderBy("asset_id"),
      Sql("""SELECT doc_id AS asset_id, 1 + doc_id % 60 AS n_frames
         FROM documents WHERE doc_id % 3 = 2 ORDER BY asset_id""")),
    // REAL image decode (javax.imageio): deterministic gray test
    // cards PNG-encode → decode → exact pixel reductions; the oracle
    // replays the pixel rule, so any decoder distortion hash-fails
    Query("q_media_real", (s, d) =>
      Multimodal.realImageStats(Tables.documents(s, d))
        .orderBy("doc_id"),
      // replay of realImageStats' generation rule: pixel i of doc d is
      // (d*31 + i*7) % 256 on a (16+d%8)×(8+d%4) gray card — the Spark
      // side PNG-encodes and REALLY decodes via javax.imageio, so the
      // hash gate proves the decode inverts the encode pixel-exactly
      Sql("""SELECT d.doc_id,
         CAST(16 + d.doc_id % 8 AS INT) AS width,
         CAST(8 + d.doc_id % 4 AS INT) AS height,
         count(*) AS n_pixels,
         CAST(sum((d.doc_id * 31 + r.i * 7) % 256) AS BIGINT) AS sum_gray,
         CAST(sum(CASE WHEN (d.doc_id * 31 + r.i * 7) % 256 >= 128
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_bright,
         CAST(min((d.doc_id * 31 + r.i * 7) % 256) AS INT) AS min_gray,
         CAST(max((d.doc_id * 31 + r.i * 7) % 256) AS INT) AS max_gray,
         round(sum((d.doc_id * 31 + r.i * 7) % 256) * 1.0 / count(*), 4)
           AS mean_gray
         FROM documents d, range(0, 253) r(i)
         WHERE r.i < (16 + d.doc_id % 8) * (8 + d.doc_id % 4)
         GROUP BY d.doc_id ORDER BY d.doc_id""")),
    // REAL audio decode (hand-rolled RIFF/WAVE PCM codec; javax
    // interop spec'd, kept off the hot path — see AudioCodec):
    // deterministic PCM test tones WAV-encode → decode → exact
    // sample reductions; the oracle replays the sample rule, so any
    // dropped/reordered/byte-swapped sample hash-fails
    Query("q_audio_real", (s, d) =>
      Multimodal.realAudioStats(Tables.documents(s, d))
        .orderBy("doc_id"),
      // audio replay: the PCM test-tone rule per (doc, sample index),
      // lag window for sign flips — a decoder that dropped, reordered,
      // or byte-swapped any sample diverges
      Sql("""WITH s AS (
           SELECT d.doc_id, r.i,
             (d.doc_id * 31 + r.i * 7919) % 65536 - 32768 AS v
           FROM documents d, range(0, 128) r(i)
           WHERE r.i < 64 + d.doc_id % 64),
         c AS (SELECT doc_id, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
         SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           count(*) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_amp,
           CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           CAST(min(v) AS INT) AS min_amp,
           CAST(max(v) AS INT) AS max_amp,
           CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           round(sum(v) * 1.0 / count(*), 4) AS mean_amp
         FROM c GROUP BY doc_id ORDER BY doc_id""")),
    // REAL COMPRESSED audio (hand-rolled IMA-ADPCM, WAVE fmt 0x11):
    // per-block-constant tones sit in the 4-bit codec's
    // exactly-representable class, so compress → container decode →
    // exact reductions replays in SQL from the rule — the MJPEG
    // quality-1.0 trick applied to audio; any quantizer mis-step,
    // nibble-order swap, or block misalignment flips the hash
    Query("q_audio_real_adpcm", (s, d) =>
      Multimodal.realAudioStatsAdpcm(Tables.documents(s, d))
        .orderBy("doc_id"),
      // compressed-audio replay: the per-block-constant rule (17
      // samples per IMA block, block b constant = (id·31 + b·7919) mod
      // 65536 − 32768, 2 + id%4 blocks) IS the decoded stream because
      // the tone sits in the codec's exactly-representable class —
      // same stat columns as q_audio_real
      Sql("""WITH s AS (
           SELECT d.doc_id, r.i,
             (d.doc_id * 31 + (r.i // 17) * 7919) % 65536 - 32768 AS v
           FROM documents d, range(0, 85) r(i)
           WHERE r.i < 17 * (2 + d.doc_id % 4)),
         c AS (SELECT doc_id, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
         SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           count(*) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_amp,
           CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           CAST(min(v) AS INT) AS min_amp,
           CAST(max(v) AS INT) AS max_amp,
           CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
           round(sum(v) * 1.0 / count(*), 4) AS mean_amp
         FROM c GROUP BY doc_id ORDER BY doc_id""")),
    // CONTAINER-AGNOSTIC serving: even docs as lossless PCM, odd as
    // compressed ADPCM, ONE decode walk (fmt-tag routing) — stats
    // must be container-independent; one SQL rule oracles both
    // branches, so a routing bug on either side flips the hash
    Query("q_audio_mixed_codec", (s, d) =>
      Multimodal.realAudioStatsMixed(Tables.documents(s, d))
        .orderBy("doc_id"),
      // container-agnostic serving: the mixed-codec corpus must be
      // behaviorally identical to the all-ADPCM one
      SameAs("q_audio_real_adpcm")),
    // Loudness alignment through the real WAV codec: render → encode
    // → REAL decode → exact-integer peak normalization to 30000 →
    // re-encode → REAL decode → stats; the oracle replays sample rule
    // × scale rule, so a sign-mangled scale or lossy re-encode flips
    // the hash
    Query("q_audio_normalize", (s, d) =>
      Multimodal.realAudioNormalizeStats(Tables.documents(s, d), 30000)
        .orderBy("doc_id"),
      // peak-normalization replay: per-doc peak = max|v|, then the
      // sign-peeled integer scale w = sign·(|v|·30000 // peak) — floor
      // division on non-negative operands only, matching the Scala
      // rule's truncating division exactly — and the same exact stats
      // as q_audio_real over the scaled stream
      Sql("""WITH s AS (
           SELECT d.doc_id, r.i,
             (d.doc_id * 31 + r.i * 7919) % 65536 - 32768 AS v
           FROM documents d, range(0, 128) r(i)
           WHERE r.i < 64 + d.doc_id % 64),
         p AS (SELECT doc_id, max(abs(v)) AS peak FROM s GROUP BY doc_id),
         nv AS (SELECT s.doc_id, s.i, p.peak,
             CASE WHEN v < 0 THEN -(((-v) * 30000) // p.peak)
                  ELSE (v * 30000) // p.peak END AS w
           FROM s JOIN p ON p.doc_id = s.doc_id),
         c AS (SELECT doc_id, peak, w,
             lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS pw FROM nv)
         SELECT doc_id,
           CAST(max(peak) AS INT) AS peak_before,
           count(*) AS n_samples,
           CAST(sum(w) AS BIGINT) AS sum_amp,
           CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           CAST(min(w) AS INT) AS min_amp,
           CAST(max(w) AS INT) AS max_amp,
           CAST(sum(CASE WHEN pw IS NOT NULL AND ((pw < 0) <> (w < 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
         FROM c GROUP BY doc_id ORDER BY doc_id""")),
    // Perceptual image near-dup: render → PNG → REAL decode → dHash,
    // then banded Hamming join over the 64-bit fingerprints; the
    // oracle replays the pixel rule + NN index map + dHash in SQL and
    // brute-forces pairs (lossless vs the band join by pigeonhole)
    Query("q_image_neardup", (s, d) =>
      Dedup.hammingNearDuplicates(
        Multimodal.imageHashes(Tables.documents(s, d)),
        "doc_id", "dhash", maxDist = 1)
        .orderBy("id_a", "id_b"),
      // image near-dup: replay pixel rule + NN 9×8 index map + dHash
      // bit rule in SQL, brute-force Hamming pairs (band join is
      // lossless for maxDist ≤ 3 by pigeonhole; bit 63 lands on the
      // BIGINT sign bit — the CASE mirrors Long two's complement)
      Sql("""WITH d AS (SELECT doc_id, 16 + doc_id % 8 AS W, 8 + doc_id % 4 AS H
           FROM documents),
         bits AS (
           SELECT doc_id,
             CASE WHEN ((doc_id*31 + ((y*H//8)*W + ((x+1)*W//9))*7) % 256) >
                       ((doc_id*31 + ((y*H//8)*W + (x*W//9))*7) % 256)
                  THEN (CASE WHEN y*8+x = 63 THEN -9223372036854775807 - 1
                             ELSE (1::BIGINT << (y*8+x)) END)
                  ELSE 0 END AS b
           FROM d, range(0, 8) xs(x), range(0, 8) ys(y)),
         fp AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS f
           FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 1
         ORDER BY id_a, id_b""")),
    // Perceptual AUDIO near-dup: render → WAV → REAL decode →
    // envelope dHash, banded Hamming join — the image near-dup story
    // on the real WAV codec path; the oracle replays the sample
    // rule + NN envelope map + bit rule and brute-forces pairs
    Query("q_audio_neardup", (s, d) =>
      Dedup.hammingNearDuplicates(
        Multimodal.audioHashes(Tables.documents(s, d)),
        "doc_id", "ahash", maxDist = 1)
        .orderBy("id_a", "id_b"),
      // audio envelope-hash pair replay: sample rule + NN 65-point
      // envelope map + gradient-sign bits, brute-force Hamming pairs
      // (same 4-band pigeonhole losslessness argument as the image
      // twin; bit 63 on the BIGINT sign bit)
      Sql("""WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
         bits AS (
           SELECT doc_id,
             CASE WHEN ((doc_id*31 + (((g+1)*n)//65)*7919) % 65536 - 32768) >
                       ((doc_id*31 + ((g*n)//65)*7919) % 65536 - 32768)
                  THEN (CASE WHEN g = 63 THEN -9223372036854775807 - 1
                             ELSE (1::BIGINT << g) END)
                  ELSE 0 END AS b
           FROM d, range(0, 64) gs(g)),
         fp AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS f
           FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 1
         ORDER BY id_a, id_b""")),
    // REAL video demux (hand-rolled uncompressed-AVI RIFF reader):
    // deterministic gray test clips AVI-encode → container demux →
    // exact whole-clip pixel reductions; the oracle replays the pixel
    // rule, so a dropped frame, a misread stride pad, or an unflipped
    // bottom-up raster hash-fails
    Query("q_video_real", (s, d) =>
      Multimodal.realVideoStats(Tables.documents(s, d))
        .orderBy("doc_id"),
      // video replay: the clip pixel rule per (doc, flat pixel index j)
      // with j → (frame = j // (W·8), pixel = j % (W·8)) — a demuxer
      // that dropped/duplicated a frame or misdecoded any pixel diverges
      Sql("""SELECT d.doc_id,
         CAST(8 + d.doc_id % 5 AS INT) AS width,
         CAST(8 AS INT) AS height,
         CAST(4 + d.doc_id % 4 AS INT) AS n_frames,
         count(*) AS n_pixels,
         CAST(sum((d.doc_id*31 + (r.j // ((8 + d.doc_id % 5) * 8))*101
                   + (r.j % ((8 + d.doc_id % 5) * 8))*7919) % 256)
              AS BIGINT) AS sum_gray,
         CAST(sum(CASE WHEN (d.doc_id*31
                   + (r.j // ((8 + d.doc_id % 5) * 8))*101
                   + (r.j % ((8 + d.doc_id % 5) * 8))*7919) % 256 >= 128
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_bright,
         CAST(min((d.doc_id*31 + (r.j // ((8 + d.doc_id % 5) * 8))*101
                   + (r.j % ((8 + d.doc_id % 5) * 8))*7919) % 256)
              AS INT) AS min_gray,
         CAST(max((d.doc_id*31 + (r.j // ((8 + d.doc_id % 5) * 8))*101
                   + (r.j % ((8 + d.doc_id % 5) * 8))*7919) % 256)
              AS INT) AS max_gray,
         round(sum((d.doc_id*31 + (r.j // ((8 + d.doc_id % 5) * 8))*101
                   + (r.j % ((8 + d.doc_id % 5) * 8))*7919) % 256) * 1.0
               / count(*), 4) AS mean_gray
         FROM documents d, range(0, 672) r(j)
         WHERE r.j < (4 + d.doc_id % 4) * (8 + d.doc_id % 5) * 8
         GROUP BY d.doc_id ORDER BY d.doc_id""")),
    // COMPRESSED container: MOTION JPEG in AVI — 'MJPG' strf, one
    // complete JPEG per '00dc' chunk, decoded by the JDK's real JPEG
    // reader after the RIFF demux. Constant-gray frames round-trip
    // bit-exactly at quality 1.0 (DC-only blocks), so the oracle
    // replays the rule like the BI_RGB path
    Query("q_video_real_mjpeg", (s, d) =>
      Multimodal.realVideoStatsMjpeg(Tables.documents(s, d))
        .orderBy("doc_id"),
      // MJPEG replay: constant-frame rule (id·31 + f·101) mod 256 —
      // uniform JPEG frames decode bit-exactly at quality 1.0, so the
      // whole compressed-container pipeline reduces to the rule
      Sql("""SELECT d.doc_id,
         CAST(8 + d.doc_id % 5 AS INT) AS width,
         CAST(8 AS INT) AS height,
         CAST(4 + d.doc_id % 4 AS INT) AS n_frames,
         CAST((4 + d.doc_id % 4) * (8 + d.doc_id % 5) * 8 AS BIGINT)
           AS n_pixels,
         CAST(sum(((d.doc_id*31 + r.f*101) % 256)
                  * (8 + d.doc_id % 5) * 8) AS BIGINT) AS sum_gray,
         CAST(sum(CASE WHEN (d.doc_id*31 + r.f*101) % 256 >= 128
                  THEN (8 + d.doc_id % 5) * 8 ELSE 0 END) AS BIGINT)
           AS n_bright,
         CAST(min((d.doc_id*31 + r.f*101) % 256) AS INT) AS min_gray,
         CAST(max((d.doc_id*31 + r.f*101) % 256) AS INT) AS max_gray,
         round(sum(((d.doc_id*31 + r.f*101) % 256) * 1.0
                   * (8 + d.doc_id % 5) * 8)
               / ((4 + d.doc_id % 4) * (8 + d.doc_id % 5) * 8), 4)
           AS mean_gray
         FROM documents d, range(0, 7) r(f)
         WHERE r.f < 4 + d.doc_id % 4
         GROUP BY d.doc_id ORDER BY d.doc_id""")),
    // REAL temporal frame sampling: every 2nd frame, timestamps from
    // the DECODED avih microSecPerFrame (demux, not metadata trust);
    // per-frame exact reductions replayed by the oracle
    Query("q_video_frames", (s, d) =>
      Multimodal.realVideoFrames(Tables.documents(s, d), every = 2)
        .orderBy("doc_id", "frame_idx"),
      // frame-sampling replay: every 2nd frame, t_ms = f·250 (the
      // 4 fps → 250000 µs/frame avih value the demuxer must READ),
      // per-frame pixel-rule reductions
      Sql("""SELECT d.doc_id, CAST(r.f AS INT) AS frame_idx,
         CAST(r.f * 250 AS BIGINT) AS t_ms,
         CAST(sum((d.doc_id*31 + r.f*101 + p.p*7919) % 256) AS BIGINT)
           AS sum_gray,
         round(sum((d.doc_id*31 + r.f*101 + p.p*7919) % 256) * 1.0
               / count(*), 4) AS mean_gray
         FROM documents d, range(0, 7) r(f), range(0, 96) p(p)
         WHERE r.f < 4 + d.doc_id % 4 AND r.f % 2 = 0
           AND p.p < (8 + d.doc_id % 5) * 8
         GROUP BY d.doc_id, r.f ORDER BY d.doc_id, frame_idx""")),
    // Perceptual VIDEO near-dup: render → AVI → REAL demux →
    // spatio-temporal envelope hash, banded Hamming join — the
    // image/audio near-dup story on the RIFF demux path; the oracle
    // replays the pixel rule + NN envelope map + bit rule and
    // brute-forces pairs
    Query("q_video_neardup", (s, d) =>
      Dedup.hammingNearDuplicates(
        Multimodal.videoHashes(Tables.documents(s, d)),
        "doc_id", "vhash", maxDist = 1)
        .orderBy("id_a", "id_b"),
      // video envelope-hash pair replay: clip pixel rule + NN 65-point
      // flat-sequence map + gradient-sign bits, brute-force Hamming
      // pairs (same 4-band pigeonhole losslessness argument as the
      // image/audio twins; bit 63 on the BIGINT sign bit)
      Sql("""WITH d AS (SELECT doc_id,
             (8 + doc_id % 5) * 8 AS wh,
             (4 + doc_id % 4) * (8 + doc_id % 5) * 8 AS n
           FROM documents),
         bits AS (
           SELECT doc_id,
             CASE WHEN ((doc_id*31 + ((((g+1)*n)//65) // wh)*101
                         + ((((g+1)*n)//65) % wh)*7919) % 256) >
                       ((doc_id*31 + (((g*n)//65) // wh)*101
                         + (((g*n)//65) % wh)*7919) % 256)
                  THEN (CASE WHEN g = 63 THEN -9223372036854775807 - 1
                             ELSE (1::BIGINT << g) END)
                  ELSE 0 END AS b
           FROM d, range(0, 64) gs(g)),
         fp AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS f
           FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 1
         ORDER BY id_a, id_b""")),
    // Ingest-time MEDIA near-dup probe: the held-out eighth's video
    // fingerprints (ids ≡ 4 mod 8 — the SAME clip geometry class as
    // the index's ≡ 0 mod 8 docs, so cross-split collisions exist)
    // probe the WRITTEN seven-eighths index (built once, never
    // rebuilt — the gram-index/NB/LPA serving lifecycle) by the
    // banded Hamming join; batch-proportional exchange volume, the
    // incremental-dedup serving contract
    Query("q_media_probe", (s, d) => {
      val probe = Multimodal.videoHashes(
        Tables.documents(s, d).filter(col("doc_id") % 8 === 4))
      val index = Dedup.readFingerprintIndex(s, builtVideoFpIndex(s, d))
        .select(col("id").as("doc_id"), col("fp").as("vhash"))
      Dedup.hammingProbe(probe, index, "doc_id", "vhash", maxDist = 1)
        .orderBy("probe_id", "index_id")
    },
      // media ingest-probe replay: same clip fingerprint rule, pairs
      // restricted to probe eighth (doc_id % 8 = 4) × written index
      // (the other seven eighths) — the parquet round-trip cannot
      // drift a fingerprint without failing this gate
      Sql("""WITH d AS (SELECT doc_id,
             (8 + doc_id % 5) * 8 AS wh,
             (4 + doc_id % 4) * (8 + doc_id % 5) * 8 AS n
           FROM documents),
         bits AS (
           SELECT doc_id,
             CASE WHEN ((doc_id*31 + ((((g+1)*n)//65) // wh)*101
                         + ((((g+1)*n)//65) % wh)*7919) % 256) >
                       ((doc_id*31 + (((g*n)//65) // wh)*101
                         + (((g*n)//65) % wh)*7919) % 256)
                  THEN (CASE WHEN g = 63 THEN -9223372036854775807 - 1
                             ELSE (1::BIGINT << g) END)
                  ELSE 0 END AS b
           FROM d, range(0, 64) gs(g)),
         fp AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS f
           FROM bits GROUP BY doc_id)
         SELECT p.doc_id AS probe_id, i.doc_id AS index_id,
           CAST(bit_count(xor(p.f, i.f)) AS INT) AS hamming
         FROM fp p JOIN fp i
           ON p.doc_id % 8 = 4 AND i.doc_id % 8 <> 4
         WHERE bit_count(xor(p.f, i.f)) <= 1
         ORDER BY probe_id, index_id""")),
    // Audio dedup end-to-end — pairs → connected components → keep
    // the LONGEST stream per perceptual cluster (sample count, ties
    // min id); same machinery as the image/video capstones over the
    // WAV codec fingerprints
    Query("q_audio_dedup_survivors", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.hammingNearDuplicates(
        Multimodal.audioHashes(docs), "doc_id", "ahash", maxDist = 1)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      Dedup.keepBestPerCluster(docs.select(col("doc_id")), clusters,
        "doc_id", lit(64) + col("doc_id") % 64)
        .orderBy("doc_id")
    },
      // audio envelope-hash pair replay + component closure +
      // keep-longest-stream survivor policy (sample count desc, doc_id)
      // — the audio analog of q_image_dedup_survivors' oracle
      Sql("""WITH RECURSIVE d AS (SELECT doc_id, 64 + doc_id % 64 AS n
           FROM documents),
         bits AS (
           SELECT doc_id,
             CASE WHEN ((doc_id*31 + (((g+1)*n)//65)*7919) % 65536 - 32768) >
                       ((doc_id*31 + ((g*n)//65)*7919) % 65536 - 32768)
                  THEN (CASE WHEN g = 63 THEN -9223372036854775807 - 1
                             ELSE (1::BIGINT << g) END)
                  ELSE 0 END AS b
           FROM d, range(0, 64) gs(g)),
         fp AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS f
           FROM bits GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 1),
         sym AS (SELECT id_a AS a, id_b AS b FROM pr
                 UNION SELECT id_b AS a, id_a AS b FROM pr),
         reach AS (SELECT a, b FROM sym
                   UNION
                   SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         comp AS (SELECT a AS node, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         pf AS (SELECT c.doc_id, comp.component,
                  64 + c.doc_id % 64 AS pf
                FROM documents c JOIN comp ON comp.node = c.doc_id),
         win AS (SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER (PARTITION BY component
               ORDER BY pf DESC, doc_id) AS rn FROM pf) WHERE rn = 1)
         SELECT doc_id FROM documents
         WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.node = documents.doc_id)
            OR EXISTS (SELECT 1 FROM win WHERE win.doc_id = documents.doc_id)
         ORDER BY doc_id""")),
    // Video dedup end-to-end — pairs → connected components → keep
    // the LONGEST clip per perceptual cluster (total pixel volume,
    // ties min id); the image capstone's machinery unchanged over the
    // RIFF demux fingerprints
    Query("q_video_dedup_survivors", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.hammingNearDuplicates(
        Multimodal.videoHashes(docs), "doc_id", "vhash", maxDist = 1)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      Dedup.keepBestPerCluster(docs.select(col("doc_id")), clusters,
        "doc_id",
        (lit(4) + col("doc_id") % 4) * (lit(8) + col("doc_id") % 5) * lit(8))
        .orderBy("doc_id")
    },
      // video fingerprint pair replay + component closure +
      // keep-longest-clip survivor policy (frame·pixel volume desc,
      // doc_id) — the video analog of q_image_dedup_survivors' oracle
      Sql("""WITH RECURSIVE d AS (SELECT doc_id,
             (8 + doc_id % 5) * 8 AS wh,
             (4 + doc_id % 4) * (8 + doc_id % 5) * 8 AS n
           FROM documents),
         bits AS (
           SELECT doc_id,
             CASE WHEN ((doc_id*31 + ((((g+1)*n)//65) // wh)*101
                         + ((((g+1)*n)//65) % wh)*7919) % 256) >
                       ((doc_id*31 + (((g*n)//65) // wh)*101
                         + (((g*n)//65) % wh)*7919) % 256)
                  THEN (CASE WHEN g = 63 THEN -9223372036854775807 - 1
                             ELSE (1::BIGINT << g) END)
                  ELSE 0 END AS b
           FROM d, range(0, 64) gs(g)),
         fp AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS f
           FROM bits GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 1),
         sym AS (SELECT id_a AS a, id_b AS b FROM pr
                 UNION SELECT id_b AS a, id_a AS b FROM pr),
         reach AS (SELECT a, b FROM sym
                   UNION
                   SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         comp AS (SELECT a AS node, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         pf AS (SELECT c.doc_id, comp.component,
                  (4 + c.doc_id % 4) * (8 + c.doc_id % 5) * 8 AS pf
                FROM documents c JOIN comp ON comp.node = c.doc_id),
         win AS (SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER (PARTITION BY component
               ORDER BY pf DESC, doc_id) AS rn FROM pf) WHERE rn = 1)
         SELECT doc_id FROM documents
         WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.node = documents.doc_id)
            OR EXISTS (SELECT 1 FROM win WHERE win.doc_id = documents.doc_id)
         ORDER BY doc_id""")),
    // Image dedup end-to-end — the multimodal analog of the text
    // dedup capstone: dHash pairs → connected components → keep the
    // highest-resolution member per perceptual cluster (pixel count,
    // ties min id). Reuses the text survivor machinery unchanged;
    // only (id, fingerprint) rows ever shuffle.
    Query("q_image_dedup_survivors", (s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.hammingNearDuplicates(
        Multimodal.imageHashes(docs), "doc_id", "dhash", maxDist = 1)
      val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      Dedup.keepBestPerCluster(docs.select(col("doc_id")), clusters,
        "doc_id",
        (lit(16) + col("doc_id") % 8) * (lit(8) + col("doc_id") % 4))
        .orderBy("doc_id")
    },
      // dHash pair replay + component closure + keep-highest-resolution
      // survivor policy (pixel count desc, doc_id) — the image analog of
      // q_dedup_survivors_best_md5's oracle
      Sql("""WITH RECURSIVE d AS (SELECT doc_id, 16 + doc_id % 8 AS W, 8 + doc_id % 4 AS H
           FROM documents),
         bits AS (
           SELECT doc_id,
             CASE WHEN ((doc_id*31 + ((y*H//8)*W + ((x+1)*W//9))*7) % 256) >
                       ((doc_id*31 + ((y*H//8)*W + (x*W//9))*7) % 256)
                  THEN (CASE WHEN y*8+x = 63 THEN -9223372036854775807 - 1
                             ELSE (1::BIGINT << (y*8+x)) END)
                  ELSE 0 END AS b
           FROM d, range(0, 8) xs(x), range(0, 8) ys(y)),
         fp AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS f
           FROM bits GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 1),
         sym AS (SELECT id_a AS a, id_b AS b FROM pr
                 UNION SELECT id_b AS a, id_a AS b FROM pr),
         reach AS (SELECT a, b FROM sym
                   UNION
                   SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         comp AS (SELECT a AS node, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         pf AS (SELECT c.doc_id, comp.component,
                  (16 + c.doc_id % 8) * (8 + c.doc_id % 4) AS pf
                FROM documents c JOIN comp ON comp.node = c.doc_id),
         win AS (SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER (PARTITION BY component
               ORDER BY pf DESC, doc_id) AS rn FROM pf) WHERE rn = 1)
         SELECT doc_id FROM documents
         WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.node = documents.doc_id)
            OR EXISTS (SELECT 1 FROM win WHERE win.doc_id = documents.doc_id)
         ORDER BY doc_id""")),
  )
  /** Build-once WRITTEN video fingerprint index over the non-probe
    * three quarters of the corpus (same lifecycle) — the frozen
    * perceptual-dedup artifact the media ingest probe serves from.
    */
  protected def builtVideoFpIndex(s: SparkSession, d: String): String =
    builtIndexDir("graft_vfp", d) { p =>
      graft.dedup.Dedup.writeFingerprintIndex(
        Multimodal.videoHashes(
          Tables.documents(s, d).filter(col("doc_id") % 8 =!= 4)),
        "doc_id", "vhash", p)
    }

}
