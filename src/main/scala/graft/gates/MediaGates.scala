package graft
package gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import GateSupport._

/** Multimodal: container metadata, image and audio decode, perceptual
  * hashes, resizing and frame sampling.
  */
object MediaGates extends GateFamily {

  lazy val gates: Seq[Gate] = Seq(
    // ── Multimodal columns (binary payload + typed metadata) ──────────────
    Gate("q_mm_metadata", (s, dir) => {
      graft.multimodal.Multimodal
        .assetsFromDocuments(s, t(s, dir, "documents")).toDF()
        .select(col("asset_id"), length(col("media")).alias("n_bytes"),
          col("mime"))
    },
      """SELECT doc_id AS asset_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  CASE (doc_id % 3) WHEN 0 THEN 'image/png'
        |                    WHEN 1 THEN 'audio/wav'
        |                    ELSE 'video/mp4' END AS mime
        |FROM documents""".stripMargin),

    // Stub decode METADATA, hash-gated (r10): the stub's arithmetic is
    // deterministic integer work over the asset bytes (31-fold + splitmix64
    // + bit slices), and the fixture text is pure ASCII, so the DuckDB
    // oracle replays the byte fold over code points and every mult via
    // 32-bit-half wraparound arithmetic. The Spark side runs the REAL
    // mapPartitions decode seam — exactly what a production codec replaces
    // — so the plumbing (schema, encoders, batching) is oracle-verified
    // even though the decode body is a stand-in.
    Gate("q_mm_decode_meta", (s, dir) => {
      graft.multimodal.Multimodal.decode(
          graft.multimodal.Multimodal
            .assetsFromDocuments(s, t(s, dir, "documents"))).toDF()
        .select(col("asset_id"), col("mime"), col("width"), col("height"),
          col("n_frames"), col("duration_ms"))
    },
      // Stub decode metadata: the 31-fold over the asset's (ASCII) bytes,
      // splitmix64 (each 64x64 multiply split into 32-bit halves to stay
      // inside HUGEINT), then the same bit slices. mime rotates by doc_id%3
      // exactly as assetsFromDocuments does.
      """WITH fold AS (
        |  SELECT doc_id, list_reduce(
        |      list_prepend(CAST(1 AS UBIGINT),
        |        [CAST(unicode(text[i]) AS UBIGINT)
        |         for i in range(1, len(text)+1)]),
        |      (acc, cp) -> CAST((CAST(acc AS HUGEINT) * 31 + cp)
        |        % 18446744073709551616 AS UBIGINT)) AS acc,
        |    CASE doc_id % 3 WHEN 0 THEN 'image/png'
        |      WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime
        |  FROM documents),
        |s0 AS (SELECT doc_id, mime,
        |  CAST((CAST(acc AS HUGEINT) + 11400714819323198485)
        |    % 18446744073709551616 AS UBIGINT) AS z FROM fold),
        |s1 AS (SELECT doc_id, mime, xor(z, z >> 30) AS z FROM s0),
        |s2 AS (SELECT doc_id, mime, CAST((
        |    (CAST(z AS HUGEINT) * 484763065) % 18446744073709551616
        |    + ((CAST(z AS HUGEINT) * 3210233709) % 4294967296) * 4294967296)
        |  % 18446744073709551616 AS UBIGINT) AS z FROM s1),
        |s3 AS (SELECT doc_id, mime, xor(z, z >> 27) AS z FROM s2),
        |s4 AS (SELECT doc_id, mime, CAST((
        |    (CAST(z AS HUGEINT) * 321982955) % 18446744073709551616
        |    + ((CAST(z AS HUGEINT) * 2496678331) % 4294967296) * 4294967296)
        |  % 18446744073709551616 AS UBIGINT) AS z FROM s3),
        |hx AS (SELECT doc_id, mime, xor(z, z >> 31) AS x FROM s4)
        |SELECT doc_id AS asset_id, mime,
        |  CAST(64 + (x & 1023) AS INT) AS width,
        |  CAST(64 + ((x >> 10) & 1023) AS INT) AS height,
        |  CAST(CASE WHEN mime LIKE 'video%'
        |    THEN 1 + ((x >> 20) & 255) ELSE 1 END AS INT) AS n_frames,
        |  CAST(CASE WHEN mime LIKE 'image%'
        |    THEN 0 ELSE (x >> 28) & 65535 END AS BIGINT) AS duration_ms
        |FROM hx""".stripMargin),

    // REAL decode + REAL feature extraction, hash-gated (r11, VERDICT r10
    // #4): every doc becomes a genuine 16×16 gray PNG (closed-form
    // raster), the pipeline decodes it with the real JDK codec
    // (javax.imageio — metadata from the actual parse), and features are
    // the exact 16-bin luma histogram over the decoded pixels. All
    // outputs are INTEGERS (counts, count², scaled components), so the
    // DuckDB oracle replays the raster formula + histogram with zero
    // float hazards. The batched-model stub seam (extractFeatures)
    // remains spec-covered; this gate's feature path is real code over
    // real pixels.
    Gate("q_mm_decode_features", (s, dir) => {
      val assets = graft.multimodal.Multimodal
        .realPngAssets(s, t(s, dir, "documents"))
      val meta = graft.multimodal.Multimodal.decode(assets).toDF()
        .select(col("asset_id"), col("mime"), col("width"), col("height"),
          col("n_frames"), col("duration_ms"))
      val feats = graft.multimodal.Multimodal.pixelFeatures(assets)
        .toDF().select(col("asset_id"),
          size(col("features")).cast(LongType).alias("feat_dim"),
          // (count/256)² · 65536 = count² — exact in double (counts ≤ 256)
          aggregate(transform(col("features"),
            x => x.cast(DoubleType) * x.cast(DoubleType) * 65536.0d),
            lit(0.0), (acc, x) => acc + x).cast(LongType)
            .alias("feat_norm2_x65536"),
          (element_at(col("features"), 1).cast(DoubleType) * 256.0d)
            .cast(LongType).alias("feat0_x256"))
      meta.join(feats, "asset_id")
    },
      // REAL image decode + pixel features: the raster is the closed-form
      // Multimodal.fixturePixel arithmetic (the PNG bytes are generated
      // from it and parsed back by the real codec), so the oracle replays
      // pixels → 16-bin luma histogram directly. All-integer outputs.
      """WITH px AS (
        |  SELECT doc_id,
        |    ((doc_id + 1) * (r.range + 17) % 65521 * (r.range + 29) % 65521
        |      + doc_id * 31) % 256 AS p
        |  FROM documents, range(0, 256) r),
        |hist AS (SELECT doc_id, p // 16 AS bin, count(*) AS c
        |  FROM px GROUP BY 1, 2)
        |SELECT doc_id AS asset_id, 'image/png' AS mime,
        |  CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST(1 AS INT) AS n_frames, CAST(0 AS BIGINT) AS duration_ms,
        |  CAST(16 AS BIGINT) AS feat_dim,
        |  CAST(sum(c * c) AS BIGINT) AS feat_norm2_x65536,
        |  CAST(sum(CASE WHEN bin = 0 THEN c ELSE 0 END) AS BIGINT)
        |    AS feat0_x256
        |FROM hist GROUP BY doc_id""".stripMargin),

    // Image near-dup over REAL pixels, hash-gated (r11, VERDICT r10 #4):
    // real PNGs (closed-form rasters — measured phash-diverse: zero
    // accidental near-pairs at sf0.1), REAL javax.imageio decode →
    // 8×8 luma grid → aHash → complete Hamming banding → exact verify.
    // Plants: byte-identical copies of the 20 lowest-id assets (hamming
    // 0) plus mean-preserving block-swap plants of ids 20–39 (hamming
    // ≤ 2, nonzero for most) — the DuckDB oracle recomputes every
    // phash from the raster arithmetic and takes the quadratic pair
    // join itself, so both the codec path AND the banding's
    // completeness are oracle-verified.
    Gate("q_mm_phash_pairs", (s, dir) => {
      import s.implicits._
      val mm = graft.multimodal.Multimodal
      val docs = t(s, dir, "documents")
      val assets = mm.realPngAssets(s, docs)
      val exact = assets.filter(_.asset_id < 20)
        .map(a => a.copy(asset_id = a.asset_id + 10000000L))
      val noisy = mm.noisyPngPlants(s, docs, 20L, 40L, 20000000L)
      mm.imageNearDups(assets.unionByName(exact).unionByName(noisy),
        maxHamming = 3)
    },
      // REAL perceptual-hash near-dup pairs: the oracle recomputes every
      // asset's aHash from the raster arithmetic (2×2 block means →
      // integer threshold → bit build as UBIGINT) and takes the QUADRATIC
      // pair join itself — verifying both the real-codec fingerprint path
      // and the completeness of the Spark side's Hamming banding. Plants:
      // byte-identical (+1e7) and mean-preserving block-swap (+2e7).
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id AS base_id, 0 AS swapped FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id, 0 FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 20000000, doc_id, 1 FROM documents
        |  WHERE doc_id >= 20 AND doc_id < 40),
        |pxk AS (
        |  SELECT ids.id, ids.base_id, r.range AS k,
        |    CASE WHEN ids.swapped = 1 THEN
        |      CASE WHEN r.range // 16 <= 1 AND r.range % 16 <= 1
        |             THEN (r.range // 16 + 14) * 16 + r.range % 16 + 14
        |           WHEN r.range // 16 >= 14 AND r.range % 16 >= 14
        |             THEN (r.range // 16 - 14) * 16 + r.range % 16 - 14
        |           ELSE r.range END
        |      ELSE r.range END AS k2
        |  FROM ids, range(0, 256) r),
        |cells AS (
        |  SELECT id, (k // 32) * 8 + (k % 16) // 2 AS idx,
        |    sum(((base_id + 1) * (k2 + 17) % 65521 * (k2 + 29) % 65521
        |         + base_id * 31) % 256) // 4 AS cell
        |  FROM pxk GROUP BY 1, 2),
        |thr AS (SELECT id, sum(cell) // 64 AS t FROM cells GROUP BY 1),
        |ph AS (
        |  SELECT c.id,
        |    CAST(sum(CASE WHEN c.cell > thr.t
        |      THEN CAST(1 AS UBIGINT) << CAST(c.idx AS INT) ELSE 0 END)
        |      % 18446744073709551616 AS UBIGINT) AS phash
        |  FROM cells c JOIN thr ON c.id = thr.id GROUP BY 1)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        |FROM ph a JOIN ph b ON a.id < b.id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin),

    // REAL audio decode + signal features, hash-gated (r11): every doc
    // becomes a genuine 8 kHz mono WAV (JDK AudioSystem encode) of 256
    // closed-form PCM16 samples; the pipeline parses the real RIFF
    // container back and computes integer-exact energy and zero-crossing
    // counts over the true samples. The oracle replays the sample
    // arithmetic (including the lag-based sign-change count) in SQL —
    // same fixture trick as the image gates, applied to the audio codec.
    Gate("q_mm_audio_features", (s, dir) => {
      val mm = graft.multimodal.Multimodal
      val assets = mm.realWavAssets(s, t(s, dir, "documents"))
      val meta = mm.decode(assets).toDF()
        .select(col("asset_id"), col("mime"), col("duration_ms"))
      val sig = mm.audioSignals(assets).toDF()
      meta.join(sig, "asset_id")
    },
      // REAL audio: samples replayed from the closed form; energy = Σs²,
      // zero-crossings via lag() sign compare. All-integer outputs.
      """WITH s AS (
        |  SELECT doc_id, r.range AS k,
        |    ((doc_id * 37 + r.range * r.range * 11 + 13) % 4001) - 2000 AS v
        |  FROM documents, range(0, 256) r),
        |lagged AS (
        |  SELECT doc_id, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv
        |  FROM s)
        |SELECT doc_id AS asset_id, 'audio/wav' AS mime,
        |  CAST(32 AS BIGINT) AS duration_ms,
        |  CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  CAST(256 AS INT) AS n_samples,
        |  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS energy,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND (v < 0) <> (pv < 0)
        |    THEN 1 ELSE 0 END) AS INT) AS zero_crossings
        |FROM lagged GROUP BY doc_id""".stripMargin),

    // Resize stage: decode → resize(224×224) → measure. The stub halves the
    // payload and stamps the target dims, so the whole pipeline is
    // oracle-checkable even though the codec is fake.
    Gate("q_mm_resize", (s, dir) => {
      val assets = graft.multimodal.Multimodal
        .assetsFromDocuments(s, t(s, dir, "documents"))
      val decoded = graft.multimodal.Multimodal.decode(assets)
      import s.implicits._
      decoded.map(d => graft.multimodal.Multimodal.StubCodecs.resize(d, 224, 224))
        .toDF()
        .select(col("asset_id"), col("width"), col("height"),
          length(col("media")).alias("n_bytes"))
    },
      """SELECT doc_id AS asset_id, 224 AS width, 224 AS height,
        |  CAST(least(octet_length(encode(text)),
        |             greatest(1, octet_length(encode(text)) // 2)) AS INT) AS n_bytes
        |FROM documents""".stripMargin),

    // Frame sampling over REAL MP4 containers, hash-gated (r11): every
    // doc becomes a genuine ISO-BMFF file with closed-form frame count /
    // sizes / dimensions; the pipeline PARSES the real box structure
    // (moov/mvhd/tkhd/stbl) and extracts the true mdat sample slices —
    // one row per evenly-spaced frame. The oracle replays the sampling
    // arithmetic and every frame's byte size in SQL; the only stub left
    // anywhere is the codec DECODE of a frame's payload bytes (no video
    // codec ships in a JRE), and that layer's byte-extraction input is
    // exactly what this gate now verifies.
    Gate("q_mm_frame_sample", (s, dir) => {
      val mm = graft.multimodal.Multimodal
      val assets = mm.realMp4Assets(s, t(s, dir, "documents"))
      val meta = mm.decode(assets).toDF()
        .select(col("asset_id"), col("width"), col("height"),
          col("n_frames"), col("duration_ms"))
      mm.sampleFrames(assets, n = 4).toDF()
        .select(col("asset_id"), col("frame_idx"),
          length(col("frame")).alias("n_bytes"))
        .join(meta, "asset_id")
    },
      // REAL MP4 container: the sampling arithmetic (take = min(4, n),
      // step = n/take, indices i·step) and every frame's closed-form byte
      // size, plus the container metadata the box parse yields.
      """WITH v AS (SELECT doc_id, 2 + doc_id % 7 AS n FROM documents),
        |t AS (SELECT doc_id, n, least(4, n) AS take,
        |        greatest(1, n // least(4, n)) AS step FROM v),
        |f AS (SELECT doc_id, n, r.range * step AS frame_idx
        |      FROM t, range(0, 4) r WHERE r.range < take)
        |SELECT doc_id AS asset_id, CAST(frame_idx AS INT) AS frame_idx,
        |  CAST(8 + (doc_id * 7 + frame_idx * 3) % 32 AS INT) AS n_bytes,
        |  CAST(320 + doc_id % 16 AS INT) AS width,
        |  CAST(240 + doc_id % 9 AS INT) AS height,
        |  CAST(n AS INT) AS n_frames,
        |  CAST(n * 40 AS BIGINT) AS duration_ms
        |FROM f""".stripMargin)
  )
}
