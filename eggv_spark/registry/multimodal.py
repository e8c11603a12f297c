"""Image, audio and video entries over synthesized media bytes."""

from __future__ import annotations

from pyspark.sql import functions as F

from eggv_spark.registry._shared import register, _t


@register(
    "mm_resize",
    "WITH px AS ("
    " SELECT d.doc_id, j,"
    "  ((((j // 18) * 4 // 3) * 4 + ((j % 18) // 3) * 4 // 6) * 3"
    "   + (j % 3)) AS i"
    " FROM documents d, range(0, 54) tj(j))"
    " SELECT doc_id AS asset_id, CAST(6 AS INT) AS width,"
    " CAST(3 AS INT) AS height,"
    " CAST(65 AS BIGINT) AS n_bytes,"
    " md5('50360A3620330A3235350A' ||"
    "  upper(string_agg(lpad(to_hex((doc_id * 7 + i * 13) % 256),"
    "   2, '0'), '' ORDER BY j))) AS resized_hash"
    " FROM px GROUP BY doc_id",
)
def _mm_resize(spark, sf_dir):
    """REAL image resize: genuine 4x4 binary-PPM
    payloads (synthesize_ppm_images) resampled to 6x3 by the stdlib
    nearest-neighbor path (resize_ppm, fake_decode=False) — exercising
    both upsampling (4->6 wide) and downsampling (4->3 tall).  The
    oracle replays the floor-mapped pixel formula in SQL."""
    from eggv_spark.operators import multimodal as M

    resized = M.resize_images(
        M.synthesize_ppm_images(_t(spark, sf_dir, "documents")),
        width=6, height=3, fake_decode=False,
    )
    # Hash the HEX of the resized buffer (not the raw bytes): the
    # DuckDB oracle's md5 is VARCHAR-only, and hex round-trips the
    # payload losslessly into string space on both engines.
    return resized.select(
        "asset_id", "width", "height",
        F.length("resized").cast("long").alias("n_bytes"),
        F.md5(F.hex("resized")).alias("resized_hash"),
    )


@register(
    "mm_audio_decode",
    "WITH s AS (SELECT d.doc_id, i,"
    "  (d.doc_id * 31 + i * 17) % 4096 - 2048 AS v"
    " FROM documents d, generate_series(0, 63) t(i)),"
    " lagged AS (SELECT doc_id, v,"
    "  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM s),"
    " a AS (SELECT doc_id, avg(v) AS mean_amp,"
    "  sqrt(avg(CAST(v AS DOUBLE) * v)) AS rms,"
    "  max(abs(v)) AS peak,"
    "  sum(CASE WHEN prev IS NOT NULL AND (prev < 0) <> (v < 0)"
    "      THEN 1 ELSE 0 END) AS zc"
    " FROM lagged GROUP BY doc_id)"
    " SELECT doc_id AS asset_id, 'audio' AS modality,"
    " CAST(172 AS BIGINT) AS n_bytes,"
    " CAST(1 AS INT) AS n_channels, CAST(8000 AS INT) AS sample_rate,"
    " CAST(64 AS INT) AS n_frames,"
    " round(mean_amp, 4) AS mean_amp, round(rms, 4) AS rms,"
    " CAST(peak AS INT) AS peak, CAST(zc AS INT) AS zero_crossings"
    " FROM a",
)
def _mm_audio_decode(spark, sf_dir):
    """REAL audio decode (fake=False): synthesize genuine 16-bit PCM
    WAV payloads, open them with the stdlib wave module inside the
    Arrow-batched stage, and emit PCM stats.  The sample formula is
    reproduced by the DuckDB oracle (64-sample frames keep the mean
    dyadic; rms is a double-precision sqrt on both engines)."""
    from eggv_spark.operators import multimodal as M

    feats = M.extract_features(
        M.synthesize_wav_audio(_t(spark, sf_dir, "documents")), fake_decode=False
    )
    return feats.select(
        "asset_id", "modality", "n_bytes",
        F.get("feature", 0).cast("int").alias("n_channels"),
        F.get("feature", 1).cast("int").alias("sample_rate"),
        F.get("feature", 3).cast("int").alias("n_frames"),
        F.round(F.get("feature", 4), 4).alias("mean_amp"),
        F.round(F.get("feature", 5), 4).alias("rms"),
        F.get("feature", 6).cast("int").alias("peak"),
        F.get("feature", 7).cast("int").alias("zero_crossings"),
    )


@register(
    "mm_audio_segments",
    "WITH s AS (SELECT doc_id, i,"
    "  ((doc_id*31 + i*17) % 4096) - 2048 AS v"
    " FROM documents, unnest(generate_series(0, 63)) AS t(i))"
    " SELECT doc_id AS asset_id, CAST(i // 16 AS INT)"
    "  AS segment_idx,"
    " CAST(16 AS INT) AS n_samples,"
    " round(sqrt(sum(v*v) / 16.0), 4) AS rms,"
    " CAST(max(abs(v)) AS INT) AS peak"
    " FROM s GROUP BY 1, 2",
)
def _mm_audio_segments(spark, sf_dir):
    """Windowed audio segmentation over REAL decoded PCM (stdlib
    wave parse in mapInPandas, 1->N): per-16-sample RMS + peak —
    the silence-trim / loudness-normalize front-end."""
    from eggv_spark.operators import multimodal as M

    return M.audio_rms_segments(
        M.synthesize_wav_audio(_t(spark, sf_dir, "documents"))
    )


@register(
    "mm_image_hash",
    "WITH px AS (SELECT doc_id, i,"
    "  ((doc_id*7 + (i*3)*13) % 256)"
    "  + ((doc_id*7 + (i*3+1)*13) % 256)"
    "  + ((doc_id*7 + (i*3+2)*13) % 256) AS s"
    " FROM documents, unnest(generate_series(0, 15)) AS t(i)),"
    " a AS (SELECT doc_id, sum(s) AS total, count(*) AS n"
    "  FROM px GROUP BY 1),"
    " b AS (SELECT px.doc_id,"
    "  CASE WHEN px.s * a.n >= a.total THEN 1 ELSE 0 END"
    "   << (15 - px.i) AS bit"
    "  FROM px JOIN a USING (doc_id)),"
    " h AS (SELECT doc_id AS asset_id, CAST(16 AS INT) AS n_pixels,"
    "  CAST(sum(bit) AS BIGINT) AS ahash FROM b GROUP BY 1)"
    " SELECT asset_id, n_pixels, ahash,"
    " count(*) OVER (PARTITION BY ahash) AS n_bucket FROM h",
)
def _mm_image_hash(spark, sf_dir):
    """Perceptual average-hash over REAL decoded PPM bytes
    (mapInPandas, stdlib P6 decoder, all-integer threshold math) plus
    the per-hash bucket size — the image near-dup candidate key."""
    from eggv_spark.operators import multimodal as M

    from pyspark.sql import Window as W

    hashed = M.image_ahash(
        M.synthesize_ppm_images(_t(spark, sf_dir, "documents"))
    )
    return hashed.withColumn(
        "n_bucket", F.count("*").over(W.partitionBy("ahash")).cast("long")
    )


@register(
    "mm_bmp_decode",
    "WITH px AS ("
    " SELECT d.doc_id, i, (d.doc_id * 11 + i * 17) % 256 AS v"
    " FROM documents d, generate_series(0, 79) t(i)),"
    " st AS (SELECT doc_id,"
    "  sum(v) FILTER (i % 20 < 18 AND (i % 20) % 3 = 2) AS sum_r,"
    "  sum(v) FILTER (i % 20 < 18 AND (i % 20) % 3 = 1) AS sum_g,"
    "  sum(v) FILTER (i % 20 < 18 AND (i % 20) % 3 = 0) AS sum_b,"
    "  max(v) FILTER (i % 20 < 18) AS max_px,"
    "  min(v) FILTER (i % 20 < 18) AS min_px,"
    "  string_agg(lpad(lower(to_hex(v)), 2, '0'), '' ORDER BY i)"
    "   AS hx"
    " FROM px GROUP BY doc_id)"
    " SELECT doc_id AS asset_id, CAST(134 AS BIGINT) AS n_bytes,"
    " md5('424d860000000000000036000000280000000600000004000000"
    "010018000000000050000000130b0000130b00000000000000000000'"
    "  || hx) AS content_hash,"
    " CAST(6 AS INT) AS width, CAST(4 AS INT) AS height,"
    " CAST(sum_r AS BIGINT) AS sum_r,"
    " CAST(sum_g AS BIGINT) AS sum_g,"
    " CAST(sum_b AS BIGINT) AS sum_b,"
    " CAST(max_px AS INT) AS max_px, CAST(min_px AS INT) AS min_px"
    " FROM st",
)
def _mm_bmp_decode(spark, sf_dir):
    """REAL uncompressed-BMP decode (fake=False): synthesize genuine
    24-bit bottom-up BMP payloads with a padded 20-byte row stride
    (6x4 raster — 2 padding bytes per row, so stride bugs shear
    loudly), parse them with the stdlib little-endian header decoder
    inside the Arrow-batched mapInPandas stage, and emit integer
    channel sums — round(mean*n) recovers the exact integer sum, so
    there is no float32 rounding ambiguity vs the DuckDB replica
    (multimodal.decode_bmp; the second real image container next to
    PPM/P6)."""
    from eggv_spark.operators import multimodal as M

    imgs = M.synthesize_bmp_images(_t(spark, sf_dir, "documents"))
    feats = M.extract_features(imgs, fake_decode=False)
    n = F.lit(24)
    return feats.select(
        "asset_id",
        "n_bytes",
        "content_hash",
        F.get("feature", 0).cast("int").alias("width"),
        F.get("feature", 1).cast("int").alias("height"),
        F.round(F.get("feature", 3) * n).cast("long").alias("sum_r"),
        F.round(F.get("feature", 4) * n).cast("long").alias("sum_g"),
        F.round(F.get("feature", 5) * n).cast("long").alias("sum_b"),
        F.get("feature", 6).cast("int").alias("max_px"),
        F.get("feature", 7).cast("int").alias("min_px"),
    )


@register(
    "mm_asset_stats",
    "SELECT doc_id AS asset_id,"
    " CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'"
    "  WHEN 1 THEN 'audio' ELSE 'video' END AS modality,"
    " CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,"
    # duckdb md5 is VARCHAR-only; hashes the same utf-8 bytes
    " md5(text) AS content_hash"
    " FROM documents",
)
def _mm_asset_stats(spark, sf_dir):
    from eggv_spark.operators import multimodal as M

    return M.asset_stats(M.synthesize_assets(_t(spark, sf_dir, "documents")))


@register(
    "mm_feature_extract",
    "WITH px AS ("
    " SELECT d.doc_id, i, (d.doc_id * 7 + i * 13) % 256 AS v"
    " FROM documents d, generate_series(0, 47) t(i)),"
    " st AS (SELECT doc_id,"
    "  avg(v) FILTER (i % 3 = 0) AS mean_r,"
    "  avg(v) FILTER (i % 3 = 1) AS mean_g,"
    "  avg(v) FILTER (i % 3 = 2) AS mean_b,"
    "  max(v) AS max_px, min(v) AS min_px,"
    "  string_agg(lpad(to_hex(v), 2, '0'), '' ORDER BY i) AS hx"
    " FROM px GROUP BY doc_id)"
    " SELECT doc_id AS asset_id, 'image' AS modality,"
    " CAST(59 AS BIGINT) AS n_bytes,"
    " md5(lower(hex(encode('P6' || chr(10) || '4 4' || chr(10)"
    "  || '255' || chr(10)) || unhex(hx)))) AS content_hash,"
    " CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,"
    " round(mean_r, 4) AS mean_r, round(mean_g, 4) AS mean_g,"
    " round(mean_b, 4) AS mean_b,"
    " round(4 + 4 + 255 + mean_r + mean_g + mean_b"
    "  + max_px + min_px, 4) AS feature_sum"
    " FROM st",
)
def _mm_feature_extract(spark, sf_dir):
    """REAL image decode (fake=False): synthesize genuine binary-PPM
    payloads, parse them with the stdlib P6 decoder inside the
    Arrow-batched mapInPandas stage, and emit per-channel raster
    stats.  Every feature value is dyadic (4x4 raster) so the DuckDB
    oracle reproduces it exactly from the pixel formula."""
    from eggv_spark.operators import multimodal as M

    imgs = M.synthesize_ppm_images(_t(spark, sf_dir, "documents"))
    feats = M.extract_features(imgs, fake_decode=False)
    return feats.select(
        "asset_id", "modality", "n_bytes", "content_hash",
        F.get("feature", 0).cast("int").alias("width"),
        F.get("feature", 1).cast("int").alias("height"),
        F.round(F.get("feature", 3).cast("double"), 4).alias("mean_r"),
        F.round(F.get("feature", 4).cast("double"), 4).alias("mean_g"),
        F.round(F.get("feature", 5).cast("double"), 4).alias("mean_b"),
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double")), 4
        ).alias("feature_sum"),
    )


@register(
    "mm_video_frames",
    "WITH px AS ("
    " SELECT d.doc_id, f, i,"
    "  (d.doc_id * 7 + f * 11 + i * 13) % 256 AS v"
    " FROM documents d, range(0, 4) tf(f), range(0, 48) ti(i))"
    " SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_idx,"
    " md5(string_agg(lpad(lower(to_hex(v)), 2, '0'), ''"
    "  ORDER BY i)) AS frame_hash,"
    " round(avg(v) FILTER (i < 16), 4) AS mean_y"
    " FROM px GROUP BY doc_id, f",
)
def _mm_video_frames(spark, sf_dir):
    """REAL video decode (fake=False): synthesize genuine Y4M
    (YUV4MPEG2, C444) payloads, parse header + FRAME markers with the
    stdlib decoder inside mapInPandas, and emit per-frame hash + luma
    mean.  4x4 frames make mean_y dyadic (sum/16), so the DuckDB
    oracle reproduces every value exactly from the pixel formula."""
    from eggv_spark.operators import multimodal as M

    vids = M.synthesize_y4m_videos(_t(spark, sf_dir, "documents"))
    frames = M.sample_video_frames(vids, n_frames=4, fake_decode=False)
    return frames.select(
        "asset_id", "frame_idx", "frame_hash",
        F.round("mean_y", 4).alias("mean_y"),
    )


@register(
    "mm_image_crop",
    "WITH px AS ("
    " SELECT d.doc_id, j,"
    "  (((1 + j // 6) * 4 + 1 + (j % 6) // 3) * 3 + (j % 3)) AS i"
    " FROM documents d, range(0, 12) tj(j))"
    " SELECT doc_id AS asset_id, CAST(1 AS INT) AS x0,"
    " CAST(1 AS INT) AS y0,"
    " CAST(23 AS BIGINT) AS n_bytes,"
    " md5('50360A3220320A3235350A' ||"
    "  upper(string_agg(lpad(to_hex((doc_id * 7 + i * 13) % 256),"
    "   2, '0'), '' ORDER BY j))) AS cropped_hash"
    " FROM px GROUP BY doc_id",
)
def _mm_image_crop(spark, sf_dir):
    """REAL pixel crop over genuine 4x4 P6 payloads: the 2x2 window
    anchored at (1, 1), re-emitted as a decodable P6 image; the
    oracle replays the pixel-slice formula in SQL."""
    from eggv_spark.operators import multimodal as M

    cropped = M.crop_images(
        M.synthesize_ppm_images(_t(spark, sf_dir, "documents")),
        x0=1, y0=1, width=2, height=2,
    )
    return cropped.select(
        "asset_id", "x0", "y0",
        F.length("cropped").cast("long").alias("n_bytes"),
        F.md5(F.hex("cropped")).alias("cropped_hash"),
    )


def _audio_resample_oracle() -> str:
    """REAL 2x-decimation replica: kept sample k (of 32) is source
    sample i=2k of the synthesized WAV (sample i of doc d =
    (d*31 + i*17) % 4096 - 2048, 16-bit little-endian); the payload
    is the canonical 44-byte RIFF header for 32 samples @ 4000 Hz
    plus the kept PCM bytes."""
    from eggv_spark.operators.multimodal import _wav_header

    header_hex = _wav_header(32, 4000).hex().upper()
    return f"""
WITH s AS (
 SELECT d.doc_id, k,
  (d.doc_id * 31 + (2 * k) * 17) % 4096 - 2048 AS v
 FROM documents d, range(0, 32) tk(k)),
u AS (SELECT doc_id, k, CASE WHEN v < 0 THEN v + 65536 ELSE v END AS u
      FROM s)
SELECT doc_id AS asset_id, CAST(2 AS INT) AS factor,
 CAST(108 AS BIGINT) AS n_bytes,
 md5('{header_hex}' || upper(string_agg(
   lpad(to_hex(u % 256), 2, '0') || lpad(to_hex(u // 256), 2, '0'),
   '' ORDER BY k))) AS resampled_hash
FROM u GROUP BY doc_id
"""


@register("mm_audio_resample", _audio_resample_oracle())
def _mm_audio_resample(spark, sf_dir):
    """REAL WAV downsample by 2x decimation over genuine 16-bit PCM
    payloads: every 2nd sample survives into a valid RIFF container
    at half the rate; the oracle rebuilds the exact byte stream from
    the synthesis formula."""
    from eggv_spark.operators import multimodal as M

    out = M.resample_audio(
        M.synthesize_wav_audio(_t(spark, sf_dir, "documents")), factor=2
    )
    return out.select(
        "asset_id", "factor",
        F.length("resampled").cast("long").alias("n_bytes"),
        F.md5(F.hex("resampled")).alias("resampled_hash"),
    )


@register(
    "mm_png_header",
    "SELECT doc_id AS asset_id, 1 AS header_ok,"
    " CAST(1 + doc_id % 64 AS BIGINT) AS width,"
    " CAST(1 + (doc_id * 7) % 48 AS BIGINT) AS height,"
    " CAST(8 AS INT) AS bit_depth, CAST(2 AS INT) AS color_type"
    " FROM documents",
)
def _mm_png_header(spark, sf_dir):
    """PNG metadata extraction without decode: synthesize real
    signature+IHDR binaries per document, then header-parse width /
    height / bit depth / color type with pure substring/hex/conv
    Column math (multimodal.synthesize_png_headers +
    parse_png_header); the oracle recomputes from the generative
    formula."""
    from eggv_spark.operators.multimodal import (
        parse_png_header, synthesize_png_headers,
    )

    assets = synthesize_png_headers(_t(spark, sf_dir, "documents"))
    return parse_png_header(assets)


@register(
    "mm_scene_cuts",
    "WITH px AS (SELECT d.doc_id, f, i,"
    "  (d.doc_id * 7 + f * 11 + i * 13) % 256 AS v"
    "  FROM documents d, range(0, 4) tf(f), range(0, 16) ti(i)),"
    " fm AS (SELECT doc_id, f, avg(v) AS my FROM px GROUP BY 1, 2),"
    " dl AS (SELECT doc_id, f,"
    "  abs(my - lag(my) OVER (PARTITION BY doc_id ORDER BY f))"
    "   AS delta FROM fm)"
    " SELECT doc_id AS asset_id, count(*) AS n_frames,"
    " CAST(sum(CASE WHEN delta > 5.0 THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_cuts,"
    " CAST(min(CASE WHEN delta > 5.0 THEN f END) AS INT)"
    "  AS first_cut_idx"
    " FROM dl GROUP BY 1",
)
def _mm_scene_cuts(spark, sf_dir):
    """Scene-cut detection on REAL-decoded Y4M frame luma means: the
    decode runs once in the Arrow-batched sampler, the cut logic is
    a pure lag window over per-frame stats
    (multimodal.detect_scene_cuts)."""
    from eggv_spark.operators import multimodal as M

    vids = M.synthesize_y4m_videos(_t(spark, sf_dir, "documents"))
    frames = M.sample_video_frames(vids, n_frames=4, fake_decode=False)
    return M.detect_scene_cuts(frames, threshold=5.0)


_IMAGE_PATCHES_SQL = """
WITH grid AS (
  SELECT d.doc_id AS asset_id, pr.pr AS patch_row, pc.pc AS patch_col
  FROM documents d, (SELECT unnest(range(0, 2)) AS pr) pr,
       (SELECT unnest(range(0, 2)) AS pc) pc
)
SELECT asset_id, CAST(patch_row AS INT) AS patch_row,
       CAST(patch_col AS INT) AS patch_col,
       list_sum(list_transform(range(0, 16), k ->
         CAST((asset_id * 7 + ((((patch_row * 4 + k // 4) * 8)
              + patch_col * 4 + (k % 4)) * 3 + 0) * 13) % 256
              AS DOUBLE))) / 16 AS mean_r,
       list_sum(list_transform(range(0, 16), k ->
         CAST((asset_id * 7 + ((((patch_row * 4 + k // 4) * 8)
              + patch_col * 4 + (k % 4)) * 3 + 1) * 13) % 256
              AS DOUBLE))) / 16 AS mean_g,
       list_sum(list_transform(range(0, 16), k ->
         CAST((asset_id * 7 + ((((patch_row * 4 + k // 4) * 8)
              + patch_col * 4 + (k % 4)) * 3 + 2) * 13) % 256
              AS DOUBLE))) / 16 AS mean_b
FROM grid
"""


@register("image_patches", _IMAGE_PATCHES_SQL)
def _image_patches(spark, sf_dir):
    """ViT-style 4x4 patch means over real 8x8 binary-PPM assets
    synthesized from documents (multimodal.image_patches): stdlib P6
    decode inside Arrow-batched mapInPandas, dyadic means — exactly
    reproducible in SQL from the pixel formula."""
    from eggv_spark.operators.multimodal import (
        image_patches,
        synthesize_ppm_images,
    )

    assets = synthesize_ppm_images(
        _t(spark, sf_dir, "documents"), width=8, height=8
    )
    return image_patches(assets, patch=4)


def _image_hist_oracle_sql(width: int, height: int, n_bins: int) -> str:
    """Formula-recomputed channel histogram for synthesize_ppm_images
    assets (byte i of doc d is (d*7 + i*13) % 256, channel = i % 3);
    the bin grid left-joins the counts so empty bins emit 0."""
    n_px = width * height
    bin_w = 256 // n_bins
    return f"""
WITH px AS (
  SELECT d.doc_id AS asset_id, ch.ch AS ch, p.p AS p,
         (d.doc_id * 7 + (p.p * 3 + ch.ch) * 13) % 256 AS v
  FROM documents d,
       (SELECT unnest(range(0, 3)) AS ch) ch,
       (SELECT unnest(range(0, {n_px})) AS p) p
),
grid AS (
  SELECT d.doc_id AS asset_id, ch.ch AS ch, b.b AS b
  FROM documents d,
       (SELECT unnest(range(0, 3)) AS ch) ch,
       (SELECT unnest(range(0, {n_bins})) AS b) b
)
SELECT g.asset_id,
       CASE g.ch WHEN 0 THEN 'r' WHEN 1 THEN 'g' ELSE 'b' END AS channel,
       CAST(g.b AS INT) AS bin,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_px
FROM grid g LEFT JOIN (
  SELECT asset_id, ch, v // {bin_w} AS b, count(*) AS n
  FROM px GROUP BY asset_id, ch, v // {bin_w}
) c ON g.asset_id = c.asset_id AND g.ch = c.ch AND g.b = c.b
"""


@register("image_channel_hist", _image_hist_oracle_sql(8, 8, 4))
def _image_channel_hist(spark, sf_dir):
    """Per-channel 4-bin pixel histograms over real 8x8 P6 assets
    synthesized from documents (multimodal.image_channel_hist):
    stdlib decode in Arrow mapInPandas, integer bin edges — exactly
    reproducible in SQL from the pixel formula."""
    from eggv_spark.operators.multimodal import (
        image_channel_hist,
        synthesize_ppm_images,
    )

    assets = synthesize_ppm_images(
        _t(spark, sf_dir, "documents"), width=8, height=8
    )
    return image_channel_hist(assets, n_bins=4)


def _audio_silence_oracle_sql(n_samples: int, threshold: int) -> str:
    """Formula-recomputed silence report for synthesize_wav_audio
    assets (sample i of doc d is ((d*31 + i*17) % 4096) - 2048)."""
    return f"""
WITH samp AS (
  SELECT d.doc_id AS asset_id, i.i AS i,
         (d.doc_id * 31 + i.i * 17) % 4096 - 2048 AS v
  FROM documents d, (SELECT unnest(range(0, {n_samples})) AS i) i
),
flags AS (
  SELECT asset_id, i, CAST(abs(v) < {threshold} AS INT) AS silent
  FROM samp
)
SELECT asset_id, CAST({n_samples} AS BIGINT) AS n_samples,
       CAST(sum(silent) AS BIGINT) AS n_silent,
       floor(sum(silent) / CAST({n_samples} AS DOUBLE) * 10000 + 0.5)
         / 10000 AS silence_ratio,
       CAST(coalesce(min(CASE WHEN silent = 0 THEN i END),
                     {n_samples}) AS BIGINT) AS lead_silence,
       CAST(coalesce({n_samples} - 1
                     - max(CASE WHEN silent = 0 THEN i END),
                     {n_samples}) AS BIGINT) AS trail_silence
FROM flags GROUP BY asset_id
"""


@register("audio_silence_report", _audio_silence_oracle_sql(64, 512))
def _audio_silence_report(spark, sf_dir):
    """Silence audit over real 16-bit PCM WAVs synthesized from
    documents (multimodal.audio_silence_report): silent-sample count,
    ratio, and lead/trail trim points — exact integers reproducible
    from the synthesis formula."""
    from eggv_spark.operators.multimodal import (
        audio_silence_report,
        synthesize_wav_audio,
    )

    assets = synthesize_wav_audio(
        _t(spark, sf_dir, "documents"), n_samples=64
    )
    return audio_silence_report(assets, threshold=512)


def _image_entropy_oracle_sql(n_bytes: int) -> str:
    """Formula-recomputed entropy report for synthesize_ppm_images
    assets (pixel byte i of doc d is (d*7 + i*13) % 256); the fold
    runs over list(c ORDER BY v) — the same sorted sequential order
    as the Python decode loop — before the shared half-up 4dp."""
    return f"""
WITH px AS MATERIALIZED (
  SELECT d.doc_id AS asset_id, (d.doc_id * 7 + i.i * 13) % 256 AS v
  FROM documents d, (SELECT unnest(range(0, {n_bytes})) AS i) i
),
hist AS MATERIALIZED (
  SELECT asset_id, v, count(*) AS c FROM px GROUP BY asset_id, v
),
folded AS (
  SELECT asset_id, list(c ORDER BY v) AS h, sum(c) AS n,
         count(*) AS nd, max(c) AS mx
  FROM hist GROUP BY asset_id
)
SELECT asset_id, CAST(n AS BIGINT) AS n_bytes,
       CAST(nd AS BIGINT) AS n_distinct,
       floor(-list_sum(list_transform(h, c ->
           (c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))))
           * 10000 + 0.5) / 10000 AS entropy,
       floor(mx / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS max_share
FROM folded
"""


@register("image_entropy", _image_entropy_oracle_sql(48))
def _image_entropy(spark, sf_dir):
    """Intensity-entropy audit over real P6 rasters synthesized from
    documents (multimodal.image_entropy_report): per-image Shannon
    entropy / distinct intensities / modal share, sorted-fold pinned,
    half-up 4dp."""
    from eggv_spark.operators.multimodal import (
        image_entropy_report,
        synthesize_ppm_images,
    )

    return image_entropy_report(
        synthesize_ppm_images(_t(spark, sf_dir, "documents"))
    )


_IMAGE_NEARDUP_SQL = """
WITH px AS (
  SELECT doc_id, i,
         ((doc_id*7 + (i*3)*13) % 256)
         + ((doc_id*7 + (i*3+1)*13) % 256)
         + ((doc_id*7 + (i*3+2)*13) % 256) AS s
  FROM documents, unnest(generate_series(0, 15)) AS t(i)
), a AS (
  SELECT doc_id, sum(s) AS total, count(*) AS n FROM px GROUP BY 1
), b AS (
  SELECT px.doc_id,
         CASE WHEN px.s * a.n >= a.total THEN 1 ELSE 0 END
           << (15 - px.i) AS bit
  FROM px JOIN a USING (doc_id)
), h AS (
  SELECT doc_id AS id, CAST(sum(bit) AS BIGINT) AS ahash
  FROM b GROUP BY 1
), dh AS (
  SELECT ahash, min(id) AS rep, CAST(count(*) AS BIGINT) AS n
  FROM h GROUP BY 1
), bands AS (
  SELECT ahash, rep, n, bi AS band,
         (ahash >> (bi * 4)) & 15 AS val
  FROM dh, LATERAL (SELECT unnest(range(4)) AS bi)
), cand AS (
  SELECT DISTINCT l.rep AS rep_a, r.rep AS rep_b,
         l.n AS n_images_a, r.n AS n_images_b,
         l.ahash AS ha, r.ahash AS hb
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.val = r.val AND l.rep < r.rep
)
SELECT rep_a, rep_b, n_images_a, n_images_b,
       CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= 3"""


@register("mm_image_neardup", _IMAGE_NEARDUP_SQL)
def _mm_image_neardup(spark, sf_dir):
    """Image near-duplicate pairs over REAL-decoded PPM aHashes
    (multimodal.image_ahash -> image_neardup_pairs): 4 bit-bands of
    the 16-bit hash generate candidates by equi-join (pigeonhole:
    4 bands > 3 max hamming, exact recall), XOR+bit_count verifies —
    the image twin of the MinHash band join."""
    from eggv_spark.operators import multimodal as M

    hashed = M.image_ahash(
        M.synthesize_ppm_images(_t(spark, sf_dir, "documents"))
    )
    return M.image_neardup_pairs(
        hashed, hash_bits=16, n_bands=4, max_hamming=3
    )


_AUDIO_FP_SQL = """
WITH en AS (
  SELECT doc_id, w,
         sum(abs(((doc_id * 31 + i * 17) % 4096) - 2048)) AS e
  FROM documents,
       LATERAL (SELECT unnest(range(64)) AS i),
       LATERAL (SELECT i // 4 AS w)
  GROUP BY doc_id, w
), fp AS (
  SELECT a.doc_id AS id,
         CAST(sum(CASE WHEN b.e > a.e THEN 1 ELSE 0 END
                  << (15 - a.w)) AS BIGINT) AS h
  FROM en a JOIN en b
    ON a.doc_id = b.doc_id AND b.w = (a.w + 1) % 16
  GROUP BY a.doc_id
), dh AS (
  SELECT h AS ahash, min(id) AS rep, CAST(count(*) AS BIGINT) AS n
  FROM fp GROUP BY 1
), bands AS (
  SELECT ahash, rep, n, bi AS band,
         (ahash >> (bi * 4)) & 15 AS val
  FROM dh, LATERAL (SELECT unnest(range(4)) AS bi)
), cand AS (
  SELECT DISTINCT l.rep AS rep_a, r.rep AS rep_b,
         l.n AS n_images_a, r.n AS n_images_b,
         l.ahash AS ha, r.ahash AS hb
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.val = r.val AND l.rep < r.rep
)
SELECT rep_a, rep_b, n_images_a, n_images_b,
       CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= 3"""


@register("mm_audio_fingerprint", _AUDIO_FP_SQL)
def _mm_audio_fingerprint(spark, sf_dir):
    """Audio near-dup pairs over REAL-decoded PCM energy-delta
    fingerprints (multimodal.audio_fingerprint -> the hash-generic
    band join): the audio leg of the one bucket-then-verify dedup
    kernel (MinHash for text, aHash for images, this for audio)."""
    from eggv_spark.operators import multimodal as M

    fp = M.audio_fingerprint(
        M.synthesize_wav_audio(_t(spark, sf_dir, "documents"))
    )
    return M.image_neardup_pairs(
        fp, hash_col="fingerprint",
        hash_bits=16, n_bands=4, max_hamming=3,
    )
