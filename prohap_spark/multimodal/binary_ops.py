"""Multimodal columns: image/audio/video as opaque BINARY columns with
typed metadata, processed by Arrow-batched pandas UDFs over
mapInPandas (BASELINE north star: LLM-data-pipeline operators).

The Spark-side plumbing (schemas, batch iteration, partitioning
behavior, UDF signatures) is real and tested. Two codec tiers:
``real_codec=False`` / ``codec="bytes"`` is a deterministic
sha256/byte-derived fake (cheap, oracle-friendly); ``real_codec=True``
/ ``codec="pcm16_wav"`` run REAL container parsers (``codecs.py``:
uncompressed BMP, COMPRESSED PNG via stdlib-zlib DEFLATE, RIFF/WAVE
PCM16, and JPEG — baseline AND progressive, including
4:2:0-subsampled color and restart intervals — pure Python + numpy,
no external media libraries; the image path sniffs the magic bytes
and dispatches per payload). MP3 remains out of scope and fails
loudly.

Design for 100 TB of media:
- media bytes live in their own column; metadata-only queries never
  touch them (parquet column pruning does the work);
- decode/feature-extract run in mapInPandas with small Arrow batches:
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` counts ROWS, not
  bytes, so the per-worker envelope is rows × avg_media_size — at the
  10,000-row default, 10 MB payloads would demand 100 GB per worker.
  Size it to target_batch_bytes / payload_bytes before any
  binary-heavy stage. Measured on ~0.8 MB real-BMP decodes, wall is
  flat from 10,000 rows/batch down to 2 (Arrow streams per batch
  either way), so capping the envelope (e.g. 64 MB/batch) costs
  nothing;
- outputs are fixed-width feature vectors that downstream joins can
  consume directly.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def attach_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap JVM-side metadata: size + stable content hash (dedup key
    for exact media dedup — same pattern as text A6)."""
    return df.withColumn("n_bytes", F.length(F.col(payload_col))).withColumn(
        "content_hash", F.sha2(F.col(payload_col), 256)
    )


def _fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB decode — deterministic fake: pixels derived from the sha256
    stream of the payload. Replace with PIL.Image.open for real data.
    """
    if payload is None:
        return np.zeros((height, width), dtype=np.uint8)
    h = hashlib.sha256(payload).digest()
    reps = (width * height + len(h) - 1) // len(h)
    buf = (h * reps)[: width * height]
    return np.frombuffer(buf, dtype=np.uint8).reshape(height, width)


def decode_images(
    df: DataFrame,
    payload_col: str = "payload",
    width: int = 8,
    height: int = 8,
    real_codec: bool = False,
) -> DataFrame:
    """mapInPandas decode: binary payload → grayscale raster (flattened
    array<int>).

    ``real_codec=False`` (default): deterministic sha256-derived fake
    raster of the requested width×height — the cheap oracle-checkable
    path for plumbing tests.

    ``real_codec=True``: REAL image decode dispatched on the payload's
    magic bytes — uncompressed BMP ('BM': header, palette, row padding,
    bottom-up/top-down order), compressed PNG (signature: chunk CRCs,
    multi-IDAT DEFLATE reassembly, five-filter scanline reconstruction),
    or baseline JPEG (SOI: marker walk, Huffman entropy decode with
    stuffing removal, dequant + IDCT, all in ``codecs.py``); raster
    dimensions come from the payload itself, so
    ``width`` / ``height`` are ignored. A malformed or unrecognized
    payload raises (fail loud)."""
    from prohap_spark.multimodal.codecs import (
        _PNG_SIG,
        decode_bmp,
        decode_gif,
        decode_jpeg,
        decode_png,
        decode_tiff,
    )

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", pixels array<int>"

    def _real_decode(p: bytes) -> np.ndarray:
        if p[:2] == b"BM":
            return decode_bmp(p)
        if p[: len(_PNG_SIG)] == _PNG_SIG:
            return decode_png(p)
        if p[:2] == b"\xff\xd8":
            return decode_jpeg(p)
        if p[:4] == b"GIF8":
            return decode_gif(p)
        if p[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
            return decode_tiff(p)
        raise ValueError("unrecognized image payload (not BMP/PNG/JPEG/GIF/TIFF)")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if real_codec:
                pix = [
                    _real_decode(bytes(p)).ravel().astype(int).tolist()
                    for p in pdf[payload_col]
                ]
            else:
                pix = [
                    _fake_decode(p, width, height).ravel().astype(int).tolist()
                    for p in pdf[payload_col]
                ]
            yield pdf.assign(pixels=pix)

    return df.mapInPandas(run, schema=out_schema)


def extract_image_features(decoded: DataFrame, pixels_col: str = "pixels") -> DataFrame:
    """Feature extraction over the decoded raster — JVM-side aggregate
    expressions (mean/std/edge-count proxy), no second Python hop."""
    px = F.col(pixels_col)
    n = F.size(px)
    mean = F.aggregate(px, F.lit(0.0), lambda a, x: a + x.cast("double")) / n
    var = (
        F.aggregate(px, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")) / n
        - mean * mean
    )
    return decoded.withColumn("px_mean", F.round(mean, 4)).withColumn(
        "px_std", F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 4)
    )


def perceptual_hash_images(
    decoded: DataFrame,
    id_col: str = "media_id",
    pixels_col: str = "pixels",
    bits: int = 60,
) -> DataFrame:
    """Average-hash signature over a decoded raster, EXACT-integer and
    JVM-side: the flattened pixel array is cut into ``bits``
    contiguous equal-share stripes, and bit k is set iff stripe k's
    mean exceeds the global mean — compared by integer
    cross-multiplication (``sum_k · n_total > sum_total · n_k``), so
    no division and no float ever enters the signature; two engines
    (or two cluster runs) produce identical hashes bit-for-bit.

    Honest scope note: this is a 1-D STRIPE aHash — it catches the
    aHash family's target (re-encodes, slight brightness/noise edits,
    crops that preserve most rows) without needing the raster's
    width, which :func:`decode_images` does not carry for real
    codecs. A production pHash would DCT the 2-D raster; the
    Spark-side shape — integer means, threshold against the global
    mean, fixed-width bit pack, Hamming-ball banding — is identical,
    and swapping the bit derivation does not touch the join.

    Emits (id_col, simhash) — named to plug straight into
    ``operators.dedup.simhash_near_pairs(sig_table=...)``, which
    supplies the pigeonhole banding + exact ``bit_count(xor)``
    verify. Default 60 bits matches its banding default (and keeps
    the pack positive in a BIGINT)."""
    px = F.col(pixels_col)
    n = F.size(px)
    total = F.aggregate(px, F.lit(0).cast("long"), lambda a, x: a + x)

    def stripe_bit(k: int):
        # stripe k covers [floor(k·n/bits), floor((k+1)·n/bits)) —
        # equal shares with the remainder spread deterministically
        start = F.floor(k * n / bits).cast("int")
        end = F.floor((k + 1) * n / bits).cast("int")
        length = end - start
        s = F.aggregate(
            F.slice(px, start + 1, length),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        # exact integer comparison: mean_k > mean_total
        return F.when(s * n > total * length, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    sig = reduce(
        lambda acc, k: acc + (stripe_bit(k) * F.lit(1 << k)),
        range(bits),
        F.lit(0).cast("long"),
    )
    return decoded.select(F.col(id_col), sig.alias("simhash"))


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    real_codec: bool = True,
    bits: int = 60,
    n_bands: int = 4,
) -> DataFrame:
    """Image near-duplicate pairs — the multimodal twin of the text
    SimHash dedup: real magic-dispatched decode
    (:func:`decode_images`), exact-integer stripe aHash
    (:func:`perceptual_hash_images`), then the EXISTING pigeonhole
    Hamming-ball machinery (``simhash_near_pairs`` with the
    signatures as ``sig_table`` — one banding equi-join, never
    all-pairs, 100% recall inside the ball). Returns
    (id_a, id_b, hamming)."""
    from prohap_spark.operators.dedup import simhash_near_pairs

    decoded = decode_images(df, payload_col=payload_col, real_codec=real_codec)
    sig = perceptual_hash_images(decoded, id_col=id_col, bits=bits)
    return simhash_near_pairs(
        None,
        id_col,
        None,
        max_hamming=max_hamming,
        bits=bits,
        n_bands=n_bands,
        sig_table=sig,
    )


def sample_video_frames(
    df: DataFrame, payload_col: str = "payload", every_n: int = 10, max_frames: int = 4
) -> DataFrame:
    """Frame sampling plumbing: emits (media_id, frame_idx, frame
    payload-slice) rows — one input row fans out to ≤ max_frames rows.
    The slice step is the STUB; a real demuxer replaces the inner fn."""
    idx = F.sequence(F.lit(0), F.lit(max_frames - 1))
    frames = df.select(
        "media_id",
        F.posexplode(idx).alias("frame_pos", "frame_idx"),
        F.col(payload_col),
    ).withColumn("frame_idx", F.col("frame_idx") * every_n)
    # deterministic fake "frame": a 16-byte slice at frame_idx
    frame_payload = F.substring(F.col(payload_col).cast("string"), F.col("frame_idx") + 1, 16)
    return frames.select(
        "media_id", "frame_idx", frame_payload.alias("frame_stub")
    ).where(F.length("frame_stub") > 0)


def resize_raster(
    decoded: DataFrame,
    pixels_col: str = "pixels",
    width: int = 8,
    factor: int = 2,
    out_col: str = "pixels_small",
) -> DataFrame:
    """Block-average downsample of a flattened row-major raster —
    REAL computation (not a stub), pure JVM array expressions: output
    pixel (r, c) is the exact mean of its factor×factor input block.
    The resize most training pipelines run after decode; a second
    Python hop would pay Arrow serialization twice, so it stays in
    whole-stage codegen."""
    px = F.col(pixels_col)
    ow = width // factor
    # number of output pixels = (height/f) * (width/f); derive height
    # from the array length so the op works for any raster
    n_out = (F.size(px) / (factor * factor)).cast("int")

    def block_mean(k):
        r = F.floor(k / ow)
        c = k % ow
        members = F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.lit(factor - 1)),
                lambda dr: F.transform(
                    F.sequence(F.lit(0), F.lit(factor - 1)),
                    lambda dc: F.element_at(
                        px,
                        ((r * factor + dr) * width + (c * factor + dc) + 1).cast("int"),
                    ),
                ),
            )
        )
        return F.aggregate(members, F.lit(0.0), lambda a, x: a + x.cast("double")) / (
            factor * factor
        )

    # guard n_out == 0: sequence(0, -1) is the DESCENDING [0, -1] and
    # block_mean's element_at(px, idx <= 0) errors under ANSI mode —
    # reachable if a decoder ever emits an empty raster
    resized = F.when(
        n_out > 0, F.transform(F.sequence(F.lit(0), n_out - 1), block_mean)
    ).otherwise(F.array().cast("array<double>"))
    return decoded.withColumn(out_col, resized)


def audio_window_features(
    df: DataFrame,
    payload_col: str = "payload",
    window: int = 64,
    hop: int = 32,
    max_windows: int = 8,
    codec: str = "bytes",
) -> DataFrame:
    """Audio framing: one payload fans out to ≤ max_windows overlapping
    windows, each reduced to (mean, rms).

    ``codec="bytes"``: windows over raw payload bytes (the stub path).
    ``codec="pcm16_wav"``: REAL RIFF/WAVE parse (``codecs.decode_wav``
    — chunk walk, fmt validation, PCM16) then windows over the decoded
    int16 samples, stereo downmixed by averaging the two channels.
    The window math is identical either way, so a featurizer swap
    (librosa etc.) only replaces the sample extraction."""
    if codec not in ("bytes", "pcm16_wav"):
        raise ValueError(f"unknown audio codec {codec!r}")
    from prohap_spark.multimodal.codecs import decode_wav

    out_schema = "media_id long, win_idx int, win_mean double, win_rms double"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                if payload is None:
                    continue
                if codec == "pcm16_wav":
                    samples, _rate, channels = decode_wav(bytes(payload))
                    buf = samples.astype(np.float64)
                    if channels == 2:
                        buf = (buf[0::2] + buf[1::2]) / 2.0
                else:
                    buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                for w in range(max_windows):
                    start = w * hop
                    seg = buf[start : start + window]
                    if len(seg) < window:
                        break
                    seg = seg.astype(np.float64)
                    rows.append(
                        {
                            "media_id": int(mid),
                            "win_idx": w,
                            "win_mean": float(seg.mean()),
                            "win_rms": float(np.sqrt((seg * seg).mean())),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "win_idx", "win_mean", "win_rms"]
            )

    return df.select("media_id", payload_col).mapInPandas(run, schema=out_schema)


def decode_audio(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas WAV decode: binary payload → mono int PCM samples
    (``samples array<int>``). REAL RIFF/WAVE parse
    (``codecs.decode_wav``); stereo downmixes by the EXACT integer
    floor-average ``(l + r) div 2`` so the samples column stays
    engine-portable integers (the float /2.0 downmix stays in
    :func:`audio_window_features`, whose outputs are float features
    anyway). The audio twin of :func:`decode_images` — downstream
    array ops (stripe hashing, windowing) compose on the column."""
    from prohap_spark.multimodal.codecs import decode_wav

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", samples array<int>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf[payload_col]:
                samples, _rate, channels = decode_wav(bytes(payload))
                buf = samples.astype(np.int64)
                if channels == 2:
                    buf = (buf[0::2] + buf[1::2]) // 2
                out.append(buf.astype(int).tolist())
            yield pdf.assign(samples=out)

    return df.mapInPandas(run, schema=out_schema)


def audio_near_dup_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    bits: int = 60,
    n_bands: int = 4,
) -> DataFrame:
    """Audio near-duplicate pairs: REAL WAV decode
    (:func:`decode_audio`) → the SAME exact-integer stripe hash the
    image path uses (:func:`perceptual_hash_images` is array-generic)
    → the SimHash pigeonhole Hamming-ball join. The stripe
    signature's integer cross-multiplied comparison (``sum_k ·
    n_total > sum_total · n_k``) is EXACTLY invariant to positive
    gain (both sides scale) and to DC offset (both means shift
    equally) — so remasters at a different level or bias hash
    IDENTICALLY, the failure mode a raw sample hash misses; pinned in
    pytest. The cross-multiplication stays inside BIGINT up to clips
    of ~10^8 samples (|sum| ≤ 2^15·n and n_k ≈ n/bits); longer audio
    should window first. Returns (id_a, id_b, hamming)."""
    from prohap_spark.operators.dedup import simhash_near_pairs

    decoded = decode_audio(df, payload_col=payload_col)
    sig = perceptual_hash_images(
        decoded, id_col=id_col, pixels_col="samples", bits=bits
    )
    return simhash_near_pairs(
        None,
        id_col,
        None,
        max_hamming=max_hamming,
        bits=bits,
        n_bands=n_bands,
        sig_table=sig,
    )


def audio_container_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas container-metadata extraction over an audio binary
    column — the curation-stats pass (duration/bitrate/channel
    histograms) that runs BEFORE any expensive decode. Dispatches on
    magic bytes: RIFF/WAVE (real PCM16 parse, duration from the data
    chunk) or MPEG audio (real frame-header walk incl. ID3v2 skip and
    VBR detection — audio decode itself stays out of scope). Anything
    else fails loudly."""
    from prohap_spark.multimodal.codecs import decode_wav, mp3_frame_stats

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + (
        ", fmt string, duration_ms long, sample_rate int, channels int"
        ", n_frames int, bitrate_kbps int, is_vbr boolean"
    )

    def _stats(p: bytes) -> dict:
        if p[:4] == b"RIFF":
            samples, rate, ch = decode_wav(p)
            n = len(samples) // ch
            return {
                "fmt": "wav",
                "duration_ms": int(round(n / rate * 1000)),
                "sample_rate": rate,
                "channels": ch,
                "n_frames": None,
                "bitrate_kbps": rate * ch * 16 // 1000,
                "is_vbr": False,
            }
        s = mp3_frame_stats(p)  # raises on non-MPEG payloads
        return {
            "fmt": "mpeg_audio",
            "duration_ms": s["duration_ms"],
            "sample_rate": s["sample_rate"],
            "channels": s["channels"],
            "n_frames": s["n_frames"],
            "bitrate_kbps": s["bitrate_kbps"],
            "is_vbr": s["is_vbr"],
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stats = [_stats(bytes(p)) for p in pdf[payload_col]]
            out = pdf.copy()
            for k in ("fmt", "duration_ms", "sample_rate", "channels",
                      "n_frames", "bitrate_kbps", "is_vbr"):
                out[k] = [s[k] for s in stats]
            yield out

    return df.mapInPandas(run, schema=out_schema)


def decode_video_frames(
    df: DataFrame, payload_col: str = "payload", every_n: int = 2
) -> DataFrame:
    """Sparse frame decode with PIXELS: demux the RIFF/AVI container
    (codecs.parse_avi), decode every ``every_n``-th MJPEG frame, and
    emit one row per sampled frame — (media_id, frame_idx, pixels
    array<int>). The frame-fanout twin of :func:`decode_images`
    (:func:`sample_avi_frames` keeps the cheap stats-only path);
    skipped frames' entropy data is never touched, the property that
    makes sparse sampling affordable at 100 TB."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    from prohap_spark.multimodal.codecs import decode_jpeg, parse_avi

    out_schema = "media_id long, frame_idx int, pixels array<int>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, idxs, pix = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                _meta, frames = parse_avi(bytes(payload))
                for i in range(0, len(frames), every_n):
                    mids.append(int(mid))
                    idxs.append(i)
                    pix.append(
                        decode_jpeg(frames[i]).ravel().astype(int).tolist()
                    )
            yield pd.DataFrame(
                {"media_id": mids, "frame_idx": idxs, "pixels": pix}
            )

    return df.mapInPandas(run, schema=out_schema)


def perceptual_hash_video(
    frames: DataFrame,
    id_col: str = "media_id",
    pixels_col: str = "pixels",
    bits: int = 60,
) -> DataFrame:
    """Video signature from sampled frames: each frame gets the
    exact-integer stripe hash (:func:`perceptual_hash_images`), then
    each signature bit is the EXACT MAJORITY vote across the video's
    sampled frames (``2·Σbit > n_frames``, ties → 0 — deterministic,
    no float). Majority voting is what makes the signature robust to
    a few edited/corrupted frames while identical videos stay
    bit-identical. Emits (id_col, simhash) for
    ``simhash_near_pairs(sig_table=...)``."""
    per_frame = perceptual_hash_images(
        frames, id_col=id_col, pixels_col=pixels_col, bits=bits
    )
    bit_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), k).bitwiseAND(F.lit(1).cast("long"))
            for k in range(bits)
        ]
    )
    unpacked = per_frame.select(
        F.col(id_col), F.posexplode(bit_arr).alias("k", "b")
    )
    return (
        unpacked.groupBy(id_col, "k")
        .agg(F.sum("b").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn(
            "bit",
            (F.col("s") * 2 > F.col("n")).cast("long"),
        )
        .groupBy(id_col)
        .agg(
            F.sum(
                F.col("bit")
                * F.expr("shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))")
            ).alias("simhash")
        )
    )


def video_near_dup_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    every_n: int = 2,
    bits: int = 60,
    n_bands: int = 4,
) -> DataFrame:
    """Video near-duplicate pairs, completing the modality triple on
    ONE seam: real AVI/MJPEG demux + sparse frame decode
    (:func:`decode_video_frames`) → per-frame stripe hash →
    exact-majority video signature (:func:`perceptual_hash_video`) →
    the SimHash pigeonhole Hamming-ball join. Returns
    (id_a, id_b, hamming)."""
    from prohap_spark.operators.dedup import simhash_near_pairs

    frames = decode_video_frames(df, payload_col=payload_col, every_n=every_n)
    sig = perceptual_hash_video(frames, id_col=id_col, bits=bits)
    return simhash_near_pairs(
        None,
        id_col,
        None,
        max_hamming=max_hamming,
        bits=bits,
        n_bands=n_bands,
        sig_table=sig,
    )


def sample_avi_frames(
    df: DataFrame, payload_col: str = "payload", every_n: int = 2
) -> DataFrame:
    """REAL video frame sampling (replaces the ``sample_video_frames``
    stub for AVI/MJPEG payloads): demux the RIFF container
    (codecs.parse_avi), take every ``every_n``-th '00dc' frame, and
    decode ONLY those through the baseline-JPEG parser — the container
    walk touches chunk headers, never the skipped frames' entropy data,
    which is the property that makes sparse frame sampling cheap at
    100 TB (seek + slice per kept frame, no full-video decode).
    Arrow-batched mapInPandas; emits one row per sampled frame:
    (media_id, frame_idx, n_frames, height, width, p00, px_mean)."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    import pandas as pd

    from prohap_spark.multimodal.codecs import decode_jpeg, parse_avi

    out_schema = (
        "media_id long, frame_idx int, n_frames int, height int, "
        "width int, p00 int, px_mean double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                k: []
                for k in (
                    "media_id", "frame_idx", "n_frames", "height",
                    "width", "p00", "px_mean",
                )
            }
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                meta, frames = parse_avi(bytes(payload))
                for i in range(0, len(frames), every_n):
                    r = decode_jpeg(frames[i])
                    rows["media_id"].append(int(mid))
                    rows["frame_idx"].append(i)
                    rows["n_frames"].append(int(meta["total_frames"]))
                    rows["height"].append(int(r.shape[0]))
                    rows["width"].append(int(r.shape[1]))
                    rows["p00"].append(int(r[0, 0]))
                    rows["px_mean"].append(float(r.mean()))
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=out_schema)
