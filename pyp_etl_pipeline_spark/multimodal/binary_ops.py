"""Multimodal column operators: opaque binary payloads + typed metadata.

Image/audio/video payloads are ``binary`` columns with a typed metadata
struct. Every operator here is a per-row function run through
``rowmap.row_map`` — Arrow-batched ``mapInPandas``, partition-preserving,
the shape a PIL/libav decoder would use.

Two decode paths:
- REAL: PNG (gray8/rgb8), WAV (PCM16) and JPEG decode in pure python +
  numpy (``multimodal/codecs.py`` — zlib inflate + scanline unfilter,
  RIFF walk + PCM RMS, JPEG marker walk + baseline DC entropy decode).
  ``decode_real`` dispatches on magic bytes and ``decode_features``
  exposes width/height/duration/signal stats as a DataFrame operator
  (oracle-checked by mm02/mm03). JPEG dims/components parse for ANY
  jpeg; pixel stats (mean) for single-component baseline scans.
- MP4/ISO-BMFF containers decode natively too (box walk: ftyp brand,
  mvhd duration, tkhd dims — ``codecs.mp4_decode``, oracle-checked by
  mm04/mm05); ``frame_sample_decoded`` plans frame grids from those
  real container bytes.
- PLUMBING: ``extract_features`` computes transport/integrity stats of
  the raw bytes (length, md5, byte-sum mod — NOT media features; see
  its docstring). Only pixel/audio decode of COMPRESSED inter-frame
  video (the codec payloads inside the container) needs external
  codecs that are not in this container; ``decode_real`` raises
  ``NotImplementedError`` naming the format.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyp_etl_pipeline_spark.multimodal import codecs, plugins
from pyp_etl_pipeline_spark.multimodal.rowmap import row_map

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, checksum string, "
    "byte_stat0 double, byte_stat1 double"
)


def decode_real(payload: bytes, kind: str) -> dict:
    """Real decode for the formats the pure-python codecs cover (PNG,
    WAV), dispatched on magic bytes; other formats still need external
    codecs that are not in this container."""
    fmt = codecs.sniff_kind(payload or b"")
    if fmt == "png":
        return {"format": "png", **codecs.png_decode(payload)}
    if fmt == "wav":
        return {"format": "wav", **codecs.wav_decode(payload)}
    if fmt == "jpeg":
        # marker walk gives dims/components/progressive for ANY jpeg;
        # mean_val additionally for single-component baseline scans
        return {"format": "jpeg", **codecs.jpeg_decode(payload)}
    if fmt == "mp4":
        # ISO-BMFF box walk: brand, mvhd duration, tkhd dims from real
        # container bytes; the compressed codec payloads inside still
        # need libav for pixel/audio decode
        return {"format": "mp4", **codecs.mp4_decode(payload)}
    if fmt == "avi":
        # RIFF walk: vids stream header (fps), strf dims, movi frame
        # chunks. MJPEG frames are independent JPEGs, so this is a FULL
        # video decode path (see sample_frames_decoded) — no libav.
        meta = codecs.avi_mjpeg_decode(payload)
        return {"format": "avi", **{k: v for k, v in meta.items() if k != "frames"}}
    decoder = plugins.get_video_decoder(fmt) if fmt else None
    if decoder is not None:
        # a registered backend (see multimodal/plugins.py — e.g. PyAV on
        # a libav-equipped cluster image) claims this container format:
        # real frame decode, real stats, still no fake path
        n = 0
        w = h = None
        last_pts = 0.0
        for _idx, pts_ms, frame in decoder.decode_frames(payload):
            if w is None:
                h, w = int(frame.shape[0]), int(frame.shape[1])
            last_pts = pts_ms
            n += 1
        return {"format": fmt, "width": w, "height": h, "n_frames": n, "duration_ms": last_pts}
    raise NotImplementedError(
        f"no pure-python codec for this {kind} payload (PNG, WAV, JPEG, "
        "MJPEG-AVI and MP4-container metadata decode natively; only "
        "INTER-FRAME video codecs — H.264/VP9/AV1 payloads — still need "
        "libav on the cluster image: see multimodal/plugins.py for the "
        "decoder registration seam)"
    )


DECODE_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "duration_ms double, mean_val double, rms double, zcr double, peak int"
)


def decode_features(df: DataFrame) -> DataFrame:
    """Real media decode as a DataFrame operator: PNG/JPEG dimensions +
    mean pixel, WAV duration + RMS, MP4-container dims + duration, from
    actual payload bytes (no metadata trust). Rows whose payload matches
    no codec — or matches a magic but has a malformed body — yield nulls
    rather than failing the batch (a 100 TB corpus always contains
    strays)."""

    def decode(_mid, payload):
        p = bytes(payload) if payload is not None else b""
        fmt = codecs.sniff_kind(p)
        row = {"format": fmt}
        # magic bytes don't guarantee a well-formed body: a
        # truncated/desynced payload raises from the codec, and
        # the contract is null features per stray row, never a
        # failed Arrow batch
        try:
            if fmt == "png":
                d = codecs.png_decode(p)
                row.update(width=d["width"], height=d["height"], mean_val=d["mean_val"])
            elif fmt == "wav":
                d = codecs.wav_decode(p)
                row.update(duration_ms=d["duration_ms"], rms=d["rms"], zcr=d["zcr"], peak=d["peak"])
            elif fmt == "jpeg":
                d = codecs.jpeg_decode(p)
                row.update(width=d["width"], height=d["height"], mean_val=d["mean_val"])
            elif fmt == "mp4":
                d = codecs.mp4_decode(p)
                row.update(width=d["width"], height=d["height"], duration_ms=d["duration_ms"])
            elif fmt == "avi":
                d = codecs.avi_mjpeg_decode(p)
                row.update(width=d["width"], height=d["height"], duration_ms=d["duration_ms"])
            elif fmt == "gif":
                d = codecs.gif_decode(p)
                row.update(width=d["width"], height=d["height"], mean_val=d["mean_val"])
        except (ValueError, IndexError, KeyError, EOFError, struct.error, zlib.error):
            pass
        return [row]

    return row_map(df, decode, DECODE_SCHEMA)


def _weighted_stats(pixels: np.ndarray) -> tuple[int, int]:
    """(sum, position-weighted checksum sum((i+1) * p_i) mod 1e9+7) over
    the row-major pixels."""
    flat = pixels.astype(np.int64).reshape(-1)
    weights = np.arange(1, flat.size + 1, dtype=np.int64)
    return int(flat.sum()), int((weights * flat).sum() % 1_000_000_007)


def gif_pixel_stats(df: DataFrame) -> DataFrame:
    """Exact integer pixel statistics from REAL GIF bytes — container
    walk + full LZW decompression per payload (``codecs.gif_decode_pixels``),
    Arrow-batched ``mapInPandas``. Output per row: width/height from the
    image descriptor, ``sum_pixels`` (exact int64 over decoded gray
    values), and a position-weighted ``checksum`` =
    sum((y*w + x + 1) * p(x, y)) mod 1e9+7 — the weighting catches a
    decoder that produces the right multiset of pixels in the wrong
    places (transposed rows, shifted scanlines). NULL payloads and
    malformed bodies yield NULL stats (tolerant reader)."""

    def stats(_mid, payload):
        try:
            px, w, h = codecs.gif_decode_pixels(bytes(payload))
        except (TypeError, ValueError, IndexError, struct.error):
            return [{}]
        total, checksum = _weighted_stats(px)
        return [{"width": w, "height": h, "sum_pixels": total, "checksum": checksum}]

    return row_map(df, stats, "media_id long, width int, height int, sum_pixels long, checksum long")


def gif_frame_stats(df: DataFrame) -> DataFrame:
    """Animated-GIF frame extraction from REAL bytes: the container walk
    reads every graphics-control extension + image descriptor and
    LZW-decompresses each frame (``codecs.gif_decode_frames``). One
    output row per frame: (media_id, frame_idx, delay_cs, sum_pixels,
    checksum) with the same position-weighted checksum contract as
    ``gif_pixel_stats`` — the GIF sibling of mm07's MJPEG-AVI frame
    sampling. Malformed payloads contribute zero rows (tolerant
    reader); partition-preserving Arrow batches."""

    def frames(_mid, payload):
        try:
            decoded = codecs.gif_decode_frames(bytes(payload))
        except (TypeError, ValueError, IndexError, struct.error):
            return []
        rows = []
        for fi, f in enumerate(decoded):
            total, checksum = _weighted_stats(f["pixels"])
            rows.append({"frame_idx": fi, "delay_cs": f["delay_cs"], "sum_pixels": total, "checksum": checksum})
        return rows

    return row_map(df, frames, "media_id long, frame_idx int, delay_cs int, sum_pixels long, checksum long")


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched PAYLOAD-PLUMBING stats over binary columns: byte
    length, md5 checksum, and two deterministic byte-level statistics
    (``byte_stat0`` = byte-sum mod 997, ``byte_stat1`` = length mod 31).
    These are transport/integrity features of the raw bytes — NOT image
    or audio features; real decodes live in ``decode_features`` /
    ``gif_pixel_stats`` / ``sample_frames_decoded`` (mm02–mm14).

    ``mapInPandas`` keeps partitioning; ``kind`` is carried from the
    input row.
    """

    def stats(_mid, payload):
        # a MISSING payload is not an EMPTY payload: NULL in -> NULL
        # features out (md5('') for a null blob was a lie the null-
        # injection sweep caught, r8)
        if payload is None:
            return [{}]
        return [
            {
                "n_bytes": len(payload),
                "checksum": hashlib.md5(payload).hexdigest(),
                "byte_stat0": (sum(payload) % 997) / 997.0,
                "byte_stat1": (len(payload) % 31) / 31.0,
            }
        ]

    return row_map(df, stats, FEATURE_SCHEMA)


def _lum(px: np.ndarray, bpp: int, x: int, y: int) -> int:
    """Integer luminance of decoded PNG pixel (x, y): the gray value, or
    (r + 2g + b) DIV 4 for RGB (the dhash_features convention)."""
    if bpp == 1:
        return int(px[y, x])
    r, g, b = (int(px[y, x * 3 + c]) for c in range(3))
    return (r + 2 * g + b) // 4


def _png_pixels(payload):
    """``codecs.png_decode_pixels`` of a payload, or None for a NULL,
    non-PNG or malformed one (the stray-tolerant decode contract)."""
    try:
        return codecs.png_decode_pixels(bytes(payload) if payload is not None else b"")
    except (ValueError, IndexError, struct.error, zlib.error):
        return None


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL thumbnail resize for PNG payloads (stub upgraded in round 8):
    decode pixels (the repo's own inflate+unfilter codec), collapse to
    integer luminance ((r + 2g + b) DIV 4 — the dhash_features
    convention), NEAREST-NEIGHBOR resample on the all-integer lattice
    ``src = out * src_dim DIV out_dim``, and re-encode as a grayscale
    PNG. Everything integer, so the resized pixels are exactly
    reproducible on any engine — mm14's oracle twin recomputes the
    output pixels in closed form. Non-PNG / corrupt payloads drop out
    (the stray-tolerant contract of the whole decode path). Map-only
    Arrow batches, partition-preserving; per-frame resize of compressed
    video would compose this after ``sample_frames_decoded``.

    Output: (media_id, payload = resized grayscale PNG, width, height).
    """

    def resize(_mid, payload):
        decoded = _png_pixels(payload)
        if decoded is None:
            return []
        px, w, h, bpp = decoded
        rows = [[_lum(px, bpp, x * w // width, y * h // height) for x in range(width)] for y in range(height)]
        return [{"payload": codecs.png_encode_gray_pixels(rows), "width": width, "height": height}]

    return row_map(
        df.select("media_id", "payload"), resize, "media_id long, payload binary, width int, height int"
    )


def png_pixel_stats(df: DataFrame) -> DataFrame:
    """Decode PNG payloads and emit exact integer pixel statistics —
    the certification tail of a decode/resize pipeline: dimensions,
    pixel count, plain sum and the position-weighted checksum
    ``sum(v * (y*width + x + 1))`` (the mm12 GIF convention), which
    pins every pixel VALUE at every POSITION. Luminance for multi-
    channel images follows the dhash convention. Map-only; corrupt
    payloads drop."""

    def stats(_mid, payload):
        decoded = _png_pixels(payload)
        if decoded is None:
            return []
        px, w, h, bpp = decoded
        total = checksum = 0
        for y in range(h):
            for x in range(w):
                v = _lum(px, bpp, x, y)
                total += v
                checksum += v * (y * w + x + 1)
        return [{"width": w, "height": h, "n_px": w * h, "pix_sum": total, "pix_checksum": checksum}]

    return row_map(
        df.select("media_id", "payload"),
        stats,
        "media_id long, width int, height int, n_px long, pix_sum long, pix_checksum long",
    )


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per planned frame timestamp
    (pure column algebra over the metadata struct; see
    ``frame_sample_decoded`` for the payload-driven variant)."""
    n_frames = F.greatest(F.floor(F.col("meta.duration_ms") / every_ms), F.lit(1)).cast("int")
    return df.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(F.transform(F.sequence(F.lit(0), n_frames - 1), lambda i: i * every_ms)).alias("frame_ts_ms"),
    )


def frame_sample_decoded(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan whose duration comes from the PAYLOAD
    BYTES, not a metadata struct: ``decode_features`` walks each MP4
    container (mvhd timescale/duration) and the frame grid explodes from
    the decoded duration. Rows that fail the container parse (or aren't
    MP4 at all) decode to null duration and are skipped — same stray-
    tolerant contract as the rest of the decode path. The per-frame
    pixel decode of compressed video remains the one genuinely external
    dependency (libav)."""
    decoded = decode_features(df.filter(F.col("kind") == "video"))
    n_frames = F.greatest(F.floor(F.col("duration_ms") / every_ms), F.lit(1)).cast("int")
    return decoded.filter(F.col("format").isin("mp4", "avi")).filter(
        F.col("duration_ms").isNotNull()
    ).select(
        "media_id",
        F.explode(
            F.transform(F.sequence(F.lit(0), n_frames - 1), lambda i: (i * every_ms).cast("long"))
        ).alias("frame_ts_ms"),
    )


SAMPLED_FRAME_SCHEMA = (
    "media_id long, frame_idx int, frame_ts_ms long, width int, height int, mean_val double"
)


def sample_frames_decoded(df: DataFrame, every_ms: int = 1000, decoder=None) -> DataFrame:
    """Sampled-frame PIXEL decode for MJPEG-AVI video: the container's
    frame chunks are independent baseline JPEGs, so the frame at each
    grid timestamp really decodes (marker walk + DC entropy decode) —
    no libav, no stub. One output row per sampled frame with the frame's
    true dimensions and mean pixel value.

    Grid semantics match ``frame_sample_plan``: timestamps 0, every_ms,
    ... with max(1, floor(duration/every_ms)) samples; the frame index
    at ts is floor(ts * fps) clamped to the last frame. Non-AVI video
    payloads (inter-frame codecs: the one genuinely external decode)
    and malformed payloads are SKIPPED, stray-tolerant like the rest of
    the decode path.

    Shape: Arrow-batched mapInPandas, partition-preserving map-only —
    each task decodes only its partition's payloads and only the
    SAMPLED frames, which is the property that matters when a 100 TB
    corpus carries hour-long clips sampled at 1 fps.

    ``decoder``: an explicit :class:`multimodal.plugins.VideoFrameDecoder`
    for inter-frame containers, pickled by value into the worker closure
    (dependency injection — registry state does not travel driver ->
    worker). When None, workers consult their own plugin registry, which
    a cluster image arms via ``PYP_VIDEO_PLUGIN`` (see plugins.py)."""

    def sample(_mid, payload):
        p = bytes(payload) if payload is not None else b""
        fmt = codecs.sniff_kind(p)
        rows = []
        if fmt != "avi":
            # inter-frame containers (mp4/mkv/webm) decode only
            # through a registered or injected backend
            # (plugins.py seam) — without one they are skipped,
            # stray-tolerant
            if decoder is not None and fmt in getattr(decoder, "container_formats", ()):
                dec = decoder
            else:
                dec = plugins.get_video_decoder(fmt) if fmt else None
            if dec is None:
                return rows
            try:
                frames = list(dec.decode_frames(p))
            except Exception:  # noqa: BLE001 — stray payload
                return rows
            if not frames:
                return rows
            duration_ms = frames[-1][1]
            for k in range(max(1, int(duration_ms // every_ms))):
                ts = k * every_ms
                idx = max((i for i, (_, pts, _f) in enumerate(frames) if pts <= ts), default=0)
                fr = frames[idx][2]
                rows.append(
                    {
                        "frame_idx": int(frames[idx][0]),
                        "frame_ts_ms": int(ts),
                        "width": int(fr.shape[1]),
                        "height": int(fr.shape[0]),
                        "mean_val": float(fr.mean()),
                    }
                )
            return rows
        try:
            meta = codecs.avi_mjpeg_decode(p)
            frames = meta["frames"]
            if not frames:
                return rows
            for k in range(max(1, int(meta["duration_ms"] // every_ms))):
                ts = k * every_ms
                idx = min(len(frames) - 1, ts * meta["fps_num"] // (1000 * meta["fps_den"]))
                d = codecs.jpeg_decode(frames[idx])
                rows.append(
                    {
                        "frame_idx": int(idx),
                        "frame_ts_ms": int(ts),
                        "width": d["width"],
                        "height": d["height"],
                        "mean_val": d["mean_val"],
                    }
                )
        except (ValueError, IndexError, KeyError, EOFError, struct.error, zlib.error):
            pass
        return rows

    return row_map(df.filter(F.col("kind") == "video"), sample, SAMPLED_FRAME_SCHEMA)


def hadamard_spectrum(
    df: DataFrame, n_fft: int = 64, n_bands: int = 8
) -> DataFrame:
    """Sequency-band energies of each audio clip: a Walsh-Hadamard
    transform over the first ``n_fft`` decoded PCM samples, coefficient
    energies summed into ``n_bands`` equal sequency bands. Real spectral
    analysis (the WHT is the ±1-basis Fourier cousin; band 0 = DC /
    low-sequency energy, top band = fastest alternation) that stays in
    EXACT int64 — no trig, no floats — so energies are bit-identical on
    any engine/partitioning and the DuckDB twin can recompute them from
    the closed-form synth signal (mm08 certifies the whole
    bytes -> RIFF walk -> samples -> transform path by hash).

    Shape: Arrow-batched mapInPandas, map-only; per clip cost is
    n_fft^2 integer ops (n_fft is a constant) — embarrassingly parallel
    over a 100 TB media corpus. Clips shorter than ``n_fft`` zero-pad
    (energy then concentrates in low bands, as expected)."""
    band_w = n_fft // n_bands
    # rows of the order-n_fft Hadamard matrix: H[f, j] = (-1)^popcount(f & j)
    popc = np.array(
        [[bin(f & j).count("1") & 1 for j in range(n_fft)] for f in range(n_fft)],
        dtype=np.int64,
    )
    hmat = 1 - 2 * popc  # +1 / -1

    def spectrum(_mid, payload):
        try:
            samples, _, _ = codecs.wav_pcm_samples(bytes(payload) if payload is not None else b"")
        except (ValueError, IndexError, struct.error):
            return []  # non-WAV strays drop out (null-free long format)
        x = np.zeros(n_fft, dtype=np.int64)
        take = min(n_fft, samples.size)
        x[:take] = samples[:take].astype(np.int64)
        coeff = hmat @ x  # exact int64 WHT
        energy = coeff * coeff
        return [{"band": b, "energy": int(energy[b * band_w : (b + 1) * band_w].sum())} for b in range(n_bands)]

    return row_map(df, spectrum, "media_id long, band int, energy long")


def dhash_features(df: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual difference-hash (dHash) per image from REAL decoded
    PNG pixels: sample a (grid+1) x grid luminance lattice at
    ``(x*w DIV (grid+1), y*h DIV grid)`` (nearest-sample dHash — the
    fast-implementation variant; all-integer, so the hash is exactly
    reproducible on any engine) and set bit (y*grid + x) when the
    right sample is brighter than the left. Near-duplicate images then
    pair by Hamming distance over these 64 bits — the image-side
    analog of SimHash text dedup. Hash ships as two 32-bit halves
    (lo = rows 0..grid/2-1) so no engine touches the signed bit-63
    shift edge. Map-only Arrow batches; non-PNG strays drop out."""
    half = grid // 2

    def dhash(_mid, payload):
        decoded = _png_pixels(payload)
        if decoded is None:
            return []
        px, w, h, bpp = decoded
        sx = [x * w // (grid + 1) for x in range(grid + 1)]
        sy = [y * h // grid for y in range(grid)]
        lo = hi = 0
        n_bits = 0
        for yi in range(grid):
            for x in range(grid):
                bit = 1 if _lum(px, bpp, sx[x + 1], sy[yi]) > _lum(px, bpp, sx[x], sy[yi]) else 0
                n_bits += bit
                if yi < half:
                    lo |= bit << (yi * grid + x)
                else:
                    hi |= bit << ((yi - half) * grid + x)
        return [{"width": w, "height": h, "dhash_lo": lo, "dhash_hi": hi, "n_gradient_bits": n_bits}]

    return row_map(
        df,
        dhash,
        "media_id long, width int, height int, dhash_lo long, dhash_hi long, n_gradient_bits int",
    )
