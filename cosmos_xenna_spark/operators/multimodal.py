"""Multimodal column operators: image/audio/video as opaque binary
columns with typed metadata (SURVEY.md §2.B north-star additions;
reference pipelines caption/embed such payloads via the Stage API,
e.g. /root/reference/examples/simple_vlm_inference.py:55-61).

Decode kernels, in dispatch order: the deterministic fake formats
(``fake_image``/``fake_audio``), then REAL decoders for the formats
this container can handle without external libraries — uncompressed
BMP (pure struct+numpy, :func:`decode_bmp`), 8-bit non-interlaced
PNG (stdlib zlib inflate + full scanline unfiltering,
:func:`decode_png`), baseline AND progressive JPEG (full entropy
pipeline — canonical Huffman, DC prediction, zig-zag, IDCT, spectral
selection / successive approximation / EOB-run scans — in
``operators/jpeg.py``),
GIF 87a/89a (real variable-width LZW, interlace, local palettes —
``operators/gif.py``),
and PCM WAV (stdlib ``wave``, :func:`decode_wav`) — then PIL for
other compressed images when importable, else
``NotImplementedError`` (MP3 / exotic video codecs; the
limitation is the codec, not the engine). The kernel is a pluggable
seam: ``set_image_decoder`` registers a replacement that every image
operator captures at plan-build time — no operator edits when a
deployment brings its own codec. Everything Spark-side — schema,
batching, partition flow, UDF signatures — is real and tested, and
the BMP/WAV paths prove it with genuine byte streams.

Design for 100 TB: payloads never hit the driver; feature extraction is
``mapInPandas`` (Arrow zero-copy for binary), frame sampling fans out
rows executor-side, and metadata-only queries (width/height filters)
read the typed columns without touching bytes.
"""

from __future__ import annotations

import functools
import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import checkpoint

_MAGIC = b"FAKEIMG1"


@functools.lru_cache(maxsize=4096)
def fake_image(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic stand-in payload: header + pseudo-pixel bytes.

    Cached: corpus attachers call this once per row but derive the
    arguments from small moduli (seed = id % 32, dims from id % 16),
    so a 600k-row corpus has only dozens of distinct payloads — the
    cache turns 600k sha256+packs per pass into dozens."""
    body = hashlib.sha256(f"{width}x{height}:{seed}".encode()).digest()
    n = width * height
    pixels = (body * (n // len(body) + 1))[:n]
    return _MAGIC + struct.pack("<II", width, height) + pixels


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """REAL image decode for uncompressed BMP (24-bit BGR or 8-bit
    gray) using only struct + numpy — no imaging library needed.

    Returns (width, height, grayscale pixels row-major top-down);
    24-bit pixels reduce by the integer ITU-R 601 luma
    ``(299 r + 587 g + 114 b) // 1000`` (bit-deterministic).  Handles
    the 4-byte row padding and BMP's bottom-up row order.  8-bit
    pixels are indices into the header's BGRA color table — mapped
    through the palette (luma-reduced), not read as raw gray values,
    so non-grayscale-ramp palettes decode correctly.
    """
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_offset,) = struct.unpack_from("<I", payload, 10)
    (header_size,) = struct.unpack_from("<I", payload, 14)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if compression != 0 or bpp not in (8, 24):
        raise NotImplementedError(
            f"only uncompressed 8/24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    bottom_up = height > 0
    height = abs(height)
    row_bytes = (width * bpp // 8 + 3) & ~3  # rows pad to 4 bytes
    raw = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * height, offset=pixel_offset
    ).reshape(height, row_bytes)
    if bottom_up:
        raw = raw[::-1]
    if bpp == 8:
        # Color table sits right after the info header: entries of
        # BGRA (biClrUsed==0 means the full 2^8 set). Pixel bytes are
        # palette INDICES; reduce each entry by the same luma as the
        # 24-bit path and map indices through the resulting LUT.
        (clr_used,) = struct.unpack_from("<I", payload, 46)
        n_colors = clr_used or 256
        pal = np.frombuffer(
            payload, dtype=np.uint8, count=n_colors * 4, offset=14 + header_size
        ).reshape(n_colors, 4).astype(np.uint32)
        lut = np.zeros(256, dtype=np.uint8)
        lut[:n_colors] = (
            (299 * pal[:, 2] + 587 * pal[:, 1] + 114 * pal[:, 0]) // 1000
        ).astype(np.uint8)
        gray = lut[raw[:, :width]]
    else:
        bgr = raw[:, : width * 3].reshape(height, width, 3).astype(np.uint32)
        gray = (
            (299 * bgr[:, :, 2] + 587 * bgr[:, :, 1] + 114 * bgr[:, :, 0]) // 1000
        ).astype(np.uint8)
    return width, height, np.ascontiguousarray(gray).tobytes()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _unfilter_scanlines(raw: bytes, height: int, stride: int, bpp: int) -> "np.ndarray":
    """Unfilter one PNG (sub-)image: ``height`` scanlines of ``stride``
    bytes each, preceded by a filter-type byte (None/Sub/Up/Average/
    Paeth per the PNG spec).  Filters 0/1/2 are vectorized (Sub is a
    per-residue-class prefix sum — mod-256 cumsum in uint8); Average
    and Paeth are inherently sequential in the left neighbor and run
    as scalar loops, the accepted cost of a dependency-free decoder.
    Each Adam7 pass is filtered as an independent image, so this is
    the unit both the sequential and interlaced paths share."""
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters, scan = rows[:, 0], rows[:, 1:]
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        f, cur = filters[y], scan[y]
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if f == 0:
            out[y] = cur
        elif f == 1:  # Sub: prefix sum mod 256 within each residue class
            out[y] = cur.reshape(-1, bpp).cumsum(axis=0, dtype=np.uint8).reshape(stride)
        elif f == 2:  # Up
            out[y] = cur + prev
        elif f == 3:  # Average
            row = out[y]
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                row[i] = (int(cur[i]) + (a + int(prev[i])) // 2) & 0xFF
        elif f == 4:  # Paeth
            row = out[y]
            for i in range(stride):
                a = int(row[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (int(cur[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f} on row {y}")
    return out


# Adam7 pass grid: (x_origin, y_origin, x_step, y_step), spec order.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """REAL compressed-image decode for 8-bit PNG using only stdlib
    ``zlib`` + numpy — gray / RGB / palette / gray+alpha / RGBA (color
    types 0/2/3/4/6), sequential AND Adam7-interlaced (interlace
    method 1: seven passes, each an independently-filtered sub-image
    whose pixels scatter back onto the ``(x0 + i*dx, y0 + j*dy)``
    lattice per the spec's pass grid).

    Full pipeline: chunk walk -> concatenated-IDAT zlib inflate ->
    per-scanline unfiltering (:func:`_unfilter_scanlines`, shared by
    both layouts) -> channel reduction to grayscale with the same
    integer ITU-R 601 luma as :func:`decode_bmp` (alpha ignored;
    palette indices map through PLTE).
    """
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, plte, ihdr = 8, [], None, None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color, _comp, _filt, interlace = ihdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if depth != 8 or channels is None or interlace not in (0, 1):
        raise NotImplementedError(
            f"only 8-bit PNG, interlace 0/1 supported (depth={depth}, "
            f"color_type={color}, interlace={interlace})"
        )
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if interlace == 0:
        px = _unfilter_scanlines(raw, height, stride, channels).reshape(
            height, width, channels
        )
    else:  # Adam7: seven independently-filtered sub-images
        px = np.zeros((height, width, channels), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # pass empty at this image size: zero bytes
            nbytes = ph * (pw * channels + 1)
            sub = _unfilter_scanlines(
                raw[pos : pos + nbytes], ph, pw * channels, channels
            )
            pos += nbytes
            px[y0::dy, x0::dx, :] = sub.reshape(ph, pw, channels)
        if pos != len(raw):
            raise ValueError("PNG interlaced payload size mismatch")
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        rgb = plte[px[:, :, 0]].astype(np.uint32)
        gray = ((299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) // 1000).astype(
            np.uint8
        )
    elif color in (0, 4):
        gray = px[:, :, 0]
    else:  # RGB / RGBA
        rgb = px[:, :, :3].astype(np.uint32)
        gray = ((299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) // 1000).astype(
            np.uint8
        )
    return width, height, np.ascontiguousarray(gray).tobytes()


def decode_image_stub(payload: bytes) -> tuple[int, int, bytes]:
    """Decode an image payload -> (width, height, pixels).

    Dispatch: the deterministic fake format; then REAL uncompressed
    BMP (:func:`decode_bmp`) and REAL compressed PNG
    (:func:`decode_png` — stdlib zlib + numpy, works in this
    container); then PIL for other compressed formats if importable
    (grayscale-converted — zero code change the day the container
    gains libjpeg); otherwise raises.
    """
    if payload[: len(_MAGIC)] == _MAGIC:
        w, h = struct.unpack("<II", payload[len(_MAGIC) : len(_MAGIC) + 8])
        pixels = payload[len(_MAGIC) + 8 :]
        return w, h, pixels
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from cosmos_xenna_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from cosmos_xenna_spark.operators.gif import decode_gif

        return decode_gif(payload)
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError:
        raise NotImplementedError(
            "compressed image decoding requires PIL/libjpeg — not available "
            "in this environment; payload is not a FAKEIMG1 or BMP image"
        ) from None
    im = Image.open(io.BytesIO(payload)).convert("L")
    return im.width, im.height, im.tobytes()


# Pluggable decode seam: queries capture the CURRENT decoder at plan-
# build time (driver side) so the callable ships to executors inside
# the UDF closure — a deployment with its own codec registers it once
# and every multimodal operator picks it up, no operator edits.
_image_decoder = decode_image_stub


def set_image_decoder(fn) -> None:
    """Register a replacement ``payload -> (width, height, pixels)``
    decode kernel (must be serializable — a top-level function)."""
    global _image_decoder
    _image_decoder = fn


def get_image_decoder():
    return _image_decoder


IMAGE_META_SCHEMA = (
    "id long, width long, height long, n_bytes long, content_sha256 string"
)


def extract_image_metadata(df: DataFrame, id_col: str = "id", image_col: str = "image") -> DataFrame:
    """Decode-and-describe: (id, width, height, n_bytes, sha256).

    The canonical multimodal map stage — Arrow-batched, binary column
    in, typed metadata out.
    """
    decode = get_image_decoder()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf[image_col]):
                w, h, _ = decode(bytes(payload))
                rows.append(
                    (
                        i,
                        w,
                        h,
                        len(payload),
                        hashlib.sha256(bytes(payload)).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "n_bytes", "content_sha256"]
            )

    return df.mapInPandas(fn, schema=IMAGE_META_SCHEMA)


def resize_images(
    df: DataFrame, target_w: int, target_h: int, id_col: str = "id", image_col: str = "image"
) -> DataFrame:
    """Resize stage: nearest-neighbor over the fake pixel grid (a real
    deployment swaps the kernel; the batching/schema contract is the
    operator)."""
    decode = get_image_decoder()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_imgs = [], []
            for i, payload in zip(pdf[id_col], pdf[image_col]):
                w, h, pixels = decode(bytes(payload))
                # numpy fancy-indexing: one gather per image, no Python
                # pixel loop (per-pixel loops are catastrophic on real
                # frames even inside mapInPandas).
                grid = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w)
                sy = np.minimum((np.arange(target_h) * h) // target_h, h - 1)
                sx = np.minimum((np.arange(target_w) * w) // target_w, w - 1)
                resized = grid[sy][:, sx].tobytes()
                out_ids.append(i)
                out_imgs.append(_MAGIC + struct.pack("<II", target_w, target_h) + resized)
            yield pd.DataFrame({"id": out_ids, "image": out_imgs})

    return df.mapInPandas(fn, schema="id long, image binary")


def sample_video_frames(
    df: DataFrame, every_n: int, id_col: str = "id", frames_col: str = "frames"
) -> DataFrame:
    """Frame-sampling fan-out: one row per kept frame.

    Input: (id, frames array<binary>); output: (id, frame_idx, frame).
    Executor-side explode — row counts multiply without driver traffic.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, fr in zip(pdf[id_col], pdf[frames_col]):
                for j, frame in enumerate(fr):
                    if j % every_n == 0:
                        ids.append(i)
                        idxs.append(j)
                        frames.append(bytes(frame))
            yield pd.DataFrame({"id": ids, "frame_idx": idxs, "frame": frames})

    return df.mapInPandas(fn, schema="id long, frame_idx long, frame binary")

# --- audio ------------------------------------------------------------------
# Same stub discipline as images: a deterministic fake payload carries a
# real header (magic + sample rate + sample count) and pseudo-PCM bytes;
# decode raises on anything that isn't the fake format (no libsndfile /
# torchaudio in this container). The Spark-side plumbing — binary column,
# Arrow batching, typed metadata extraction, windowed energy — is real.

_AUDIO_MAGIC = b"FAKEAUD1"


def fake_audio(sample_rate: int, n_samples: int, seed: int = 0) -> bytes:
    """Deterministic stand-in audio payload: header + pseudo-PCM (u8)."""
    body = hashlib.sha256(f"{sample_rate}:{n_samples}:{seed}".encode()).digest()
    pcm = (body * (n_samples // len(body) + 1))[:n_samples]
    return _AUDIO_MAGIC + struct.pack("<II", sample_rate, n_samples) + pcm


# IMA ADPCM tables (public spec: IMA "Recommended Practices for
# Enhancing Digital Audio Compatibility", the classic DVI/IMA codec).
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8] * 2, dtype=np.int64)
_IMA_STEP = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int64,
)


def _ima_adpcm_block(data: bytes, n_samples: int) -> np.ndarray:
    """Decode one mono IMA ADPCM block -> int16 samples (numpy int64).

    Block layout: predictor int16, step index u8, reserved u8, then
    4-bit nibbles low-first.  The decode recurrence is inherently
    sequential — the accepted scalar loop of a dependency-free codec
    (same stance as PNG's Paeth filter).
    """
    pred, index = struct.unpack_from("<hB", data, 0)
    index = min(max(index, 0), 88)
    out = np.empty(n_samples, dtype=np.int64)
    out[0] = pred
    nibbles = np.frombuffer(data, dtype=np.uint8, offset=4)
    k = 1
    for byte in nibbles:
        for nib in (byte & 0xF, byte >> 4):
            if k >= n_samples:
                break
            step = int(_IMA_STEP[index])
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = min(max(pred, -32768), 32767)
            index = min(max(index + int(_IMA_INDEX[nib]), 0), 88)
            out[k] = pred
            k += 1
    return out


def decode_wav_adpcm(payload: bytes) -> tuple[int, int, bytes]:
    """REAL compressed-audio decode: mono IMA ADPCM WAV (format 0x11)
    with only struct + numpy — the audio analogue of the baseline-JPEG
    kernel.  Returns the same (sample_rate, n_samples, u8 PCM) contract
    as :func:`decode_wav` (16-bit samples -> ``(x >> 8) + 128``).
    """
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, ch, sr, _br, block_align, _bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if audio_format != 0x11 or ch != 1:
        raise NotImplementedError(
            f"only mono IMA ADPCM handled here (format={audio_format:#x}, ch={ch})"
        )
    spb = (block_align - 4) * 2 + 1  # samples per block
    chunks = []
    for off in range(0, len(data), block_align):
        block = data[off : off + block_align]
        if len(block) < 5:
            break
        chunks.append(_ima_adpcm_block(block, spb))
    samples = np.concatenate(chunks) if chunks else np.zeros(0, dtype=np.int64)
    u8 = ((samples >> 8) + 128).astype(np.uint8)
    return sr, len(samples), u8.tobytes()


def decode_wav(payload: bytes) -> tuple[int, int, bytes]:
    """REAL audio decode for WAV — PCM via the stdlib ``wave`` module,
    IMA ADPCM (format 0x11) via :func:`decode_wav_adpcm` — no audio
    library needed.

    Returns (sample_rate, n_samples, mono u8 PCM): 16-bit samples map
    to unsigned 8-bit by ``(x >> 8) + 128`` (integer, deterministic),
    multi-channel input averages channels in exact integers first —
    so the downstream amplitude/energy operators see the same u8
    contract as the fake format.
    """
    import io
    import wave

    # Peek the fmt tag: stdlib wave only reads PCM
    p = 12
    while p + 8 <= len(payload):
        if payload[p : p + 4] == b"fmt ":
            (tag,) = struct.unpack_from("<H", payload, p + 8)
            if tag == 0x11:
                return decode_wav_adpcm(payload)
            break
        (size,) = struct.unpack_from("<I", payload, p + 4)
        p += 8 + size + (size & 1)

    with wave.open(io.BytesIO(payload), "rb") as w:
        sr = w.getframerate()
        n = w.getnframes()
        ch = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(n)
    if width == 1:
        arr = np.frombuffer(frames, dtype=np.uint8).astype(np.int64)
    elif width == 2:
        arr = (np.frombuffer(frames, dtype="<i2").astype(np.int64) >> 8) + 128
    else:
        raise NotImplementedError(f"only 8/16-bit PCM WAV supported (width={width})")
    if ch > 1:
        arr = arr.reshape(-1, ch).sum(axis=1) // ch
    return sr, n, arr.astype(np.uint8).tobytes()


def decode_audio_stub(payload: bytes) -> tuple[int, int, bytes]:
    """Decode audio -> (sample_rate, n_samples, u8 pcm bytes).

    Dispatch: the deterministic fake format; then REAL PCM WAV
    (:func:`decode_wav` — stdlib ``wave``, works in this container);
    compressed codecs (mp3/flac/ogg) would need libsndfile/ffmpeg and
    raise."""
    if payload[: len(_AUDIO_MAGIC)] == _AUDIO_MAGIC:
        sr, n = struct.unpack(
            "<II", payload[len(_AUDIO_MAGIC) : len(_AUDIO_MAGIC) + 8]
        )
        return sr, n, payload[len(_AUDIO_MAGIC) + 8 :]
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    raise NotImplementedError(
        "compressed audio decoding requires libsndfile/ffmpeg — not "
        "available in this environment; payload is not a FAKEAUD1 clip "
        "or a PCM WAV file"
    )


AUDIO_META_SCHEMA = (
    "id long, sample_rate long, n_samples long, duration_s double, "
    "mean_amp double, peak_amp long"
)


def extract_audio_metadata(
    df: DataFrame, id_col: str = "id", audio_col: str = "audio"
) -> DataFrame:
    """Decode-and-describe for audio: duration + amplitude stats.

    Amplitude stats are numpy-vectorized over the PCM buffer (never a
    per-sample Python loop); integer mean (sum/len in exact int then
    one double division) keeps the value engine-reproducible.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, payload in zip(pdf[id_col], pdf[audio_col]):
                sr, n, pcm = decode_audio_stub(bytes(payload))
                arr = np.frombuffer(pcm, dtype=np.uint8)
                rows.append(
                    (
                        i,
                        sr,
                        n,
                        n / sr,
                        float(int(arr.sum(dtype=np.int64))) / n if n else 0.0,
                        int(arr.max()) if n else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "sample_rate", "n_samples", "duration_s",
                    "mean_amp", "peak_amp",
                ],
            )

    return df.mapInPandas(fn, schema=AUDIO_META_SCHEMA)


def audio_window_energy(
    df: DataFrame, window_samples: int, id_col: str = "id", audio_col: str = "audio"
) -> DataFrame:
    """Windowed energy fan-out: one row per fixed-size PCM window —
    (id, win_idx, n_in_win, energy). The audio analogue of video frame
    sampling: executor-side row multiplication, numpy-vectorized sums."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ns, energies = [], [], [], []
            for i, payload in zip(pdf[id_col], pdf[audio_col]):
                _, n, pcm = decode_audio_stub(bytes(payload))
                arr = np.frombuffer(pcm, dtype=np.uint8).astype(np.int64)
                for w in range(0, n, window_samples):
                    chunk = arr[w : w + window_samples]
                    ids.append(i)
                    idxs.append(w // window_samples)
                    ns.append(len(chunk))
                    energies.append(int((chunk * chunk).sum()))
            yield pd.DataFrame(
                {"id": ids, "win_idx": idxs, "n_in_win": ns, "energy": energies}
            )

    return df.mapInPandas(
        fn, schema="id long, win_idx long, n_in_win long, energy long"
    )


def attach_fake_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test/demo ingestion: sample_rate = 8000, n_samples = (id % 50 + 10)
    * 100, seeded by id. Output (id, audio)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            clips = [fake_audio(8000, (i % 50 + 10) * 100, seed=i) for i in ids]
            yield pd.DataFrame({"id": ids, "audio": clips})

    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    return ensure_parallelism(df).mapInPandas(fn, schema="id long, audio binary")


def attach_fake_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test/demo ingestion: derive a deterministic fake image per row —
    width = id % 16 + 4, height = id % 8 + 4, seeded by id. Output
    (id, image). Stands in for a binaryFile scan in environments
    without real payloads."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            imgs = [fake_image(i % 16 + 4, i % 8 + 4, seed=i) for i in ids]
            yield pd.DataFrame({"id": ids, "image": imgs})

    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    # payload synthesis multiplies bytes ~100x: spread a small id scan
    # across cores first (no-op when the scan already has splits)
    return ensure_parallelism(df).mapInPandas(fn, schema="id long, image binary")


def attach_fake_frames(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Test/demo ingestion: id % 5 + 1 fake frames per row. Output
    (id, frames array<binary>)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            frames = [
                [fake_image(4, 4, seed=i * 100 + j) for j in range(i % 5 + 1)]
                for i in ids
            ]
            yield pd.DataFrame({"id": ids, "frames": frames})

    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    return ensure_parallelism(df).mapInPandas(fn, schema="id long, frames array<binary>")


# ---------------------------------------------------------------------------
# Video containers: real AVI/MJPEG decode (RIFF walk + per-frame JPEG)
# ---------------------------------------------------------------------------


def decode_avi_mjpeg(payload: bytes) -> tuple[int, int, int, list[bytes]]:
    """REAL video-container decode for AVI holding MJPEG (or any
    per-frame codec the image seam can decode): RIFF chunk walk, main
    header for dimensions/timing, '00dc'/'00db' chunks as frames.

    Returns ``(width, height, us_per_frame, frames)`` where each frame
    is the raw codec payload (for MJPEG: a baseline JPEG that
    :func:`decode_image_stub` decodes via ``operators/jpeg.py``) —
    container parsing and frame decode are deliberately separate
    stages, mirroring how a production pipeline demuxes once and
    decodes per-frame in parallel.
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    width = height = us_per_frame = 0
    frames: list[bytes] = []

    def walk(data: bytes, pos: int, end: int) -> None:
        nonlocal width, height, us_per_frame
        while pos + 8 <= end:
            cid = data[pos : pos + 4]
            (size,) = struct.unpack_from("<I", data, pos + 4)
            body_start = pos + 8
            if cid == b"LIST":
                walk(data, body_start + 4, body_start + size)  # skip list type
            elif cid == b"avih":
                us_per_frame, = struct.unpack_from("<I", data, body_start)
                width, height = struct.unpack_from("<II", data, body_start + 32)
            elif cid[2:4] in (b"dc", b"db"):  # compressed / uncompressed frame
                frames.append(bytes(data[body_start : body_start + size]))
            pos = body_start + size + (size & 1)  # chunks pad to even

    walk(payload, 12, len(payload))
    if not frames:
        raise ValueError("AVI contains no frame chunks")
    return width, height, us_per_frame, frames


def video_to_frames(
    df: DataFrame, id_col: str = "id", video_col: str = "video"
) -> DataFrame:
    """Demux stage: one row per frame of each video binary —
    ``(id, frame_idx, ts_us, frame)``.  The frame payloads are codec
    bytes (MJPEG: real JPEGs) ready for the image operators; chaining
    ``video_to_frames -> extract_image_metadata`` runs real container
    demux + real entropy decode end-to-end on the Arrow path.

    Scale shape: the fan-out happens executor-side inside
    ``mapInPandas`` (videos never hit the driver); downstream frame
    work parallelizes over the exploded rows.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for i, payload in zip(pdf[id_col], pdf[video_col]):
                _w, _h, us, frs = decode_avi_mjpeg(bytes(payload))
                for j, fr in enumerate(frs):
                    ids.append(i)
                    idxs.append(j)
                    tss.append(j * us)
                    frames.append(fr)
            yield pd.DataFrame(
                {"id": ids, "frame_idx": idxs, "ts_us": tss, "frame": frames}
            )

    return df.mapInPandas(fn, schema="id long, frame_idx long, ts_us long, frame binary")


def build_avi_mjpeg(
    frames: list[bytes], width: int, height: int, us_per_frame: int = 40_000
) -> bytes:
    """Minimal AVI writer (the sink-side dual of :func:`decode_avi_mjpeg`):
    RIFF/hdrl/movi with one '00dc' chunk per frame payload."""

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        us_per_frame, 0, 0, 0, len(frames), 0, 1, 0, width, height, 0, 0, 0, 0,
    )
    strh = b"vids" + b"MJPG" + b"\x00" * 48
    strf = struct.pack("<IiiHH", 40, width, height, 1, 24) + b"\x00" * 20
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def attach_fake_videos(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL-container videos: an AVI per row holding
    ``id % 4 + 2`` frames (each a deterministic fake-format payload, so
    the oracle can recompute sizes arithmetically; swap in JPEG frames
    and nothing else changes — the container path is identical)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vids = [], []
            for i in pdf[id_col]:
                n = int(i) % 4 + 2
                frames = [fake_image(8, 6, seed=int(i) * 10 + j) for j in range(n)]
                ids.append(int(i))
                vids.append(build_avi_mjpeg(frames, 8, 6))
            yield pd.DataFrame({"id": ids, "video": vids})

    return df.select(id_col).mapInPandas(fn, schema="id long, video binary")


def audio_spectral_features(
    df: DataFrame,
    window_samples: int = 512,
    id_col: str = "id",
    audio_col: str = "audio",
) -> DataFrame:
    """Real DSP over the Arrow path: per-window spectral features from
    a windowed rFFT — ``(id, win_idx, centroid_hz, rolloff_hz, rms)``.

    centroid = magnitude-weighted mean frequency; rolloff = the
    frequency below which 85% of spectral energy sits; rms = root mean
    square of the centered signal.  The DC bin is excluded (u8 PCM
    carries a +128 offset).  All feature math is vectorized numpy per
    clip — windows stack into one (n_win, N) rFFT call, no per-sample
    Python.  No SQL oracle exists for FFT output (registered rows-only,
    like the seeded k-means fits); correctness is property-tested: a
    pure tone's centroid lands on the tone frequency.
    """
    decode = decode_audio_stub

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, wins, cents, rolls, rmss = [], [], [], [], []
            for i, payload in zip(pdf[id_col], pdf[audio_col]):
                sr, n, pcm = decode(bytes(payload))
                x = np.frombuffer(pcm, dtype=np.uint8).astype(np.float64) - 128.0
                n_win = len(x) // window_samples
                if n_win == 0:
                    continue
                frames = x[: n_win * window_samples].reshape(n_win, window_samples)
                mag = np.abs(np.fft.rfft(frames, axis=1))[:, 1:]  # drop DC
                freqs = np.fft.rfftfreq(window_samples, d=1.0 / sr)[1:]
                tot = mag.sum(axis=1)
                safe = np.where(tot > 0, tot, 1.0)
                centroid = (mag * freqs).sum(axis=1) / safe
                energy = mag * mag
                cum = np.cumsum(energy, axis=1)
                etot = cum[:, -1]
                esafe = np.where(etot > 0, etot, 1.0)
                ro_idx = (cum < 0.85 * esafe[:, None]).sum(axis=1)
                ro_idx = np.minimum(ro_idx, len(freqs) - 1)
                rolloff = freqs[ro_idx]
                rms = np.sqrt((frames * frames).mean(axis=1))
                for wdx in range(n_win):
                    ids.append(int(i))
                    wins.append(wdx)
                    cents.append(float(centroid[wdx]) if tot[wdx] > 0 else 0.0)
                    rolls.append(float(rolloff[wdx]) if etot[wdx] > 0 else 0.0)
                    rmss.append(float(rms[wdx]))
            yield pd.DataFrame(
                {
                    "id": ids,
                    "win_idx": wins,
                    "centroid_hz": cents,
                    "rolloff_hz": rolls,
                    "rms": rmss,
                }
            )

    return df.mapInPandas(
        fn, schema="id long, win_idx long, centroid_hz double, rolloff_hz double, rms double"
    )


# ---------------------------------------------------------------------------
# Perceptual image hashing (average hash) + hamming near-dup pairs
# ---------------------------------------------------------------------------


def image_ahash(
    df: DataFrame,
    id_col: str = "id",
    image_col: str = "image",
    grid: int = 8,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Perceptual average-hash per image: decode -> nearest-neighbor
    downsample to ``grid`` x ``grid`` -> one bit per cell (1 iff the
    cell is strictly brighter than the integer mean), packed row-major
    into a 64-bit BIGINT (two's complement).

    The comparison is ``grid^2 * pixel > sum(pixels)`` — all-integer,
    so the hash is bit-deterministic for a given payload on any
    engine/partitioning.  Decode goes through the pluggable
    ``set_image_decoder`` seam (fake/BMP/PNG/JPEG all work in this
    container).

    Scale shape: one Arrow-batched ``mapInPandas`` pass, numpy
    gather for the resample (no per-pixel Python); output is 8 bytes
    per image regardless of resolution — the dedup join downstream
    never touches pixels.
    """
    decode = get_image_decoder()
    n_cells = grid * grid
    extras = list(extra_cols)
    dtypes = dict(df.dtypes)
    schema = "id long, ahash long" + "".join(f", {c} {dtypes[c]}" for c in extras)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Byte-identical payloads hash identically, and real corpora
        # carry exact-duplicate mega-clusters (blank frames, logo
        # tiles — the same premise image_hash_pairs' cluster rollup is
        # built on), so memoize hash-by-payload per worker. Bounded:
        # a diverse corpus evicts by wholesale reset rather than LRU
        # bookkeeping per hit (dict hit is the hot path).
        memo: dict[bytes, int] = {}

        def one(payload: bytes) -> int:
            v = memo.get(payload)
            if v is not None:
                return v
            w, h, pixels = decode(payload)
            g = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w)
            sy = np.minimum((np.arange(grid) * h) // grid, h - 1)
            sx = np.minimum((np.arange(grid) * w) // grid, w - 1)
            cells = g[sy][:, sx].astype(np.int64).ravel()
            bits = (n_cells * cells) > int(cells.sum())
            v = 0
            for b in np.nonzero(bits)[0]:
                v |= 1 << int(b)
            if v >= 1 << 63:
                v -= 1 << 64
            if len(memo) >= 65536:
                memo.clear()
            memo[payload] = v
            return v

        for pdf in batches:
            ids, hashes = [], []
            for i, payload in zip(pdf[id_col], pdf[image_col]):
                ids.append(i)
                hashes.append(one(bytes(payload)))
            out = {"id": ids, "ahash": pd.array(hashes, dtype="int64")}
            for c in extras:
                out[c] = list(pdf[c])
            yield pd.DataFrame(out)

    return df.mapInPandas(fn, schema=schema)


def image_hash_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    id_col: str = "id",
    hash_col: str = "ahash",
) -> DataFrame:
    """Near-duplicate image pairs by hamming distance over 64-bit
    perceptual hashes: ``(doc_a, doc_b, hamming)``.

    Same pigeonhole banding as the text SimHash pipeline
    (``operators/dedup.py: simhash_candidate_pairs``), on unsigned
    16-bit segments (``shiftrightunsigned`` — the hash uses all 64
    bits): exhaustive for ``max_hamming < n_bands``, candidate
    generation bucket-local, exact ``bit_count(xor)`` verify on the
    candidate sliver only.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding finds all pairs only for max_hamming < n_bands "
            f"(got max_hamming={max_hamming}, n_bands={n_bands})"
        )
    from cosmos_xenna_spark.operators.cache import scoped_persist

    # Collapse byte-identical hashes into CLUSTERS first: real corpora
    # have mega-clusters of exact-duplicate images (blank frames, logo
    # tiles), and banding raw doc ids puts n^2 candidate pairs through
    # a shuffle + two hash joins per cluster. Banding DISTINCT hashes
    # makes candidate generation, the joins, and the bit_count verify
    # all scale with hash diversity; the (inherently quadratic) output
    # for exact-dup clusters is produced by a row-local combination
    # explode with nothing to verify. The r7 10x scale run measured the
    # old shape at 61.9x growth; this one tracks output size.
    # Checkpoint the (id, hash) frame: it feeds BOTH sides of the
    # exact-pair self-join plus the cluster rollup, and its upstream is
    # the full decode -> ahash mapInPandas pass — without this the
    # image corpus is decoded once per consumer (3.4x on the bench).
    sig = checkpoint(hashes.select(
        F.col(id_col).alias("doc_id"), F.col(hash_col).alias("h")
    ))
    clusters = sig.groupBy("h").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )

    # Exact-dup pairs by a STREAMING hash self-join, never a per-row
    # combination array: the r8 100x run OOM'd the old nested-transform
    # explode (ArrayTransform materializes the full n^2/2 struct array
    # of a mega-cluster in one row's eval — ~1e10 structs for a 150k-id
    # cluster).  A hash-equality join holds ONE cluster's id list in
    # the join build side (O(cluster)) and streams the quadratic
    # output row by row — the only shape that survives mega-clusters.
    sa = sig.select("h", F.col("doc_id").alias("doc_a"))
    sb = sig.select("h", F.col("doc_id").alias("doc_b"))
    exact = (
        sa.join(sb, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(0).cast("bigint").alias("hamming"))
    )

    width = 64 // n_bands
    mask = (1 << width) - 1
    seg_exprs = ", ".join(
        f"{b}L, shiftrightunsigned(h, {b * width}) & {mask}L" for b in range(n_bands)
    )
    hbands = clusters.selectExpr("h", f"stack({n_bands}, {seg_exprs}) AS (band, seg)")
    hcombos = F.flatten(
        F.transform(
            "hs",
            lambda x, i: F.transform(
                F.slice("hs", i + 2, F.size("hs")),
                lambda y: F.struct(x.alias("h_a"), y.alias("h_b")),
            ),
        )
    )
    hpairs = (
        hbands.groupBy("band", "seg")
        .agg(F.array_sort(F.collect_list("h")).alias("hs"))
        .filter(F.size("hs") >= 2)
        .select(F.explode(hcombos).alias("p"))
        .select("p.h_a", "p.h_b")
        .distinct()
        .withColumn("hamming", F.expr("CAST(bit_count(h_a ^ h_b) AS BIGINT)"))
        .filter(F.col("hamming") <= max_hamming)
    )
    ca = clusters.select(F.col("h").alias("h_a"), F.col("ids").alias("ids_a"))
    cb = clusters.select(F.col("h").alias("h_b"), F.col("ids").alias("ids_b"))
    cross = (
        hpairs.join(ca, "h_a")
        .join(cb, "h_b")
        .select(F.explode("ids_a").alias("a"), "ids_b", "hamming")
        .select("a", F.explode("ids_b").alias("b"), "hamming")
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            "hamming",
        )
    )
    return scoped_persist(clusters, exact.unionByName(cross))


def attach_fake_image_corpus(
    df: DataFrame, id_col: str = "doc_id", dup_classes: int = 32
) -> DataFrame:
    """Fake image corpus WITH planted duplicates: payload seed is
    ``id % dup_classes`` (dims stay id-derived), so rows sharing
    ``id % lcm(16, dup_classes)`` carry byte-identical images — the
    ground truth the perceptual-hash dedup query is checked against
    arithmetically (the ``q_multimodal_image_meta`` oracle pattern)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf[id_col]]
            imgs = [
                fake_image(i % 16 + 4, i % 8 + 4, seed=i % dup_classes) for i in ids
            ]
            yield pd.DataFrame({"id": ids, "image": imgs})

    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    return ensure_parallelism(df).mapInPandas(fn, schema="id long, image binary")


def video_scene_cuts(
    videos: DataFrame,
    min_hamming: int = 8,
    id_col: str = "id",
    video_col: str = "video",
) -> DataFrame:
    """Scene-change detection: demux each video, perceptual-hash each
    frame (:func:`image_ahash`), and flag frames whose hash sits at
    least ``min_hamming`` bits from the previous frame's —
    ``(id, frame_idx, ts_us, hamming)`` with one row per detected cut
    (frame 0 is never a cut; identical consecutive frames are hamming
    0 and never fire).

    Scale shape: demux + hashing are executor-side Arrow passes (one
    row per frame, 8 bytes of hash each — pixels never shuffle); the
    temporal comparison is one ``lag`` over a (video, frame order)
    keyed window.  The composition IS the point: container demux ->
    codec decode -> perceptual hash -> window analytics, all existing
    engine operators.
    """
    frames = video_to_frames(videos, id_col=id_col, video_col=video_col)
    hashed = image_ahash(
        frames, id_col="id", image_col="frame", extra_cols=("frame_idx", "ts_us")
    )
    w = Window.partitionBy("id").orderBy("frame_idx")
    prev = F.lag("ahash").over(w)
    return (
        hashed.withColumn("__prev", prev)
        .filter(F.col("__prev").isNotNull())
        .withColumn("hamming", F.expr("CAST(bit_count(ahash ^ __prev) AS BIGINT)"))
        .filter(F.col("hamming") >= min_hamming)
        .select("id", "frame_idx", "ts_us", "hamming")
    )


def attach_fake_videos_scenes(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fake AVI corpus with SCENE STRUCTURE: frame ``j`` uses payload
    seed ``j // 2``, so frames arrive in identical pairs — scene cuts
    sit exactly at even frame indices >= 2, making the ground truth
    arithmetic for the oracle (the ``attach_fake_videos`` pattern)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vids = [], []
            for i in pdf[id_col]:
                n = int(i) % 4 + 2
                frames = [
                    fake_image(8, 6, seed=int(i) * 10 + j // 2) for j in range(n)
                ]
                ids.append(int(i))
                vids.append(build_avi_mjpeg(frames, 8, 6))
            yield pd.DataFrame({"id": ids, "video": vids})

    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    return ensure_parallelism(df.select(id_col)).mapInPandas(
        fn, schema="id long, video binary"
    )


_ASPECT_BUCKETS: tuple[tuple[str, int, int], ...] = (
    ("1:1", 1, 1),
    ("4:3", 4, 3),
    ("3:4", 3, 4),
    ("16:9", 16, 9),
    ("9:16", 9, 16),
)


def aspect_bucket_sql(w_expr: str, h_expr: str) -> str:
    """Portable SQL expression assigning an image to the nearest
    canonical aspect-ratio bucket (1:1, 4:3, 3:4, 16:9, 9:16) — the
    resolution-bucketing step image/video training batches need (every
    batch must share a shape; padding to one global shape wastes
    compute).

    Nearness is exact integer arithmetic: ``|w/h - aw/ah|`` compared
    via ``1e9 * |w*ah - aw*h| div ah`` (the per-row ``h`` denominator
    is common to all buckets and drops out). First bucket in canonical
    order wins ties. Identical text runs on both engines."""
    costs = [
        f"(1000000000 * ABS(({w_expr}) * {ah} - {aw} * ({h_expr})) / {ah})"
        for _, aw, ah in _ASPECT_BUCKETS
    ]
    least = "LEAST(" + ", ".join(costs) + ")"
    case = " ".join(
        f"WHEN {c} = {least} THEN '{name}'"
        for c, (name, _, _) in zip(costs, _ASPECT_BUCKETS)
    )
    return f"(CASE {case} END)"


def resolution_bucket_stats(
    meta: DataFrame,
    w_col: str = "width",
    h_col: str = "height",
    batch_size: int = 32,
) -> DataFrame:
    """Aspect-bucket batching plan from an image-metadata table: per
    canonical bucket, image count, total pixels, dimension envelope and
    the number of fixed-size batches — the planning readout that sizes
    a bucketed dataloader (rows assigned row-locally; one tiny
    aggregation shuffle on the 5-bucket key)."""
    bucket = F.expr(aspect_bucket_sql(w_col, h_col))
    return (
        meta.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.sum(F.col(w_col) * F.col(h_col)).cast("bigint").alias("sum_pixels"),
            F.min(w_col).cast("bigint").alias("min_w"),
            F.max(w_col).cast("bigint").alias("max_w"),
            F.min(h_col).cast("bigint").alias("min_h"),
            F.max(h_col).cast("bigint").alias("max_h"),
            F.expr(f"CAST((COUNT(*) + {batch_size - 1}) DIV {batch_size} AS BIGINT)")
            .alias("n_batches"),
        )
    )
