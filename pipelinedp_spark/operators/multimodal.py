"""Multimodal (image/audio/video) column operators.

Design for 100 TB corpora: media is carried as opaque ``binary`` columns
with typed metadata structs alongside; all per-item compute runs in
Arrow-batched ``mapInPandas`` so bytes never round-trip through Python
row-at-a-time pickling, and each task processes a bounded batch
(``spark.sql.execution.arrow.maxRecordsPerBatch``) so executor memory is
bounded regardless of item size.

Decode depth is two-tier:

- **Container/metadata parsing is REAL**: PNG, JPEG, GIF, BMP and WAV
  headers are parsed with ``struct`` from the raw bytes (no codec library
  needed), so width/height/format and sample_rate/n_samples/codec come
  from the actual payload.
- **Pixel/sample decoding is REAL for BMP, PNG, GIF and WAV**:
  ``decoder="native"`` fully decodes (and for resize, re-encodes in the
  source container where an encoder exists) uncompressed BMP bitmaps
  (8-bit palette, 24-bit, 32-bit, bottom-up and top-down),
  non-interlaced 8-bit PNG (all five scanline filters, color types
  gray/RGB/palette/gray-alpha/RGBA — stdlib zlib inflate + numpy
  unfiltering), GIF87a/89a first frames (pure-Python variable-width LZW
  + palette mapping, interlace supported) and RIFF/WAVE PCM audio
  (uint8, int16, int32, float32) — no codec library needed. Baseline
  (sequential, SOF0) AND progressive (SOF2) JPEG decode via the
  from-scratch DCT codec in ``operators/jpeg.py`` (bitstream-defined
  quant/huffman tables, byte stuffing, restart intervals, arbitrary
  chroma subsampling, spectral-selection/successive-approximation
  scans). MP3/AAC and exotic containers (WebP, TIFF) need codec
  libraries: when Pillow / soundfile are installed, ``decoder="native"``
  picks them up automatically for exactly those payloads (detected at
  import, no configuration); absent, those payloads fall back to the same
  deterministic content-derived stand-ins as ``decoder="fake"`` (byte
  histograms shaped like the real decoder's output), and explicit real
  backends raise NotImplementedError until an install makes the import
  succeed.

No reference counterpart (net-new per project north star).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, IntegerType,
                               LongType, StringType, StructField, StructType)

from pipelinedp_spark import store
from pipelinedp_spark.operators import dedup as D

# Optional real codec backends, detected once at import: when Pillow /
# soundfile exist in the environment, decoder="native" transparently
# covers the payloads the from-scratch codecs cannot (WebP/TIFF,
# MP3/OGG/FLAC). Absent, behavior is unchanged — the
# documented deterministic stand-in fallback applies. Workers import
# this module themselves, so the detection also runs executor-side.
try:  # pragma: no cover - exercised only when Pillow is installed
    from PIL import Image as _pil_image
except ImportError:
    _pil_image = None
try:  # pragma: no cover - exercised only when soundfile is installed
    import soundfile as _soundfile
except ImportError:
    _soundfile = None

IMAGE_META_SCHEMA = StructType([
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("format", StringType()),
])

AUDIO_META_SCHEMA = StructType([
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("codec", StringType()),
])


def parse_image_metadata(data: Optional[bytes]
                         ) -> Tuple[Optional[int], Optional[int],
                                    Optional[str]]:
    """(width, height, format) from real container headers: PNG IHDR,
    JPEG SOF segments, GIF logical screen descriptor, BMP info header.
    Returns (None, None, None) for unrecognized/truncated payloads."""
    if not data:
        return None, None, None
    try:
        if data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24:
            w, h = struct.unpack(">II", data[16:24])
            return int(w), int(h), "png"
        if data[:2] == b"\xff\xd8":  # JPEG SOI; walk marker segments
            i = 2
            while i + 9 < len(data):
                if data[i] != 0xFF:
                    break
                marker = data[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                seg_len = struct.unpack(">H", data[i + 2:i + 4])[0]
                # SOFn frame headers carry dimensions (precision byte,
                # then height, width big-endian).
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8,
                                                             0xCC):
                    h, w = struct.unpack(">HH", data[i + 5:i + 9])
                    return int(w), int(h), "jpeg"
                i += 2 + seg_len
            return None, None, "jpeg"
        if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
            w, h = struct.unpack("<HH", data[6:10])
            return int(w), int(h), "gif"
        if data[:2] == b"BM" and len(data) >= 26:
            w, h = struct.unpack("<ii", data[18:26])
            return int(w), abs(int(h)), "bmp"
    except struct.error:
        pass
    return None, None, None


def parse_wav_metadata(data: Optional[bytes]
                       ) -> Tuple[Optional[int], Optional[int],
                                  Optional[str]]:
    """(sample_rate, n_samples, codec) from a real RIFF/WAVE header by
    walking the chunk list. Returns (None, None, None) if not a WAV."""
    if not data or len(data) < 12 or data[:4] != b"RIFF" \
            or data[8:12] != b"WAVE":
        return None, None, None
    sample_rate = channels = bits = fmt_code = None
    data_size = None
    i = 12
    try:
        while i + 8 <= len(data):
            cid = data[i:i + 4]
            size = struct.unpack("<I", data[i + 4:i + 8])[0]
            if cid == b"fmt " and i + 24 <= len(data):
                fmt_code, channels = struct.unpack("<HH", data[i + 8:i + 12])
                sample_rate = struct.unpack("<I", data[i + 12:i + 16])[0]
                bits = struct.unpack("<H", data[i + 22:i + 24])[0]
            elif cid == b"data":
                data_size = size
            i += 8 + size + (size & 1)  # chunks are word-aligned
    except struct.error:
        return None, None, None
    if sample_rate is None:
        return None, None, None
    n_samples = None
    if data_size is not None and channels and bits:
        bytes_per_frame = channels * max(bits // 8, 1)
        n_samples = data_size // bytes_per_frame
    codec = "pcm" if fmt_code == 1 else (f"fmt_{fmt_code}"
                                         if fmt_code is not None else None)
    return (int(sample_rate), int(n_samples) if n_samples is not None
            else None, codec)


VIDEO_META_SCHEMA = StructType([
    StructField("brand", StringType()),
    StructField("duration_us", LongType()),
    StructField("n_tracks", IntegerType()),
])


def parse_mp4_metadata(data: Optional[bytes]
                       ) -> Tuple[Optional[str], Optional[int],
                                  Optional[int]]:
    """(major_brand, duration_us, n_tracks) from a real ISO BMFF / MP4
    box walk — no codec library. Reads ftyp's major brand and moov's
    mvhd (version 0: 32-bit timescale/duration at +12/+16; version 1:
    64-bit duration at +20/+28), counting trak children. Returns
    (None, None, None) for non-MP4 payloads."""
    if not data or len(data) < 12:
        return None, None, None

    def boxes(buf, start, end):
        i = start
        while i + 8 <= end:
            size, = struct.unpack(">I", buf[i:i + 4])
            btype = buf[i + 4:i + 8]
            hdr = 8
            if size == 1 and i + 16 <= end:
                size, = struct.unpack(">Q", buf[i + 8:i + 16])
                hdr = 16
            elif size == 0:
                size = end - i
            if size < hdr:
                return
            yield btype, i + hdr, min(i + size, end)
            i += size

    try:
        brand = None
        duration_us = None
        n_tracks = None
        saw_mp4_box = False
        for btype, s, e in boxes(data, 0, len(data)):
            if btype == b"ftyp" and e - s >= 4:
                brand = data[s:s + 4].decode("ascii", "replace").strip()
                saw_mp4_box = True
            elif btype == b"moov":
                saw_mp4_box = True
                n_tracks = 0
                for ctype, cs, ce in boxes(data, s, e):
                    if ctype == b"trak":
                        n_tracks += 1
                    elif ctype == b"mvhd" and ce - cs >= 20:
                        version = data[cs]
                        if version == 1 and ce - cs >= 36:
                            timescale, = struct.unpack(
                                ">I", data[cs + 20:cs + 24])
                            duration, = struct.unpack(
                                ">Q", data[cs + 24:cs + 32])
                        else:
                            timescale, duration = struct.unpack(
                                ">II", data[cs + 12:cs + 20])
                        if timescale:
                            duration_us = duration * 1_000_000 // timescale
        if not saw_mp4_box:
            return None, None, None
        return brand, duration_us, n_tracks
    except (struct.error, IndexError):
        return None, None, None


def extract_video_metadata(df: DataFrame, binary_col: str = "video",
                           meta_col: str = "meta") -> DataFrame:
    """Attach a real (brand, duration_us, n_tracks) struct parsed from
    the MP4/ISO-BMFF box structure — Arrow-batched, no codec library."""
    out_schema = StructType(df.schema.fields +
                            [StructField(meta_col, VIDEO_META_SCHEMA)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf[meta_col] = [
                dict(zip(("brand", "duration_us", "n_tracks"),
                         parse_mp4_metadata(b)))
                for b in pdf[binary_col]]
            yield pdf

    return df.mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# Native (stdlib struct + numpy) codecs for the uncompressed formats.
# ---------------------------------------------------------------------------


def decode_bmp(data: Optional[bytes]) -> Optional[np.ndarray]:
    """Fully decode an uncompressed (BI_RGB) BMP payload to an RGB pixel
    array of shape (height, width, 3), dtype uint8.

    Supports 24-bit BGR, 32-bit BGRA (alpha dropped), and 8-bit palette
    bitmaps; positive height = bottom-up row order (flipped to top-down on
    return), negative = top-down. Rows are 4-byte aligned per the format.
    Returns None for non-BMP / compressed / truncated payloads.
    """
    if not data or data[:2] != b"BM" or len(data) < 54:
        return None
    try:
        pix_offset = struct.unpack("<I", data[10:14])[0]
        hdr_size = struct.unpack("<I", data[14:18])[0]
        width, height = struct.unpack("<ii", data[18:26])
        bpp = struct.unpack("<H", data[28:30])[0]
        compression = struct.unpack("<I", data[30:34])[0]
    except struct.error:
        return None
    if compression != 0 or bpp not in (8, 24, 32) or width <= 0 \
            or height == 0:
        return None
    top_down = height < 0
    height = abs(height)
    row_bytes = (width * bpp // 8 + 3) & ~3
    need = pix_offset + row_bytes * height
    if len(data) < need:
        return None
    raw = np.frombuffer(data, dtype=np.uint8,
                        count=row_bytes * height,
                        offset=pix_offset).reshape(height, row_bytes)
    if bpp == 8:
        # Palette sits between the info header and the pixel data:
        # BGRA quads. Map indices through it.
        pal_off = 14 + hdr_size
        n_colors = (pix_offset - pal_off) // 4
        if n_colors <= 0:
            return None
        pal = np.frombuffer(data, dtype=np.uint8, count=n_colors * 4,
                            offset=pal_off).reshape(n_colors, 4)
        idx = raw[:, :width]
        rgb = pal[idx][:, :, [2, 1, 0]]          # BGRA -> RGB
    else:
        ch = bpp // 8
        px = raw[:, :width * ch].reshape(height, width, ch)
        rgb = px[:, :, [2, 1, 0]]                # BGR(A) -> RGB
    if not top_down:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an RGB array (height, width, 3) or grayscale (height, width),
    dtype uint8, as a 24-bit uncompressed bottom-up BMP."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.stack([px] * 3, axis=-1)
    height, width, _ = px.shape
    row_bytes = (width * 3 + 3) & ~3
    img_size = row_bytes * height
    rows = np.zeros((height, row_bytes), dtype=np.uint8)
    rows[:, :width * 3] = px[::-1, :, [2, 1, 0]].reshape(height, width * 3)
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       img_size, 2835, 2835, 0, 0)
    return header + info + rows.tobytes()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(data: Optional[bytes]) -> Optional[np.ndarray]:
    """Fully decode a non-interlaced 8-bit-depth PNG payload to an RGB
    pixel array of shape (height, width, 3), dtype uint8 — stdlib zlib
    inflate + numpy scanline unfiltering, no codec library.

    Supports color types 0 (gray), 2 (RGB), 3 (palette via PLTE),
    4 (gray+alpha) and 6 (RGBA); alpha is dropped. All five scanline
    filters (None/Sub/Up/Average/Paeth) are reconstructed; Sub and Up are
    vectorized, Average/Paeth run a per-byte loop only on rows that use
    them (encoders emit them adaptively). Returns None for non-PNG,
    interlaced, 16-bit, or corrupt payloads.
    """
    if not data or data[:8] != _PNG_SIG:
        return None
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(data):
        try:
            ln, typ = struct.unpack(">I4s", data[pos:pos + 8])
        except struct.error:
            return None
        chunk = data[pos + 8:pos + 8 + ln]
        if len(chunk) < ln:
            return None
        if typ == b"IHDR":
            ihdr = chunk
        elif typ == b"PLTE":
            plte = chunk
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13])
    channels = _PNG_CHANNELS.get(ctype)
    if (depth != 8 or comp != 0 or filt != 0 or interlace != 0
            or channels is None or w == 0 or h == 0):
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) < h * (stride + 1):
        return None
    arr = np.frombuffer(raw, np.uint8,
                        count=h * (stride + 1)).reshape(h, stride + 1)
    ftypes = arr[:, 0]
    rows = arr[:, 1:].astype(np.int64)
    recon = np.zeros((h, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    bpp = channels
    for y in range(h):
        f, r = int(ftypes[y]), rows[y]
        if f == 0:
            cur = r.copy()
        elif f == 1:
            # Sub: recon[x] = filt[x] + recon[x - bpp]; per-channel
            # cumulative sum (mod distributes over addition).
            cur = (np.cumsum(r.reshape(w, bpp), axis=0) % 256).reshape(
                stride)
        elif f == 2:
            cur = (r + prev) % 256
        elif f == 3:
            cur = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (r[x] + (left + prev[x]) // 2) % 256
        elif f == 4:
            cur = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                pa = abs(b - c)
                pb = abs(a - c)
                pc = abs(a + b - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                cur[x] = (r[x] + pred) % 256
        else:
            return None
        recon[y] = cur
        prev = cur
    px = recon.astype(np.uint8).reshape(h, w, channels)
    if ctype == 0:
        rgb = np.repeat(px, 3, axis=2)
    elif ctype == 2:
        rgb = px
    elif ctype == 3:
        if plte is None or len(plte) % 3:
            return None
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if idx.max(initial=0) >= len(pal):
            return None
        rgb = pal[idx]
    elif ctype == 4:
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:
        rgb = px[:, :, :3]
    return np.ascontiguousarray(rgb)


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an RGB array (height, width, 3) or grayscale (height, width),
    dtype uint8, as an 8-bit RGB PNG (filter 0 scanlines, one IDAT)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.stack([px] * 3, axis=-1)
    h, w, _ = px.shape
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


def _lzw_decode(data: bytes, min_code_size: int) -> Optional[list]:
    """GIF-variant LZW: variable code width (min+1 .. 12 bits, LSB-first
    bit packing), CLEAR and END codes, dictionary capped at 4096."""
    clear = 1 << min_code_size
    end = clear + 1
    out: list = []
    # bit reader state
    pos = 0
    nbits = len(data) * 8

    def reset():
        return ({i: (i,) for i in range(clear)}, min_code_size + 1,
                clear + 2)

    table, width, next_code = reset()
    prev: Optional[tuple] = None
    while pos + width <= nbits:
        code = 0
        for b in range(width):
            i = pos + b
            if data[i >> 3] & (1 << (i & 7)):
                code |= 1 << b
        pos += width
        if code == clear:
            table, width, next_code = reset()
            prev = None
            continue
        if code == end:
            return out
        if prev is None:
            entry = table.get(code)
            if entry is None:
                return None
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + (prev[0],)
        else:
            return None
        out.extend(entry)
        if prev is not None and next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(data: Optional[bytes]) -> Optional[np.ndarray]:
    """Fully decode the FIRST frame of a GIF87a/GIF89a payload to an RGB
    array (height, width, 3), dtype uint8 — pure-Python LZW + numpy
    palette mapping, no codec library. Supports global and local color
    tables and interlaced images; extension blocks are skipped
    (transparency is ignored — the frame renders its palette colors).
    Returns None for non-GIF or corrupt payloads.

    The LZW inner loop is Python-speed: this is a correctness-complete
    fallback for modest images; wire a codec library for bulk GIF
    corpora."""
    if not data or data[:6] not in (b"GIF87a", b"GIF89a") or len(data) < 13:
        return None
    try:
        sw, sh, flags = struct.unpack("<HHB", data[6:11])
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            gct = np.frombuffer(data, np.uint8, count=n * 3,
                                offset=pos).reshape(n, 3)
            pos += n * 3
        while pos < len(data):
            block = data[pos]
            if block == 0x21:                      # extension
                pos += 2
                while pos < len(data) and data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
            elif block == 0x2C:                    # image descriptor
                left, top, w, h, iflags = struct.unpack(
                    "<HHHHB", data[pos + 1:pos + 10])
                pos += 10
                ct = gct
                if iflags & 0x80:
                    n = 2 << (iflags & 0x07)
                    ct = np.frombuffer(data, np.uint8, count=n * 3,
                                       offset=pos).reshape(n, 3)
                    pos += n * 3
                if ct is None or w == 0 or h == 0:
                    return None
                min_code = data[pos]
                pos += 1
                chunks = []
                while pos < len(data) and data[pos] != 0:
                    ln = data[pos]
                    chunks.append(data[pos + 1:pos + 1 + ln])
                    pos += 1 + ln
                idx = _lzw_decode(b"".join(chunks), min_code)
                if idx is None or len(idx) < w * h:
                    return None
                arr = np.asarray(idx[:w * h], dtype=np.int32).reshape(h, w)
                if iflags & 0x40:
                    # Interlaced: decoded (source) row i displays at pass
                    # order; rows[y] = which source row shows at y.
                    rows = np.empty(h, dtype=np.int64)
                    src = 0
                    for start, step in _GIF_INTERLACE_PASSES:
                        for y in range(start, h, step):
                            rows[y] = src
                            src += 1
                    arr = arr[rows]
                if arr.max(initial=0) >= len(ct):
                    return None
                return np.ascontiguousarray(ct[arr])
            elif block == 0x3B:                    # trailer
                return None
            else:
                return None
    except (struct.error, IndexError, ValueError):
        return None
    return None


def decode_image_native(data: Optional[bytes]) -> Optional[np.ndarray]:
    """Real pixel decode for every natively supported container: BMP
    (decode_bmp), PNG (decode_png), GIF (decode_gif), then baseline or
    progressive JPEG (operators.jpeg.decode_jpeg). Returns None when
    none match (exotic formats like WebP/TIFF)."""
    rgb = decode_bmp(data)
    if rgb is None:
        rgb = decode_png(data)
    if rgb is None:
        rgb = decode_gif(data)
    if rgb is None and data and data[:2] == b"\xff\xd8":
        from pipelinedp_spark.operators.jpeg import decode_jpeg
        rgb = decode_jpeg(data)
    if rgb is None and data and _pil_image is not None:
        # Optional Pillow fallback for containers the from-scratch
        # codecs don't cover (WebP, TIFF, ...).
        import io
        try:
            with _pil_image.open(io.BytesIO(data)) as im:
                rgb = np.asarray(im.convert("RGB"))
        except Exception:
            rgb = None
    return rgb


_WAV_PCM_DTYPES = {(1, 8): np.uint8, (1, 16): np.dtype("<i2"),
                   (1, 32): np.dtype("<i4"), (3, 32): np.dtype("<f4")}


def _decode_audio_soundfile(data: Optional[bytes]
                            ) -> Optional[Tuple[np.ndarray, int]]:
    """Optional soundfile fallback for compressed audio (MP3/OGG/FLAC)
    when the library is installed; None otherwise (stand-in path)."""
    if not data or _soundfile is None:
        return None
    import io
    try:
        samples, rate = _soundfile.read(io.BytesIO(data))
        return np.asarray(samples), int(rate)
    except Exception:
        return None


def decode_wav(data: Optional[bytes]
               ) -> Optional[Tuple[np.ndarray, int]]:
    """Fully decode a RIFF/WAVE PCM payload to (samples, sample_rate).

    Samples have shape (n_frames,) for mono or (n_frames, channels),
    native dtype (uint8 / int16 / int32 / float32). Returns None for
    non-WAV or compressed codecs.
    """
    if not data or len(data) < 12 or data[:4] != b"RIFF" \
            or data[8:12] != b"WAVE":
        return _decode_audio_soundfile(data)
    fmt_code = channels = rate = bits = None
    payload = None
    i = 12
    try:
        while i + 8 <= len(data):
            cid = data[i:i + 4]
            size = struct.unpack("<I", data[i + 4:i + 8])[0]
            if cid == b"fmt " and i + 24 <= len(data):
                fmt_code, channels = struct.unpack("<HH", data[i + 8:i + 12])
                rate = struct.unpack("<I", data[i + 12:i + 16])[0]
                bits = struct.unpack("<H", data[i + 22:i + 24])[0]
            elif cid == b"data":
                payload = data[i + 8:i + 8 + size]
            i += 8 + size + (size & 1)
    except struct.error:
        return None
    if rate is None or payload is None or not channels:
        return _decode_audio_soundfile(data)
    dtype = _WAV_PCM_DTYPES.get((fmt_code, bits))
    if dtype is None:
        # RIFF container with a non-PCM codec (e.g. ADPCM/MP3-in-WAV):
        # soundfile handles it when installed.
        return _decode_audio_soundfile(data)
    frame = np.dtype(dtype).itemsize * channels
    n = len(payload) // frame
    samples = np.frombuffer(payload, dtype=dtype, count=n * channels)
    if channels > 1:
        samples = samples.reshape(n, channels)
    return samples, int(rate)


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode a sample array ((n,) mono or (n, channels)) as RIFF/WAVE.
    dtype picks the format: uint8/int16/int32 -> PCM, float32 -> IEEE."""
    arr = np.asarray(samples)
    if arr.dtype == np.uint8:
        fmt_code, bits = 1, 8
    elif arr.dtype == np.int16:
        fmt_code, bits = 1, 16
    elif arr.dtype == np.int32:
        fmt_code, bits = 1, 32
    elif arr.dtype == np.float32:
        fmt_code, bits = 3, 32
    else:
        raise ValueError(f"unsupported sample dtype {arr.dtype}")
    channels = 1 if arr.ndim == 1 else arr.shape[1]
    payload = np.ascontiguousarray(arr.astype(arr.dtype.newbyteorder("<"),
                                              copy=False)).tobytes()
    byte_rate = sample_rate * channels * bits // 8
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, fmt_code, channels,
                      sample_rate, byte_rate, channels * bits // 8, bits)
    data_hdr = struct.pack("<4sI", b"data", len(payload))
    pad = b"\x00" if len(payload) & 1 else b""
    riff_size = 4 + len(fmt) + len(data_hdr) + len(payload) + len(pad)
    return struct.pack("<4sI4s", b"RIFF", riff_size, b"WAVE") \
        + fmt + data_hdr + payload + pad


def extract_image_metadata(df: DataFrame, binary_col: str = "image",
                           meta_col: str = "meta") -> DataFrame:
    """Attach a real (width, height, format) struct parsed from the
    payload's container header — Arrow-batched, no codec library."""
    out_schema = StructType(df.schema.fields +
                            [StructField(meta_col, IMAGE_META_SCHEMA)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf[meta_col] = [
                dict(zip(("width", "height", "format"),
                         parse_image_metadata(b)))
                for b in pdf[binary_col]]
            yield pdf

    return df.mapInPandas(batches, out_schema)


def extract_audio_metadata(df: DataFrame, binary_col: str = "audio",
                           meta_col: str = "meta") -> DataFrame:
    """Attach a real (sample_rate, n_samples, codec) struct parsed from
    the RIFF/WAVE header."""
    out_schema = StructType(df.schema.fields +
                            [StructField(meta_col, AUDIO_META_SCHEMA)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf[meta_col] = [
                dict(zip(("sample_rate", "n_samples", "codec"),
                         parse_wav_metadata(b)))
                for b in pdf[binary_col]]
            yield pdf

    return df.mapInPandas(batches, out_schema)


def _require_real_decoder(name: str):
    raise NotImplementedError(
        f"real {name} decoding of compressed formats requires a media "
        f"library that is not installed in this environment; use "
        f"decoder='native' for real BMP/PNG/GIF/JPEG/WAV-PCM "
        f"decoding with a byte-histogram fallback for unsupported "
        f"payloads, or decoder='fake' for stand-ins everywhere")


_DECODERS = ("fake", "native")


def _check_decoder(decoder: str, name: str) -> None:
    if decoder not in _DECODERS:
        _require_real_decoder(name)


def _fake_pixel_stats(data: bytes, n_bins: int = 16) -> np.ndarray:
    """Deterministic stand-in for decoded-pixel statistics: the normalized
    byte-value histogram of the payload. Shaped like a real luminance
    histogram so downstream feature code exercises realistic plumbing."""
    if data is None or len(data) == 0:
        return np.zeros(n_bins)
    arr = np.frombuffer(data, dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=n_bins, range=(0, 256))
    return hist / max(len(arr), 1)


def _luminance_hist(rgb: np.ndarray, n_bins: int) -> np.ndarray:
    """Normalized histogram of integer ITU-R 601 luma over real pixels."""
    px = rgb.astype(np.uint32)
    luma = (299 * px[:, :, 0] + 587 * px[:, :, 1]
            + 114 * px[:, :, 2]) // 1000
    hist, _ = np.histogram(luma, bins=n_bins, range=(0, 256))
    return hist / max(luma.size, 1)


def decode_images(df: DataFrame, binary_col: str = "image",
                  decoder: str = "fake",
                  feature_bins: int = 16) -> DataFrame:
    """binary payload -> (all input columns, features array<double>,
    content_hash string). Arrow-batched mapInPandas. ``decoder="native"``
    emits a REAL luminance histogram for BMP, PNG, GIF and JPEG
    (baseline + progressive) payloads (decode_image_native) and falls
    back to the byte-histogram stand-in for payloads the native decoder
    can't handle (exotic containers, corrupt bytes); ``decoder="fake"``
    uses the stand-in everywhere."""
    _check_decoder(decoder, "image")
    native = decoder == "native"
    out_schema = StructType(
        df.schema.fields +
        [StructField("features", ArrayType(DoubleType())),
         StructField("content_hash", StringType())])

    def feats(b: Optional[bytes]) -> list:
        if native:
            rgb = decode_image_native(b)
            if rgb is not None:
                return _luminance_hist(rgb, feature_bins).tolist()
        return _fake_pixel_stats(b, feature_bins).tolist()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf[binary_col]
            pdf = pdf.copy()
            pdf["features"] = [feats(b) for b in payloads]
            pdf["content_hash"] = [
                hashlib.md5(b or b"").hexdigest() for b in payloads]
            yield pdf

    return df.mapInPandas(batches, out_schema)


def image_pixel_stats(df: DataFrame, binary_col: str = "image") -> DataFrame:
    """Exact per-image pixel statistics from REAL decoded bitmaps:
    (all input columns, px_width, px_height, px_sum, px_min, px_max) where
    the stats run over the integer luma of the decoded pixels (BMP or
    PNG). Undecodable payloads yield nulls. Integer-exact by
    construction, so the whole encode->bytes->decode path is
    oracle-checkable."""
    out_schema = StructType(
        df.schema.fields +
        [StructField("px_width", IntegerType()),
         StructField("px_height", IntegerType()),
         StructField("px_sum", LongType()),
         StructField("px_min", IntegerType()),
         StructField("px_max", IntegerType())])

    def stats(b: Optional[bytes]) -> tuple:
        rgb = decode_image_native(b)
        if rgb is None:
            return (None, None, None, None, None)
        px = rgb.astype(np.uint64)
        luma = (299 * px[:, :, 0] + 587 * px[:, :, 1]
                + 114 * px[:, :, 2]) // 1000
        return (rgb.shape[1], rgb.shape[0], int(luma.sum()),
                int(luma.min()), int(luma.max()))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            cols = [stats(b) for b in pdf[binary_col]]
            for j, name in enumerate(("px_width", "px_height", "px_sum",
                                      "px_min", "px_max")):
                pdf[name] = [c[j] for c in cols]
            yield pdf

    return df.mapInPandas(batches, out_schema)


def audio_pcm_stats(df: DataFrame, binary_col: str = "audio") -> DataFrame:
    """Exact per-clip PCM statistics from REAL decoded waveforms:
    (all input columns, sample_rate, n_samples, amp_sum, amp_min, amp_max,
    duration_us). Integer-exact for integer PCM; duration_us =
    n_samples * 1_000_000 // sample_rate. Non-WAV payloads yield nulls."""
    out_schema = StructType(
        df.schema.fields +
        [StructField("sample_rate", IntegerType()),
         StructField("n_samples", LongType()),
         StructField("amp_sum", LongType()),
         StructField("amp_min", LongType()),
         StructField("amp_max", LongType()),
         StructField("duration_us", LongType())])

    def stats(b: Optional[bytes]) -> tuple:
        decoded = decode_wav(b)
        if decoded is None:
            return (None,) * 6
        samples, rate = decoded
        n = samples.shape[0]
        dur = n * 1_000_000 // rate
        if np.issubdtype(samples.dtype, np.floating):
            # float PCM has no exact integer stats; report shape only.
            return (rate, n, None, None, None, dur)
        flat = samples.reshape(-1).astype(np.int64)
        return (rate, n, int(flat.sum()), int(flat.min()) if n else None,
                int(flat.max()) if n else None, dur)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            cols = [stats(b) for b in pdf[binary_col]]
            for j, name in enumerate(("sample_rate", "n_samples", "amp_sum",
                                      "amp_min", "amp_max", "duration_us")):
                pdf[name] = [c[j] for c in cols]
            yield pdf

    return df.mapInPandas(batches, out_schema)


def resize_images(df: DataFrame, binary_col: str = "image",
                  meta_col: str = "meta", width: int = 224,
                  height: int = 224, decoder: str = "fake") -> DataFrame:
    """Resize. ``decoder="native"`` REALLY resizes BMP, PNG, GIF and
    baseline-JPEG payloads: decode (decode_image_native) ->
    nearest-neighbor numpy resample -> re-encode. PNG and JPEG re-encode
    in their source container; GIF re-encodes as BMP (no GIF encoder) —
    ``meta.format`` is rewritten from the OUTPUT payload's magic bytes,
    so downstream format dispatch stays truthful. Undecodable payloads
    pass through unchanged (metadata format preserved). ``decoder="fake"``
    keeps the payload and rewrites only the metadata struct (schema
    plumbing for downstream code)."""
    _check_decoder(decoder, "image")
    meta_rewrite = F.struct(
        F.lit(width).alias("width"), F.lit(height).alias("height"),
        F.col(f"{meta_col}.format").alias("format"))
    if decoder == "fake":
        return df.withColumn(meta_col, meta_rewrite)

    out_schema = df.schema

    def resize(b: Optional[bytes]) -> Optional[bytes]:
        is_png = bool(b) and b[:8] == _PNG_SIG
        is_jpeg = bool(b) and b[:2] == b"\xff\xd8"
        rgb = decode_image_native(b)
        if rgb is None:
            return b
        h, w = rgb.shape[:2]
        rows = (np.arange(height) * h) // height
        cols = (np.arange(width) * w) // width
        out = rgb[rows][:, cols]
        if is_png:
            return encode_png(out)
        if is_jpeg:
            from pipelinedp_spark.operators.jpeg import encode_jpeg
            return encode_jpeg(out)
        return encode_bmp(out)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf[binary_col] = [resize(b) for b in pdf[binary_col]]
            yield pdf

    # meta.format follows the OUTPUT bytes (GIF re-encodes as BMP): sniff
    # the container from the payload magic, falling back to the original
    # declared format for payloads the decoder passed through.
    head = F.substring(F.col(binary_col), 1, 4)
    out_fmt = (
        F.when(head == F.lit(bytearray(b"\x89PNG")), F.lit("png"))
        .when(F.substring(F.col(binary_col), 1, 2)
              == F.lit(bytearray(b"\xff\xd8")), F.lit("jpeg"))
        .when(head == F.lit(bytearray(b"GIF8")), F.lit("gif"))
        .when(F.substring(F.col(binary_col), 1, 2)
              == F.lit(bytearray(b"BM")), F.lit("bmp"))
        .otherwise(F.col(f"{meta_col}.format")))
    native_meta = F.struct(
        F.lit(width).alias("width"), F.lit(height).alias("height"),
        out_fmt.alias("format"))
    return df.mapInPandas(batches, out_schema).withColumn(
        meta_col, native_meta)


def sample_video_frames(df: DataFrame, frames_col: str = "frames",
                        every_nth: int = 10,
                        max_frames: Optional[int] = None) -> DataFrame:
    """Frame sampling over array<binary> frame columns — pure column
    expressions (no Python): take every nth frame, optionally capped."""
    idx = F.sequence(F.lit(0), F.size(frames_col) - 1, F.lit(every_nth))
    sampled = F.transform(idx, lambda i: F.element_at(F.col(frames_col),
                                                      i + 1))
    if max_frames is not None:
        sampled = F.slice(sampled, 1, max_frames)
    return df.withColumn(frames_col, sampled)


def extract_audio_features(df: DataFrame, binary_col: str = "audio",
                           meta_col: Optional[str] = None,
                           decoder: str = "fake",
                           n_bins: int = 8) -> DataFrame:
    """binary waveform payload -> (.., audio_features array<double>,
    est_duration_s double). ``decoder="native"`` computes a REAL normalized
    amplitude histogram over decoded PCM samples (decode_wav) for WAV
    payloads, byte-histogram stand-in otherwise; ``decoder="fake"`` uses
    the stand-in everywhere. Identical signature either way."""
    _check_decoder(decoder, "audio")
    native = decoder == "native"
    out_schema = StructType(
        df.schema.fields +
        [StructField("audio_features", ArrayType(DoubleType())),
         StructField("est_duration_s", DoubleType())])
    has_meta = meta_col is not None

    def feats(b: Optional[bytes]) -> list:
        if native:
            decoded = decode_wav(b)
            if decoded is not None and decoded[0].size:
                samples = decoded[0].reshape(-1)
                if samples.dtype == np.uint8:
                    norm = samples.astype(np.float64) / 127.5 - 1.0
                elif np.issubdtype(samples.dtype, np.floating):
                    norm = np.clip(samples.astype(np.float64), -1.0, 1.0)
                else:
                    # full-scale normalization by |min| so the most
                    # negative sample maps exactly to -1.0
                    norm = samples.astype(np.float64) \
                        / float(-np.iinfo(samples.dtype).min)
                # np.histogram's last bin is closed on the right, so +1.0
                # full-scale samples land in the top bin with exact edges.
                hist, _ = np.histogram(norm, bins=n_bins, range=(-1.0, 1.0))
                return (hist / samples.size).tolist()
        return _fake_pixel_stats(b, n_bins).tolist()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["audio_features"] = [feats(b) for b in pdf[binary_col]]
            if has_meta:
                rates = [m["sample_rate"] if m else 16000
                         for m in pdf[meta_col]]
                counts = [m["n_samples"] if m else len(b or b"") // 2
                          for m, b in zip(pdf[meta_col], pdf[binary_col])]
                pdf["est_duration_s"] = [
                    c / max(r, 1) for c, r in zip(counts, rates)]
            else:
                # Real RIFF/WAVE header when the payload is a WAV;
                # 16-bit mono @16kHz assumption otherwise.
                durs = []
                for b in pdf[binary_col]:
                    sr, ns, _ = parse_wav_metadata(b)
                    if sr and ns is not None:
                        durs.append(ns / sr)
                    else:
                        durs.append(len(b or b"") / 2.0 / 16000.0)
                pdf["est_duration_s"] = durs
            yield pdf

    return df.mapInPandas(batches, out_schema)


def dedup_by_content_hash(df: DataFrame, binary_col: str = "image",
                          id_col: str = "doc_id") -> DataFrame:
    """Exact media dedup: md5 over the payload bytes, one hash-groupBy
    (native, no Python) — same shape as text exact_dedup."""
    return (df.select(F.col(id_col), F.md5(F.col(binary_col)).alias("hash"))
            .groupBy("hash")
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("dup_count"))
            .select(id_col, "hash", "dup_count"))


# ---------------------------------------------------------------------------
# Perceptual hashing (pHash) — image near-dup over binary columns
# ---------------------------------------------------------------------------

_PHASH_SIZE = 32          # resample target (32x32 luma grid)
_PHASH_BLOCK = 8          # low-frequency DCT block


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (same construction as the 8x8 matrix in
    operators.jpeg, generalized to n)."""
    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    c = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * m + 1) * k / (2 * n))
    c[0] /= np.sqrt(2.0)
    return c


_PHASH_DCT = _dct_matrix(_PHASH_SIZE)


def phash64(rgb: Optional[np.ndarray]) -> Optional[int]:
    """Classic perceptual hash (DCT pHash) of a decoded image: luma ->
    bilinear 32x32 resample -> 2D DCT-II -> the 8x8 low-frequency block
    minus DC -> one bit per coefficient vs their median. 63 bits packed
    into a non-negative int64.

    Brightness-shift invariant by construction (an additive offset moves
    only the DC coefficient, which is excluded and does not shift the
    AC median); robust to small pixel perturbations and resampling,
    unlike the md5 content hash. Deterministic numpy float64 end to end.
    """
    if rgb is None or rgb.size == 0:
        return None
    px = rgb.astype(np.float64)
    if px.ndim == 3:
        px = (0.299 * px[:, :, 0] + 0.587 * px[:, :, 1]
              + 0.114 * px[:, :, 2])
    h, w = px.shape
    n = _PHASH_SIZE
    # Bilinear resample on the pixel-center grid (deterministic; exact
    # identity when the image is already 32x32).
    yy = np.linspace(0, h - 1, n)
    xx = np.linspace(0, w - 1, n)
    y0 = np.floor(yy).astype(int)
    x0 = np.floor(xx).astype(int)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    fy = (yy - y0)[:, None]
    fx = (xx - x0)[None, :]
    g = (px[np.ix_(y0, x0)] * (1 - fy) * (1 - fx)
         + px[np.ix_(y1, x0)] * fy * (1 - fx)
         + px[np.ix_(y0, x1)] * (1 - fy) * fx
         + px[np.ix_(y1, x1)] * fy * fx)
    spec = _PHASH_DCT @ g @ _PHASH_DCT.T
    block = spec[:_PHASH_BLOCK, :_PHASH_BLOCK].reshape(-1)[1:]  # drop DC
    med = float(np.median(block))
    bits = 0
    for i, v in enumerate(block):
        if v > med:
            bits |= 1 << i
    return bits


def image_phash(df: DataFrame, binary_col: str = "image") -> DataFrame:
    """(all input columns, phash long) via Arrow-batched mapInPandas over
    `decode_image_native` + `phash64`; null phash for payloads no native
    codec handles. One corpus pass, no shuffle."""
    out_schema = StructType(
        df.schema.fields + [StructField("phash", LongType())])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            # object dtype, NOT a plain list: ints + None would coerce
            # the batch to float64 and silently round every 63-bit
            # hash above 2^53 — one undecodable payload in a batch
            # corrupted its neighbours' hashes (batch-composition-
            # dependent results)
            pdf["phash"] = pd.Series(
                [phash64(decode_image_native(b))
                 for b in pdf[binary_col]],
                dtype="object", index=pdf.index)
            yield pdf

    return df.mapInPandas(batches, out_schema)


def phash_dedup(df: DataFrame, binary_col: str = "image",
                id_col: str = "doc_id",
                max_hamming: int = 0,
                num_blocks: int = 4) -> DataFrame:
    """Image near-dup flags from perceptual hashes: a row is a duplicate
    iff a SMALLER-id image has pHash within ``max_hamming`` bits. The
    default (0) groups exact pHash matches — which already collapses
    brightness-shifted and lightly-perturbed variants (see `phash64`);
    ``max_hamming`` > 0 widens to near matches via the same pigeonhole
    blocking as SimHash dedup (hashes within Hamming h share at least
    one of ``num_blocks`` > h contiguous bit-blocks, so candidate pairs
    come from equi-joins on block values, never an all-pairs join).

    Returns (id_col, phash, is_dup).

    Scale shape: exact mode is ONE groupBy on the 63-bit hash (min-id
    keeper broadcast back by hash); blocked mode shuffles each row
    ``num_blocks`` times on (block_idx, block_bits) — degenerate blocks
    (e.g. all-zero high bits across the corpus) concentrate like any
    blocking scheme and follow SimHash's cap guidance.
    """
    hashed = image_phash(df, binary_col).select(id_col, "phash") \
        .filter(F.col("phash").isNotNull())
    return _hash_dedup_flags(hashed, id_col, "phash",
                             _PHASH_BLOCK * _PHASH_BLOCK - 1,
                             max_hamming, num_blocks)


def _hash_dedup_flags(hashed: DataFrame, id_col: str, hash_col: str,
                      total_bits: int, max_hamming: int,
                      num_blocks: int) -> DataFrame:
    """Shared near-dup flagging over any <= 63-bit fingerprint column:
    exact mode is one groupBy on the hash; near mode keys on the
    pigeonhole block rule (`dedup._hamming_blocks`) so candidates come
    from equi-joins, never an all-pairs join, and a row is a duplicate
    iff a smaller id verifies within ``max_hamming``. Returns
    (id_col, hash_col, is_dup).

    The hashed table feeds 2-3 consumers below; un-materialized, each
    consumer would re-run the whole upstream decode+fingerprint pass
    (the expensive part), so it is localCheckpoint'd first — the
    materialization is (id, 63-bit hash) only, ~16 B/row at any corpus
    size."""
    keys = (None if max_hamming == 0 else D._hamming_blocks(
        F.col(hash_col), total_bits, num_blocks, max_hamming))
    hashed = hashed.localCheckpoint()
    if keys is None:
        keeper = hashed.groupBy(hash_col).agg(
            F.min(id_col).alias("__keep__"))
        return (hashed.join(keeper, hash_col)
                .select(id_col, hash_col,
                        (F.col(id_col) != F.col("__keep__"))
                        .alias("is_dup")))
    tagged = hashed.select(id_col, hash_col, F.posexplode(keys)
                           .alias("block_idx", "block_val"))
    dup_ids = (D._hamming_self_pairs(tagged, ["block_idx", "block_val"],
                                     id_col, hash_col, max_hamming)
               .select(F.col("id_b").alias(id_col)).distinct()
               .withColumn("__dup__", F.lit(True)))
    return (hashed.join(dup_ids, id_col, "left")
            .select(id_col, hash_col,
                    F.coalesce(F.col("__dup__"), F.lit(False))
                    .alias("is_dup")))


# ---------------------------------------------------------------------------
# Audio fingerprinting (Haitsma-Kalker spectral flux) — audio near-dup
# ---------------------------------------------------------------------------

_AFP_FRAMES = 16          # analysis frames over the clip
_AFP_BANDS = 9            # spectral bands (8 band-differences per frame)


def audio_fingerprint64(samples: Optional[np.ndarray],
                        sample_rate: int = 0) -> Optional[int]:
    """Haitsma-Kalker-style audio fingerprint (the Philips robust-hash
    construction): mono energy spectrum per frame, banded; bit(f, b) =
    sign of the band-difference's temporal flux
    (E[f,b]-E[f,b+1]) - (E[f-1,b]-E[f-1,b+1]). 15 frames x 8 band
    pairs -> the first 63 bits packed into a non-negative int64.

    Volume-invariant by construction: positive gain scales every band
    energy by the same factor, leaving all difference signs unchanged —
    the audio analogue of pHash's brightness invariance (and like it,
    robust to what byte hashing cannot see past). Deterministic numpy
    float64 (rfft) end to end. Returns None for empty/too-short clips
    (< _AFP_FRAMES * 16 samples).
    """
    if samples is None:
        return None
    x = np.asarray(samples)
    if x.ndim == 2:
        x = x.mean(axis=1)
    x = x.astype(np.float64)
    if x.dtype == np.float64 and samples.dtype == np.uint8:
        x = x - 128.0
    n = x.size
    frame_len = n // _AFP_FRAMES
    if frame_len < 16:
        return None
    frames = x[:frame_len * _AFP_FRAMES].reshape(_AFP_FRAMES, frame_len)
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    nbins = spec.shape[1] - 1                  # exclude DC
    edges = np.linspace(1, nbins + 1, _AFP_BANDS + 1).astype(int)
    e = np.stack([spec[:, edges[b]:edges[b + 1]].sum(axis=1)
                  for b in range(_AFP_BANDS)], axis=1)
    d = e[:, :-1] - e[:, 1:]                   # band differences
    flux = d[1:] - d[:-1]                      # temporal flux
    flat = flux.reshape(-1)[:63]
    bits = 0
    for i, v in enumerate(flat):
        if v > 0:
            bits |= 1 << i
    return bits


def audio_phash(df: DataFrame, binary_col: str = "audio") -> DataFrame:
    """(all input columns, afp long) — `audio_fingerprint64` over WAV
    payloads via `decode_wav` in one Arrow mapInPandas pass; null for
    undecodable/too-short payloads. No shuffle."""
    out_schema = StructType(
        df.schema.fields + [StructField("afp", LongType())])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fps = []
            for b in pdf[binary_col]:
                dec = decode_wav(b)
                fps.append(None if dec is None
                           else audio_fingerprint64(dec[0], dec[1]))
            pdf = pdf.copy()
            # object dtype: ints + None as a plain list would coerce
            # to float64 and round 63-bit fingerprints (see image_phash)
            pdf["afp"] = pd.Series(fps, dtype="object", index=pdf.index)
            yield pdf

    return df.mapInPandas(batches, out_schema)


def audio_dedup(df: DataFrame, binary_col: str = "audio",
                id_col: str = "doc_id",
                max_hamming: int = 0,
                num_blocks: int = 4) -> DataFrame:
    """Audio near-dup flags from spectral fingerprints — same dedup
    machinery as `phash_dedup` (exact hash groupBy, or pigeonhole
    bit-block equi-joins for ``max_hamming`` > 0). Returns
    (id_col, afp, is_dup)."""
    hashed = audio_phash(df, binary_col).select(id_col, "afp") \
        .filter(F.col("afp").isNotNull())
    return _hash_dedup_flags(hashed, id_col, "afp", 63,
                             max_hamming, num_blocks)


# ---------------------------------------------------------------------------
# EXIF (JPEG APP1 / TIFF IFD walk)
# ---------------------------------------------------------------------------

_EXIF_TAGS = {0x010F: "make", 0x0110: "model", 0x0112: "orientation",
              0x0132: "datetime"}


def build_exif_app1(entries: dict, big_endian: bool = False) -> bytes:
    """Writer half (tests/sinks): an APP1 Exif segment with one IFD0
    holding the supported tags. SHORT for orientation, ASCII for the
    string tags."""
    import struct as _s
    bo = ">" if big_endian else "<"
    tag_ids = sorted(t for t, name in _EXIF_TAGS.items()
                     if name in entries)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * len(tag_ids) + 4
    body, extra = b"", b""
    for t in tag_ids:
        v = entries[_EXIF_TAGS[t]]
        if t == 0x0112:
            body += _s.pack(bo + "HHI", t, 3, 1)
            body += _s.pack(bo + "H", int(v)) + b"\x00\x00"
        else:
            raw = str(v).encode("ascii") + b"\x00"
            body += _s.pack(bo + "HHI", t, 2, len(raw))
            if len(raw) <= 4:
                body += raw.ljust(4, b"\x00")
            else:
                body += _s.pack(bo + "I", data_off + len(extra))
                extra += raw
    tiff = ((b"MM" if big_endian else b"II")
            + _s.pack(bo + "H", 42) + _s.pack(bo + "I", ifd_off)
            + _s.pack(bo + "H", len(tag_ids)) + body
            + _s.pack(bo + "I", 0) + extra)
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def parse_exif(data: Optional[bytes]) -> dict:
    """Real EXIF extraction from a JPEG's APP1 segment: finds the
    'Exif\\0\\0' APP1 marker, reads the TIFF header (II/MM byte order,
    magic 42), and walks IFD0's 12-byte entries for the common tags
    (make, model, orientation, datetime). Returns {} when absent or
    malformed — EXIF is optional metadata, never a decode failure."""
    if not data or data[:2] != b"\xff\xd8":
        return {}
    try:
        i, n = 2, len(data)
        while i + 4 <= n and data[i] == 0xFF:
            marker, seglen = data[i + 1], struct.unpack(
                ">H", data[i + 2:i + 4])[0]
            if marker == 0xE1 and data[i + 4:i + 10] == b"Exif\x00\x00":
                return _parse_tiff_ifd0(data[i + 10:i + 2 + seglen])
            if marker == 0xDA:           # start of scan: no EXIF ahead
                break
            i += 2 + seglen
    except (struct.error, IndexError):
        pass
    return {}


def _parse_tiff_ifd0(t: bytes) -> dict:
    import struct as _s
    if len(t) < 8 or t[:2] not in (b"II", b"MM"):
        return {}
    bo = "<" if t[:2] == b"II" else ">"
    if _s.unpack(bo + "H", t[2:4])[0] != 42:
        return {}
    ifd = _s.unpack(bo + "I", t[4:8])[0]
    if ifd + 2 > len(t):
        return {}
    count = _s.unpack(bo + "H", t[ifd:ifd + 2])[0]
    out = {}
    for k in range(count):
        e = ifd + 2 + 12 * k
        if e + 12 > len(t):
            break
        tag, typ, cnt = _s.unpack(bo + "HHI", t[e:e + 8])
        name = _EXIF_TAGS.get(tag)
        if name is None:
            continue
        if typ == 3 and cnt == 1:                    # SHORT
            out[name] = _s.unpack(bo + "H", t[e + 8:e + 10])[0]
        elif typ == 2:                               # ASCII
            raw = (t[e + 8:e + 8 + cnt] if cnt <= 4 else
                   t[(o := _s.unpack(bo + "I", t[e + 8:e + 12])[0]):
                     o + cnt])
            out[name] = raw.split(b"\x00")[0].decode("ascii", "replace")
    return out


def extract_exif(df: DataFrame, binary_col: str = "image") -> DataFrame:
    """(all input columns, exif struct<make,model,datetime:string,
    orientation:int>) — one Arrow pass; nulls when absent."""
    out_schema = StructType(df.schema.fields + [StructField(
        "exif", StructType([StructField("make", StringType()),
                            StructField("model", StringType()),
                            StructField("datetime", StringType()),
                            StructField("orientation", IntegerType())]))])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ex = []
            for b in pdf[binary_col]:
                d = parse_exif(bytes(b) if b is not None else None)
                ex.append((d.get("make"), d.get("model"),
                           d.get("datetime"), d.get("orientation")))
            pdf = pdf.copy()
            pdf["exif"] = ex
            yield pdf

    return df.mapInPandas(batches, out_schema)


# ---------------------------------------------------------------------------
# MP3 frame-header metadata (no decode)
# ---------------------------------------------------------------------------

_MP3_BITRATES_V1L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                      192, 224, 256, 320, 0)
_MP3_RATES_V1 = (44100, 48000, 32000, 0)


def build_mp3_frames(n_frames: int, bitrate_idx: int = 9,
                     rate_idx: int = 0) -> bytes:
    """Writer half (tests): a sequence of MPEG-1 Layer III frames with
    correct sync/header fields and zeroed payloads."""
    frames = []
    for _ in range(n_frames):
        br = _MP3_BITRATES_V1L3[bitrate_idx] * 1000
        sr = _MP3_RATES_V1[rate_idx]
        size = 144 * br // sr           # padding bit 0
        hdr = (0xFFF << 20) | (0b11 << 19) | (0b01 << 17) | (1 << 16) \
            | (bitrate_idx << 12) | (rate_idx << 10) | (0b00 << 6)
        frames.append(hdr.to_bytes(4, "big") + bytes(size - 4))
    return b"".join(frames)


def parse_mp3_metadata(data: Optional[bytes]
                       ) -> Tuple[Optional[int], Optional[int],
                                  Optional[int], Optional[float]]:
    """(sample_rate, bitrate_kbps, n_frames, est_duration_s) from a
    real MPEG-1 Layer III frame-header walk (11-bit sync, version/layer
    bits, bitrate + samplerate indexes; frame size = 144*bitrate/rate +
    padding; 1152 samples per frame). Skips an ID3v2 prefix. Stops at
    the first malformed header (truncated files report the valid
    prefix); returns (None,)*4 for non-MP3 payloads."""
    if not data or len(data) < 4:
        return None, None, None, None
    i = 0
    if data[:3] == b"ID3" and len(data) >= 10:  # ID3v2: syncsafe size
        i = 10 + ((data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
                  | (data[8] & 0x7F) << 7 | (data[9] & 0x7F))
    n_frames, sr, br = 0, None, None
    while i + 4 <= len(data):
        h = int.from_bytes(data[i:i + 4], "big")
        if (h >> 21) != 0x7FF:
            break
        version, layer = (h >> 19) & 3, (h >> 17) & 3
        if version != 0b11 or layer != 0b01:     # MPEG-1 Layer III only
            break
        br_i, sr_i, pad = (h >> 12) & 0xF, (h >> 10) & 3, (h >> 9) & 1
        if br_i in (0, 15) or sr_i == 3:
            break
        fr_sr = _MP3_RATES_V1[sr_i]
        fr_br = _MP3_BITRATES_V1L3[br_i] * 1000
        size = 144 * fr_br // fr_sr + pad
        if size < 4 or i + size > len(data):
            break
        if n_frames == 0:
            sr, br = fr_sr, _MP3_BITRATES_V1L3[br_i]
        n_frames += 1
        i += size
    if n_frames == 0:
        return None, None, None, None
    return sr, br, n_frames, round(n_frames * 1152 / sr, 6)


def extract_mp3_metadata(df: DataFrame,
                         binary_col: str = "audio") -> DataFrame:
    """(all input columns, mp3 struct<sample_rate:int,bitrate_kbps:int,
    n_frames:int,est_duration_s:double>) — frame-header walk only, no
    decode; one Arrow pass, nulls for non-MP3 payloads."""
    out_schema = StructType(df.schema.fields + [StructField(
        "mp3", StructType([StructField("sample_rate", IntegerType()),
                           StructField("bitrate_kbps", IntegerType()),
                           StructField("n_frames", IntegerType()),
                           StructField("est_duration_s", DoubleType())]))])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["mp3"] = [parse_mp3_metadata(
                bytes(b) if b is not None else None)
                for b in pdf[binary_col]]
            yield pdf

    return df.mapInPandas(batches, out_schema)


def build_phash_store(reference: DataFrame,
                      store_name: str,
                      binary_col: str = "image",
                      id_col: str = "doc_id",
                      max_hamming: int = 0,
                      num_blocks: int = 4,
                      num_buckets: int = 8,
                      mode: str = "overwrite",
                      prov: tuple[str, int] | None = None,
                      hashed: DataFrame | None = None) -> None:
    """Persist a reference image corpus's perceptual-hash dedup index —
    the MULTIMODAL member of the bucketed incremental-store family
    (text twins: `dedup.build_exact_store` / `build_minhash_store` /
    `build_span_store`). Reference images decode + pHash ONCE at build;
    ingest batches then dedup against the index with zero Exchange on
    the store side and no re-decode of the reference.

    The index is over DISTINCT reference pHashes, not image ids — the
    dedup verdict only needs "is some reference hash within
    max_hamming bits", and distinct-level candidates keep degenerate
    corpora (thousands of images sharing one hash — planted dup
    families, solid-color frames) from exploding the block join
    quadratically at the id level (measured 104M candidate rows vs
    ~200 on the same planted corpus). Tables: ``{store}_blocks``
    (ph, bk) — the full hash carried alongside each pigeonhole
    bit-block key, bucketed by bk, so candidates arrive verify-ready
    with zero Exchange on the store side; ``{store}_members``
    (ph, id) — which reference images carry each hash, consulted ONLY
    by `remove_from_phash_store` so a per-image takedown retires a
    family fingerprint exactly when its LAST member is removed (the
    serving path never reads it); plus ``{store}_meta``
    (max_hamming, num_blocks, num_buckets). ``mode='append'`` grows
    the index bucket-aligned after a knob check; appending content
    whose hash was fully tombstoned by `remove_from_phash_store` does
    NOT resurrect the family — compact first, then append (see the
    takedown docstring's re-add contract).

    ``hashed`` (an optional precomputed ``image_phash`` projection —
    (id_col, phash), nullable phash) skips the decode+hash pass over
    ``reference``: a lifecycle query that builds, removes and serves
    from the SAME images computes ONE hash pass and threads it through
    every step (the `minhash_profile` pattern). When given,
    ``reference`` is ignored (any frame on the session); pass a
    checkpointed profile — it is consumed twice here."""
    spark = reference.sparkSession
    # the block rule validates the radius before any table is touched
    keys = _phash_blocks("ph", num_blocks, max_hamming)
    m = store.begin_build(spark, store_name, mode,
                          ("_blocks", "_members", "_meta"),
                          validate={"max_hamming": max_hamming,
                                    "num_blocks": num_blocks})
    if m is not None:
        num_buckets = int(m["num_buckets"])   # appends stay aligned
        # A pre-per-image-takedown store (built before _members
        # existed) passes the knob check above but would get an
        # INCOMPLETE members table here — saveAsTable('append') would
        # create it holding only this batch, remove_from_phash_store's
        # members guard would then pass, and a takedown of any
        # pre-append image would find no member rows, compute "dead"
        # as empty and silently no-op: the removed image's hash keeps
        # flagging dups — a silent right-to-be-forgotten violation.
        # Same loud-failure contract as the missing-knob / legacy-log
        # paths.
        if not spark.catalog.tableExists(f"{store_name}_members"):
            raise ValueError(
                f"store {store_name} predates per-image takedowns "
                f"(no _members table); rebuild it with the current "
                f"build_phash_store before appending (an append-"
                f"created members table would hold only the new "
                f"batch and silently break takedowns of older "
                f"images)")
    if hashed is not None:
        hp = (hashed.select(F.col("phash").alias("ph"),
                            F.col(id_col).alias("id"))
              .filter(F.col("ph").isNotNull()))
    else:
        hp = (image_phash(reference, binary_col)
              .select(F.col("phash").alias("ph"),
                      F.col(id_col).alias("id"))
              .filter(F.col("ph").isNotNull())
              .localCheckpoint())
    blocks = hp.select("ph").distinct().select(
        "ph", F.explode(keys).alias("bk"))
    members = hp.dropDuplicates(["id"])
    # provenance stamps (see build_bm25_index): a guarded streaming
    # append marks its rows so a crash between apply and ingest-log
    # write rolls back convergently (only THIS batch's block/member
    # rows are removed — a family indexed by earlier batches keeps
    # its own stamped rows).
    if mode != "append" or store.table_has_prov(
            spark, f"{store_name}_blocks"):
        rid, bid = prov if prov is not None else (None, None)
        blocks = store.with_prov(blocks, rid, bid)
        members = store.with_prov(members, rid, bid)
    store.write_bucketed(blocks, f"{store_name}_blocks", "bk",
                         num_buckets, mode)
    store.write_bucketed(members,
                         f"{store_name}_members", "ph", num_buckets,
                         mode)
    if mode != "append":
        store.write_meta(spark, store_name,
                         max_hamming=int(max_hamming),
                         num_blocks=int(num_blocks),
                         num_buckets=int(num_buckets))


def remove_from_phash_store(images: DataFrame,
                            store_name: str,
                            binary_col: str = "image",
                            id_col: str = "doc_id",
                            hashed: DataFrame | None = None) -> None:
    """PER-IMAGE takedown from a persisted pHash dedup index — the
    GDPR-shaped contract: removing one image of a visually-identical
    family decrements that family's membership; the family fingerprint
    (its distinct hash) is tombstoned only when its LAST member is
    removed, so the surviving copies keep deduping future crawls.
    (Before round 11 removal was by HASH and retired the whole family
    on the first member's takedown — correct for dedup bookkeeping,
    surprising for per-image removal requests.)

    Mechanics, all O(removed ∪ their families), no rebuild: the
    removed images decode + pHash once; their (id, ph) rows append to
    ``{store}_removed_ids`` (idempotent — already-removed ids are
    skipped); then, for exactly the REQUESTED hashes, survivorship is
    recomputed from ``{store}_members`` minus all removed ids, and
    hashes with zero survivors append to ``{store}_tombstones`` (which
    `incremental_phash_dedup` anti-joins). Deadness is recomputed from
    the full tables on every call — not carried incrementally — so
    re-running after a crash between the two appends heals the
    tombstone side. `store.compact(kind='phash')` applies everything
    physically (drops dead block rows and removed member rows) and
    clears both bookkeeping tables.

    Re-ADDING removed content requires that compaction FIRST — same
    contract as the id-keyed store kinds: while a family's tombstone
    stands, a `build_phash_store(mode='append')` of an image with the
    same hash grows members/blocks but the serving anti-join still
    hides the hash, and `store.compact(kind='phash')` applies
    tombstones physically (dropping the dead family's rows INCLUDING
    any appended-while-tombstoned ones). Compact first — clearing the
    tombstones — then append the re-added content.

    ``hashed`` (an optional precomputed ``image_phash`` projection —
    (id_col, phash), nullable phash, covering the removed images) skips
    the decode+hash pass over ``images``; when given, ``images`` is
    ignored (any frame on the session). Pass a checkpointed profile —
    it feeds both bookkeeping appends."""
    spark = images.sparkSession
    if not spark.catalog.tableExists(f"{store_name}_members"):
        raise ValueError(
            f"store {store_name} predates per-image takedowns (no "
            f"_members table); rebuild it with the current "
            f"build_phash_store before removing images")
    nbuck = int(store.read_meta(spark, store_name)["num_buckets"])
    if hashed is not None:
        hashed = (hashed.select(F.col(id_col).alias("id"),
                                F.col("phash").alias("ph"))
                  .filter(F.col("ph").isNotNull())
                  .dropDuplicates(["id"]))
    else:
        hashed = (image_phash(images, binary_col)
                  .select(F.col(id_col).alias("id"),
                          F.col("phash").alias("ph"))
                  .filter(F.col("ph").isNotNull())
                  .dropDuplicates(["id"]).localCheckpoint())
    rm_table = f"{store_name}_removed_ids"
    new_rm = hashed
    if spark.catalog.tableExists(rm_table):
        new_rm = new_rm.join(spark.table(rm_table), "id", "left_anti")
    store.write_bucketed(new_rm.localCheckpoint(), rm_table, "ph",
                          nbuck, "append")
    spark.catalog.refreshTable(rm_table)
    # A requested family is dead iff it IS indexed and NO member
    # survives the full removed-ids set ("present minus survivors" —
    # never tombstone a hash the index doesn't hold, or a future
    # append of identical content would be silently hidden until
    # compaction). `affected` is tiny (the takedown batch), so it
    # broadcasts into the bucketed members scan.
    affected = hashed.select("ph").distinct()
    fam = (spark.table(f"{store_name}_members")
           .join(F.broadcast(affected), "ph").localCheckpoint())
    survivors = (fam.join(spark.table(rm_table).select("id"), "id",
                          "left_anti")
                 .select("ph").distinct())
    dead = fam.select("ph").distinct().join(survivors, "ph",
                                            "left_anti")
    ts_table = f"{store_name}_tombstones"
    if spark.catalog.tableExists(ts_table):
        dead = dead.join(spark.table(ts_table), "ph", "left_anti")
    store.write_bucketed(dead.localCheckpoint(), ts_table, "ph",
                          nbuck, "append")
    spark.catalog.refreshTable(ts_table)


def _phash_blocks(hash_col: str, num_blocks: int, max_hamming: int):
    """The pHash store's block keys: `dedup._hamming_blocks` over the
    63-bit hash, each block as the string 'block_idx:block_val'."""
    return F.transform(
        D._hamming_blocks(F.col(hash_col), _PHASH_BLOCK * _PHASH_BLOCK - 1,
                          num_blocks, max_hamming),
        lambda v, i: F.concat_ws(":", i.cast("string"), v.cast("string")))


def incremental_phash_dedup(new_images: DataFrame,
                            store_name: str,
                            binary_col: str = "image",
                            id_col: str = "doc_id",
                            hashed: DataFrame | None = None) -> DataFrame:
    """Flag ingest-batch images whose pHash is within the store's
    ``max_hamming`` bits of any indexed reference hash — the
    incremental-crawl image dedup flow: batch images decode + hash
    once, the comparison runs at the DISTINCT-hash level (batch hash x
    reference hash — degenerate-corpus-proof, see `build_phash_store`),
    candidates come from the bucketed block join with zero Exchange on
    the store side and arrive verify-ready (the store row carries the
    full hash), and verdicts map back to image ids by one small join.
    Returns (id_col, phash, is_dup); null-phash rows (undecodable
    payloads) pass through with is_dup = false.

    ``hashed`` (an optional precomputed ``image_phash`` projection —
    (id_col, phash), nullable phash, covering the batch) skips the
    decode+hash pass over ``new_images``; when given, ``new_images``
    is ignored (any frame on the session). Pass a checkpointed
    profile — it feeds both the block probe and the verdict join."""
    spark = new_images.sparkSession
    m = store.read_meta(spark, store_name)
    max_hamming = int(m["max_hamming"])
    num_blocks = int(m["num_blocks"])
    nbuck = int(m["num_buckets"])
    if hashed is not None:
        hashed = hashed.select(F.col(id_col), "phash")
    else:
        hashed = (image_phash(new_images, binary_col)
                  .select(F.col(id_col), "phash").localCheckpoint())
    bblocks = (hashed.filter(F.col("phash").isNotNull())
               .select("phash").distinct()
               .select(F.col("phash").alias("__h__"),
                       F.explode(_phash_blocks("phash", num_blocks,
                                               max_hamming)).alias("bk"))
               .repartition(nbuck, "bk"))
    sblocks = spark.table(f"{store_name}_blocks")
    # Logical takedowns (`remove_from_phash_store`): tombstoned hashes
    # stop flagging batch images (size-guarded broadcast anti-join on
    # the bucketed scan — no exchange).
    ts = store.tombstones(spark, store_name)
    if ts is not None:
        sblocks = sblocks.join(ts, "ph", "left_anti")
    dup_hashes = D._hamming_probe(bblocks, sblocks, ["bk"], "__h__", "ph",
                                  max_hamming, F.col("__h__").alias("phash"))
    return (hashed.join(dup_hashes.withColumn("__dup__", F.lit(True)),
                        "phash", "left")
            .select(id_col, "phash",
                    F.coalesce("__dup__", F.lit(False)).alias("is_dup")))
