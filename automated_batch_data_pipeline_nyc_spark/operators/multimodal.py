"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct —
the lakehouse-native layout: bytes travel inside Parquet/Arrow pages,
metadata stays queryable/prunable without touching payloads.

The decode/feature kernels are Pandas-UDF stages over ``mapInPandas``
(Arrow-batched).  The kernels are REAL, stdlib-only codecs (no
PIL/ffmpeg/librosa needed):

- image: PNG IHDR / JPEG SOFn / GIF / BMP header parse for true
  width x height; full PNG pixel decode (zlib inflate + filter
  reconstruction) and encode for the resize stage;
- audio: RIFF/WAVE chunk walk (fmt / data) for true sample rate,
  channel count and duration, plus real RMS over the PCM samples;
- video: ISO-BMFF (MP4) box walk for the real sample (frame) count
  from ``stsz`` and duration from ``mvhd``.

What stdlib cannot do — JPEG pixel decode, compressed-video frame
extraction, perceptual features — stays out of scope; unparseable or
unsupported payloads yield NULL feature columns (never a crash, never
a fake number).

Scale notes:
- ``mapInPandas`` streams Arrow batches: decode memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` x max payload, not
  by partition size.
- Partition by content size before heavy decode (``repartition`` on a
  size bucket) so one 4 GB video doesn't skew a task.
- Every codec below is built by a FACTORY returning a closure:
  cloudpickle serializes closures by value, so Python workers never
  need this package on their PYTHONPATH.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MEDIA_META_SCHEMA",
    "attach_media_meta",
    "decode_image_features",
    "resize_images",
    "extract_audio_features",
    "sample_video_frames",
    "make_image_header_parser",
    "make_png_codec",
    "make_wav_parser",
    "make_mp4_parser",
    "sniff_media_format",
    "triage_and_decode",
    "synthesize_png_payloads",
    "synthesize_wav_payloads",
    "synthesize_mp4_payloads",
    "synthesize_mixed_payloads",
]

#: Metadata struct carried beside every binary payload column.
MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_type", T.StringType(), False),   # image|audio|video
    T.StructField("format", T.StringType(), True),        # png|wav|mp4|...
    T.StructField("size_bytes", T.LongType(), False),
    T.StructField("content_md5", T.StringType(), False),
])


# ---------------------------------------------------------------------------
# Real codecs (stdlib + numpy), as closure factories
# ---------------------------------------------------------------------------

def make_image_header_parser():
    """Real image header parser: ``parse(payload) -> (format, width,
    height)`` or ``(None, None, None)``.

    Formats (all dimension fields read straight from the container
    spec, no pixel decode):

    - PNG — signature + IHDR (first chunk, big-endian u32 pair);
    - JPEG — marker scan to the first SOFn (C0-C3, C5-C7, C9-CB,
      CD-CF) frame header (big-endian height, width);
    - GIF — 87a/89a logical screen descriptor (little-endian u16);
    - BMP — BITMAPINFOHEADER (LE i32, height may be negative =
      top-down) or the ancient BITMAPCOREHEADER (LE u16).

    Dimensions outside ``[0, 2**31)`` (possible for PNG u32 and BMP
    i32 fields) come back NULL: consumers materialize width/height as
    Arrow Int32, and a hostile header must degrade like any other
    corrupt payload instead of raising mid-job.

    Returned from a factory as a closure so mapInPandas kernels can
    embed it without importing this package on workers.
    """
    import struct

    def _dim(v):
        # PNG carries u32 dims and BMP signed i32: a corrupt/hostile
        # header can hold a value outside int32, which would raise in
        # the consumers' Arrow Int32 materialization and fail the whole
        # job.  Degrade to NULL like any other unparseable payload.
        return v if v is not None and 0 <= v < 2**31 else None

    def parse(payload):
        if payload is None or len(payload) < 10:
            return None, None, None
        b = bytes(payload)
        if b[:8] == b"\x89PNG\r\n\x1a\n":
            if len(b) >= 24 and b[12:16] == b"IHDR":
                w, h = struct.unpack(">II", b[16:24])
                return "png", _dim(w), _dim(h)
            return None, None, None
        if b[:2] == b"\xff\xd8":
            i, n = 2, len(b)
            while i + 4 <= n:
                if b[i] != 0xFF:
                    return None, None, None  # desynced marker stream
                marker = b[i + 1]
                if marker == 0xFF:
                    i += 1  # fill byte
                    continue
                if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
                    i += 2  # standalone marker, no length field
                    continue
                seglen = struct.unpack(">H", b[i + 2:i + 4])[0]
                if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                              0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    if i + 9 <= n:
                        hh, ww = struct.unpack(">HH", b[i + 5:i + 9])
                        return "jpeg", ww, hh
                    return None, None, None
                if marker == 0xDA:  # start of scan without SOF
                    return None, None, None
                i += 2 + seglen
            return None, None, None
        if b[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", b[6:10])
            return "gif", w, h
        if b[:2] == b"BM" and len(b) >= 26:
            hdr_size = struct.unpack("<I", b[14:18])[0]
            if hdr_size >= 40:
                w, h = struct.unpack("<ii", b[18:26])
                # height may be negative = top-down; abs(-2**31)
                # overflows int32, _dim nulls it like negative width
                return "bmp", _dim(w), _dim(abs(h))
            if hdr_size == 12 and len(b) >= 22:
                w, h = struct.unpack("<HH", b[18:22])
                return "bmp", w, h
        return None, None, None

    return parse


def make_png_codec():
    """Real PNG pixel codec (zlib + numpy): ``(decode, encode)``.

    ``decode(payload) -> ndarray (h, w, channels) uint8 | None`` —
    bit-depth-8, non-interlaced, color types 0/2/4/6 (gray, RGB,
    gray+alpha, RGBA).  Applies the full scanline filter spec
    (None/Sub/Up/Average/Paeth); Up/None reconstruct vectorized, the
    serial filters fall back to a per-byte loop (correctness path for
    external files — our own encoder emits filter 0 everywhere).

    ``encode(arr) -> bytes`` — filter 0, single zlib-compressed IDAT,
    CRC-correct chunks.  Round-trips bit-exactly through ``decode``.
    """
    import struct
    import zlib

    import numpy as np

    _channels = {0: 1, 2: 3, 4: 2, 6: 4}

    def decode(payload):
        if payload is None:
            return None
        b = bytes(payload)
        if b[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        i, n = 8, len(b)
        w = h = ctype = None
        idat = bytearray()
        while i + 8 <= n:
            clen = struct.unpack(">I", b[i:i + 4])[0]
            typ = b[i + 4:i + 8]
            if i + 12 + clen > n:
                return None
            body = b[i + 8:i + 8 + clen]
            if typ == b"IHDR":
                if clen != 13:
                    return None
                w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", body
                )
                if depth != 8 or interlace != 0 or ctype not in _channels:
                    return None
            elif typ == b"IDAT":
                idat += body
            elif typ == b"IEND":
                break
            i += 12 + clen
        if w is None or not idat:
            return None
        c = _channels[ctype]
        try:
            raw = zlib.decompress(bytes(idat))
        except zlib.error:
            return None
        stride = w * c
        if len(raw) != h * (stride + 1):
            return None
        out = np.zeros((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.int32)
        pos = 0
        for y in range(h):
            ftype = raw[pos]
            line = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(np.int32)
            pos += 1 + stride
            if ftype == 0:
                cur = line
            elif ftype == 2:  # Up
                cur = (line + prev) & 0xFF
            elif ftype in (1, 3, 4):  # Sub / Average / Paeth (serial)
                cur = np.zeros(stride, dtype=np.int32)
                for x in range(stride):
                    a = int(cur[x - c]) if x >= c else 0
                    up = int(prev[x])
                    ul = int(prev[x - c]) if x >= c else 0
                    if ftype == 1:
                        pred = a
                    elif ftype == 3:
                        pred = (a + up) // 2
                    else:
                        p = a + up - ul
                        pa, pb, pc = abs(p - a), abs(p - up), abs(p - ul)
                        pred = a if (pa <= pb and pa <= pc) else (
                            up if pb <= pc else ul
                        )
                    cur[x] = (int(line[x]) + pred) & 0xFF
            else:
                return None
            out[y] = cur.astype(np.uint8)
            prev = cur
        return out.reshape(h, w, c)

    def encode(arr):
        a = np.ascontiguousarray(arr, dtype=np.uint8)
        if a.ndim == 2:
            a = a[:, :, None]
        h, w, c = a.shape
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
        # filter byte 0 per scanline, then one deflate stream
        filtered = np.zeros((h, w * c + 1), dtype=np.uint8)
        filtered[:, 1:] = a.reshape(h, w * c)
        raw = filtered.tobytes()

        def chunk(typ, body):
            return (
                struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b"")
        )

    return decode, encode


def make_wav_parser():
    """Real RIFF/WAVE parser: ``parse(payload) -> (sample_rate,
    n_channels, bits_per_sample, duration_s, rms)`` or all-``None``.

    Walks the chunk list (word-aligned, per spec), accepts PCM
    (format tag 1) only, and computes the RMS over the ACTUAL samples
    (16-bit signed LE or 8-bit unsigned), normalized to [0, 1] —
    a real signal statistic, not a hash-derived stand-in.
    """
    import struct

    import numpy as np

    def parse(payload):
        none = (None, None, None, None, None)
        if payload is None or len(payload) < 44:
            return none
        b = bytes(payload)
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            return none
        i, n = 12, len(b)
        rate = channels = bits = None
        data = None
        while i + 8 <= n:
            cid = b[i:i + 4]
            csize = struct.unpack("<I", b[i + 4:i + 8])[0]
            body = b[i + 8:i + 8 + csize]
            if cid == b"fmt " and csize >= 16 and len(body) >= 16:
                fmt_tag, channels, rate = struct.unpack("<HHI", body[:8])
                bits = struct.unpack("<H", body[14:16])[0]
                if fmt_tag != 1:  # PCM only
                    return none
            elif cid == b"data":
                if len(body) < csize:
                    # truncated file: declared data chunk extends past the
                    # payload — surface NULLs, never partial-file stats
                    return none
                data = body
            i += 8 + csize + (csize & 1)  # chunks are word-aligned
        if rate is None or data is None or not channels or not bits:
            return none
        bps = bits // 8
        if bps == 0:
            return none
        frames = len(data) // (bps * channels)
        duration = frames / rate
        count = frames * channels
        if bits == 16:
            x = np.frombuffer(data, "<i2", count).astype(np.float64) / 32768.0
        elif bits == 8:
            x = (np.frombuffer(data, np.uint8, count).astype(np.float64)
                 - 128.0) / 128.0
        else:
            return rate, channels, bits, duration, None
        rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
        return rate, channels, bits, duration, rms

    return parse


def make_mp4_parser():
    """Real ISO-BMFF (MP4) box walker: ``parse(payload) -> (n_frames,
    duration_s)`` or ``(None, None)``.

    Recurses moov/trak/mdia/minf/stbl; ``n_frames`` is the first
    track's ``stsz`` sample count, ``duration_s`` is
    mvhd duration / timescale (v0 and v1 headers).  Handles 64-bit
    box sizes.  This is the real container index — what ffprobe reads
    for ``nb_samples`` — not a decode.
    """
    import struct

    _containers = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

    def parse(payload):
        if payload is None or len(payload) < 16:
            return None, None
        b = bytes(payload)
        if b[4:8] != b"ftyp":
            return None, None
        found = {"frames": None, "dur": None}

        def walk(lo, hi, depth):
            i = lo
            while i + 8 <= hi and depth < 8:
                size = struct.unpack(">I", b[i:i + 4])[0]
                typ = b[i + 4:i + 8]
                body = i + 8
                if size == 1:
                    if i + 16 > hi:
                        return
                    size = struct.unpack(">Q", b[i + 8:i + 16])[0]
                    body = i + 16
                elif size == 0:  # box extends to end of enclosing scope
                    size = hi - i
                if size < 8 or i + size > hi:
                    return
                end = i + size
                if typ in _containers:
                    walk(body, end, depth + 1)
                elif typ == b"mvhd" and found["dur"] is None and body < end:
                    v = b[body]
                    if v == 0 and body + 20 <= end:
                        ts, dur = struct.unpack(">II", b[body + 12:body + 20])
                        if ts:
                            found["dur"] = dur / ts
                    elif v == 1 and body + 32 <= end:
                        ts = struct.unpack(">I", b[body + 20:body + 24])[0]
                        dur = struct.unpack(">Q", b[body + 24:body + 32])[0]
                        if ts:
                            found["dur"] = dur / ts
                elif typ == b"stsz" and found["frames"] is None and body + 12 <= end:
                    count = struct.unpack(">I", b[body + 8:body + 12])[0]
                    found["frames"] = count
                i = end

        walk(0, len(b), 0)
        return found["frames"], found["dur"]

    return parse


# ---------------------------------------------------------------------------
# Deterministic payload synthesizers (test/fixture generators)
# ---------------------------------------------------------------------------

def synthesize_png_payloads(df: DataFrame, id_col: str) -> DataFrame:
    """(id) -> (id, payload): a REAL solid-color PNG per row, dimensions
    and color derived deterministically from the id (width = 16 + id %
    32, height = 16 + (id * 7) % 32, RGB = id % 256 / id*3 % 256 /
    id*5 % 256).  Lets decode paths be verified against an arithmetic
    oracle while exercising genuine container bytes end-to-end.
    """
    encode = make_png_codec()[1]
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def build(i: int) -> bytes:
            w, h = 16 + i % 32, 16 + (i * 7) % 32
            rgb = _np.empty((h, w, 3), dtype=_np.uint8)
            rgb[:, :, 0] = i % 256
            rgb[:, :, 1] = (i * 3) % 256
            rgb[:, :, 2] = (i * 5) % 256
            return encode(rgb)

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield _pd.DataFrame({"id": ids, "payload": [build(int(i)) for i in ids]})

    return df.select(id_col).mapInPandas(kernel, schema)


def synthesize_wav_payloads(df: DataFrame, id_col: str) -> DataFrame:
    """(id) -> (id, payload): a REAL mono 16-bit PCM WAV per row.
    sample_rate = (8000|16000|44100)[id % 3], n_frames = 100 + (id %
    50) * 10, constant amplitude 100 + id % 20000 — so duration and
    RMS are exact, SQL-expressible functions of the id (rms =
    amplitude / 32768, exact in IEEE double for a constant signal).
    """
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as _np
        import pandas as _pd

        def build(i: int) -> bytes:
            rate = (8000, 16000, 44100)[i % 3]
            n = 100 + (i % 50) * 10
            amp = 100 + i % 20000
            data = _np.full(n, amp, dtype="<i2").tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            riff_size = 4 + (8 + len(fmt)) + (8 + len(data))
            return (
                b"RIFF" + struct.pack("<I", riff_size) + b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
            )

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield _pd.DataFrame({"id": ids, "payload": [build(int(i)) for i in ids]})

    return df.select(id_col).mapInPandas(kernel, schema)


def synthesize_mixed_payloads(df: DataFrame, id_col: str) -> DataFrame:
    """(id) -> (id, payload): a mixed-media column cycling through all
    six sniffable containers plus plain text, by ``id % 7``:
    0=png (real pixels), 1=jpeg (SOF0 header), 2=gif, 3=bmp,
    4=wav (real PCM), 5=mp4 (real box tree), 6=UTF-8 text (no format).
    Fixture generator for the format-sniffing triage path.
    """
    png_encode = make_png_codec()[1]
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as _np
        import pandas as _pd

        def build(i: int) -> bytes:
            kind = i % 7
            if kind == 0:
                rgb = _np.full((4, 4, 3), i % 256, dtype=_np.uint8)
                return png_encode(rgb)
            if kind == 1:
                return (
                    b"\xff\xd8\xff\xc0" + struct.pack(">H", 17) + b"\x08"
                    + struct.pack(">HH", 16 + i % 64, 16 + (i * 3) % 64)
                    + b"\x03" + b"\x00" * 9
                )
            if kind == 2:
                return b"GIF89a" + struct.pack("<HH", 8 + i % 99, 8) + b"\x00" * 6
            if kind == 3:
                return (
                    b"BM" + struct.pack("<IHHI", 146, 0, 0, 54)
                    + struct.pack("<IiiHH", 40, 4 + i % 31, 4, 1, 24)
                    + b"\x00" * 100
                )
            if kind == 4:
                data = _np.full(64, 1 + i % 5000, dtype="<i2").tobytes()
                fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
                return (
                    b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                    + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", len(data)) + data
                )
            if kind == 5:
                def box(t: bytes, b: bytes) -> bytes:
                    return struct.pack(">I", 8 + len(b)) + t + b

                stsz = box(b"stsz", struct.pack(">B3xII", 0, 0, 1 + i % 30))
                moov = box(b"moov", box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stsz)))))
                return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov
            return f"plain text payload number {i}".encode()

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield _pd.DataFrame({"id": ids, "payload": [build(int(i)) for i in ids]})

    return df.select(id_col).mapInPandas(kernel, schema)


def synthesize_mp4_payloads(df: DataFrame, id_col: str) -> DataFrame:
    """(id) -> (id, payload): a minimal but SPEC-VALID MP4 box tree per
    row (ftyp + moov(mvhd, trak(mdia(minf(stbl(stsz)))))) with
    n_frames = 1 + id % 300 in stsz and duration n_frames/30 s at
    timescale 600 in mvhd.  No media data — this synthesizes the
    container *index* the frame-sampling planner reads, which is the
    part of MP4 stdlib can both write and verify.
    """
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import pandas as _pd

        def box(typ: bytes, body: bytes) -> bytes:
            return struct.pack(">I", 8 + len(body)) + typ + body

        def build(i: int) -> bytes:
            n_frames = 1 + i % 300
            timescale, dur = 600, (1 + i % 300) * 20  # 30 fps
            mvhd = box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, timescale, dur)
                       + b"\x00" * 80)
            stsz = box(b"stsz", struct.pack(">B3xII", 0, 0, n_frames))
            stbl = box(b"stbl", stsz)
            minf = box(b"minf", stbl)
            mdia = box(b"mdia", minf)
            trak = box(b"trak", mdia)
            moov = box(b"moov", mvhd + trak)
            ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
            return ftyp + moov

        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield _pd.DataFrame({"id": ids, "payload": [build(int(i)) for i in ids]})

    return df.select(id_col).mapInPandas(kernel, schema)


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------

def attach_media_meta(
    df: DataFrame, payload_col: str, media_type: str, fmt: str | None = None
) -> DataFrame:
    """Build the metadata struct from the payload — JVM-side only
    (octet length + md5), no decode."""
    p = F.col(payload_col)
    return df.withColumn(
        f"{payload_col}_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).cast("string").alias("format"),
            F.octet_length(p).cast("long").alias("size_bytes"),
            F.md5(p).alias("content_md5"),
        ),
    )


def sniff_media_format(
    df: DataFrame, payload_col: str, id_col: str
) -> DataFrame:
    """Classify an untyped binary column: id -> format in
    {png, jpeg, gif, bmp, wav, mp4} or NULL for unrecognized bytes.

    The triage scan a mixed media lake runs before routing payloads to
    type-specific decode stages — all three real parsers tried in
    sequence (image headers, RIFF/WAVE, ISO-BMFF), map-only, bounded
    memory via Arrow batches.

    Thin view over :func:`triage_and_decode` (one kernel to maintain —
    a new container format lands in both surfaces automatically); the
    image parser computes the dims it discards here either way.
    """
    return triage_and_decode(df, payload_col, id_col).select("id", "format")


def triage_and_decode(
    df: DataFrame, payload_col: str, id_col: str
) -> DataFrame:
    """Fused triage + image decode over an untyped binary column:
    id -> (format, width, height) in ONE Arrow-batched pass.

    The ingestion shape of a mixed media lake: ``binaryFile`` scan ->
    sniff the container from the BYTES (never the filename) -> route
    image payloads straight into the header decode, all inside one
    kernel.  Composing :func:`sniff_media_format` then
    :func:`decode_image_features` as separate stages would read every
    payload twice and join two corpus-sized map outputs on id — a
    shuffle that exists only to reunite columns this kernel can emit
    together.  Here the plan is scan -> one MapInPandas, zero Exchange:
    at 100 TB it scales with input splits alone.

    ``format`` is the sniffed container (png/jpeg/gif/bmp/wav/mp4, NULL
    for unrecognized bytes); ``width``/``height`` come from the real
    image header parse and are NULL for non-image payloads (audio/video
    dimensions live in their own typed extractors —
    :func:`extract_audio_features` / :func:`sample_video_frames`).
    """
    img = make_image_header_parser()
    wav = make_wav_parser()
    mp4 = make_mp4_parser()
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ])

    # closure-pure kernel (parsers are closures, pickled by value)
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def triage(b):
            f, w, h = img(b)
            if f is not None:
                return f, w, h
            if wav(b)[0] is not None:
                return "wav", None, None
            if mp4(b)[0] is not None:
                return "mp4", None, None
            return None, None, None

        for pdf in batches:
            fmts, ws, hs = [], [], []
            for b in pdf[payload_col]:
                f_, w, h = triage(b)
                fmts.append(f_)
                ws.append(w)
                hs.append(h)
            yield _pd.DataFrame({
                "id": pdf[id_col].astype("int64"),
                "format": _pd.Series(fmts, dtype="object"),
                "width": _pd.array(ws, dtype="Int32"),
                "height": _pd.array(hs, dtype="Int32"),
            })

    return df.select(id_col, payload_col).mapInPandas(kernel, schema)


def decode_image_features(
    df: DataFrame,
    payload_col: str,
    id_col: str,
) -> DataFrame:
    """Arrow-batched image decode: id -> (format, width, height,
    aspect).

    The kernel is the REAL header parser (PNG/JPEG/GIF/BMP — see
    :func:`make_image_header_parser`): true dimensions straight from
    the container, NULLs for unrecognized payloads.
    """
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("aspect", T.DoubleType(), True),
    ])
    parse = make_image_header_parser()

    # closure-pure kernel: `parse` is a closure (pickled by value), so
    # workers never need this package on PYTHONPATH.
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            fmts, ws, hs = [], [], []
            for b in pdf[payload_col]:
                f_, w, h = parse(b)
                fmts.append(f_)
                ws.append(w)
                hs.append(h)
            out = _pd.DataFrame({
                "id": pdf[id_col].astype("int64"),
                "format": _pd.Series(fmts, dtype="object"),
                "width": _pd.array(ws, dtype="Int32"),
                "height": _pd.array(hs, dtype="Int32"),
            })
            out["aspect"] = out.width.astype("Float64") / out.height.astype("Float64")
            yield out

    return df.select(id_col, payload_col).mapInPandas(kernel, schema)


def resize_images(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    target: tuple[int, int] = (224, 224),
) -> DataFrame:
    """Binary-in/binary-out resize stage: (id, payload) ->
    (id, payload, width, height).

    The kernel is a REAL PNG pipeline: zlib pixel decode ->
    nearest-neighbor resample (numpy integer index maps, the classic
    thumbnailing kernel) -> PNG re-encode.  The output payload is a
    spec-valid PNG of the target dimensions that any decoder opens.
    Non-PNG / undecodable payloads yield NULL payload + dims (count
    them downstream; never a fake thumbnail).
    """
    tw, th = target
    if tw < 1 or th < 1:
        raise ValueError(f"target must be positive, got {target}")
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ])
    decode, encode = make_png_codec()

    # closure-pure kernel (png decode/encode closures pickled by value)
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def resize(payload: bytes) -> bytes | None:
            arr = decode(payload)
            if arr is None:
                return None
            h, w = arr.shape[:2]
            # nearest-neighbor index maps (floor((i + .5) * src / dst))
            ys = _np.minimum(((_np.arange(th) + 0.5) * h / th).astype(_np.int64), h - 1)
            xs = _np.minimum(((_np.arange(tw) + 0.5) * w / tw).astype(_np.int64), w - 1)
            return encode(arr[ys][:, xs])

        for pdf in batches:
            outs = [resize(b) for b in pdf[payload_col]]
            ok = [o is not None for o in outs]
            yield _pd.DataFrame({
                "id": pdf[id_col].astype("int64"),
                "payload": outs,
                "width": _pd.array([tw if k else None for k in ok], dtype="Int32"),
                "height": _pd.array([th if k else None for k in ok], dtype="Int32"),
            })

    return df.select(id_col, payload_col).mapInPandas(kernel, schema)


def extract_audio_features(
    df: DataFrame,
    payload_col: str,
    id_col: str,
) -> DataFrame:
    """Arrow-batched audio feature extraction: id -> (sample_rate,
    n_channels, bits_per_sample, duration_s, rms).

    The kernel is the REAL RIFF/WAVE parser + PCM RMS (see
    :func:`make_wav_parser`); non-WAV payloads yield NULLs.
    """
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("bits_per_sample", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ])
    parse = make_wav_parser()

    # closure-pure kernel (see decode_image_features note)
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            rows = [parse(b) for b in pdf[payload_col]]
            yield _pd.DataFrame({
                "id": pdf[id_col].astype("int64"),
                "sample_rate": _pd.array([r[0] for r in rows], dtype="Int32"),
                "n_channels": _pd.array([r[1] for r in rows], dtype="Int32"),
                "bits_per_sample": _pd.array([r[2] for r in rows], dtype="Int32"),
                "duration_s": _pd.array([r[3] for r in rows], dtype="Float64"),
                "rms": _pd.array([r[4] for r in rows], dtype="Float64"),
            })

    return df.select(id_col, payload_col).mapInPandas(kernel, schema)


def sample_video_frames(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    every_nth: int = 30,
) -> DataFrame:
    """Frame-sampling plan: one output row per sampled frame index.

    The kernel reads the REAL frame count from the MP4 container
    index (``stsz`` sample count — see :func:`make_mp4_parser`);
    payloads that aren't parseable MP4 emit no rows.  ``frame_md5`` is
    a deterministic per-(payload, frame) sampling KEY for downstream
    joins/dedup — pixel-content hashing would need a full video
    decoder, which stdlib cannot provide.
    """
    if every_nth < 1:
        raise ValueError(f"every_nth must be >= 1, got {every_nth}")
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_md5", T.StringType(), False),
    ])
    parse = make_mp4_parser()

    # closure-pure kernel (see decode_image_features note)
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        for pdf in batches:
            ids, idxs, fps = [], [], []
            for _id, payload in zip(pdf[id_col], pdf[payload_col]):
                n, _dur = parse(payload)
                if n is None:
                    continue
                for i in range(0, n, every_nth):
                    ids.append(int(_id))
                    idxs.append(i)
                    fps.append(
                        hashlib.md5(bytes(payload) + i.to_bytes(4, "big")).hexdigest()
                    )
            yield _pd.DataFrame({
                "id": _pd.Series(ids, dtype="int64"),
                "frame_idx": _pd.Series(idxs, dtype="int32"),
                "frame_md5": _pd.Series(fps, dtype="object"),
            })

    return df.select(id_col, payload_col).mapInPandas(kernel, schema)
