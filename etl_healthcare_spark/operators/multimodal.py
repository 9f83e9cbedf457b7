"""Multimodal columns: image/audio/video as opaque binary + typed metadata
(north-star capability, SURVEY §7.1 step 10; the reference's closest analog
is the opaque payload Buffer of libs/adapters, SURVEY §1.2).

Design:

* storage: ``binary`` payload column + a metadata struct (modality, mime,
  width/height/duration, byte_len, sha256) — the schema a 100 TB multimodal
  lake would carry in parquet;
* partitioning: by modality then hash-bucketed id, so decode stages fan out
  evenly and a per-modality filter prunes files;
* compute: `mapInPandas` over Arrow batches — the only sanctioned Python
  hot path, written once, in ``_run_rows``.  Batch shape (pandas DataFrame
  per partition slice) is exactly what a real decode (PIL/ffmpeg/
  torchcodec) would consume.

One runner, one row function per kernel.  ``_run_rows(src, schema, rows)``
runs the selected frame ``src`` = (id, *inputs) through one map-only
``mapInPandas``; ``rows(id, *inputs)`` returns the output rows of one input
row, each the tuple of the ``schema`` fields after ``id``.  The runner
prepends the id, turns a ``None`` row into NULL fields, and derives every
pandas dtype from the declared ``*_SCHEMA``, so a kernel names no dtype:

* a one-to-one parser returns ``[parse(payload)]`` — one row per input, and
  a payload it cannot decode (``parse`` gives None) is one row of NULLs;
* a fan-out kernel (``sample_frames``, ``audio_window_energy``,
  ``audio_autocorr``) returns its rows — none for an undecodable payload.

The parsers are pure byte arithmetic (struct unpack), no media libraries:

* ``decode_media_meta`` — a REAL decode: container headers (PNG IHDR, BMP
  DIB, GIF logical screen, JPEG SOF, RIFF/WAVE fmt chunk) parsed from the
  payload bytes, emitting genuine width/height/sample-rate; malformed
  payloads degrade to kind='unknown'.  The container walks (GIF blocks, PNG
  chunks, TIFF IFD, RIFF/AVI lists, DICOM elements, ISO-BMFF boxes, the ZIP
  central directory) and the uncompressed pixel/sample decodes (BMP, PCM16
  WAV) follow the same contract; every RIFF chunk is read by the one walk
  ``_riff_chunks``.
* ``decode_features`` — pixel/sample-level feature extraction, the one
  kernel outside the runner: its ``fake`` kernel works on whole pandas
  batches.  It must be requested EXPLICITLY (``kernel="fake"``) so
  pseudo-features can never be mistaken for real ones; a production
  deployment registers a PIL/soundfile kernel under its own name with the
  identical Arrow contract.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from ..functions.materialize import materialize

# the pandas dtype of each field type a kernel emits: nullable extension
# dtypes for integers and booleans, so a NULL field stays NULL instead of
# turning its column into floats
_PANDAS_DTYPE = {
    T.LongType: "Int64",
    T.IntegerType: "Int32",
    T.DoubleType: "float64",
    T.BooleanType: "boolean",
    T.StringType: "object",
}


def _payload(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """The (id, payload) frame a payload kernel runs over."""
    return df.select(F.col(id_col).alias("id"), F.col(payload_col).alias("payload"))


def _run_rows(
    src: DataFrame, schema: T.StructType, rows: Callable[..., Iterable[tuple | None]]
) -> DataFrame:
    """The Arrow row runner: each row of ``src`` = (id, *inputs) maps to the
    rows ``rows(id, *inputs)`` returns, each the tuple of the ``schema``
    fields after ``id`` (``None`` for all of them NULL), with the input's id
    prepended.  Map-only at any scale: no shuffle, and the payload bytes
    never leave the executor."""
    dtypes = [(f.name, _PANDAS_DTYPE[type(f.dataType)]) for f in schema.fields]
    nulls = (None,) * (len(dtypes) - 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = [
                (row[0], *(nulls if r is None else r))
                for row in b.itertuples(index=False, name=None)
                for r in rows(*row)
            ]
            cols = zip(*out) if out else [()] * len(dtypes)
            yield pd.DataFrame({n: pd.Series(c, dtype=d) for (n, d), c in zip(dtypes, cols)})

    return src.mapInPandas(run, schema=schema)


MEDIA_META = T.StructType(
    [
        T.StructField("modality", T.StringType(), False),  # image|audio|video|text
        T.StructField("mime", T.StringType(), True),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
    ]
)


def attach_media_meta(df: DataFrame, payload_col: str, modality: str, mime: str | None = None) -> DataFrame:
    """Typed metadata struct from an opaque binary column — pure expressions."""
    p = F.col(payload_col)
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(mime).cast("string").alias("mime"),
            F.octet_length(p).cast("long").alias("byte_len"),
            F.sha2(p, 256).alias("sha256"),
        ),
    )


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("feat_mean", T.DoubleType(), True),
        T.StructField("feat_dim", T.IntegerType(), True),
    ]
)


def _fake_decode_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for a media decode + feature extraction.

    A real implementation would decode bytes (PIL / soundfile / ffmpeg) and
    emit a feature vector; the container has no media libs, so this derives a
    deterministic pseudo-feature from the payload bytes.  The Arrow batch
    shape, schema, and partitioning are the real contract.
    """
    ids = batch["id"]
    payloads = batch["payload"]
    feat_mean = payloads.map(lambda b: (sum(b[:64]) / max(1, len(b[:64]))) if len(b) else None)
    return pd.DataFrame(
        {
            "id": ids,
            "byte_len": payloads.map(len),
            "feat_mean": feat_mean,
            "feat_dim": 64,
        }
    )


def decode_features(df: DataFrame, id_col: str, payload_col: str, *, kernel: str) -> DataFrame:
    """mapInPandas feature-extraction stage: Arrow-batched, partition-parallel.

    ``kernel`` is mandatory and currently only ``"fake"`` is registered (the
    deterministic payload-byte pseudo-feature — this container has no media
    libraries).  Requiring the flag keeps the stub impossible to mistake for
    a real pixel decode; real kernels plug in with the same batch contract.
    For genuine header-level decode (width/height/sample-rate) use
    :func:`decode_media_meta`, which is fully implemented."""
    if kernel != "fake":
        raise ValueError(
            f"unknown feature kernel {kernel!r}: only 'fake' is registered in "
            "this environment (no media libs); real header decode is "
            "decode_media_meta, and real pixel/sample stats for uncompressed "
            "BMP/WAV (which need no libs) are pixel_sample_stats"
        )
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _fake_decode_batch(b)

    return _payload(df, id_col, payload_col).mapInPandas(run, schema=DECODED_SCHEMA)


# --- real header decode ------------------------------------------------------

MEDIA_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # png|bmp|gif|jpeg|wav|unknown
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bits", T.IntegerType(), True),
    ]
)

_NONE6 = ("unknown", None, None, None, None, None)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _riff_chunks(b: bytes, pos: int, end: int):
    """(fourcc, body offset, body size) of each RIFF chunk in ``b[pos:end]``
    — the one RIFF walk (WAVE chunks, AVI lists): 4-byte id, LE32 size,
    body, padded to an even length."""
    while pos + 8 <= end:
        sz = struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        yield b[pos : pos + 4], pos + 8, sz
        pos += 8 + sz + (sz & 1)


def parse_media_header(b: bytes):
    """(kind, width, height, sample_rate, channels, bits) from container
    magic + header fields — PNG IHDR, BMP DIB, GIF logical screen descriptor,
    JPEG SOFn segment, RIFF/WAVE fmt chunk.  Pure byte arithmetic (struct
    unpack), no media libraries; anything malformed is kind='unknown'."""
    if b is None:
        return _NONE6
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
            w, h = struct.unpack(">II", b[16:24])
            return ("png", w, h, None, None, None)
        if b[:2] == b"BM" and len(b) >= 26:
            w, h = struct.unpack("<ii", b[18:26])
            return ("bmp", w, abs(h), None, None, None)  # negative h = top-down rows
        if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            return ("gif", w, h, None, None, None)
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            for cid, body, sz in _riff_chunks(b, 12, len(b)):
                if cid == b"fmt " and sz >= 16 and body + 16 <= len(b):
                    ch, sr = struct.unpack("<HI", b[body + 2 : body + 8])
                    bits = struct.unpack("<H", b[body + 14 : body + 16])[0]
                    return ("wav", None, None, sr, ch, bits)
            return _NONE6
        if b[:2] == b"\xff\xd8":
            off = 2
            while off + 4 <= len(b):
                if b[off] != 0xFF:
                    break
                marker = b[off + 1]
                if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
                    off += 2
                    continue
                seglen = struct.unpack(">H", b[off + 2 : off + 4])[0]
                if marker in _JPEG_SOF and off + 9 <= len(b):
                    h, w = struct.unpack(">HH", b[off + 5 : off + 9])
                    return ("jpeg", w, h, None, None, None)
                off += 2 + seglen
    except (struct.error, IndexError):
        pass
    return _NONE6


def decode_media_meta(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL media decode at the container-header level: width/height for
    PNG/BMP/GIF/JPEG, sample-rate/channels/bit-depth for WAV — parsed from
    the opaque ``binary`` payload inside the same Arrow-batched mapInPandas
    slot a pixel kernel occupies."""
    return _run_rows(
        _payload(df, id_col, payload_col),
        MEDIA_HEADER_SCHEMA,
        lambda _, p: [(0 if p is None else len(p), *parse_media_header(p))],
    )


# --- payload synthesis (test fixtures as column expressions) ----------------
# Genuine container headers built byte-for-byte from metadata columns — what
# lets an oracle predict decode_media_meta's output arithmetically while the
# engine parses real bytes.  CRC fields are zeroed (header parsers ignore
# them; only a full pixel decode would object).


def _be32(c) -> Column:
    return F.lpad(F.hex(c.cast("long")), 8, "0")


def _le32(c) -> Column:
    h = F.lpad(F.hex(c.cast("long")), 8, "0")
    return F.concat(F.substring(h, 7, 2), F.substring(h, 5, 2), F.substring(h, 3, 2), F.substring(h, 1, 2))


def _le16(c) -> Column:
    h = F.lpad(F.hex(c.cast("long")), 4, "0")
    return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))


def synth_png(width, height) -> Column:
    """33-byte PNG: signature + IHDR(width, height, 8-bit RGB)."""
    return F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A"),  # signature
            F.lit("0000000D49484452"),  # IHDR length + type
            _be32(width),
            _be32(height),
            F.lit("0802000000"),  # bit depth 8, color RGB, no interlace
            F.lit("00000000"),  # CRC (unchecked by header parse)
        )
    )


def synth_bmp(width, height) -> Column:
    """54-byte BMP: BITMAPFILEHEADER + BITMAPINFOHEADER(width, height, 24bpp)."""
    return F.unhex(
        F.concat(
            F.lit("424D"),  # 'BM'
            _le32(F.lit(54)),  # file size (header only)
            F.lit("00000000"),  # reserved
            _le32(F.lit(54)),  # pixel data offset
            _le32(F.lit(40)),  # DIB header size
            _le32(width),
            _le32(height),
            F.lit("01001800"),  # planes=1, bpp=24
            F.lit("00" * 24),  # compression/size/ppm/colors
        )
    )


def synth_wav(sample_rate, channels) -> Column:
    """44-byte canonical WAV: RIFF/WAVE + PCM fmt chunk + empty data chunk."""
    byte_rate = sample_rate * channels * F.lit(2)
    block_align = channels * F.lit(2)
    return F.unhex(
        F.concat(
            F.lit("52494646"),  # 'RIFF'
            _le32(F.lit(36)),  # riff size
            F.lit("57415645"),  # 'WAVE'
            F.lit("666D7420"),  # 'fmt '
            _le32(F.lit(16)),  # fmt chunk size
            F.lit("0100"),  # PCM
            _le16(channels),
            _le32(sample_rate),
            _le32(byte_rate),
            _le16(block_align),
            F.lit("1000"),  # 16 bits/sample
            F.lit("64617461"),  # 'data'
            _le32(F.lit(0)),  # empty data
        )
    )


def synth_bmp_with_pixels(width, height, seed) -> Column:
    """A COMPLETE uncompressed 24-bpp BMP: the synth_bmp header plus real
    pixel data — byte ``i`` of the pixel array is ``(i*37 + seed) % 256``, an
    arithmetic pattern an oracle regenerates with generate_series while the
    engine decodes the actual bytes.  ``width`` must be a multiple of 4 so
    rows need no padding (the parser still handles padded strides)."""
    n = width * height * F.lit(3)
    pix = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(1)),
            lambda i: F.lpad(F.hex((i * F.lit(37) + seed) % F.lit(256)), 2, "0"),
        ),
        "",
    )
    return F.unhex(
        F.concat(
            F.lit("424D"),
            _le32(F.lit(54) + n),  # file size
            F.lit("00000000"),
            _le32(F.lit(54)),  # pixel data offset
            _le32(F.lit(40)),
            _le32(width),
            _le32(height),
            F.lit("01001800"),  # planes=1, bpp=24
            F.lit("00" * 24),
            pix,
        )
    )


def synth_wav_with_samples(sample_rate, channels, n_samples, seed) -> Column:
    """A COMPLETE PCM16 WAV: header plus real sample data — sample ``j`` is
    ``((j*73 + seed) % 65536) - 32768`` stored little-endian, so an oracle
    predicts every decoded value arithmetically."""
    data_len = n_samples * F.lit(2)
    u = lambda j: (j * F.lit(73) + seed) % F.lit(65536)  # noqa: E731
    smp = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_samples - F.lit(1)),
            lambda j: F.concat(
                F.lpad(F.hex(u(j) % F.lit(256)), 2, "0"),
                F.lpad(F.hex(F.shiftright(u(j), 8)), 2, "0"),
            ),
        ),
        "",
    )
    byte_rate = sample_rate * channels * F.lit(2)
    block_align = channels * F.lit(2)
    return F.unhex(
        F.concat(
            F.lit("52494646"),
            _le32(F.lit(36) + data_len),
            F.lit("57415645"),
            F.lit("666D7420"),
            _le32(F.lit(16)),
            F.lit("0100"),
            _le16(channels),
            _le32(sample_rate),
            _le32(byte_rate),
            _le16(block_align),
            F.lit("1000"),
            F.lit("64617461"),
            _le32(data_len),
            smp,
        )
    )


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # bmp|wav|unknown
        T.StructField("n_vals", T.LongType(), True),
        T.StructField("sum_val", T.LongType(), True),
        T.StructField("min_val", T.LongType(), True),
        T.StructField("max_val", T.LongType(), True),
        T.StructField("mean_val", T.DoubleType(), True),
    ]
)

_NO_STATS = ("unknown", None, None, None, None)


def _pcm16_samples(b: bytes):
    """The PCM16 samples (signed, little-endian) of a RIFF/WAVE payload's
    first ``data`` chunk after a PCM16 ``fmt`` chunk — a ``data`` chunk ahead
    of that ``fmt`` is skipped — or None: not WAV, not PCM16, no such chunk,
    or a truncated ``fmt``."""
    if b is None or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pcm16 = False
    try:
        for cid, body, sz in _riff_chunks(b, 12, len(b)):
            if cid == b"fmt " and sz >= 16:
                audio_fmt = struct.unpack_from("<H", b, body)[0]
                bits = struct.unpack_from("<H", b, body + 14)[0]
                pcm16 = audio_fmt == 1 and bits == 16
            elif cid == b"data" and pcm16:
                data = b[body : body + sz]
                n = len(data) // 2
                return struct.unpack(f"<{n}h", data[: 2 * n])
    except struct.error:
        pass
    return None


def decode_pixel_samples(b: bytes):
    """(kind, n, sum, min, max) of the REAL decoded values — 24-bpp
    uncompressed BMP pixel channel bytes (honoring the 4-byte row stride and
    the header's data offset) or PCM16 WAV samples (signed, little-endian,
    from the data chunk).  Pure struct/byte arithmetic, no media libraries —
    these two formats need none, which is what retires the ``fake`` kernel
    for them.  Compressed/other formats degrade to kind='unknown'."""
    if b is None:
        return _NO_STATS
    samples = _pcm16_samples(b)
    if samples is not None:
        return ("wav", len(samples), sum(samples), min(samples, default=None), max(samples, default=None))
    try:
        if b[:2] == b"BM" and len(b) >= 54:
            bpp = struct.unpack("<H", b[28:30])[0]
            comp = struct.unpack("<I", b[30:34])[0]
            if bpp != 24 or comp != 0:
                return _NO_STATS
            off = struct.unpack("<I", b[10:14])[0]
            w, h = struct.unpack("<ii", b[18:26])
            h = abs(h)
            stride = ((3 * w + 3) // 4) * 4
            vals = bytearray()
            for row in range(h):
                start = off + row * stride
                vals.extend(b[start : start + 3 * w])
            if len(vals) != 3 * w * h:
                return _NO_STATS
            return ("bmp", len(vals), sum(vals), min(vals), max(vals))
    except (struct.error, IndexError):
        pass
    return _NO_STATS


def pixel_sample_stats(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """REAL pixel/sample-level decode for the uncompressed formats: per-
    payload count/sum/min/max/mean of BMP pixel channel values or WAV PCM
    samples, decoded from the raw bytes inside the Arrow-batched mapInPandas
    kernel.  Map-only at any scale; the mean is one int-ratio division
    (cross-engine exact)."""

    def stats(_, p):
        kind, n, s, mn, mx = decode_pixel_samples(p)
        return [(kind, n, s, mn, mx, s / n if n else None)]

    return _run_rows(_payload(df, id_col, payload_col), PIXEL_STATS_SCHEMA, stats)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("new_width", T.IntegerType(), False),
        T.StructField("new_height", T.IntegerType(), False),
    ]
)


def resize_plan(df: DataFrame, id_col: str, width_col: str, height_col: str, max_side: int = 224) -> DataFrame:
    """Image-resize stage: aspect-preserving fit into ``max_side``.

    The geometry (the part a training pipeline must get right) is computed
    for real inside the same mapInPandas batch a PIL ``Image.resize`` call
    would live in; only the pixel kernel is stubbed (no image libs here).
    new_w = floor(w * max_side / max(w, h)) when the longest side exceeds
    max_side, else unchanged — identical IEEE double ops in the SQL oracle.
    A row with a NULL width or height has no geometry and gives no row.
    """

    def fit(_, w, h):
        w, h = int(w), int(h)
        m = max(w, h)
        if m <= max_side:
            return [(w, h, w, h)]
        return [(w, h, math.floor(w * max_side / m), math.floor(h * max_side / m))]

    src = df.select(
        F.col(id_col).alias("id"), F.col(width_col).alias("width"), F.col(height_col).alias("height")
    ).dropna(subset=["width", "height"])
    return _run_rows(src, RESIZED_SCHEMA, fit)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("ts_s", T.DoubleType(), False),
        T.StructField("frame_sha", T.StringType(), False),
    ]
)


def sample_frames(
    df: DataFrame, id_col: str, duration_col: str, fps_col: str, max_frames: int = 8
) -> DataFrame:
    """Video frame-sampling stage: pick <= ``max_frames`` evenly-strided frame
    indices per clip (stride = max(1, n_frames // max_frames)), fan out one
    row per sampled frame.

    The index arithmetic and the fan-out (the ffmpeg ``select='not(mod(n,k))'``
    analog) are real; the frame decode is a deterministic sha256 stand-in.
    One clip's frames stay inside one Arrow batch — the shape a torchcodec /
    pyav kernel consumes.  A clip with a NULL duration or fps gives no row.
    """

    def frames(vid, dur, fps):
        fps = int(fps)
        n_frames = int(dur) * fps
        stride = max(1, n_frames // max_frames)
        return [
            (idx, idx / fps, hashlib.sha256(f"{vid}:{idx}".encode()).hexdigest())
            for _, idx in zip(range(max_frames), range(0, n_frames, stride))
        ]

    src = df.select(
        F.col(id_col).alias("id"),
        F.col(duration_col).alias("duration_s"),
        F.col(fps_col).alias("fps"),
    ).dropna(subset=["duration_s", "fps"])
    return _run_rows(src, FRAME_SCHEMA, frames)


AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("win", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("energy", T.LongType(), False),
        T.StructField("peak", T.IntegerType(), False),
        T.StructField("is_silence", T.BooleanType(), False),
    ]
)


def audio_window_energy(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    win: int = 8,
    silence_mean_sq: int = 1_000_000,
) -> DataFrame:
    """Frame-level audio feature extraction (the VAD / silence-trim slot of a
    speech curation pipeline): decode PCM16 WAV payloads and emit one row per
    fixed-size sample window with its energy (sum of squared samples), peak
    absolute amplitude, and a silence flag (mean square < threshold).

    All integer: a PCM16 sample squares to <= 2^30, so a window's int64
    energy is exact at any window size a pipeline would use, and the silence
    decision is an integer cross-multiply (energy < thresh * n) — no floats,
    bit-identical in the DuckDB oracle.

    Scale: the frame fan-out (xN rows per clip) happens INSIDE the
    Arrow-batched mapInPandas task, exactly like sample_frames — rows
    multiply before the next shuffle, never across one.  Non-PCM16 payloads
    yield no rows (the gate is parse-level, same contract as
    decode_pixel_samples, whose samples it windows)."""

    def windows(_, p):
        samples = _pcm16_samples(p) or ()
        for w0 in range(0, len(samples), win):  # [w*win, (w+1)*win) slices
            chunk = samples[w0 : w0 + win]
            energy = sum(v * v for v in chunk)
            peak = max(abs(v) for v in chunk)
            yield (w0 // win, len(chunk), energy, peak, energy < silence_mean_sq * len(chunk))

    return _run_rows(_payload(df, id_col, payload_col), AUDIO_WINDOW_SCHEMA, windows)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("ahash", T.StringType(), True),
    ]
)


def ahash64(b: bytes):
    """64-bit perceptual average-hash of a decodable 24-bpp BMP, as a
    64-char '0'/'1' string (bit order: 8x8 grid, row-major over stored rows).

    Real aHash semantics on the real bytes: grayscale = integer mean of the
    3 channel bytes per pixel (honoring data offset and row stride), the
    image is partitioned into an 8x8 grid of cells (cell of stored-row r,
    column x = (x*8//w, r*8//h)), and bit(cell) = 1 iff the cell's mean
    grayscale exceeds the global mean — compared as the integer
    cross-multiply cell_sum * n_pixels > total_sum * cell_n, so no float
    division is involved and the DuckDB oracle reproduces each bit exactly.
    Non-BMP / undecodable payloads -> None."""
    if b is None:
        return None
    try:
        if b[:2] != b"BM" or len(b) < 54:
            return None
        bpp = struct.unpack("<H", b[28:30])[0]
        comp = struct.unpack("<I", b[30:34])[0]
        if bpp != 24 or comp != 0:
            return None
        off = struct.unpack("<I", b[10:14])[0]
        w, h = struct.unpack("<ii", b[18:26])
        h = abs(h)
        if w < 8 or h < 8:
            return None
        stride = ((3 * w + 3) // 4) * 4
        cell_sum = [0] * 64
        cell_n = [0] * 64
        total = 0
        for r in range(h):
            row = b[off + r * stride : off + r * stride + 3 * w]
            if len(row) < 3 * w:
                return None
            cy = r * 8 // h
            for x in range(w):
                g = (row[3 * x] + row[3 * x + 1] + row[3 * x + 2]) // 3
                c = cy * 8 + x * 8 // w
                cell_sum[c] += g
                cell_n[c] += 1
                total += g
        n = w * h
        return "".join(
            "1" if cell_sum[c] * n > total * cell_n[c] else "0" for c in range(64)
        )
    except (struct.error, IndexError):
        return None


def image_ahash(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, ahash) via the Arrow row runner — map-only."""
    return _run_rows(_payload(df, id_col, payload_col), AHASH_SCHEMA, lambda _, p: [(ahash64(p),)])


def ahash_near_pairs(
    hashes: DataFrame, max_hamming: int = 3, max_bucket: int | None = None
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual hash: Hamming-LSH blocking —
    4 bands of 16 bits, and by pigeonhole two hashes within Hamming distance
    3 (= bands - 1) MUST agree exactly on >= 1 band, so blocked recall at the
    default threshold is total: the blocked result provably equals the naive
    all-pairs O(n^2) join the oracle runs.  Candidates expand in-task per
    (band, key) bucket (never a self-join), then the exact Hamming distance
    is a 64-position filter.  Input (id, ahash); output (id_a, id_b,
    hamming).  ``max_bucket`` engages the same mega-bucket cap as text
    minhash for degenerate corpora (e.g. monochrome frames all hashing to
    zero); it is off by default so the exactness contract holds.

    Buckets with dedup's _lsh_buckets and expands them with its
    ``bucket_pairs`` — the identical scale shape: one bucket shuffle, no
    self-join, bounded task fan-out.

    The hash frame is checkpointed once: it feeds THREE consumers (the band
    stack and both candidate join-backs), and when it descends from a Python
    kernel (image_ahash's per-pixel aHash), an un-materialized lineage
    re-runs the decode per consumer — the round-10 plan showed 3 MapInPandas
    nodes for one kernel, i.e. every image decoded three times (guide §8:
    decode once, move hashes).  The checkpointed frame is (id, 64-char hash)
    — corpus-linear but payload-free."""
    from .dedup import _lsh_buckets, bucket_pairs

    h = hashes.where(F.col("ahash").isNotNull()).transform(materialize)
    bands = h.selectExpr(
        "id AS doc",
        "stack(4, '0', substr(ahash, 1, 16), '1', substr(ahash, 17, 16), "
        "'2', substr(ahash, 33, 16), '3', substr(ahash, 49, 16)) AS (band, key)",
    )
    buckets = _lsh_buckets(bands, max_bucket=max_bucket)
    pairs = bucket_pairs(buckets.select("ds"), "id_a", "id_b").distinct()
    ha = h.select(F.col("id").alias("id_a"), F.col("ahash").alias("ha"))
    hb = h.select(F.col("id").alias("id_b"), F.col("ahash").alias("hb"))
    return (
        pairs.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn(
            "hamming",
            F.expr("size(filter(sequence(1, 64), i -> substr(ha, i, 1) != substr(hb, i, 1)))"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


GIF_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("total_delay_cs", T.LongType(), True),
    ]
)


def synth_gif(width, height, n_frames) -> Column:
    """A COMPLETE animated GIF89a: logical screen descriptor (no global
    color table), then per frame i (1-based) a Graphic Control Extension
    with delay ``4 + (i % 3)`` centiseconds and a minimal image descriptor
    + LZW body (2-bit min code size, one 1-byte sub-block — structurally
    valid; the frame WALK never decompresses).  Real container bytes, so a
    block-structure bug in the decoder cannot hash-match the oracle."""
    frame = lambda i: F.concat(  # noqa: E731
        F.lit("21F904"),  # GCE introducer, label, block size 4
        F.lit("00"),  # flags
        _le16(F.lit(4) + i % F.lit(3)),  # delay in centiseconds (LE16)
        F.lit("0000"),  # transparent idx + block terminator
        F.lit("2C"),  # image descriptor
        F.lit("00000000"),  # x, y
        _le16(width),
        _le16(height),
        F.lit("00"),  # no local color table
        F.lit("02"),  # LZW min code size
        F.lit("014400"),  # one 1-byte sub-block + terminator
    )
    frames = F.array_join(
        F.transform(F.sequence(F.lit(1), n_frames), frame), ""
    )
    return F.unhex(
        F.concat(
            F.lit("474946383961"),  # "GIF89a"
            _le16(width),
            _le16(height),
            F.lit("000000"),  # no GCT, bg, aspect
            frames,
            F.lit("3B"),
        )
    )


def gif_frame_info(b: bytes):
    """(width, height, n_frames, total_delay_cs) from a REAL walk of the
    GIF block structure: skips global/local color tables by their flag
    bits, sums Graphic Control Extension delays, counts image descriptors,
    and steps over LZW sub-blocks by their length prefixes WITHOUT
    decompressing — exactly what container-level media probing does.
    Returns None for non-GIF/corrupt payloads."""
    try:
        if b is None or b[:4] != b"GIF8" or len(b) < 13:
            return None
        w, h = struct.unpack("<HH", b[6:10])
        flags = b[10]
        pos = 13
        if flags & 0x80:  # global color table: 3 * 2^(N+1) bytes
            pos += 3 * (2 << (flags & 0x07))
        n_frames, total_delay = 0, 0
        while pos < len(b):
            marker = b[pos]
            if marker == 0x3B:  # trailer
                break
            if marker == 0x21:  # extension
                label = b[pos + 1]
                pos += 2
                if label == 0xF9 and b[pos] >= 4:
                    total_delay += struct.unpack("<H", b[pos + 2 : pos + 4])[0]
                while b[pos] != 0:  # sub-blocks
                    pos += 1 + b[pos]
                pos += 1
            elif marker == 0x2C:  # image descriptor
                lflags = b[pos + 9]
                pos += 10
                if lflags & 0x80:
                    pos += 3 * (2 << (lflags & 0x07))
                pos += 1  # LZW min code size
                while b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
                n_frames += 1
            else:
                return None  # unknown block: corrupt
        return (w, h, n_frames, total_delay)
    except (struct.error, IndexError):
        return None


def gif_frames(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, width, height, n_frames, total_delay_cs) via the Arrow row
    runner — map-only; undecodable payloads yield NULL fields."""
    return _run_rows(_payload(df, id_col, payload_col), GIF_FRAMES_SCHEMA, lambda _, p: [gif_frame_info(p)])


AUDIO_AUTOCORR_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("lag", T.IntegerType(), False),
        T.StructField("n_terms", T.IntegerType(), False),
        T.StructField("r", T.LongType(), False),
    ]
)


def audio_autocorr(
    df: DataFrame, id_col: str, payload_col: str, max_lag: int = 3
) -> DataFrame:
    """Exact integer autocorrelation numerators of the PCM16 sample stream,
    r_k = sum_t s_t * s_{t+k} for k = 0..max_lag — the periodicity/pitch
    feature a speech curation pipeline screens on (r_0 is energy; a tonal
    clip holds high |r_k| at its period, white noise decays immediately),
    computed from REAL decoded WAV bytes inside the Arrow-batched
    mapInPandas kernel.

    All integer: PCM16 products are <= 2^30, so int64 holds the sum exactly
    to ~10^9 samples per clip — the oracle regenerates every sample
    arithmetically and must match bit-for-bit (same contract as
    audio_window_energy).  Lag fan-out (max_lag+1 rows per clip) happens
    in-task; non-PCM16 payloads yield no rows."""

    def lags(_, p):
        s = _pcm16_samples(p)
        if not s:
            return []
        return [
            (k, max(0, len(s) - k), sum(s[t] * s[t + k] for t in range(len(s) - k)))
            for k in range(max_lag + 1)
        ]

    return _run_rows(_payload(df, id_col, payload_col), AUDIO_AUTOCORR_SCHEMA, lags)


def synth_png_with_chunks(doc_id, width, height, n_text) -> Column:
    """A structurally COMPLETE PNG: signature, IHDR, ``n_text`` tEXt
    metadata chunks (keyword ``k<i>``, value ``x`` repeated 1 + (doc_id +
    i) % 5 times), one IDAT stub of 1 + doc_id % 7 bytes, and IEND — every
    chunk carrying a correct BE32 length so a length-walk traverses it
    (CRCs are placeholder zeros; a container walk never validates CRC).
    Real bytes in, so a chunk-walk bug cannot hash-match the oracle."""
    def chunk(ctype_hex: str, data_hex) -> Column:
        return F.concat(
            _be32(F.length(data_hex) / 2),  # data length in BYTES
            F.lit(ctype_hex),
            data_hex,
            F.lit("00000000"),  # CRC placeholder
        )

    ihdr = chunk(
        "49484452",
        F.concat(_be32(width), _be32(height), F.lit("0802000000")),
    )
    text_i = lambda i: chunk(  # noqa: E731
        "74455874",  # tEXt
        F.concat(
            F.hex(F.concat(F.lit("k"), i.cast("string"))),  # keyword
            F.lit("00"),  # NUL separator
            F.hex(F.repeat(F.lit("x"), (F.lit(1) + (doc_id + i) % 5).cast("int"))),
        ),
    )
    texts = F.array_join(F.transform(F.sequence(F.lit(1), n_text), text_i), "")
    idat = chunk("49444154", F.repeat(F.lit("AA"), (F.lit(1) + doc_id % 7).cast("int")))
    iend = chunk("49454E44", F.lit(""))
    return F.unhex(
        F.concat(F.lit("89504E470D0A1A0A"), ihdr, texts, idat, iend)
    )


def png_chunk_info(b: bytes):
    """(n_chunks, n_text, idat_bytes, text_kv) from a REAL walk of the PNG
    chunk structure: 8-byte signature, then length-prefixed chunks
    (BE32 len + 4-byte type + data + 4-byte CRC) until IEND.  tEXt data
    splits at the NUL separator into keyword=value pairs, joined in walk
    order with ';'.  Returns None for non-PNG/corrupt payloads."""
    try:
        if b is None or b[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        pos, n_chunks, n_text, idat_bytes, kvs = 8, 0, 0, 0, []
        while pos + 8 <= len(b):
            ln = struct.unpack(">I", b[pos : pos + 4])[0]
            ctype = b[pos + 4 : pos + 8]
            data = b[pos + 8 : pos + 8 + ln]
            if len(data) != ln:
                return None  # truncated
            n_chunks += 1
            if ctype == b"tEXt":
                n_text += 1
                sep = data.find(b"\x00")
                if sep >= 0:
                    kvs.append(
                        data[:sep].decode("latin-1") + "=" + data[sep + 1 :].decode("latin-1")
                    )
            elif ctype == b"IDAT":
                idat_bytes += ln
            pos += 12 + ln
            if ctype == b"IEND":
                return (n_chunks, n_text, idat_bytes, ";".join(kvs))
        return None  # no IEND: corrupt
    except (struct.error, IndexError):
        return None


PNG_CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("n_chunks", T.IntegerType(), True),
        T.StructField("n_text", T.IntegerType(), True),
        T.StructField("idat_bytes", T.LongType(), True),
        T.StructField("text_kv", T.StringType(), True),
    ]
)


def png_chunks(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, n_chunks, n_text, idat_bytes, text_kv) via the Arrow kernel —
    the image-metadata sidecar extraction (EXIF-class provenance capture)
    multimodal ingest runs before any pixel decode.  Map-only; undecodable
    payloads yield NULL fields."""
    return _run_rows(_payload(df, id_col, payload_col), PNG_CHUNKS_SCHEMA, lambda _, p: [png_chunk_info(p)])


def _be16(c) -> Column:
    return F.lpad(F.hex(c.cast("long")), 4, "0")


def synth_tiff(doc_id, width, height) -> Column:
    """A structurally complete minimal TIFF/EXIF container: byte-order mark
    ("II" little-endian for even ids, "MM" big-endian for odd — so the
    walker's endian handling is genuinely exercised), magic 42, IFD0 offset
    8, then IFD0 with 3 + id % 2 SHORT entries — ImageWidth(256),
    ImageLength(257), Orientation(274) = 1 + id % 8, and for odd-count ids
    SamplesPerPixel(277) = 3 — each value left-justified in its 4-byte
    field per the spec, next-IFD pointer 0."""
    even = doc_id % 2 == 0
    u16 = lambda v: F.when(even, _le16(v)).otherwise(_be16(v))  # noqa: E731
    u32 = lambda v: F.when(even, _le32(v)).otherwise(_be32(v))  # noqa: E731

    def entry(tag: int, value) -> Column:
        return F.concat(
            u16(F.lit(tag)), u16(F.lit(3)), u32(F.lit(1)), u16(value), F.lit("0000")
        )

    n_entries = F.lit(3) + doc_id % 2
    entries = F.concat(
        entry(256, width),
        entry(257, height),
        entry(274, F.lit(1) + doc_id % 8),
        F.when(doc_id % 2 == 1, entry(277, F.lit(3))).otherwise(F.lit("")),
    )
    return F.unhex(
        F.concat(
            F.when(even, F.lit("49492A00")).otherwise(F.lit("4D4D002A")),
            u32(F.lit(8)),  # IFD0 offset
            u16(n_entries),
            entries,
            u32(F.lit(0)),  # next-IFD pointer
        )
    )


def tiff_ifd_info(b: bytes):
    """(byte_order, n_entries, width, height, orientation) from a REAL walk
    of the TIFF header and IFD0: byte-order mark selects the int decoder,
    magic 42 is verified, the IFD0 offset is followed, and each 12-byte
    entry's SHORT value is read left-justified from the 4-byte value field
    — the EXIF-class metadata walk (orientation is THE tag image pipelines
    must read before any resize).  Returns None for non-TIFF/corrupt."""
    try:
        if b is None or len(b) < 8:
            return None
        if b[:2] == b"II":
            order = "<"
        elif b[:2] == b"MM":
            order = ">"
        else:
            return None
        u16 = lambda off: struct.unpack(order + "H", b[off : off + 2])[0]  # noqa: E731
        u32 = lambda off: struct.unpack(order + "I", b[off : off + 4])[0]  # noqa: E731
        if u16(2) != 42:
            return None
        ifd = u32(4)
        n = u16(ifd)
        if ifd + 2 + 12 * n + 4 > len(b):
            return None
        tags = {}
        for i in range(n):
            e = ifd + 2 + 12 * i
            tag, typ = u16(e), u16(e + 2)
            if typ == 3:  # SHORT: left-justified in the value field
                tags[tag] = u16(e + 8)
            elif typ == 4:
                tags[tag] = u32(e + 8)
        return (
            "II" if order == "<" else "MM",
            n,
            tags.get(256),
            tags.get(257),
            tags.get(274),
        )
    except (struct.error, IndexError):
        return None


TIFF_IFD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("byte_order", T.StringType(), True),
        T.StructField("n_entries", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("orientation", T.IntegerType(), True),
    ]
)


def tiff_ifd(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, byte_order, n_entries, width, height, orientation) via the Arrow
    row runner — map-only; undecodable payloads yield NULL fields."""
    return _run_rows(_payload(df, id_col, payload_col), TIFF_IFD_SCHEMA, lambda _, p: [tiff_ifd_info(p)])


# ---------------------------------------------------------------------------
# AVI/RIFF video container walk (video-modality companion of gif_frames)
# ---------------------------------------------------------------------------

AVI_INFO_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("total_frames", T.IntegerType(), True),
        T.StructField("us_per_frame", T.LongType(), True),
        T.StructField("n_movi_chunks", T.IntegerType(), True),
        T.StructField("movi_bytes", T.LongType(), True),
    ]
)


def synth_avi(width, height, n_frames, us_per_frame) -> Column:
    """A COMPLETE minimal RIFF/AVI container: RIFF('AVI ') wrapping a
    LIST('hdrl') with a real 56-byte avih main header (frame timing, frame
    count, dimensions) and a LIST('strl') holding a 56-byte strh ('vids')
    + 40-byte BITMAPINFOHEADER strf, then a LIST('movi') with one '00dc'
    chunk per frame whose data size varies per frame (8 + 2*(i%3) bytes —
    always even, so no RIFF pad bytes are exercised by construction; the
    WALK still handles padding).  Every RIFF size field is the true byte
    count, so a list-walk bug cannot hash-match the oracle."""
    dsz = lambda i: F.lit(8) + (i % F.lit(3)) * 2  # noqa: E731
    frame = lambda i: F.concat(  # noqa: E731
        F.lit("30306463"),  # '00dc'
        _le32(dsz(i)),
        F.substring(F.repeat(F.lit("00"), 12), 1, dsz(i) * 2),
    )
    movi_frames = F.array_join(F.transform(F.sequence(F.lit(1), n_frames), frame), "")
    movi_payload = F.aggregate(
        F.sequence(F.lit(1), n_frames),
        F.lit(0).cast("long"),
        lambda acc, i: acc + 8 + dsz(i).cast("long"),
    )
    movi_size = F.lit(4) + movi_payload
    zeros = lambda n: "00" * n  # noqa: E731
    avih = F.concat(
        F.lit("61766968"),  # 'avih'
        _le32(F.lit(56)),
        _le32(us_per_frame),
        F.lit(zeros(12)),  # max bytes/sec, padding, flags
        _le32(n_frames),
        F.lit(zeros(4)),  # initial frames
        _le32(F.lit(1)),  # streams
        F.lit(zeros(4)),  # suggested buffer
        _le32(width),
        _le32(height),
        F.lit(zeros(16)),  # reserved
    )
    strh = F.concat(
        F.lit("73747268"),  # 'strh'
        _le32(F.lit(56)),
        F.lit("76696473"),  # fccType 'vids'
        F.lit("44494220"),  # fccHandler 'DIB '
        F.lit(zeros(48)),
    )
    strf = F.concat(
        F.lit("73747266"),  # 'strf'
        _le32(F.lit(40)),
        _le32(F.lit(40)),  # biSize
        _le32(width),
        _le32(height),
        F.lit("0100"),  # planes LE16
        F.lit("1800"),  # 24bpp LE16
        F.lit(zeros(24)),
    )
    strl = F.concat(F.lit("4C495354"), _le32(F.lit(4 + 64 + 48)), F.lit("7374726C"), strh, strf)
    hdrl = F.concat(F.lit("4C495354"), _le32(F.lit(192)), F.lit("6864726C"), avih, strl)
    movi = F.concat(F.lit("4C495354"), _le32(movi_size), F.lit("6D6F7669"), movi_frames)
    riff_size = F.lit(4) + F.lit(8 + 192) + F.lit(8) + movi_size
    return F.unhex(
        F.concat(F.lit("52494646"), _le32(riff_size), F.lit("41564920"), hdrl, movi)
    )


def avi_info(b: bytes):
    """(width, height, total_frames, us_per_frame, n_movi_chunks,
    movi_bytes) from a REAL walk of the RIFF chunk tree: descends LIST
    chunks by type, reads the avih main header fields, and iterates the
    movi list counting video-data chunks ('..dc'/'..db') and summing their
    data sizes, honoring RIFF word alignment (odd sizes padded).  Never
    decodes pixel data.  Returns None for non-AVI/corrupt payloads."""
    try:
        if b is None or b[:4] != b"RIFF" or b[8:12] != b"AVI " or len(b) < 24:
            return None
        width = height = total = uspf = None
        n_movi, movi_bytes = 0, 0
        stack = [(12, len(b))]
        while stack:
            for fcc, body, sz in _riff_chunks(b, *stack.pop()):
                if fcc == b"LIST":
                    ltype = b[body : body + 4]
                    if ltype in (b"hdrl", b"strl"):
                        stack.append((body + 4, body + sz))
                    elif ltype == b"movi":
                        for cid, _, csz in _riff_chunks(b, body + 4, body + sz):
                            if cid[2:] in (b"dc", b"db"):
                                n_movi += 1
                                movi_bytes += csz
                elif fcc == b"avih" and sz >= 40:
                    uspf = struct.unpack("<I", b[body : body + 4])[0]
                    total = struct.unpack("<I", b[body + 16 : body + 20])[0]
                    width = struct.unpack("<I", b[body + 32 : body + 36])[0]
                    height = struct.unpack("<I", b[body + 36 : body + 40])[0]
        if width is None:
            return None
        return (width, height, total, uspf, n_movi, movi_bytes)
    except (struct.error, IndexError):
        return None


def avi_container_info(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, width, height, total_frames, us_per_frame, n_movi_chunks,
    movi_bytes) via the Arrow row runner — map-only; undecodable payloads
    yield NULL fields."""
    return _run_rows(_payload(df, id_col, payload_col), AVI_INFO_SCHEMA, lambda _, p: [avi_info(p)])


# ---------------------------------------------------------------------------
# DICOM header walk (the healthcare-native modality: explicit-VR little
# endian data elements after the 128-byte preamble + "DICM" magic)
# ---------------------------------------------------------------------------


def synth_dicom(doc_id, modality, patient_id, rows, cols) -> Column:
    """A structurally complete minimal DICOM Part-10 file: 128-byte zero
    preamble, "DICM" magic, then four explicit-VR little-endian data
    elements in ascending tag order — (0008,0060) Modality CS, (0010,0020)
    PatientID LO, (0028,0010) Rows US, (0028,0011) Columns US.  Short-form
    VRs only (2-byte length field), which is exactly the subset the walker
    declares.  Built entirely from hex concat + unhex, so the bytes are
    REAL and the kernel genuinely walks them."""

    def elem(group: int, element: int, vr: str, value_hex: Column, ln) -> Column:
        return F.concat(
            _le16(F.lit(group)),
            _le16(F.lit(element)),
            F.hex(F.lit(vr)),
            _le16(ln),
            value_hex,
        )

    return F.unhex(
        F.concat(
            F.lit("00" * 128),
            F.hex(F.lit("DICM")),
            elem(0x0008, 0x0060, "CS", F.hex(modality), F.length(modality)),
            elem(0x0010, 0x0020, "LO", F.hex(patient_id), F.length(patient_id)),
            elem(0x0028, 0x0010, "US", _le16(rows), F.lit(2)),
            elem(0x0028, 0x0011, "US", _le16(cols), F.lit(2)),
        )
    )


def dicom_info(b: bytes):
    """(modality, patient_id, rows, cols, n_elements) from a REAL walk of a
    DICOM Part-10 stream: verify the 128-byte preamble + "DICM" magic, then
    read explicit-VR little-endian data elements (short-form VRs: 2-byte
    group, 2-byte element, 2 ASCII VR chars, 2-byte length, value), pulling
    Modality (0008,0060), PatientID (0010,0020), and the image matrix
    Rows/Columns (0028,0010/0011) US values.  Long-form VRs (OB/OW/SQ...)
    terminate the walk rather than misparse.  Returns None for
    non-DICOM/corrupt payloads."""
    try:
        if b is None or len(b) < 132 or b[128:132] != b"DICM":
            return None
        u16 = lambda off: struct.unpack("<H", b[off : off + 2])[0]  # noqa: E731
        off, n, modality, patient, rows, cols = 132, 0, None, None, None, None
        while off + 8 <= len(b):
            group, element = u16(off), u16(off + 2)
            vr = b[off + 4 : off + 6].decode("ascii", "replace")
            if vr in ("OB", "OW", "OF", "SQ", "UT", "UN"):
                break  # long-form length layout: outside the declared subset
            ln = u16(off + 6)
            value = b[off + 8 : off + 8 + ln]
            if len(value) < ln:
                return None
            if (group, element) == (0x0008, 0x0060):
                modality = value.decode("ascii").strip()
            elif (group, element) == (0x0010, 0x0020):
                patient = value.decode("ascii").strip()
            elif (group, element) == (0x0028, 0x0010):
                rows = struct.unpack("<H", value[:2])[0]
            elif (group, element) == (0x0028, 0x0011):
                cols = struct.unpack("<H", value[:2])[0]
            n += 1
            off += 8 + ln
        return (modality, patient, rows, cols, n)
    except (struct.error, IndexError, UnicodeDecodeError):
        return None


DICOM_INFO_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("modality", T.StringType(), True),
        T.StructField("patient_id", T.StringType(), True),
        T.StructField("n_rows", T.IntegerType(), True),
        T.StructField("n_cols", T.IntegerType(), True),
        T.StructField("n_elements", T.IntegerType(), True),
    ]
)


def dicom_tags(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, modality, patient_id, n_rows, n_cols, n_elements) via the Arrow
    row runner — map-only; undecodable payloads yield NULL fields."""
    return _run_rows(_payload(df, id_col, payload_col), DICOM_INFO_SCHEMA, lambda _, p: [dicom_info(p)])


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF box walk (the BIG-endian container twin of RIFF/AVI)
# ---------------------------------------------------------------------------

MP4_INFO_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("brand", T.StringType(), True),
        T.StructField("timescale", T.LongType(), True),
        T.StructField("duration", T.LongType(), True),
        T.StructField("track_id", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_top_boxes", T.IntegerType(), True),
        T.StructField("mdat_bytes", T.LongType(), True),
    ]
)


def synth_mp4(timescale, duration, track_id, width, height, mdat_n) -> Column:
    """A structurally complete minimal ISO-BMFF file: ftyp (major brand
    'isom', one compatible brand), moov wrapping a spec-sized 108-byte
    mvhd v0 (timescale, duration, rate/volume/matrix/next-track) and a
    trak > 92-byte tkhd v0 (track id, 16.16 fixed-point width/height),
    then an mdat of ``mdat_n`` payload bytes.  Every box size field is the
    true BIG-endian byte count (ISO-BMFF is the byte-order mirror of
    RIFF), so a walk bug cannot hash-match the arithmetic oracle."""
    z = lambda n: "00" * n  # noqa: E731
    ftyp = F.concat(
        _be32(F.lit(24)), F.lit("66747970"),  # 'ftyp'
        F.lit("69736f6d"),  # major 'isom'
        _be32(F.lit(0)),  # minor version
        F.lit("69736f6d"), F.lit("6d703431"),  # brands 'isom', 'mp41'
    )
    mvhd = F.concat(
        _be32(F.lit(108)), F.lit("6d766864"),  # 'mvhd'
        F.lit(z(4)),  # version 0 + flags
        F.lit(z(8)),  # creation/modification
        _be32(timescale),
        _be32(duration),
        F.lit("00010000"),  # rate 1.0
        F.lit("0100"),  # volume 1.0
        F.lit(z(10)),  # reserved
        F.lit("00010000" + z(12) + "00010000" + z(12) + "40000000"),  # matrix
        F.lit(z(24)),  # pre_defined
        _be32(F.lit(2)),  # next track id
    )
    tkhd = F.concat(
        _be32(F.lit(92)), F.lit("746b6864"),  # 'tkhd'
        F.lit("00000007"),  # version 0, flags: enabled|in_movie|in_preview
        F.lit(z(8)),  # creation/modification
        _be32(track_id),
        F.lit(z(4)),  # reserved
        _be32(duration),
        F.lit(z(8)),  # reserved
        F.lit(z(8)),  # layer/alternate/volume/reserved
        F.lit("00010000" + z(12) + "00010000" + z(12) + "40000000"),  # matrix
        _be32(width * 65536),  # 16.16 fixed point
        _be32(height * 65536),
    )
    trak = F.concat(_be32(F.lit(100)), F.lit("7472616b"), tkhd)  # 'trak'
    moov = F.concat(_be32(F.lit(216)), F.lit("6d6f6f76"), mvhd, trak)  # 'moov'
    mdat = F.concat(
        _be32(F.lit(8) + mdat_n), F.lit("6d646174"),  # 'mdat'
        F.substring(F.repeat(F.lit("00"), 64), 1, mdat_n * 2),
    )
    return F.unhex(F.concat(ftyp, moov, mdat))


def mp4_info(b: bytes):
    """(brand, timescale, duration, track_id, width, height, n_top_boxes,
    mdat_bytes) from a REAL walk of the ISO-BMFF box tree: big-endian
    32-bit sizes, size==1 largesize (64-bit) and size==0 (to-EOF) handled,
    moov/trak containers descended, 16.16 fixed-point track dimensions
    truncated to pixels.  Never touches sample data.  Returns None for
    non-BMFF/corrupt payloads."""
    try:
        if b is None or len(b) < 16 or b[4:8] != b"ftyp":
            return None
        brand = b[8:12].decode("ascii", "replace")
        timescale = duration = track_id = width = height = None
        n_top, mdat_bytes = 0, 0
        stack = [(0, len(b), True)]
        while stack:
            pos, end, top = stack.pop()
            while pos + 8 <= end:
                sz = struct.unpack(">I", b[pos : pos + 4])[0]
                typ = b[pos + 4 : pos + 8]
                body = pos + 8
                if sz == 1:  # 64-bit largesize
                    sz = struct.unpack(">Q", b[pos + 8 : pos + 16])[0]
                    body = pos + 16
                elif sz == 0:  # to end of enclosing container
                    sz = end - pos
                if sz < 8 or pos + sz > end:
                    return None
                if top:
                    n_top += 1
                if typ in (b"moov", b"trak"):
                    stack.append((body, pos + sz, False))
                elif typ == b"mvhd" and sz >= 8 + 24:
                    timescale = struct.unpack(">I", b[body + 12 : body + 16])[0]
                    duration = struct.unpack(">I", b[body + 16 : body + 20])[0]
                elif typ == b"tkhd" and sz >= 92:
                    track_id = struct.unpack(">I", b[body + 12 : body + 16])[0]
                    width = struct.unpack(">I", b[body + 76 : body + 80])[0] >> 16
                    height = struct.unpack(">I", b[body + 80 : body + 84])[0] >> 16
                elif typ == b"mdat":
                    mdat_bytes += sz - (body - pos)
                pos += sz
        if timescale is None:
            return None
        return (brand, timescale, duration, track_id, width, height, n_top, mdat_bytes)
    except (struct.error, IndexError):
        return None


def mp4_container_info(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, brand, timescale, duration, track_id, width, height,
    n_top_boxes, mdat_bytes) via the Arrow row runner — map-only;
    undecodable payloads yield NULL fields."""
    return _run_rows(_payload(df, id_col, payload_col), MP4_INFO_SCHEMA, lambda _, p: [mp4_info(p)])


# ---------------------------------------------------------------------------
# ZIP central-directory walk (trailer-directed parsing: the archive genre)
# ---------------------------------------------------------------------------

ZIP_INFO_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("n_entries", T.IntegerType(), True),
        T.StructField("sum_usize", T.LongType(), True),
        T.StructField("sum_csize", T.LongType(), True),
        T.StructField("first_name", T.StringType(), True),
        T.StructField("last_name", T.StringType(), True),
        T.StructField("cd_offset", T.LongType(), True),
    ]
)


def synth_zip(doc_id, n_entries) -> Column:
    """A structurally complete STORED-method ZIP: per entry a 30-byte local
    file header + 2-char name + payload, then the central directory (one
    46-byte entry + name each, carrying the TRUE local-header offset), then
    the EOCD record with the true entry count, CD size, and CD offset.
    Entry i has usize = csize = 4 + (doc_id + i) % 8 and its REAL CRC-32
    (Spark's crc32() over the stored payload bytes) — python's zipfile
    verifies CRCs on read, so the synthesized archives open in a stock
    unzip.  Every offset/size field is the true byte count, so a
    trailer-walk bug cannot hash-match."""
    d = doc_id
    usize = lambda i: F.lit(4) + (d + i) % 8  # noqa: E731
    payload_hex = lambda i: F.substring(F.repeat(F.lit("00"), 12), 1, usize(i) * 2)  # noqa: E731
    crc = lambda i: F.crc32(F.unhex(payload_hex(i)))  # noqa: E731
    name = lambda i: F.concat(F.lit("66"), F.lpad(F.hex(F.lit(48) + i), 2, "0"))  # noqa: E731  # 'f' + digit
    zeros = lambda n: "00" * n  # noqa: E731

    def lho(i):  # local header offset of entry i = sum of earlier (30+2+usize)
        # sequence(0, -1) DESCENDS in Spark — entry 0's empty sum needs a guard
        return F.when(i == 0, F.lit(0).cast("long")).otherwise(
            F.aggregate(
                F.sequence(F.lit(0), i - 1),
                F.lit(0).cast("long"),
                lambda acc, j: acc + 32 + (d + j) % 8 + 4,
            )
        )

    local = lambda i: F.concat(  # noqa: E731
        F.lit("504b0304"),  # PK\x03\x04
        F.lit("1400" + zeros(2) + zeros(2) + zeros(4)),  # ver, flags, method=0, time+date
        _le32(crc(i)),
        _le32(usize(i)),  # csize (stored)
        _le32(usize(i)),  # usize
        F.lit("0200" + zeros(2)),  # name len 2, extra 0
        name(i),
        payload_hex(i),
    )
    cde = lambda i: F.concat(  # noqa: E731
        F.lit("504b0102"),  # PK\x01\x02
        F.lit("1400" + "1400" + zeros(2) + zeros(2) + zeros(4)),
        _le32(crc(i)),
        _le32(usize(i)),
        _le32(usize(i)),
        F.lit("0200" + zeros(2) + zeros(2) + zeros(2) + zeros(2) + zeros(4)),
        _le32(lho(i)),
        name(i),
    )
    idxs = F.sequence(F.lit(0), n_entries - 1)
    locals_hex = F.array_join(F.transform(idxs, local), "")
    cd_hex = F.array_join(F.transform(idxs, cde), "")
    cd_offset = F.aggregate(
        idxs, F.lit(0).cast("long"), lambda acc, j: acc + 32 + (d + j) % 8 + 4
    )
    cd_size = n_entries.cast("long") * 48  # 46 + 2-char name each
    eocd = F.concat(
        F.lit("504b0506"),  # PK\x05\x06
        F.lit(zeros(2) + zeros(2)),
        _le16(n_entries),
        _le16(n_entries),
        _le32(cd_size),
        _le32(cd_offset),
        F.lit(zeros(2)),
    )
    return F.unhex(F.concat(locals_hex, cd_hex, eocd))


def zip_info(b: bytes):
    """(n_entries, sum_usize, sum_csize, first_name, last_name, cd_offset)
    from a REAL trailer-directed walk: scan the tail for the EOCD magic
    (comment-tolerant, last 66 KB), read the central-directory offset and
    entry count from it, then walk CD entries forward — the structurally
    different parse (metadata at the END) that HTTP-range readers of
    remote archives rely on.  Returns None for non-ZIP/corrupt payloads."""
    try:
        if b is None or len(b) < 22:
            return None
        tail = b[-(66 * 1024 + 22):]
        pos = tail.rfind(b"PK\x05\x06")
        if pos < 0:
            return None
        eocd = tail[pos:]
        n_total = struct.unpack("<H", eocd[10:12])[0]
        cd_size = struct.unpack("<I", eocd[12:16])[0]
        cd_off = struct.unpack("<I", eocd[16:20])[0]
        if cd_off + cd_size > len(b):
            return None
        p = cd_off
        names: list[str] = []
        su = sc = 0
        for _ in range(n_total):
            if b[p : p + 4] != b"PK\x01\x02":
                return None
            sc += struct.unpack("<I", b[p + 20 : p + 24])[0]
            su += struct.unpack("<I", b[p + 24 : p + 28])[0]
            nlen = struct.unpack("<H", b[p + 28 : p + 30])[0]
            xlen = struct.unpack("<H", b[p + 30 : p + 32])[0]
            clen = struct.unpack("<H", b[p + 32 : p + 34])[0]
            names.append(b[p + 46 : p + 46 + nlen].decode("ascii", "replace"))
            p += 46 + nlen + xlen + clen
        if not names:
            return None
        return (n_total, su, sc, names[0], names[-1], cd_off)
    except (struct.error, IndexError):
        return None


def zip_central_dir(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """(id, n_entries, sum_usize, sum_csize, first_name, last_name,
    cd_offset) via the Arrow row runner — map-only; undecodable payloads
    yield NULL fields."""
    return _run_rows(_payload(df, id_col, payload_col), ZIP_INFO_SCHEMA, lambda _, p: [zip_info(p)])
