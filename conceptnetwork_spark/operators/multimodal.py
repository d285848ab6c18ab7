"""Multimodal (binary payload) columns: schema, ingest, metadata extraction
(SURVEY §2.2 D32).

Design: image/audio/video payloads are opaque ``BinaryType`` columns with a
typed metadata struct alongside. Image decode/resize are REAL kernels for
the netpbm family (P6/P5) and audio decode is a REAL RIFF/WAVE PCM16
codec (chunk walk + LE sample decode), both dependency-free —
JPEG/PNG/compressed-audio/video would use the identical mapInPandas shape with
PIL/librosa/ffmpeg on a production cluster (not installable here), and the
deterministic fake featurizer/frame-sampler below pin that batch shape. At
100 TB: payloads are read via ``binaryFile`` datasource (one row per
object, streamed in 128 MB partitions) and every kernel is a pure map — no
shuffle.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.registry import register
from conceptnetwork_spark.sources.staging import staged

# metadata schema attached to every payload column
MEDIA_META_SCHEMA = (
    "doc_id long, n_bytes long, crc32 long, sha string, head_hex string"
)


def _extract_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched metadata extraction over binary payloads."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len),
                "crc32": payloads.map(lambda b: zlib.crc32(b) & 0xFFFFFFFF),
                "sha": payloads.map(lambda b: hashlib.sha256(b).hexdigest()),
                "head_hex": payloads.map(lambda b: b[:8].hex()),
            }
        )


def extract_media_metadata(df: DataFrame) -> DataFrame:
    """payload:binary -> typed metadata rows via mapInPandas (D32 core)."""
    return df.select("doc_id", "payload").mapInPandas(
        _extract_meta, schema=MEDIA_META_SCHEMA
    )


# --------------------------------------------------------------------------
# Real image codec: netpbm (P6 color / P5 gray), dependency-free numpy.
# Netpbm is the one raster format simple enough to decode correctly without
# an imaging library, so decode/resize are REAL kernels here; JPEG/PNG would
# use the identical mapInPandas shape with PIL on a production cluster.
# --------------------------------------------------------------------------

_PPM_MAGICS = {b"P6": 3, b"P5": 1}


def encode_ppm(arr) -> bytes:
    """(h, w, 3) or (h, w) uint8 array -> binary PPM (P6) / PGM (P5)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        magic, (h, w) = b"P5", a.shape
    elif a.ndim == 3 and a.shape[2] == 3:
        magic, (h, w) = b"P6", a.shape[:2]
    else:
        raise ValueError(f"expected (h,w) or (h,w,3) array, got {a.shape}")
    return magic + f"\n{w} {h}\n255\n".encode() + a.tobytes()


def decode_ppm(payload: bytes):
    """Binary PPM/PGM bytes -> (h, w, channels) uint8 array. Tolerates the
    full netpbm header grammar: arbitrary whitespace and # comments between
    tokens, exactly one whitespace byte before the raster."""
    import numpy as np

    magic = bytes(payload[:2])
    if magic not in _PPM_MAGICS:
        raise ValueError(f"not a binary netpbm payload (magic {magic!r})")
    channels = _PPM_MAGICS[magic]
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated netpbm header")
        b = payload[pos]
        if b in b" \t\r\n":
            pos += 1
        elif b in b"#":  # comment runs to end of line
            while pos < len(payload) and payload[pos] not in b"\n":
                pos += 1
        else:
            start = pos
            while pos < len(payload) and payload[pos] not in b" \t\r\n#":
                pos += 1
            tokens.append(int(payload[start:pos]))
    w, h, maxval = tokens
    if not 0 < maxval < 256:
        raise ValueError(f"unsupported maxval {maxval} (1-byte samples only)")
    pos += 1  # the single whitespace byte separating header from raster
    n = w * h * channels
    raster = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    return raster.reshape((h, w, channels))


def _resize_nearest(arr, width: int, height: int):
    """Nearest-neighbor resample to (height, width) via numpy fancy
    indexing — the standard index map floor((i + 0.5) * src / dst) is
    center-aligned, matching PIL's NEAREST."""
    import numpy as np

    h, w = arr.shape[:2]
    rows = np.minimum(((np.arange(height) + 0.5) * h / height).astype(int), h - 1)
    cols = np.minimum(((np.arange(width) + 0.5) * w / width).astype(int), w - 1)
    return arr[rows][:, cols]


IMAGE_STATS_SCHEMA = (
    "doc_id long, width int, height int, channels int, "
    "mean_r double, mean_g double, mean_b double, px_sum long"
)


def decode_image(df: DataFrame) -> DataFrame:
    """payload:binary (netpbm) -> typed image stats via mapInPandas: parsed
    dimensions, per-channel means, total pixel sum. Map-only (no shuffle);
    at 100 TB this runs one Arrow batch at a time per 128 MB input split."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:  # one output frame per Arrow batch (bounded mem)
            rows: dict[str, list] = {
                k: [] for k in ("doc_id", "width", "height", "channels",
                                "mean_r", "mean_g", "mean_b", "px_sum")
            }
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                a = decode_ppm(b)
                means = a.reshape(-1, a.shape[2]).mean(axis=0)
                rows["doc_id"].append(doc_id)
                rows["height"].append(a.shape[0])
                rows["width"].append(a.shape[1])
                rows["channels"].append(a.shape[2])
                # grayscale (P5) reports its single channel in all three
                rows["mean_r"].append(float(means[0]))
                rows["mean_g"].append(float(means[1 % len(means)]))
                rows["mean_b"].append(float(means[2 % len(means)]))
                rows["px_sum"].append(int(a.sum()))
            yield pd.DataFrame(rows)

    return df.select("doc_id", "payload").mapInPandas(
        gen, schema=IMAGE_STATS_SCHEMA
    )


def fake_feature_extract(df: DataFrame, n_features: int = 8) -> DataFrame:
    """Deterministic stand-in for a decode+featurize kernel: byte-value
    histogram over the payload, Arrow-batched. Exercises the exact batch
    shape / schema a real decoder would use."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = [
                list(
                    np.bincount(
                        np.frombuffer(b, dtype=np.uint8) % n_features,
                        minlength=n_features,
                    ).astype("int64")
                )
                for b in pdf["payload"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return df.select("doc_id", "payload").mapInPandas(
        gen, schema="doc_id long, features array<long>"
    )


@register(
    "d32_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text)                               AS sha
    FROM documents ORDER BY doc_id
    """,
)
def d32_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction. The testdata has no real media
    files, so payload := utf-8 bytes of documents.text — the plumbing
    (binary column -> mapInPandas -> typed metadata) is the real operator;
    n_bytes/sha are oracle-checkable against DuckDB's blob functions."""
    d = catalog(spark, sf_dir).documents
    payloads = d.select("doc_id", F.col("text").cast("binary").alias("payload"))
    meta = extract_media_metadata(payloads)
    return meta.select("doc_id", "n_bytes", "sha").orderBy("doc_id")


@register("d32_feature_extract", oracle=None)
def d32_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode+featurize kernel shape over binary payloads (deterministic
    byte-histogram stand-in for the real image/audio featurizer; see
    decode_image for the stubbed production kernel). Rows-only check: the
    output is deterministic but DuckDB has no mapInPandas equivalent."""
    d = catalog(spark, sf_dir).documents
    payloads = d.select("doc_id", F.col("text").cast("binary").alias("payload"))
    return fake_feature_extract(payloads).orderBy("doc_id")


@register("d32_frame_sample", oracle=None)
def d32_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sample kernel shape (one->many mapInPandas): slice each
    payload into 4 evenly-spaced byte windows, one output row per frame.
    Rows-only check; frames surfaced as hex so the schema is string-stable."""
    d = catalog(spark, sf_dir).documents
    payloads = d.select("doc_id", F.col("text").cast("binary").alias("payload"))
    return (
        fake_frame_sample(payloads, n_frames=4, frame_bytes=16)
        .select("doc_id", "frame_idx", F.hex("frame").alias("frame_hex"))
        .orderBy("doc_id", "frame_idx")
    )


def resize_image(df: DataFrame, width: int, height: int) -> DataFrame:
    """payload:binary (netpbm) -> payload re-encoded at width x height
    (nearest-neighbor). Map-only; output schema identical to the input so
    resize composes with decode_image / extract_media_metadata."""

    def one(b: bytes) -> bytes:
        a = decode_ppm(b)
        if a.shape[2] == 1:  # keep P5 gray round-tripping as P5
            a = a.squeeze(axis=-1)
        return encode_ppm(_resize_nearest(a, width, height))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [one(b) for b in pdf["payload"]],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


def fake_frame_sample(
    df: DataFrame, n_frames: int = 4, frame_bytes: int = 16
) -> DataFrame:
    """Deterministic stand-in for a video frame-sample kernel: slice the
    payload into n_frames evenly-spaced byte windows (one output row per
    frame — the one->many batch shape a real ffmpeg sampler produces)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                step = max(len(b) // n_frames, 1)
                for i in range(min(n_frames, len(b))):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(bytes(b[i * step : i * step + frame_bytes]))
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return df.select("doc_id", "payload").mapInPandas(
        gen, schema="doc_id long, frame_idx int, frame binary"
    )


def synth_ppm_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> deterministic binary P6 payload: width = doc_id%6+2,
    height = doc_id%9+2, pixel(row, col, ch) = (row + ch) % 256. Heights
    stay < 256 so every image statistic has a closed form an oracle can
    compute from doc_id alone — the decode math is checkable end to end."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w, h = int(doc_id) % 6 + 2, int(doc_id) % 9 + 2
                r = np.arange(h, dtype=np.uint16)[:, None, None]
                ch = np.arange(3, dtype=np.uint16)[None, None, :]
                a = np.broadcast_to((r + ch) % 256, (h, w, 3))
                payloads.append(encode_ppm(a))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


@register(
    "d32_image_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(doc_id % 6 + 2 AS INT) AS width,
             CAST(doc_id % 9 + 2 AS INT) AS height
      FROM documents
    )
    SELECT doc_id, width, height, CAST(3 AS INT) AS channels,
           ROUND((height - 1) / 2.0, 4)     AS mean_r,
           ROUND((height - 1) / 2.0 + 1, 4) AS mean_g,
           ROUND((height - 1) / 2.0 + 2, 4) AS mean_b,
           CAST(width * (3 * height * (height - 1) / 2 + 3 * height)
                AS BIGINT) AS px_sum,
           ROUND((floor(height / 4.0) + floor(3 * height / 4.0)) / 2.0, 4)
               AS rs_mean_r
    FROM dims ORDER BY doc_id
    """,
)
def d32_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode + resize over binary payloads: synthesize a P6
    image per document (deterministic pixels from doc_id), decode it back
    (header parse + raster reshape + channel stats), nearest-neighbor
    resize to 2x2 and decode again. The oracle recomputes every statistic
    in closed form from doc_id — a decoder that mis-parses the header,
    swaps width/height in the reshape, or mis-maps resize indices breaks
    the hash. All kernels are map-only (no shuffle).

    r12 optimization (guide §4 — fewer Python crossings, and §2.4 — no
    shuffle where none is fundamental): the original plan synthesized the
    payload TWICE (once per branch) and joined the two decoded branches on
    doc_id — five Arrow crossings plus a join for what is per-row math.
    Both legs now run in ONE mapInPandas over one synth pass, calling the
    SAME codec kernels (``decode_ppm`` -> stats; ``_resize_nearest`` ->
    ``encode_ppm`` -> ``decode_ppm`` -> stats, so the resized payload still
    round-trips the real encoder); the join disappears. Paired probe
    1.83 s -> 1.63 s locally (the residual is the per-row codec work
    itself — the declared surface); the structural win is one payload
    pass instead of two and no doc_id join, the terms that grow with
    corpus size. Python crossings 5 -> 2; the only exchange left is the
    output sort."""

    def fused_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                k: []
                for k in (
                    "doc_id", "width", "height", "channels",
                    "mean_r", "mean_g", "mean_b", "px_sum", "rs_mean_r",
                )
            }
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                a = decode_ppm(b)
                means = a.reshape(-1, a.shape[2]).mean(axis=0)
                rows["doc_id"].append(doc_id)
                rows["height"].append(a.shape[0])
                rows["width"].append(a.shape[1])
                rows["channels"].append(a.shape[2])
                rows["mean_r"].append(float(means[0]))
                rows["mean_g"].append(float(means[1 % len(means)]))
                rows["mean_b"].append(float(means[2 % len(means)]))
                rows["px_sum"].append(int(a.sum()))
                # resize leg: identical bytes to resize_image->decode_image
                # (decode_ppm is deterministic, so reusing `a` == re-decoding)
                ra = a.squeeze(axis=-1) if a.shape[2] == 1 else a
                r = decode_ppm(encode_ppm(_resize_nearest(ra, 2, 2)))
                rmeans = r.reshape(-1, r.shape[2]).mean(axis=0)
                rows["rs_mean_r"].append(float(rmeans[0]))
            yield pd.DataFrame(rows)

    docs = catalog(spark, sf_dir).documents.select("doc_id")
    payloads = synth_ppm_payloads(docs)
    stats = payloads.mapInPandas(
        fused_stats, schema=IMAGE_STATS_SCHEMA + ", rs_mean_r double"
    )
    return (
        stats
        .select(
            "doc_id",
            "width",
            "height",
            "channels",
            F.round("mean_r", 4).alias("mean_r"),
            F.round("mean_g", 4).alias("mean_g"),
            F.round("mean_b", 4).alias("mean_b"),
            "px_sum",
            F.round("rs_mean_r", 4).alias("rs_mean_r"),
        )
        .orderBy("doc_id")
    )


def read_binary_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Real media ingest path: one row per file with content:binary +
    path/length metadata (Spark binaryFile source; splittable listing,
    payload streamed per-task)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(
            F.col("path"),
            F.col("length").alias("n_bytes"),
            F.col("content").alias("payload"),
        )
    )


# --------------------------------------------------------------------------
# D32 extension — REAL audio decode: RIFF/WAVE PCM16 codec, dependency-free
# (the audio twin of the netpbm image kernels above)
# --------------------------------------------------------------------------
WAV_SR = 8000  # synth sample rate


def encode_wav(samples, sample_rate: int = WAV_SR) -> bytes:
    """Minimal RIFF/WAVE writer: PCM16 mono, little-endian — the real
    container format, built with struct only."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav_bytes(payload: bytes):
    """Parse a RIFF/WAVE container: validate magic, walk the chunk list to
    'fmt ' and 'data' (robust to extra chunks), decode PCM16 LE samples.
    Returns (sample_rate, samples ndarray)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sr, bits, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid, clen = struct.unpack("<4sI", payload[pos : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt, ch, sr, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if fmt != 1 or ch != 1 or bits != 16:
                raise ValueError(f"unsupported wav: fmt={fmt} ch={ch} bits={bits}")
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if sr is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return sr, np.frombuffer(data, dtype="<i2")


def synth_wav_payloads(df: DataFrame) -> DataFrame:
    """doc_id -> deterministic WAV payload: n = doc_id%50+10 samples,
    sample[i] = ((doc_id*7 + i*13) % 201) - 100. Every audio statistic has
    a closed form the oracle recomputes from doc_id alone."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 50 + 10
                i = np.arange(n, dtype=np.int64)
                payloads.append(encode_wav((d * 7 + i * 13) % 201 - 100))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


def decode_audio(df: DataFrame) -> DataFrame:
    """Real WAV decode as a map-only kernel: Python touches only the byte
    parsing; the samples come back as an array column so every statistic
    stays a JVM higher-order function downstream."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "sample_rate": [], "samples": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                sr, samples = decode_wav_bytes(bytes(payload))
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(sr)
                out["samples"].append(samples.astype("int32"))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        gen, schema="doc_id long, sample_rate int, samples array<int>"
    )


@register(
    "d32_audio_decode",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, doc_id % 50 + 10 AS n FROM documents
    ),
    samples AS (
      SELECT doc_id, n, ((doc_id * 7 + i * 13) % 201) - 100 AS s
      FROM dims, unnest(range(0, n)) AS t(i)
    )
    SELECT doc_id,
           CAST({WAV_SR} AS INT)                  AS sample_rate,
           CAST(MAX(n) AS INT)                    AS n_samples,
           ROUND(MAX(n) * 1000.0 / {WAV_SR}, 4)   AS duration_ms,
           CAST(MAX(ABS(s)) AS INT)               AS peak,
           ROUND(AVG(s), 4)                       AS mean_amp,
           ROUND(SQRT(AVG(CAST(s AS DOUBLE) * s)), 4) AS rms
    FROM samples GROUP BY doc_id ORDER BY doc_id
    """,
)
def d32_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode over binary payloads: synthesize a PCM16 WAV per
    document (deterministic samples from doc_id), parse the RIFF container
    back (chunk walk, format validation, LE sample decode), then compute
    duration/peak/mean/RMS as JVM higher-order functions over the decoded
    array. The oracle recomputes every statistic in closed form from
    doc_id — a decoder that misreads the chunk layout, byte order, or
    sample width breaks the hash. Map-only end to end (no shuffle before
    the presentation sort); at 100 TB the payloads arrive via the
    binaryFile source and this exact kernel shape."""
    docs = catalog(spark, sf_dir).documents.select("doc_id")
    dec = decode_audio(synth_wav_payloads(docs))
    n = F.size("samples")
    sq = F.aggregate(
        "samples",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    total = F.aggregate(
        "samples", F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return dec.select(
        "doc_id",
        "sample_rate",
        n.cast("int").alias("n_samples"),
        F.round(n * 1000.0 / F.col("sample_rate"), 4).alias("duration_ms"),
        F.array_max(F.transform("samples", lambda x: F.abs(x))).cast("int").alias(
            "peak"
        ),
        F.round(total / n, 4).alias("mean_amp"),
        F.round(F.sqrt(sq / n), 4).alias("rms"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# JPEG header walk — real marker-segment parsing, dependency-free
# --------------------------------------------------------------------------
def make_jpeg_bytes(width: int, height: int, quality: int) -> bytes:
    """Construct a structurally valid JPEG prelude: SOI, JFIF APP0, a
    quality-tagged COM segment, SOF0 carrying the real dimensions, and
    EOI. No entropy-coded scan (the parser under test only walks marker
    segments) — but every marker, length field and byte offset is exactly
    per ITU-T.81, so the walker is exercised against the real format."""
    import struct

    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    com = f"q={quality}".encode()
    sof0 = struct.pack(
        ">BHH B BBB BBB BBB",
        8,            # precision
        height, width,
        3,            # components
        1, 0x22, 0,   # Y
        2, 0x11, 1,   # Cb
        3, 0x11, 1,   # Cr
    )
    out = b"\xff\xd8"                                   # SOI
    out += b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
    out += b"\xff\xfe" + struct.pack(">H", len(com) + 2) + com
    out += b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
    out += b"\xff\xd9"                                  # EOI
    return out


def parse_jpeg_header(buf: bytes) -> tuple[int, int, int] | None:
    """Walk JPEG marker segments to the first SOF0/SOF2 and return
    (width, height, components); None when the stream is not a JPEG or
    carries no frame header. Pure bytes — the real decode stays behind
    decode_image's stub gate."""
    import struct

    if len(buf) < 4 or buf[0:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(buf):
        if buf[i] != 0xFF:
            return None
        marker = buf[i + 1]
        if marker == 0xD9:  # EOI
            return None
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:  # standalone
            i += 2
            continue
        (seglen,) = struct.unpack(">H", buf[i + 2 : i + 4])
        if marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            h, w = struct.unpack(">HH", buf[i + 5 : i + 9])
            ncomp = buf[i + 9]
            return (w, h, ncomp)
        i += 2 + seglen
    return None


@register(
    "d32_jpeg_meta",
    # fixture dims are pure functions of doc_id, so the oracle re-derives
    # them arithmetically while Spark must recover them by actually
    # WALKING the JPEG bytes it staged.
    oracle="""
    SELECT doc_id,
           CAST(64 + (doc_id % 7) * 16 AS INT) AS width,
           CAST(48 + (doc_id % 5) * 16 AS INT) AS height,
           CAST(3 AS INT) AS n_components
    FROM documents WHERE doc_id < 40
    ORDER BY doc_id
    """,
)
def d32_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG metadata extraction by REAL marker-segment parsing: each
    payload is a structurally valid JPEG (SOI/APP0/COM/SOF0/EOI, built
    per ITU-T.81) and the operator recovers width/height/components by
    walking the marker stream inside an Arrow-batched mapInPandas — the
    ingest-side triage every multimodal pipeline runs before deciding
    what to decode (resolution filters, aspect buckets, corrupt-file
    routing). The entropy-coded scan is absent by design; full pixel
    decode remains the stubbed decode_image kernel.

    Scale shape: map-only — no shuffle but the output sort; headers are
    parsed from the first KB of each payload, so the operator reads
    metadata-sized bytes per file even when payloads are megabytes (pair
    with binaryFile ingest d01_binary_source at 100 TB)."""
    import os

    def build(tmp: str) -> None:
        # synthesized from doc ids alone, so one stage serves every sf
        for doc_id in range(40):
            jpg = make_jpeg_bytes(
                64 + (doc_id % 7) * 16,
                48 + (doc_id % 5) * 16,
                50 + doc_id % 50,
            )
            with open(os.path.join(tmp, f"doc_{doc_id:05d}.jpg"), "wb") as fh:
                fh.write(jpg)

    stage = staged("jpg", build)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jpg")
        .load(stage)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)[.]jpg$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                parsed = parse_jpeg_header(bytes(buf))
                assert parsed is not None, f"unparseable staged jpeg {doc_id}"
                w, h, n = parsed
                rows.append((int(doc_id), w, h, n))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "n_components"]
            )

    out = files.mapInPandas(
        gen,
        schema="doc_id long, width int, height int, n_components int",
    )
    return out.orderBy("doc_id")


# --------------------------------------------------------------------------
# D32 (cont.) — perceptual average-hash near-dup blocking  [round-6 wave 3]
# --------------------------------------------------------------------------
@register(
    "d32_image_ahash",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 9 + 2 AS h FROM documents
    ), v AS (
      SELECT doc_id,
             (0 * h) // 4 + 1 AS v0, (1 * h) // 4 + 1 AS v1,
             (2 * h) // 4 + 1 AS v2, (3 * h) // 4 + 1 AS v3
      FROM d
    ), b AS (
      SELECT doc_id,
             CAST(15 * (
                    (CASE WHEN v0 > (v0+v1+v2+v3)/4.0 THEN 1 ELSE 0 END)
             + 16 * (CASE WHEN v1 > (v0+v1+v2+v3)/4.0 THEN 1 ELSE 0 END)
            + 256 * (CASE WHEN v2 > (v0+v1+v2+v3)/4.0 THEN 1 ELSE 0 END)
           + 4096 * (CASE WHEN v3 > (v0+v1+v2+v3)/4.0 THEN 1 ELSE 0 END))
             AS BIGINT) AS ahash
      FROM v
    )
    SELECT doc_id, ahash,
           CAST(COUNT(*) OVER (PARTITION BY ahash) AS BIGINT) AS cluster_size
    FROM b ORDER BY doc_id
    """,
)
def d32_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash (aHash) near-dup blocking over REAL image
    bytes: decode the netpbm payload, grayscale, nearest-neighbor resample
    to the canonical 4x4 grid, threshold each cell against the grid mean,
    pack the 16 sign bits into a LONG, then block by hash equality — the
    image twin of SimHash text blocking (d29). The oracle recomputes the
    full decode→gray→resample→threshold→pack chain in closed form from
    doc_id (the synthesized pixel grammar, synth_ppm_payloads), so ANY
    kernel slip — channel averaging, resample index map, strict-vs-lax
    threshold, bit order — breaks the hash.

    Scale shape (100 TB of images): decode+hash is map-only mapInPandas
    (numpy per Arrow batch, bytes never shuffle); only (doc_id, 8-byte
    hash) reaches the one blocking exchange. Hamming-radius widening
    reuses d30_hamming_topk's bit-count machinery on these longs."""
    docs = catalog(spark, sf_dir).documents.select("doc_id")
    payloads = synth_ppm_payloads(docs)

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        weights = 1 << np.arange(16, dtype=np.int64)
        for pdf in batches:
            hashes = []
            for payload in pdf["payload"]:
                a = decode_ppm(bytes(payload))
                gray = a.astype(np.float64).mean(axis=2)
                h, w = gray.shape
                rows = (np.arange(4) * h) // 4
                cols = (np.arange(4) * w) // 4
                g4 = gray[np.ix_(rows, cols)]
                bits = (g4 > g4.mean()).flatten()
                hashes.append(int((bits * weights).sum()))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "ahash": hashes})

    hashed = payloads.mapInPandas(hash_batches, schema="doc_id long, ahash long")
    w = Window.partitionBy("ahash")
    return hashed.select(
        "doc_id",
        "ahash",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# D32 extension — ViT-style patch extraction (image -> patch tokens)
# --------------------------------------------------------------------------
PATCH = 2  # patch side; remainder rows/cols are dropped (ViT convention)


def patchify_image(df: DataFrame) -> DataFrame:
    """Real patch extraction over decoded P6 rasters: decode the container,
    reshape (h, w, 3) into non-overlapping PATCHxPATCH blocks, emit one row
    per patch with its exact pixel sum and mean — the tokenization step a
    vision encoder's data pipeline performs. Map-only: one input row fans
    out to its patch rows inside the same task."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [],
                "tile_row": [],
                "tile_col": [],
                "px_sum": [],
                "mean_val": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = decode_ppm(bytes(payload))  # (h, w, 3) uint8
                h, w, _ = arr.shape
                th, tw = h // PATCH, w // PATCH
                a = arr[: th * PATCH, : tw * PATCH].astype(np.int64)
                # (th, PATCH, tw, PATCH, 3) -> per-block sums
                blocks = a.reshape(th, PATCH, tw, PATCH, 3)
                sums = blocks.sum(axis=(1, 3, 4))
                denom = PATCH * PATCH * 3
                for r in range(th):
                    for c in range(tw):
                        out["doc_id"].append(doc_id)
                        out["tile_row"].append(r)
                        out["tile_col"].append(c)
                        out["px_sum"].append(int(sums[r, c]))
                        out["mean_val"].append(sums[r, c] / denom)
            yield pd.DataFrame(out)

    return df.mapInPandas(
        gen,
        schema="doc_id long, tile_row int, tile_col int, px_sum long, "
        "mean_val double",
    )


@register(
    "d32_image_patchify",
    # pixel(r, c, ch) = (r + ch) % 256 with r < 11, so a 2x2x3 patch at
    # tile_row t sums to 2 cols x sum_{r in 2t,2t+1} sum_{ch<3} (r+ch)
    # = 24t + 18, independent of the column — the oracle enumerates the
    # patch grid from doc_id alone
    oracle=f"""
    WITH dims AS (
      SELECT doc_id,
             (doc_id % 6 + 2) // {PATCH} AS tcols,
             (doc_id % 9 + 2) // {PATCH} AS trows
      FROM documents
    )
    SELECT doc_id,
           CAST(tr.i AS INT) AS tile_row,
           CAST(tc.j AS INT) AS tile_col,
           CAST(24 * tr.i + 18 AS BIGINT) AS px_sum,
           ROUND(2.0 * tr.i + 1.5, 4) AS mean_val
    FROM dims,
         unnest(range(0, trows)) AS tr(i),
         unnest(range(0, tcols)) AS tc(j)
    ORDER BY doc_id, tile_row, tile_col
    """,
)
def d32_image_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-transformer patch tokenization: every synthesized P6 image is
    decoded and split into non-overlapping 2x2 patches, one output row per
    patch token with exact pixel sum and mean — the image-side analogue of
    d31_chunk_text. The oracle recomputes the full patch grid in closed
    form from doc_id; a patchify that mixes strides, transposes the block
    reshape, or leaks remainder pixels breaks the hash.

    Scale shape: decode + reshape + block-sum all happen inside one
    mapInPandas task per input split (no shuffle before the presentation
    sort); the patch fan-out multiplies rows, not bytes — each patch row
    carries 28 bytes, not the raster."""
    docs = catalog(spark, sf_dir).documents.select("doc_id")
    patches = patchify_image(synth_ppm_payloads(docs))
    return patches.select(
        "doc_id",
        "tile_row",
        "tile_col",
        "px_sum",
        F.round("mean_val", 4).alias("mean_val"),
    ).orderBy("doc_id", "tile_row", "tile_col")


# --------------------------------------------------------------------------
# D32 extension — framewise audio energy (RMS / peak / zero-crossing rate)
# --------------------------------------------------------------------------
FRAME = 16  # samples per analysis frame; trailing partial frame is dropped


def frame_energy(df: DataFrame) -> DataFrame:
    """Framewise DSP features over decoded PCM: reshape samples into
    FRAME-sized windows and emit per-frame RMS, peak, and zero-crossing
    count (sign changes between consecutive samples WITHIN the frame,
    zero counted as non-negative). Frame size is a power of two, so the
    mean-of-squares divides exactly and RMS is bit-reproducible."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [],
                "frame": [],
                "peak": [],
                "rms": [],
                "zero_crossings": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, samples = decode_wav_bytes(bytes(payload))
                s = samples.astype(np.int64)
                nf = len(s) // FRAME
                for f in range(nf):
                    fr = s[f * FRAME : (f + 1) * FRAME]
                    nonneg = fr >= 0
                    out["doc_id"].append(doc_id)
                    out["frame"].append(f)
                    out["peak"].append(int(np.abs(fr).max()))
                    out["rms"].append(
                        float(np.sqrt(float((fr * fr).sum()) / FRAME))
                    )
                    out["zero_crossings"].append(
                        int((nonneg[1:] != nonneg[:-1]).sum())
                    )
            yield pd.DataFrame(out)

    return df.mapInPandas(
        gen,
        schema="doc_id long, frame int, peak int, rms double, "
        "zero_crossings long",
    )


@register(
    "d32_audio_energy",
    # sample formula is closed-form in (doc_id, i), so the oracle derives
    # each frame's stats — including the zero-crossing count, whose
    # predecessor sample is just the formula at i-1 — without any decode
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, doc_id % 50 + 10 AS n FROM documents
    ), samples AS (
      SELECT doc_id, n, i,
             ((doc_id * 7 + i * 13) % 201) - 100 AS s,
             CAST(i // {FRAME} AS INT) AS frame
      FROM dims, unnest(range(0, n)) AS t(i)
    ), framed AS (
      SELECT doc_id, frame, i, s,
             ((doc_id * 7 + (i - 1) * 13) % 201) - 100 AS prev_s
      FROM samples WHERE frame < n // {FRAME}
    )
    SELECT doc_id, frame,
           CAST(MAX(ABS(s)) AS INT) AS peak,
           ROUND(SQRT(SUM(CAST(s AS DOUBLE) * s) / {FRAME}), 4) AS rms,
           CAST(SUM(CASE WHEN i % {FRAME} > 0
                          AND (s >= 0) <> (prev_s >= 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM framed GROUP BY doc_id, frame ORDER BY doc_id, frame
    """,
)
def d32_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framewise audio analysis — per-16-sample-frame RMS energy, peak, and
    zero-crossing count over REAL decoded PCM16 WAV payloads: the feature
    triplet a speech-data pipeline uses for silence trimming and clipping
    detection before anything is transcribed. The oracle recomputes every
    frame from the sample formula alone; a framer that misaligns windows,
    includes the trailing partial frame, or counts crossings across frame
    boundaries breaks the hash. RMS divides by a power-of-two frame length
    before an IEEE-correctly-rounded sqrt, so the doubles are bit-identical
    on both engines.

    Scale shape: decode + framing are map-only inside one task; output rows
    are fixed-width frame features (the raster never crosses the wire)."""
    docs = catalog(spark, sf_dir).documents.select("doc_id")
    frames = frame_energy(synth_wav_payloads(docs))
    return frames.select(
        "doc_id",
        "frame",
        "peak",
        F.round("rms", 4).alias("rms"),
        "zero_crossings",
    ).orderBy("doc_id", "frame")
