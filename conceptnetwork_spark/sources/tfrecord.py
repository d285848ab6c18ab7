"""Gzip TFRecord source/sink for ``tf.train.Example`` records.

Reference fidelity for S2/S3/S4 (SURVEY §2.1): the reference materializes
training data as gzip-compressed TFRecord files of serialized Example
protos (``examples/trainer/networks/preprocess.py:61-67`` write side;
``conceptnetwork/network.py:184-203`` read side with schema-on-read via
``featdef()``). Parquet stays the engine's canonical format (SURVEY §1.4);
this module provides the interchange path so data produced for/by a
TensorFlow input pipeline round-trips.

Everything is hand-rolled from the public wire formats — no tensorflow or
protobuf dependency:

- TFRecord framing: ``[len:uint64le][masked_crc32c(len):uint32le][data]
  [masked_crc32c(data):uint32le]`` with the TensorFlow CRC mask
  ``((crc >> 15 | crc << 17) + 0xa282ead8)``; CRC32C (Castagnoli) is
  table-driven numpy.
- ``Example`` protobuf: varint-encoded messages
  ``Example{1: Features{1: map<string, Feature{1: BytesList | 2: FloatList
  (packed) | 3: Int64List (packed)}>}}`` — exactly the three value-list
  types the reference's feature constructors emit
  (``examples/trainer/concepts/util.py:17-29``).

Scale stance: write is one shard per partition (executor-side, no driver
collect); read is ``binaryFile`` source -> ``mapInPandas`` decode, so each
file decodes where it lands and schema projection drops unrequested
features before they reach the JVM row. Framing and CRC32C are batched: the
sink encodes up to ``_CHUNK_ROWS`` rows of a partition column by column and
frames them in one call, and the source unframes and checks every CRC of a
whole decompressed shard at once; ``crc32c_many`` runs the CRC table as
numpy vector steps over many records instead of a Python step per byte.
"""

from __future__ import annotations

import glob
import gzip
import os
import struct
from collections.abc import Iterator, Sequence
from itertools import chain, islice

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

# -- CRC32C (Castagnoli), table-driven -------------------------------------

_CRC_TABLE = None


def _crc32c_table() -> np.ndarray:
    global _CRC_TABLE
    if _CRC_TABLE is None:
        poly = 0x82F63B78
        table = np.zeros(256, dtype=np.uint32)
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ poly if c & 1 else c >> 1
            table[i] = c
        _CRC_TABLE = table
    return _CRC_TABLE


def crc32c(data: bytes) -> int:
    """CRC32C of one byte string, a Python step per byte: the reference
    that ``crc32c_many`` is tested against."""
    table = _crc32c_table()
    crc = 0xFFFFFFFF
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return int(crc ^ 0xFFFFFFFF)


def _crc32c_matrix(mat: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """CRC32C of each row of the ``(n, L)`` uint8 matrix ``mat``, one vector
    step per column. Row ``i``'s bytes begin at column ``starts[i]``; the
    columns before are zero padding. A zero register stays zero over zero
    bytes, so each register is held at zero through its padding and set to
    the initial value where its own bytes begin."""
    table = _crc32c_table()
    by_start = np.argsort(starts, kind="stable")
    firsts, cuts = np.unique(starts[by_start], return_index=True)
    begin = dict(zip(firsts.tolist(), np.split(by_start, cuts[1:])))
    reg = np.zeros(len(mat), dtype=np.uint32)
    for j, col in enumerate(np.ascontiguousarray(mat.T)):
        if j in begin:
            reg[begin[j]] = 0xFFFFFFFF
        reg = table[(reg ^ col) & 0xFF] ^ (reg >> 8)
    return reg ^ np.uint32(0xFFFFFFFF)


def crc32c_many(bufs: Sequence[bytes]) -> np.ndarray:
    """CRC32C of every byte string in ``bufs``, as a uint32 array.

    Strings whose lengths have the same bit length form one group, stacked
    into an ``(n, L)`` matrix left-padded with zeros to the group's longest
    string, so a group costs ``L`` vector steps rather than ``n * L`` scalar
    ones and padding at most doubles its bytes. Equal-length strings (all
    record headers, fixed-width records) form one group with no padding.
    """
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    out = np.zeros(len(bufs), dtype=np.uint32)  # crc32c(b"") == 0
    group = np.frexp(lens)[1]  # bit length of each length; 0 for b""
    for g in np.unique(group[lens > 0]):
        rows = np.flatnonzero(group == g)
        width = int(lens[rows].max())
        padded = b"".join([bytes(width - len(bufs[i])) + bufs[i] for i in rows])
        mat = np.frombuffer(padded, dtype=np.uint8).reshape(len(rows), width)
        out[rows] = _crc32c_matrix(mat, width - lens[rows])
    return out


def _masked(crc: np.ndarray) -> np.ndarray:
    return ((crc >> 15) | (crc << 17)) + np.uint32(0xA282EAD8)


def _masked_length_crcs(lengths: Sequence[int]) -> np.ndarray:
    """Masked CRC32C of each record's 8-byte little-endian length header."""
    heads = np.array(lengths, dtype="<u8").view(np.uint8).reshape(-1, 8)
    return _masked(_crc32c_matrix(heads, np.zeros(len(heads), dtype=np.int64)))


# -- protobuf varint primitives --------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        bits = n & 0x7F
        n >>= 7
        if n:
            out.append(bits | 0x80)
        else:
            out.append(bits)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _len_delim(field_no: int, payload: bytes) -> bytes:
    return _varint(field_no << 3 | 2) + _varint(len(payload)) + payload


# -- tf.train.Example encode ------------------------------------------------

# Feature oneof field of each value-list kind
_FEATURE_FIELD = {"bytes": 1, "float": 2, "int": 3}
_MASK64 = 0xFFFFFFFFFFFFFFFF


def _value_lists(kind: str, is_array: bool, values: list) -> list[bytes | None]:
    """The value-list message of each non-null value of one column: a
    BytesList of strings, a packed FloatList or a packed Int64List; None for
    an empty list."""
    if kind == "float":
        # one float32 conversion for the whole column
        flat = list(chain.from_iterable(values)) if is_array else values
        packed = np.asarray(flat, dtype="<f4").tobytes()
        if not is_array:
            return [b"\n\x04" + packed[i : i + 4] for i in range(0, len(packed), 4)]
        out, pos = [], 0
        for vs in values:
            n = 4 * len(vs)
            out.append(b"\n" + _varint(n) + packed[pos : pos + n] if n else None)
            pos += n
        return out
    lists = values if is_array else [[v] for v in values]
    if kind == "int":
        out = []
        for vs in lists:
            packed = b"".join([_varint(int(v) & _MASK64) for v in vs])
            out.append(b"\n" + _varint(len(packed)) + packed if packed else None)
        return out
    return [
        b"".join([
            _len_delim(1, v.encode("utf-8") if isinstance(v, str) else bytes(v)) for v in vs
        ]) if len(vs) else None
        for vs in lists
    ]


def _value_kind(name: str, values) -> str:
    """The value-list kind of one feature's values. Raises ValueError for a
    type no list stores unchanged (Decimal, datetime, ...) and for a mix of
    kinds: an Int64List would truncate the floats, a FloatList would round
    large ints."""
    kinds = set()
    for t in {type(v) for v in values}:
        if issubclass(t, (str, bytes)):
            kinds.add("bytes")
        elif issubclass(t, (float, np.floating)):
            kinds.add("float")
        elif issubclass(t, (int, np.integer, np.bool_)):
            kinds.add("int")
        else:
            raise ValueError(f"feature {name!r}: cannot encode {t.__name__} values")
    if len(kinds) > 1:
        raise ValueError(f"feature {name!r} mixes {' and '.join(sorted(kinds))} values")
    return kinds.pop() if kinds else "int"


def _encode_column(name: str, values: Sequence) -> list[bytes]:
    """One feature's ``Features`` map entries, one per value; ``b""`` where
    the value is None, so the feature is left out of that Example. A list,
    tuple or array value is a multi-valued feature."""
    present = [v for v in values if v is not None]
    is_array = bool(present) and isinstance(present[0], (list, tuple, np.ndarray))
    kind = _value_kind(name, chain.from_iterable(present) if is_array else present)
    key = _len_delim(1, name.encode("utf-8"))

    def entry(field: int, msg: bytes) -> bytes:
        return _len_delim(1, key + _len_delim(2, _len_delim(field, msg)))

    field = _FEATURE_FIELD[kind]
    empty = entry(3, b"\n\x00")  # an empty list of any kind is an empty Int64List
    # an entry's bytes before its value list depend only on the list's length
    prefixes: dict[int, bytes] = {}
    out = []
    for msg in _value_lists(kind, is_array, present):
        if msg is None:
            out.append(empty)
            continue
        prefix = prefixes.get(len(msg))
        if prefix is None:
            full = entry(field, bytes(len(msg)))
            prefix = prefixes[len(msg)] = full[: len(full) - len(msg)]
        out.append(prefix + msg)
    if len(present) < len(values):
        it = iter(out)
        out = [b"" if v is None else next(it) for v in values]
    return out


def encode_example(features: dict) -> bytes:
    """dict of name -> value(s) => serialized tf.train.Example. Lists/np
    arrays of ints -> Int64List, floats -> FloatList (packed), str/bytes ->
    BytesList; a scalar is a one-element list and None leaves the feature
    out."""
    entries = [_encode_column(name, [features[name]])[0] for name in sorted(features)]
    return _len_delim(1, b"".join(entries))  # Example.features = field 1


# -- tf.train.Example decode ------------------------------------------------


def _iter_fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field_no, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, pos = _read_varint(buf, pos)
            yield field_no, wire, buf[pos : pos + ln]
            pos += ln
        elif wire == 0:
            v, pos = _read_varint(buf, pos)
            yield field_no, wire, v
        elif wire == 5:
            yield field_no, wire, buf[pos : pos + 4]
            pos += 4
        elif wire == 1:
            yield field_no, wire, buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _decode_value_list(buf: bytes) -> list:
    """Feature proto bytes -> python list (bytes/float/int)."""
    for field_no, wire, payload in _iter_fields(buf):
        if field_no == 1:  # BytesList
            return [
                v for f, w, v in _iter_fields(payload) if f == 1
            ]
        if field_no == 2:  # FloatList
            vals: list[float] = []
            for f, w, v in _iter_fields(payload):
                if f == 1 and w == 2:
                    vals.extend(np.frombuffer(v, dtype="<f4").tolist())
                elif f == 1 and w == 5:
                    vals.append(struct.unpack("<f", v)[0])
            return vals
        if field_no == 3:  # Int64List
            vals = []
            for f, w, v in _iter_fields(payload):
                if f == 1 and w == 2:
                    pos = 0
                    while pos < len(v):
                        x, pos = _read_varint(v, pos)
                        if x >= 1 << 63:
                            x -= 1 << 64
                        vals.append(x)
                elif f == 1 and w == 0:
                    vals.append(v if v < 1 << 63 else v - (1 << 64))
            return vals
    return []


def decode_example(buf: bytes) -> dict:
    """Serialized tf.train.Example -> dict of name -> list of values."""
    out: dict = {}
    for field_no, _w, features_buf in _iter_fields(buf):
        if field_no != 1:
            continue
        for f, _w2, entry in _iter_fields(features_buf):
            if f != 1:
                continue
            key, val = None, []
            for ef, _w3, ev in _iter_fields(entry):
                if ef == 1:
                    key = ev.decode("utf-8")
                elif ef == 2:
                    val = _decode_value_list(ev)
            if key is not None:
                out[key] = val
    return out


# -- TFRecord framing --------------------------------------------------------


def frame_records(datas: Sequence[bytes]) -> bytes:
    """The TFRecord framing of ``datas``, in order, with every length and
    data CRC computed in one batch."""
    hcrc = _masked_length_crcs([len(d) for d in datas])
    dcrc = _masked(crc32c_many(datas))
    return b"".join([
        struct.pack("<QI", len(d), h) + d + struct.pack("<I", c)
        for d, h, c in zip(datas, hcrc.tolist(), dcrc.tolist())
    ])


def unframe_records(raw: bytes, path: str = "<bytes>") -> list[bytes]:
    """The records framed in ``raw``, a whole TFRecord shard. Every length
    and data CRC is checked; a mismatch or a shard that ends inside a record
    raises ValueError naming ``path``."""
    recs, lengths, want_h, want_d = [], [], [], []
    pos, end, short = 0, len(raw), None
    while pos < end:
        if end - pos < 12:
            short = f"partial record header at byte {pos}"
            break
        length, hcrc = struct.unpack_from("<QI", raw, pos)
        lengths.append(length)
        want_h.append(hcrc)
        if end - pos - 12 < length:
            short = f"record at byte {pos} has {end - pos - 12} of its {length} bytes"
            break
        if end - pos - 12 - length < 4:
            short = f"record at byte {pos} is missing its data CRC"
            break
        recs.append(raw[pos + 12 : pos + 12 + length])
        want_d.append(struct.unpack_from("<I", raw, pos + 12 + length)[0])
        pos += 16 + length
    # length CRCs first: a corrupt length misplaces everything after it
    bad = np.flatnonzero(_masked_length_crcs(lengths) != np.array(want_h, dtype=np.uint32))
    if bad.size:
        raise ValueError(f"{path}: TFRecord length CRC mismatch in record {bad[0]}")
    if short:
        raise ValueError(f"{path}: truncated TFRecord shard: {short}")
    bad = np.flatnonzero(_masked(crc32c_many(recs)) != np.array(want_d, dtype=np.uint32))
    if bad.size:
        raise ValueError(f"{path}: TFRecord data CRC mismatch in record {bad[0]}")
    return recs


# -- DataFrame sink/source ---------------------------------------------------

# Rows a write task holds and encodes at once: the batch amortizes the
# per-column numpy steps while a partition of any size streams through.
_CHUNK_ROWS = 16384


def _encode_partition(rows: Iterator, names: list[str]) -> Iterator[tuple[int, bytes]]:
    """(row count, framed Examples) per chunk of up to ``_CHUNK_ROWS`` rows,
    ``names`` naming each position of a row. Features are written in name
    order and null values are left out."""
    order = sorted(range(len(names)), key=names.__getitem__)
    while chunk := list(islice(rows, _CHUNK_ROWS)):
        cols = list(zip(*chunk))
        entries = [_encode_column(names[i], cols[i]) for i in order]
        bodies = [b"".join(row) for row in zip(*entries)] if entries else [b""] * len(chunk)
        yield len(chunk), frame_records([b"\n" + _varint(len(b)) + b for b in bodies])


def write_tfrecords(df: DataFrame, out_dir: str, compress: bool = True) -> int:
    """S2: write one gzip TFRecord shard per partition (executor-side IO,
    nothing through the driver). Each row's columns become Example features;
    array columns become multi-valued features and null values are left out.
    Replaces the shards and ``_SUCCESS`` marker of an earlier write to
    ``out_dir``, like the parquet sink's overwrite mode. Returns total
    record count. A column type no Example value list stores unchanged
    (decimal, timestamp, binary, ...) fails the write with a ValueError."""
    names = df.columns
    os.makedirs(out_dir, exist_ok=True)
    base = glob.escape(out_dir)
    for stale in glob.glob(os.path.join(base, "part-*.tfrecord*")) + glob.glob(
        os.path.join(base, "_SUCCESS")
    ):
        os.remove(stale)
    suffix = ".tfrecord.gz" if compress else ".tfrecord"

    def write_partition(idx: int, rows) -> Iterator[int]:
        path = os.path.join(out_dir, f"part-{idx:05d}{suffix}")
        opener = gzip.open if compress else open
        n = 0
        with opener(path, "wb") as fh:
            for count, framed in _encode_partition(rows, names):
                fh.write(framed)
                n += count
        if n == 0:
            os.remove(path)
        yield n

    total = df.rdd.mapPartitionsWithIndex(write_partition).sum()
    # match the parquet sink's commit marker so run_dataprep caching works
    open(os.path.join(out_dir, "_SUCCESS"), "wb").close()
    return int(total)


def read_tfrecords(
    spark: SparkSession, path_glob: str, schema: str
) -> DataFrame:
    """S3/S4: binaryFile source (globbing, parallel read, file pruning from
    Spark) -> mapInPandas decode of framing + Example protos, projected to
    ``schema`` (a DDL string — the ``featdef()`` schema-on-read contract).

    Scalar fields take the first list element (the reference's
    FixedLenFeature([]) parse shape); array fields keep the full list.
    """
    files = spark.read.format("binaryFile").load(path_glob)
    target = spark.createDataFrame([], schema).schema
    names = [f.name for f in target.fields]
    scalars = {
        f.name: not f.dataType.typeName().startswith("array") for f in target.fields
    }
    stringly = {f.name: "string" in f.dataType.simpleString() for f in target.fields}

    def _conv(v, name):
        if stringly[name] and isinstance(v, bytes):
            return v.decode("utf-8")
        return v

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {n: [] for n in names}
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = gzip.decompress(content) if path.endswith(".gz") else bytes(content)
                for rec in unframe_records(raw, path):
                    ex = decode_example(rec)
                    for n in names:
                        v = ex.get(n, [])
                        if scalars[n]:
                            cols[n].append(_conv(v[0], n) if v else None)
                        else:
                            cols[n].append([_conv(x, n) for x in v])
            yield pd.DataFrame(cols, columns=names)

    return files.select("path", "content").mapInPandas(decode, schema=schema)
