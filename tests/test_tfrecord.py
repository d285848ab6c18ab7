"""TFRecord source/sink round-trip (reference S2/S3/S4/S5 fidelity,
``conceptnetwork/concept.py:75-121`` smoke-test shape: N copies of a fixture
record through the sink and back through schema-on-read parse)."""

import glob
import gzip
import os
import struct
from decimal import Decimal

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from conceptnetwork_spark.sources import tfrecord as tfr


def test_crc32c_known_vectors():
    # public CRC-32C check values
    assert tfr.crc32c(b"") == 0
    assert tfr.crc32c(b"123456789") == 0xE3069283


@settings(max_examples=60, deadline=None)
@given(st.lists(st.binary(max_size=300), max_size=40))
@example([b"", b"123456789"])
def test_crc32c_many_matches_scalar(bufs):
    got = tfr.crc32c_many(bufs)
    assert got.dtype == np.uint32
    assert got.tolist() == [tfr.crc32c(b) for b in bufs]
    if b"123456789" in bufs:
        assert got[bufs.index(b"123456789")] == 0xE3069283


def test_example_proto_round_trip():
    feats = {
        "candidate_id": [42.0],
        "gender": [1.0],
        "name": ["alice"],
        "counts": [1, 2, 3],
    }
    buf = tfr.encode_example(feats)
    back = tfr.decode_example(buf)
    assert back["candidate_id"] == pytest.approx([42.0])
    assert back["gender"] == pytest.approx([1.0])
    assert back["name"] == [b"alice"]
    assert back["counts"] == [1, 2, 3]


@pytest.mark.parametrize(
    "feats, name",
    [({"d": Decimal("2.75")}, "d"), ({"m": [1, 2.5]}, "m")],
)
def test_encode_rejects_values_it_would_change(feats, name):
    # an Int64List would store Decimal('2.75') as 2 and [1, 2.5] as [1, 2]
    with pytest.raises(ValueError, match=f"'{name}'"):
        tfr.encode_example(feats)


def test_write_rejects_decimal_column(spark, tmp_path):
    df = spark.createDataFrame([(Decimal("2.75"),)], "d decimal(4,2)")
    with pytest.raises(Exception, match="feature 'd': cannot encode Decimal"):
        tfr.write_tfrecords(df, str(tmp_path / "dec"))


def test_framing_round_trip():
    recs = [b"abc", b"", b"x" * 1000]
    assert tfr.unframe_records(tfr.frame_records(recs)) == recs


def test_framing_detects_corruption():
    framed = tfr.frame_records([b"hello world"])
    # a flipped data byte, then a flipped length byte: the bad length must
    # be reported as such, not as the truncation it makes the shard look like
    for pos, what in [(14, "data CRC"), (2, "length CRC")]:
        corrupted = bytearray(framed)
        corrupted[pos] ^= 0xFF
        with pytest.raises(ValueError, match=what):
            tfr.unframe_records(bytes(corrupted))


# Framed sizes: a record of n bytes takes 12 header bytes, n, then 4 CRC bytes.
@pytest.mark.parametrize(
    "cut, what",
    [
        (16 + 3 + 5, "partial record header"),   # inside the second header
        (16 + 3 + 12 + 2, "of its 4 bytes"),     # inside the second payload
        (16 + 3 + 12 + 4 + 2, "data CRC"),       # inside the second data CRC
    ],
)
def test_unframe_rejects_truncated_shard(cut, what):
    raw = tfr.frame_records([b"abc", b"defg"])[:cut]
    with pytest.raises(ValueError, match=f"part-00000.tfrecord: truncated.*{what}"):
        tfr.unframe_records(raw, "part-00000.tfrecord")


def test_read_rejects_truncated_shard(spark, tmp_path):
    """A shard cut inside its second record's header fails the read rather
    than returning the first record alone."""
    out = str(tmp_path / "cut")
    tfr.write_tfrecords(spark.createDataFrame([(1.0,), (2.0,)], "x double").coalesce(1), out)
    (shard,) = glob.glob(f"{out}/part-*.tfrecord.gz")
    with gzip.open(shard, "rb") as fh:
        raw = fh.read()
    first = 16 + struct.unpack_from("<Q", raw)[0]
    with gzip.open(shard, "wb") as fh:
        fh.write(raw[: first + 5])
    with pytest.raises(Exception, match="truncated TFRecord shard") as err:
        tfr.read_tfrecords(spark, out, "x double").collect()
    assert os.path.basename(shard) in str(err.value)


def test_dataframe_round_trip(spark, tmp_path):
    """Fixture rows -> gzip TFRecord shards -> binaryFile+decode -> equality
    (the reference writes 32 copies of one record and reads them back)."""
    rows = [(float(i), i % 2, f"user{i}", [0.1 * i, 0.2 * i]) for i in range(32)]
    df = spark.createDataFrame(
        rows, "candidate_id double, flag long, name string, emb array<double>"
    )
    out = str(tmp_path / "tfr")
    n = tfr.write_tfrecords(df.repartition(4), out)
    assert n == 32
    shards = glob.glob(f"{out}/part-*.tfrecord.gz")
    assert shards, "expected gzip shards"
    with gzip.open(shards[0], "rb") as fh:
        fh.read(1)  # really gzip

    back = tfr.read_tfrecords(
        spark, out, "candidate_id double, flag long, name string, emb array<double>"
    )
    got = sorted(
        (r.candidate_id, r.flag, r.name, [round(x, 5) for x in r.emb])
        for r in back.collect()
    )
    want = sorted(
        (cid, flag, name, [round(float(f"{x:.7g}"), 5) for x in emb])
        for cid, flag, name, emb in rows
    )
    # float32 storage: compare at reduced precision
    for g, w in zip(got, want):
        assert g[0] == pytest.approx(w[0], abs=1e-5)
        assert g[1] == w[1]
        assert g[2] == w[2]
        assert g[3] == pytest.approx(w[3], abs=1e-4)


# -- golden: the batched sink writes the bytes of the per-record codec -------


def _ref_feature(value) -> bytes:
    """The per-record Feature encoding the batched sink must reproduce."""
    if not isinstance(value, (list, tuple)):
        value = [value]
    if value and isinstance(value[0], str):
        payload = b"".join(tfr._len_delim(1, v.encode("utf-8")) for v in value)
        return tfr._len_delim(1, payload)
    if value and isinstance(value[0], float):
        packed = np.asarray(value, dtype="<f4").tobytes()
        return tfr._len_delim(2, tfr._len_delim(1, packed))
    packed = b"".join(tfr._varint(v & 0xFFFFFFFFFFFFFFFF) for v in value)
    return tfr._len_delim(3, tfr._len_delim(1, packed))


def _ref_example(feats: dict) -> bytes:
    entries = b"".join(
        tfr._len_delim(1, tfr._len_delim(1, k.encode()) + tfr._len_delim(2, _ref_feature(feats[k])))
        for k in sorted(feats)
    )
    return tfr._len_delim(1, entries)


def _ref_frame(data: bytes) -> bytes:
    def masked(b):
        crc = tfr.crc32c(b)
        return ((crc >> 15 | crc << 17) + 0xA282EAD8) & 0xFFFFFFFF

    header = struct.pack("<Q", len(data))
    return header + struct.pack("<I", masked(header)) + data + struct.pack("<I", masked(data))


GOLDEN_SCHEMA = "z double, id long, name string, emb array<double>, gone string"
GOLDEN_ROWS = [
    (0.5, 1, "alpha", [0.25, -1.5], None),
    (-2.0, -7, "", [], None),
    (None, 2**40, "héllo wörld", [3.0], None),
    (1e-3, None, None, None, None),
    (float("inf"), 0, "b" * 200, [0.1 * i for i in range(40)], None),
]


def _ref_shard(rows, names) -> bytes:
    return b"".join(
        _ref_frame(_ref_example({n: v for n, v in zip(names, row) if v is not None}))
        for row in rows
    )


def test_shards_match_per_record_framing(spark, tmp_path):
    """Decompressed shard bytes equal the per-record Example encoding and
    framing, with double, long, string, array<double> and null columns."""
    df = spark.createDataFrame(GOLDEN_ROWS, GOLDEN_SCHEMA).coalesce(1)
    out = str(tmp_path / "golden")
    assert tfr.write_tfrecords(df, out) == len(GOLDEN_ROWS)
    (shard,) = glob.glob(f"{out}/part-*.tfrecord.gz")
    with gzip.open(shard, "rb") as fh:
        assert fh.read() == _ref_shard(GOLDEN_ROWS, df.columns)


def test_partition_chunks_concatenate_to_one_framing(monkeypatch):
    """A partition encoded in several chunks frames the same bytes."""
    monkeypatch.setattr(tfr, "_CHUNK_ROWS", 2)
    names = ["z", "id", "name", "emb", "gone"]
    chunks = list(tfr._encode_partition(iter(GOLDEN_ROWS), names))
    assert [n for n, _ in chunks] == [2, 2, 1]
    assert b"".join(b for _, b in chunks) == _ref_shard(GOLDEN_ROWS, names)


def test_write_overwrites_earlier_shards(spark, tmp_path):
    """A second write into the same directory replaces the first, like the
    parquet sink's overwrite mode: no stale shards from a wider write."""
    out = str(tmp_path / "over")
    first = spark.range(80).selectExpr("cast(id as double) x").repartition(8)
    assert tfr.write_tfrecords(first, out) == 80
    assert len(glob.glob(f"{out}/part-*.tfrecord.gz")) == 8
    second = spark.range(1000, 1040).selectExpr("cast(id as double) x").repartition(4)
    assert tfr.write_tfrecords(second, out) == 40
    assert len(glob.glob(f"{out}/part-*.tfrecord.gz")) == 4
    back = tfr.read_tfrecords(spark, out, "x double").collect()
    assert sorted(r.x for r in back) == [float(i) for i in range(1000, 1040)]


def test_schema_projection_drops_features(spark, tmp_path):
    """S4 schema-on-read: requesting a column subset parses only those."""
    df = spark.createDataFrame([(1.0, "a"), (2.0, "b")], "x double, s string")
    out = str(tmp_path / "proj")
    tfr.write_tfrecords(df, out)
    back = tfr.read_tfrecords(spark, out, "x double")
    assert back.columns == ["x"]
    assert sorted(r.x for r in back.collect()) == pytest.approx([1.0, 2.0])
