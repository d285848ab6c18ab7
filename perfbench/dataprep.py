"""The ``concept_dataprep`` workload: the paper's own pipeline.

One pass runs three stages, each one operation: the parquet dataprep job
(``run_dataprep(..., force=True)``), the gzip TFRecord sink
(``Network.write(fmt="tfrecord")``), and the read-back of both outputs
(``Network.read``, then ``read_tfrecords``). ``write_lines`` makes its input.

The read-back is one operation, not two, because the parquet read alone
takes about a tenth of a TFRecord stage: with four stages per pass, half the
operations are short and half long, so the median operation falls in the gap
between them and moves with whichever side the host slowed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

from conceptnetwork_spark.concept import Concept
from conceptnetwork_spark.network import Network
from conceptnetwork_spark.schema import FLOAT, FeatureSpec, flatten
from conceptnetwork_spark.sources.dataprep import run_dataprep
from conceptnetwork_spark.sources.tfrecord import read_tfrecords

CONCEPTS = ["origin", "tgt"]
FLAT_SCHEMA = ", ".join(f"{c}_{f} double" for c in CONCEPTS
                        for f in ("candidate_id", "gender"))

# The raw input is split into this many files: the text source makes one
# partition per file, so the parquet output, the TFRecord shards and the
# per-record Python encode and decode run on this many tasks.
INPUT_FILES = 4

SEX_VALID = ["m", "f", "M", "F", "male", "female", "Male", "Female"]
SEX_UNKNOWN = ["x", "u", "other", "?"]


class MinimalConcept(Concept):
    """The reference's minimal concept: ``'123,m'`` ->
    ``{candidate_id: 123.0, gender: 0.0}``; an unknown sex -> -1.0."""

    version = "1.1"
    NA = -1.0
    GENDER_MAP = {"m": 0.0, "male": 0.0, "f": 1.0, "female": 1.0}

    def featdef(self) -> FeatureSpec:
        return FeatureSpec().add("candidate_id", FLOAT).add("gender", FLOAT)

    def preprocess(self, raw):
        parts = F.split(raw, ",")
        sex = F.lower(F.element_at(parts, 2))
        gender = F.lit(self.NA)
        for k, v in sorted(self.GENDER_MAP.items()):
            gender = F.when(sex == k, F.lit(v)).otherwise(gender)
        return F.struct(
            F.element_at(parts, 1).cast("double").alias("candidate_id"),
            gender.alias("gender"),
        )


def network() -> Network:
    return Network().add(MinimalConcept("origin")).add(MinimalConcept("tgt", target=True))


def write_lines(path: str, n: int, seed: int) -> int:
    """Write ``n`` raw ``id,sex`` lines (FIXTURES.md A4) into the directory
    ``path``, in ``INPUT_FILES`` files: mostly valid, some with an unknown
    sex token, plus a few percent blank and malformed lines, which the parser
    must drop. Returns how many are valid (non-blank and with at least two
    comma-separated fields after trimming)."""
    rng = np.random.default_rng(seed)
    kind = rng.random(n)
    ids = rng.integers(1, 1_000_001, n)
    valid = 0
    lines: list[str] = []
    for k, i in zip(kind, ids):
        if k < 0.02:
            lines.append("" if k < 0.01 else "   ")
        elif k < 0.04:
            lines.append(f"bad{i}")
        else:
            pool = SEX_UNKNOWN if k < 0.09 else SEX_VALID
            lines.append(f"{i},{pool[int(i) % len(pool)]}")
            valid += 1
    os.makedirs(path)
    for i, chunk in enumerate(np.array_split(np.array(lines, dtype=object), INPUT_FILES)):
        with open(os.path.join(path, f"part-{i}.txt"), "w") as fh:
            fh.write("\n".join(chunk) + "\n")
    return valid


def input_files(path: str) -> list[str]:
    return [os.path.join(path, f) for f in sorted(os.listdir(path))]


def expected_records(lines_path: str) -> list[tuple]:
    """The flat records the pipeline must produce, computed in Python from
    the raw lines: blank lines and lines with fewer than two fields drop."""
    out = []
    for name in input_files(lines_path):
        with open(name) as fh:
            lines = fh.readlines()
        for line in lines:
            v = line.strip(" \n")
            parts = v.split(",")
            if not v or len(parts) < 2:
                continue
            rec = (float(parts[0]), MinimalConcept.GENDER_MAP.get(parts[1].lower(), -1.0))
            out.append(rec * len(CONCEPTS))
    return sorted(out)


class Stages:
    """Paths and builders of the three dataprep stages of one run."""

    LAYERS = ("sources.dataprep.run", "network.write_tfrecord",
              "network.read", "sources.tfrecord.read")
    READ_BACK = "read_back"

    def __init__(self, spark, lines_path: str, out_root: str):
        self.spark = spark
        self.net = network()
        self.lines = lines_path
        self.out_root = out_root
        self.parquet = os.path.join(out_root, str(self.net))
        self.tfrecord = os.path.join(out_root, "tfrecord")

    def ops(self):
        """(operation name, parts) per stage. A part is (layer name,
        builder); a builder runs its part and returns the DataFrame still to
        materialize, or None. The read-back has one part per sink."""
        return [
            (self.LAYERS[0], [(self.LAYERS[0], self.run_dataprep)]),
            (self.LAYERS[1], [(self.LAYERS[1], self.write_tfrecord)]),
            (self.READ_BACK, [(self.LAYERS[2], lambda: self.net.read(self.spark, self.parquet)),
                              (self.LAYERS[3], self.read_tfrecord)]),
        ]

    def run_dataprep(self):
        run_dataprep(self.spark, self.net, self.lines, self.out_root, force=True)

    def write_tfrecord(self):
        shutil.rmtree(self.tfrecord, ignore_errors=True)
        self.net.write(self.net.read(self.spark, self.parquet), self.tfrecord, fmt="tfrecord")

    def read_tfrecord(self):
        return read_tfrecords(self.spark, os.path.join(self.tfrecord, "*.tfrecord.gz"),
                              FLAT_SCHEMA)

    def shards(self) -> int:
        return sum(f.endswith(".tfrecord.gz") for f in os.listdir(self.tfrecord))

    def input_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in input_files(self.lines))

    def output_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for out in (self.parquet, self.tfrecord)
                   for d, _, files in os.walk(out) for f in files)

    def mismatch(self) -> str | None:
        """Why the outputs are wrong, or None: the parquet records must equal
        the ones computed from the lines, and the TFRecord read-back must
        equal the parquet records."""
        want = expected_records(self.lines)
        parquet = sorted(tuple(r) for r in
                         flatten(self.net.read(self.spark, self.parquet), CONCEPTS).collect())
        if parquet != want:
            return f"parquet records ({len(parquet)}) differ from the {len(want)} valid lines"
        back = sorted(tuple(r) for r in self.read_tfrecord().collect())
        if back != parquet:
            return f"TFRecord read-back ({len(back)}) differs from parquet ({len(parquet)})"
        return None
