"""conceptnetwork_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference framework
``Fematich/conceptnetwork`` (a Beam+TF dataprep/training helper) as an
idiomatic Spark engine:

- data model: flat named-feature records -> DataFrame rows with one nested
  struct column per Concept (see ``schema.py``; reference
  ``conceptnetwork/network.py:74-87`` used string name-prefixes instead)
- dataprep pipeline: Beam ``ReadFromText | FlatMap | Map | WriteToTFRecord``
  (reference ``examples/trainer/networks/preprocess.py:42-70``) ->
  ``spark.read`` -> DataFrame transforms -> ``write.parquet``
- model surface: TF Estimator (reference ``conceptnetwork/network.py:135-163``)
  -> ``pyspark.ml`` Pipeline
- plus the declared relational / streaming / LLM-dataprep operator surface
  from SURVEY.md §2.2 (D1-D33), each registered in ``registry`` with a
  DuckDB-comparable oracle where semantics are deterministic.

Everything is stock Spark: Catalyst optimizes the declared plans; no RDDs,
no custom physical rules.
"""

from conceptnetwork_spark.session import get_spark
from conceptnetwork_spark.catalog import Catalog, TABLES, catalog
from conceptnetwork_spark.schema import FeatureSpec
from conceptnetwork_spark.concept import Concept
from conceptnetwork_spark.network import Network

__all__ = [
    "get_spark",
    "Catalog",
    "catalog",
    "TABLES",
    "FeatureSpec",
    "Concept",
    "Network",
]

__version__ = "0.1.0"
