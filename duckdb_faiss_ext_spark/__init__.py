"""duckdb_faiss_ext_spark — a PySpark-native analytics engine with the
capabilities of the duckdb-faiss-ext reference (DuckDB + FAISS vector search).

The reference embeds FAISS ANN indexes into SQL via ~12 functions
(see /root/reference/src/faiss_extension.cpp:1025-1149) and leans on the host
engine for relational operators.  Here the "host engine" is Spark SQL/Catalyst,
and the vector surface is re-expressed Spark-first:

- indexes are immutable data (DataFrame of (label, vector[, cluster_id]) +
  driver-side metadata), not mutable C++ objects guarded by mutexes;
- exact search is batched numpy inside ``mapInPandas`` (Arrow), mirroring the
  reference's chunk-at-a-time design (faiss_extension.cpp:621-666);
- filtered search is a semi-join before top-k (README.md:245 semantics);
- IVF training is MLlib KMeans; cluster pruning replaces nprobe traversal.
"""

from duckdb_faiss_ext_spark.engine import FaissSparkEngine
from duckdb_faiss_ext_spark.errors import (
    DimensionMismatch,
    FaissSparkError,
    ImmutableIndex,
    IndexAlreadyExists,
    IndexNotFound,
    InvalidMetric,
    InvalidVector,
    LabelModeMismatch,
    TrainingError,
)
from duckdb_faiss_ext_spark.session import get_spark

__all__ = [
    "FaissSparkEngine",
    "get_spark",
    "FaissSparkError",
    "IndexNotFound",
    "IndexAlreadyExists",
    "InvalidMetric",
    "InvalidVector",
    "ImmutableIndex",
    "LabelModeMismatch",
    "TrainingError",
    "DimensionMismatch",
]

__version__ = "0.1.0"
