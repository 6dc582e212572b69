"""ftm_lakehouse_spark — a PySpark-native lakehouse engine.

A brand-new engine with the query and data-processing capabilities of
openaleph/ftm-lakehouse (reference surveyed in SURVEY.md),
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst,
hive-partitioned Parquet storage with dynamic partition overwrite,
window-based merge semantics, and a set of large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
plumbing) the reference does not have.

Nothing in here is ported code; semantics are derived from the reference's
documented behavior (cited per-module as ``/root/reference/<file>:<lines>``)
and re-implemented on the Spark execution model.
"""

__version__ = "0.1.0"

from ftm_lakehouse_spark.session import get_spark  # noqa: F401
