"""convml-data-spark: a PySpark-native analytics/ETL engine with the query
and data-processing capabilities of convml/convml-data (reference at
/root/reference, read-only), re-expressed Spark-first.

The reference is a Luigi-task file pipeline (see its
``convml_data/pipeline/__init__.py``); this engine expresses the same
operator semantics as declarative DataFrame programs so Catalyst/AQE pick
the physical plan.  Layout:

- ``session``    — tuned SparkSession builder (AQE, UTC, Arrow, host-sized local master)
- ``tables``     — loaders for the driver's star-schema parquet test tables
- ``operators``  — the SURVEY.md §2 operator inventory (filters, as-of joins,
                   binning, tiler, calendar scans, scene table, sampling,
                   dedup, similarity, …)
- ``functions``  — scalar expression helpers (scene ids, text stats, vectors)
"""

from .session import get_spark
from .tables import load_tables

__all__ = ["get_spark", "load_tables"]

__version__ = "0.1.0"
