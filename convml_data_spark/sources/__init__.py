"""Source connectors: schema-first file readers + the star-schema loader.

The reference's source layer (`convml_data/sources/` — GOES-16 S3 listings,
ERA5 calendar files, CERES HTTP indexes, local LES netCDF globs) splits into
two Spark-native halves:

- *catalog construction* (deterministic path expansion, range filters,
  missing-time anti-joins) lives in ``operators/calendar.py`` — it is a
  relational computation, not I/O;
- *bytes → DataFrame* lives here: schema-enforced CSV/JSON/text readers,
  the ``binaryFile`` source for fetched objects (S2/S4/S6 analog), and
  partition-pruned dataset discovery (S8's split-by-time output).

Scale rules (see README "Scale design"): every reader takes an EXPLICIT
schema — ``inferSchema`` burns a full extra scan of the input before the
first real job, which is disqualifying at 100 TB — and partitioned reads go
through ``basePath`` so partition-column predicates prune directories
instead of listing them.
"""

from convml_data_spark.sources.files import (
    read_binary_files,
    read_csv,
    read_json,
    read_partitioned,
    read_text,
)
from convml_data_spark.tables import (  # noqa: F401 (re-export)
    TABLE_NAMES,
    load_table,
    load_tables,
)

__all__ = [
    "read_csv",
    "read_json",
    "read_text",
    "read_binary_files",
    "read_partitioned",
    "TABLE_NAMES",
    "load_table",
    "load_tables",
]
