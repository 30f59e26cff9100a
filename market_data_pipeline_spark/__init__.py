"""PySpark-native analytics engine with the capabilities of the reference
market-data pipeline (Stackerr/market-data-pipeline), rebuilt Spark-first.

Layout
------
- ``session``     SparkSession factory (AQE, Arrow, UTC, tuned shuffle).
- ``schemas``     Explicit StructTypes for every table (reference + driver).
- ``sources``     Catalog/parquet loaders and driver-side crawler adapters.
- ``functions``   Column-level normalization/scalar helpers (SURVEY §2.8).
- ``operators``   Pure DataFrame -> DataFrame operators: analytics queries,
                  validation chains, upsert/compaction, dedup, similarity,
                  text analysis, event windows (SURVEY §2, §7).
- ``storage``     Parquet-backed mutable-table emulation (upsert/update/
                  delete/compaction on immutable files).
- ``streaming``   Structured Streaming variants of the event operators.
- ``plans``       The registered queries and pipelines. ``driver_queries``
                  holds the registry (``QUERIES``, ``ORACLES``) and the
                  shared derived frames; the subject modules ``market``,
                  ``timeseries``, ``events``, ``corpus``, ``similarity``,
                  ``relational``, ``ingest`` and ``tpch`` register their
                  queries into it; ``pipelines`` holds the batch pipelines.

Everything here is built on the public PySpark DataFrame API; no custom
Catalyst rules are needed (SURVEY §4).
"""

__version__ = "0.1.0"
