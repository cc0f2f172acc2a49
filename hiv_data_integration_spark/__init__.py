"""PySpark-native analytics engine with the data-processing capabilities of
the ``aanoble/hiv-data-integration`` reference pipelines.

The reference (read-only at ``/root/reference``) is a single-node Polars ETL
system; this package re-expresses its operator inventory (SURVEY.md §2) as a
library of composable, Catalyst-friendly PySpark operators designed for
cluster-scale execution:

- ``session``    — SparkSession factory (AQE, Arrow, deterministic timezone)
- ``functions``  — scalar expression library (native Column expressions
                   replacing the reference's row-wise ``map_elements`` UDFs)
- ``operators``  — relational / aggregate / reshape / rules / fuzzy /
                   dedup / similarity / textops / multimodal operators
- ``io``         — REST fan-out sources, Excel ingest, CSV/parquet sinks
- ``pipeline``   — DAGs reproducing the reference entry points A/B/C
- ``streaming``  — Structured Streaming counterparts for the events table
- ``battery``/``battery_ext``/``battery_sql`` — the DuckDB-oracle-checked
                   query battery, merged once in ``registry`` and exposed
                   through ``__spark_entry__.py``
"""

__version__ = "0.1.0"
