"""PySpark-native analytics engine with the capabilities of the
``Aulon7/polygon-daily-market-data-pipeline`` reference.

The reference is a daily batch ELT pipeline: Polygon.io EOD prices ->
S3 CSV landing -> Snowflake medallion warehouse (RAW -> CORE ->
DM_DIM / DM_FACT) -> Power BI DAX analytics. This package re-expresses
every one of its operators (SURVEY.md §2) Spark-first:

- ``sources``    : typed CSV landing reads, parquet table loaders, the
                   Polygon HTTP client (driver-side, mockable).
- ``functions``  : scalar-function shims (Snowflake calendar semantics,
                   try-casts, safe divide), DAX measures as Column
                   expressions, text/vector helpers.
- ``operators``  : keyed MERGE upsert, insert-only dim merge with
                   deterministic surrogate keys, window dedup,
                   LLM-data-pipeline dedup/similarity operators, DQ gates.
- ``plans``      : star-schema builds and the analytic query suite.
- ``streaming``  : Structured Streaming front end for the daily
                   micro-batch and event-stream aggregations.
- ``pipeline``   : single-process orchestration replacing the Airflow DAG.

Everything is DataFrame/Catalyst-native; no row-at-a-time Python UDFs in
any hot path. Designed for partition-pruned, broadcast-joined execution
at 100 TB even though tests run on ``local[*]``.
"""
