"""Structured Streaming front end.

The reference is a strictly daily batch (cron ``0 0 * * *`` in its
``dags/get_securities_data.py:73``); this package holds
the streaming operators a continuous ingest of the same data needs
(SURVEY.md §2.9): watermarked incremental aggregations, the stateful
sessionizer and incremental corpus dedup. The daily landing→RAW→CORE
load itself has one path, ``pipeline.run_eod_pipeline``.
"""
