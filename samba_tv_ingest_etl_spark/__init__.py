"""samba_tv_ingest_etl_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference Snowflake project ``imdinu/samba-tv-ingest-etl``
(S3 parquet ingestion -> panel attribution -> geo weighting ->
sessionization -> reach/frequency metrics), re-expressed Spark-first:
declarative DataFrame/SQL plans optimized by Catalyst, partition-aware
sources, anti-join based mutation suite, and a set of large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis) beyond the reference's own surface.

Layout
------
- ``session``    SparkSession factory (UTC, AQE, arrow).
- ``schemas``    Declared StructTypes for the raw + modelling tables.
- ``sources``    Stage reader (hive path extraction), load ledger, writers.
- ``operators``  Relational/dataflow operators: sessionization, panel
                 attribution (range-join rewrite), weighting, merge/delete,
                 dedup family, similarity search, text stats.
- ``plans``      Backfill chain + incremental DAG runner.
- ``streaming``  Structured Streaming variants (file ingest, sessions).
"""

__version__ = "0.1.0"
