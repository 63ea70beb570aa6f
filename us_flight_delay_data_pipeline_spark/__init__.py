"""PySpark-native analytics engine with the query/data-processing
capabilities of kanishkkapoor15/US-flight-delay-data-pipeline
("Project Aeroflow"), re-expressed Spark-first.

Layout
------
- ``session``    : tuned SparkSession builder (AQE, shuffle partitions).
- ``functions``  : scalar expression library (safe_div, year_month,
  envelope decode/repair, text stats, vector math).
- ``sources``    : table registry + ingestion (CSV/JSON/parquet/binary
  envelope; avro gated behind availability).
- ``plans``      : the medallion pipeline — silver transform, gold
  aggregates, analytic views (the reference's entire compute surface).
- ``operators``  : relational + [EXT] operators (dedup, similarity
  search, as-of join, top-k).
- ``streaming``  : Structured Streaming wrappers (foreachBatch reuse of
  the batch silver transform, watermarks, triggers).
- ``multimodal`` : binary-column (image/audio) plumbing with stubbed
  codecs.

Everything is DataFrame-first: declare the logical plan, let Catalyst
pick the physical strategy. Python UDFs only where no native
expression exists, and then always Arrow-vectorized (pandas_udf).
"""

__version__ = "0.1.0"
