"""big_data_analysis_project_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of SuryaKeyzz/Big_Data_Analysis_Project
(reference surveyed in SURVEY.md). All heavy lifting is declared via
the DataFrame/SQL API so Catalyst + Tungsten pick physical strategy;
Python UDFs appear only in the Phase-E extension operators where no
built-in exists, and there only as Arrow-batched pandas UDFs.

Layout:
    session.py    SparkSession factory (AQE, Arrow, Kryo, UTC, scale-aware)
    schemas.py    explicit StructTypes for every table the engine touches
    sources/      readers (csv/json/parquet/jdbc-gated) + synthetic generator
    sinks.py      parquet/csv/jdbc writers (partitioning, upsert keys, audit)
    operators/    cleaning, reshape, joins, aggregates, windows, graphs (CC)
    functions/    rate derivation (decimal parity), text tokenization rules
                  (Spark/Python/DuckDB dialects), multimodal decode
    plans/        end-to-end pipelines (flagship, TB golden pipeline)
    registry/     every query key + DuckDB oracle the driver checks:
                  relational, pipeline, serving, text, dedup (exact/
                  minhash-LSH/simhash/ngram/embedding), similarity (ANN),
                  streaming (tumbling window + Structured Streaming twin)
"""

__version__ = "0.1.0"
