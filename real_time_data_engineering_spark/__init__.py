"""PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capability surface of the reference framework (a 24-pipeline Kafka/Flink/
Spark/dbt Medallion comparison — see SURVEY.md). Everything here is
expressed with the DataFrame / Spark SQL / Structured Streaming APIs so
Catalyst + Tungsten pick the physical strategy; Python UDFs only appear
as Arrow-batched pandas UDFs in the genuinely-non-relational operators.

Layout:
    session      — tuned SparkSession builder (local + cluster profiles)
    schemas      — explicit StructTypes (no inference in production paths)
    sources      — batch/stream readers + writers (parquet, seed dims, CDC)
    functions    — scalar column builders (time, money, text, vectors)
    operators    — the operator catalog (silver, gold, dedup, similarity…)
    plans        — model-DAG runner + contracts
    streaming    — structured-streaming ingest (bronze/silver/DLQ/rollup)
    checks       — dbt-style assertion library
    registry     — (spark query, oracle SQL) pairs for the correctness gate
"""

__version__ = "0.1.0"
