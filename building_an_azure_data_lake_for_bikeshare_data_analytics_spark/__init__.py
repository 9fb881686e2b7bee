"""PySpark-native analytics engine with the query/data-processing capabilities
of the reference bikeshare data-lake project (see SURVEY.md).

Brand-new Spark-first implementation — DataFrame/SQL plans optimized by
Catalyst, designed for 100 TB scale (broadcast star joins, partial aggregation,
AQE, partition-pruned scans) while tested on local[32].

Layout:
    session    — SparkSession factory tuned for the engine
    sources/   — readers (csv/parquet/table) and overwrite-safe writers
    functions/ — column-level building blocks (schema casts, derivations,
                 text metrics, vector math)
    operators/ — relational operator compositions (analytics templates,
                 date spines, dedup, similarity, windows, multimodal)
    plans/     — the named query registry + DuckDB oracle SQL (driver contract)
"""

__version__ = "0.1.0"
