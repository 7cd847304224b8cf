"""big_data_bowl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing surface of the
reference pipeline (Prodoorknob/Big_Data_Bowl, a pandas/numpy player-tracking
analytics dataflow) as idiomatic Spark: declarative DataFrame/SQL plans that
Catalyst optimizes, window functions instead of sort+groupby-diff, joins
instead of Python loops, Spark ML for the clustering path, and a single
pandas-UDF boundary for sequence-model inference.

Layout
------
- ``session``    : tuned SparkSession builder (AQE, shuffle partitions, Arrow)
                   and ``configure``, the one engine configuration
- ``schemas``    : explicit StructTypes for every table (no inferred schemas)
- ``sources``    : readers/writers — parquet catalog, csv glob union, staging
- ``functions``  : scalar expression helpers (SURVEY §2.8 F1–F19)
- ``operators``  : relational operators — windows, joins, aggregates,
                   separations, sequences (SURVEY §2.2–2.7, §2.10)
- ``ml``         : Spark ML clustering pipeline + centroid scoring, group
                   split, gated Keras LSTM boundary (SURVEY §2.9)
- ``pipeline``   : large-scale training-data ops — dedup, similarity search,
                   text analysis, multimodal columns
- ``streaming``  : Structured Streaming shapes of the kinematics operators
- ``queries``    : the named correctness-suite queries (SURVEY §5.3)
"""

__version__ = "0.1.0"
