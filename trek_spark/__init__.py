"""trek_spark — PySpark-native main-content extraction engine.

A from-scratch re-expression of officialunofficial/trek's extraction
capabilities (HTML boilerplate stripping, metadata extraction, markdown
serialization) as a Spark pipeline over transcript tables: DataFrame-declared
plans, Arrow-batched pandas UDFs for the per-document string transforms,
range repartitioning on (bucket, conv_id, turn_idx), checkpointed resume,
and per-partition lineage/metrics.
"""

__version__ = "0.1.0"
