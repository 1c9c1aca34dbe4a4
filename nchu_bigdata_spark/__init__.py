"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference repo (swguo/NCHU.BigData), generalized per
SURVEY.md §2.B.

The reference (``/root/reference/``) is a Hadoop-MapReduce iterative
K-means over a PM2.5 time-series (``hadoop_tutorial/src/Kmeans.java:1-282``).
This engine re-expresses that surface — and its capability closure —
Spark-first: declarative DataFrame/SQL plans optimized by Catalyst, with
Pandas UDFs only where built-ins can't express the semantics.

Layout:
    session     SparkSession builder (AQE, Arrow, UTC, tuned shuffle)
    io          schemas + readers for the testdata tables
    registry    query registry consumed by __spark_entry__.py
    queries/    relational core, scalar fns, UDF surface, streaming-batch
    operators/  kmeans, dedup, similarity, text, as-of join, multimodal
    streaming/  Structured Streaming runners (parity with batch forms)
"""

from nchu_bigdata_spark.session import get_session
from nchu_bigdata_spark.registry import REGISTRY, register, QuerySpec


def __getattr__(name: str):
    """Lazy re-exports of the general-purpose operator APIs (the
    functions that take arbitrary DataFrames, not testdata paths), so
    library users get a stable facade without paying the pyspark import
    cost at package import:

        from nchu_bigdata_spark import kmeans_fit, connected_components
    """
    lazy = {
        "kmeans_fit": ("nchu_bigdata_spark.operators.kmeans", "fit"),
        "kmeans_assign": ("nchu_bigdata_spark.operators.kmeans", "assign"),
        "connected_components": (
            "nchu_bigdata_spark.operators.dedup",
            "connected_components",
        ),
        "asof_join": ("nchu_bigdata_spark.operators.asof", "asof_join"),
        "run_events_stream": (
            "nchu_bigdata_spark.streaming",
            "run_events_stream",
        ),
        "run_events_stream_to_parquet": (
            "nchu_bigdata_spark.streaming",
            "run_events_stream_to_parquet",
        ),
        # round 6: DataFrame-in APIs of the new pipeline operators
        "pii_scrub": ("nchu_bigdata_spark.operators.text", "pii_scrub"),
        "simhash_pairs": (
            "nchu_bigdata_spark.operators.dedup",
            "simhash_pairs",
        ),
        # round 8
        "compression_ratio": (
            "nchu_bigdata_spark.operators.text",
            "compression_ratio",
        ),
        "shingle_set": ("nchu_bigdata_spark.operators.dedup", "shingle_set"),
    }
    if name in lazy:
        import importlib

        mod, attr = lazy[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__all__ = [
    "get_session",
    "REGISTRY",
    "register",
    "QuerySpec",
    "kmeans_fit",
    "kmeans_assign",
    "connected_components",
    "asof_join",
    "run_events_stream",
    "run_events_stream_to_parquet",
    "pii_scrub",
    "simhash_pairs",
    "compression_ratio",
    "shingle_set",
]

__version__ = "0.1.0"
