"""Import every query-registering module and re-export the full registry.

This is the single entry point the driver contract (__spark_entry__.py),
tests, and bench.py use.
"""

from __future__ import annotations

# Registration order == the order the driver's oracle sweep visits queries.
# Cheapest-per-query modules first so a budget-limited sweep still covers
# everything; the O(candidate-pairs) similarity family goes last.
import pyspark_text_classification_spark.queries  # noqa: F401  (core Q1-Q18)
import pyspark_text_classification_spark.operators.textstats  # noqa: F401
import pyspark_text_classification_spark.operators.pipeline  # noqa: F401
import pyspark_text_classification_spark.operators.multimodal  # noqa: F401
import pyspark_text_classification_spark.operators.analytics  # noqa: F401
import pyspark_text_classification_spark.operators.joins  # noqa: F401
import pyspark_text_classification_spark.operators.skew  # noqa: F401
import pyspark_text_classification_spark.operators.temporal  # noqa: F401
import pyspark_text_classification_spark.operators.tpch_tail  # noqa: F401
import pyspark_text_classification_spark.operators.events  # noqa: F401
import pyspark_text_classification_spark.ml.queries  # noqa: F401
import pyspark_text_classification_spark.streaming.dedup  # noqa: F401
import pyspark_text_classification_spark.streaming.infer  # noqa: F401
import pyspark_text_classification_spark.streaming.joins  # noqa: F401
import pyspark_text_classification_spark.streaming.quality  # noqa: F401
import pyspark_text_classification_spark.streaming.sessionize  # noqa: F401
import pyspark_text_classification_spark.streaming.events  # noqa: F401
import pyspark_text_classification_spark.streaming.similarity  # noqa: F401
import pyspark_text_classification_spark.streaming.drift  # noqa: F401
import pyspark_text_classification_spark.streaming.checksum  # noqa: F401
import pyspark_text_classification_spark.streaming.convert  # noqa: F401
import pyspark_text_classification_spark.streaming.pq  # noqa: F401
import pyspark_text_classification_spark.streaming.enrich  # noqa: F401
import pyspark_text_classification_spark.streaming.sketch  # noqa: F401
import pyspark_text_classification_spark.streaming.scd2  # noqa: F401
import pyspark_text_classification_spark.streaming.ingest  # noqa: F401
import pyspark_text_classification_spark.operators.dedup  # noqa: F401
import pyspark_text_classification_spark.operators.similarity  # noqa: F401
import pyspark_text_classification_spark.operators.pq  # noqa: F401
import pyspark_text_classification_spark.operators.retrieval  # noqa: F401
import pyspark_text_classification_spark.operators.graph  # noqa: F401
import pyspark_text_classification_spark.operators.sketches  # noqa: F401
import pyspark_text_classification_spark.operators.winnow  # noqa: F401
import pyspark_text_classification_spark.sources.pygen  # noqa: F401
import pyspark_text_classification_spark.operators.linalg  # noqa: F401
import pyspark_text_classification_spark.operators.funnel  # noqa: F401
import pyspark_text_classification_spark.operators.skyline  # noqa: F401
import pyspark_text_classification_spark.ml.metrics  # noqa: F401
import pyspark_text_classification_spark.operators.udtfs  # noqa: F401
import pyspark_text_classification_spark.streaming.funnel  # noqa: F401
import pyspark_text_classification_spark.streaming.pattern  # noqa: F401
import pyspark_text_classification_spark.operators.timeseries  # noqa: F401
import pyspark_text_classification_spark.streaming.cusum  # noqa: F401
import pyspark_text_classification_spark.streaming.latedrop  # noqa: F401
import pyspark_text_classification_spark.streaming.ttl  # noqa: F401
from pyspark_text_classification_spark.registry import ORACLES, QUERIES  # noqa: F401
