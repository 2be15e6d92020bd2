"""mapreduceimpl_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference MapReduce framework (ShiMaRing/MapReduceImpl, surveyed in
SURVEY.md), extended with the LLM-data-pipeline operator library
(dedup, similarity search, multimodal columns, text analysis) and
designed for 100 TB scale: declarative DataFrame plans, Catalyst/AQE
optimization, broadcast joins for small dims, partial aggregation,
no driver-side data loops.

Layout
------
- ``session``    SparkSession factory (AQE, shuffle partitions, Arrow)
- ``pyworker``   Python-worker daemon module (no per-task zip re-reads)
- ``sources``    table registry + readers for the fixture tables
- ``operators``  the operator library (relational, dedup, similarity,
                 text analysis, k-means, multimodal, UDF surface)
- ``functions``  reusable column-expression helpers (pure, JVM-side)
- ``plans``      physical-plan introspection/assertion helpers
- ``streaming``  Structured Streaming operators (windows, watermarks,
                 stateful dedup) over the ``events`` table shape
"""

from mapreduceimpl_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
