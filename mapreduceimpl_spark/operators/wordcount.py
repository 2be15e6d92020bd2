"""Reference-parity flagship: distributed word/line-frequency count.

The reference's one real computation (``test.go:13-81``) is
``SELECT key, COUNT(*) FROM lines GROUP BY key`` executed as
map-side partial counts (``test.go:22-25``), an FNV-1a hash-mod-R
shuffle (``test.go:77-81``), and reduce-side merge (``test.go:51-65``).

Spark-first: one declarative ``groupBy().count()``.  Catalyst plans the
identical dataflow — HashAggregate(partial) → Exchange hashpartitioning
→ HashAggregate(final) — with whole-stage codegen, spillable hash maps,
and AQE-coalesced reduce partitions, none of which we hand-write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduceimpl_spark.sources.sinks import write_reduce_files


def line_count(lines: DataFrame, key_col: str = "value") -> DataFrame:
    """Exact reference semantics: frequency of each whole line.

    Input: one string column (``spark.read.text`` shape). Output:
    ``(key string, cnt bigint)``, unordered like the reference
    (``test.go:66-68``; Go map iteration order).
    """
    return lines.groupBy(F.col(key_col).alias("key")).agg(F.count("*").alias("cnt"))


def word_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token-frequency count: scan → split → explode → partial agg →
    shuffle → final agg.  The whole reference dataflow in one plan.
    """
    tokens = docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
    return tokens.groupBy("token").agg(F.count("*").alias("cnt"))


def word_count_partitioned_sink(docs: DataFrame, out_path: str, r: int = 2, text_col: str = "text") -> None:
    """Parity with the reference's R-way partitioned text sink
    (``output/reduce-<id>-<cur>``, ``test.go:46-69``): R output files,
    rows co-located by hash(key) mod R, an empty file for each reducer
    that got no key (``sinks.write_reduce_files``).
    """
    wc = word_count(docs, text_col)
    write_reduce_files(
        wc.repartition(r, "token").select(
            F.concat_ws(" ", "token", "cnt").alias("value")
        ),
        out_path,
        r,
    )
