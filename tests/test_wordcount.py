"""Reference-parity invariants for the flagship wordcount
(test.go:13-81 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduceimpl_spark.operators import wordcount


def test_wordcount_count_preservation(docs):
    """Sum of per-token counts == total token occurrences (no token
    lost or duplicated across the shuffle — A1+A2 parity)."""
    wc = wordcount.word_count(docs)
    total_from_wc = wc.agg(F.sum("cnt")).collect()[0][0]
    total_tokens = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("n")
    ).collect()[0][0]
    assert total_from_wc == total_tokens


def test_line_count_semantics(docs):
    """line_count == GROUP BY whole line COUNT(*)."""
    lines = docs.select(F.col("lang").alias("value"))
    lc = {r["key"]: r["cnt"] for r in wordcount.line_count(lines).collect()}
    expected = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert lc == expected


def test_partitioned_sink_r_files(docs, tmp_path):
    """R-way partitioned text sink produces exactly R data files and
    round-trips to the same counts (S4 parity: output/reduce-<id>)."""
    out = str(tmp_path / "wc_out")
    wordcount.word_count_partitioned_sink(docs, out, r=2)
    spark = docs.sparkSession
    written = spark.read.text(out)
    files = [
        r["f"]
        for r in written.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    assert len(files) == 2
    parsed = written.select(
        F.split("value", " ").getItem(0).alias("token"),
        F.split("value", " ").getItem(1).cast("long").alias("cnt"),
    )
    direct = wordcount.word_count(docs)
    assert parsed.exceptAll(direct).count() == 0
    assert direct.exceptAll(parsed).count() == 0


def test_partitioned_sink_lists_r_files_with_more_reducers_than_keys(spark, tmp_path):
    """Empty reducers still get their (empty) part file: two distinct
    tokens over r=4 leave at least two partitions without a key."""
    docs = spark.createDataFrame([(1, "a b a")], ["doc_id", "text"])
    out = tmp_path / "wc_out"
    wordcount.word_count_partitioned_sink(docs, str(out), r=4)
    parts = sorted(p.name[:10] for p in out.glob("part-*"))
    assert parts == [f"part-{i:05d}" for i in range(4)]
    lines = [ln for p in out.glob("part-*") for ln in p.read_text().splitlines()]
    assert sorted(lines) == ["a 2", "b 1"]
