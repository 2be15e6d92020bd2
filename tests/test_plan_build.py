"""Plan building for the SQL-text operators: how many Py4J round trips
one warm build costs, and that caller-supplied names and strings are
quoted so they cannot change how the SQL text parses."""

from __future__ import annotations

import gc

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from mapreduceimpl_spark import catalog
from mapreduceimpl_spark.operators import dedup, similarity, text_analysis
from tests.conftest import SF_SMOKE

# About 1.5x the calls one warm build made when these entries moved to
# SQL text (151, 118, 15); the Column-DSL builds made 2,423, 677 and 389.
PY4J_CEILING = {"dedup_minhash_lsh": 225, "ann_topk": 180, "text_quality": 23}

# A space, a backtick and a dot: each would break or re-route an
# unquoted identifier.
ODD = "odd `name`.{}"


@pytest.mark.parametrize("name", sorted(PY4J_CEILING))
def test_warm_build_py4j_calls_within_budget(spark, monkeypatch, name):
    build = catalog.queries()[name]
    build(spark, SF_SMOKE).toPandas()
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        calls.append(1)
        return send(self, command)

    gc.collect()
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    build(spark, SF_SMOKE)
    monkeypatch.undo()
    assert 0 < len(calls) <= PY4J_CEILING[name], len(calls)


def test_minhash_signatures_quotes_column_names(docs):
    odd = docs.select(
        F.col("doc_id").alias(ODD.format("id")), F.col("text").alias(ODD.format("text"))
    )
    got = dedup.minhash_signatures(
        odd, id_col=ODD.format("id"), text_col=ODD.format("text")
    ).withColumnRenamed(ODD.format("id"), "doc_id")
    want = dedup.minhash_signatures(docs)
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())


def test_brute_force_topk_quotes_column_names(embeddings):
    queries = embeddings.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = similarity.brute_force_topk(embeddings, queries, k=3, round_digits=6)
    got = similarity.brute_force_topk(
        embeddings.select(
            F.col("vec_id").alias(ODD.format("id")), F.col("embedding").alias(ODD.format("vec"))
        ),
        queries.select(
            F.col("query_id").alias(ODD.format("q")), F.col("embedding").alias(ODD.format("vec"))
        ),
        k=3,
        id_col=ODD.format("id"),
        vec_col=ODD.format("vec"),
        query_id_col=ODD.format("q"),
        round_digits=6,
    )
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect()) and want.count() == 15


def test_quality_score_quotes_passthrough(docs):
    odd = docs.withColumnRenamed("lang", ODD.format("lang"))
    got = text_analysis.quality_score(odd, passthrough=(ODD.format("lang"),))
    want = text_analysis.quality_score(docs, passthrough=("lang",))
    assert got.columns[-1] == ODD.format("lang")
    assert sorted(got.collect()) == sorted(want.collect())


def test_with_mutated_copies_escapes_suffix(docs):
    suffix = " it's a \\' quote\\n"
    got = dedup.with_mutated_copies(docs, suffix=suffix)
    want = dedup.with_mutated_copies(docs)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    copies = {r["doc_id"]: r["text"] for r in got.filter("doc_id >= 100000").collect()}
    assert copies and copies == {i + 100_000: texts[i] + suffix for i in texts if i % 10 == 0}
    assert got.count() == want.count()
