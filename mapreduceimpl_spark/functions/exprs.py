"""Reusable column expressions — all JVM-side (no Python UDFs).

The reference's entire scalar surface is split/parse/add/format/hash
(SURVEY.md §2.8).  Here every helper is a Catalyst expression so it
stays inside whole-stage codegen; several are written specifically so
the same computation is *bit-reproducible* in the DuckDB oracle:

- ``dec_sum``/``dec_avg``: sum doubles through DECIMAL(28,4) so the
  result is independent of partition/accumulation order (a float sum is
  not associative; at 100 TB the shuffle order is nondeterministic, so
  order-independent aggregates are a correctness feature, not a test
  convenience).
- ``dot``/``cosine_similarity``: sequential fold over the array in list
  order with a DOUBLE accumulator — deterministic and identical to a
  C++ loop over the same list.

Convention for wide expression lists: hot operators write each
projection as one ``selectExpr``, each aggregate list as ``F.expr``
strings and each join condition as one ``F.expr``.  Spark parses the
text into the same Catalyst tree as the Column DSL, but a projection
costs one JVM call instead of one (or, with call-site capture, about
ten) per ``F.col``/``F.lit``/``.alias``.  Every caller-supplied column
name goes through ``sql_ident`` and every caller-supplied string
through ``sql_str``, so no name or value can change how the text
parses.  ``tokens_sql``, ``dot_sql`` and ``l2_norm_sql`` spell
``tokens``, ``dot`` and ``l2_norm`` as SQL text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# DECIMAL(28, s): wide enough for 100 TB-scale sums of money-like values
# (~1e14 rows * 1e5 max value = 1e19 << 1e24 headroom at s=4).
_DEC = "decimal(28,4)"


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), so spaces, dots and keywords stay one column name."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """``value`` as a single-quoted SQL string literal.  Spark unescapes
    backslash sequences in literals, so backslashes and quotes are both
    backslash-escaped (doubling a quote would concatenate two literals)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def dec_sum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent SUM of a double column, returned as DOUBLE.

    Oracle equivalent: ``CAST(SUM(CAST(x AS DECIMAL(28,s))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


def dec_avg(col: Column | str, scale: int = 4) -> Column:
    """Order-independent AVG as exact-decimal-sum / count, as DOUBLE.

    Oracle: ``CAST(SUM(CAST(x AS DECIMAL(28,s))) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return dec_sum(c, scale) / F.count(c)


def revenue() -> Column:
    """TPC-H style extended revenue: price * (1 - discount).

    A double product is IEEE-deterministic (unlike a double sum), so it
    needs no decimal detour at row level.
    """
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


def tokens(text_col: Column | str = "text") -> Column:
    """Whitespace tokenization shared by wordcount/dedup/text-analysis.

    Single-space split; identical to DuckDB ``string_split(text, ' ')``.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def tokens_sql(text_sql: str) -> str:
    """``tokens`` spelled as SQL text over an already-quoted expression."""
    return f"split({text_sql}, ' ')"


def dot(a: Column, b: Column) -> Column:
    """Sequential dot product of two ARRAY<DOUBLE> columns (JVM-side).

    ``aggregate(zip_with(a, b, *), 0.0D, +)`` — one pass, no UDF.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm of an ARRAY<DOUBLE> column (sqrt is IEEE-exact)."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def dot_sql(a: str, b: str) -> str:
    """``dot`` spelled as SQL text over two already-quoted expressions."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def l2_norm_sql(a: str) -> str:
    """``l2_norm`` spelled as SQL text over an already-quoted expression."""
    return f"sqrt(aggregate({a}, 0.0D, (acc, x) -> acc + x * x))"


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two ARRAY<DOUBLE> columns, fully JVM-side."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
