"""Curated scalar-function facade.

The reference's entire scalar-function surface is two string expressions
(P1 tokenize, P2 normalize — /root/reference/src/WorkerNode.java:43-46).
This module pins P1's Java-regex splitter (Spark's regexp functions run
Java regex on the JVM, so parity is by construction; P2 runs fused with
it in operators/wordcount.py) and adds the vector / text primitives the
extended operators build on. Everything here is built-in-function
composition — JVM-side, whole-stage-codegen friendly; no Python UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# --- reference-parity text pipeline (P1-P3) ------------------------------

#: Java `\s+` token splitter (P1, WorkerNode.java:43)
TOKEN_SPLIT_RE = r"\s+"


# --- vector primitives (similarity search) -------------------------------


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, computed JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; a ZERO-NORM operand has no direction, so the
    similarity is NULL (r18 zero-vector census: ANSI `/` threw
    DIVIDE_BY_ZERO — one all-zeros embedding aborted every cosine
    query — while DuckDB's `/` yields NULL natively, so try_divide
    aligns the engines with no oracle change; NULL sims sink to the
    bottom of DESC rankings in both)."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def arrow_dot(a: Column, b: Column) -> Column:
    """Pairwise dot product as an Arrow-batched pandas UDF.

    For verification stages scoring millions of candidate pairs, numpy
    over Arrow batches beats the interpreted higher-order fold by ~100×
    (HOF lambdas are not whole-stage-codegen'd). The summation order
    (sequential C loop over float64) matches DuckDB's list_dot_product
    fold, so 4-dp-rounded results stay oracle-identical. Use ``dot``
    (built-in fold) for small pair counts where JVM-side wins."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _dot_udf(xs: pd.Series, ys: pd.Series) -> pd.Series:
        X = np.stack(xs.to_numpy()).astype(np.float64)
        Y = np.stack(ys.to_numpy()).astype(np.float64)
        return pd.Series(np.einsum("ij,ij->i", X, Y))

    return _dot_udf(a, b)


# --- text-analysis primitives -------------------------------------------


def _bind_once(expr: Column, body) -> Column:
    """Evaluate ``expr`` exactly once per row and pass the result to
    ``body`` as a bound lambda variable.

    Sliding-window primitives reference their input in a per-position
    lambda (``slice``/``substr`` at offset i). If the caller passes a
    raw EXPRESSION (e.g. a regex ``split`` of the document text) rather
    than a materialized column, codegen inlines a copy of that
    expression into every lambda invocation — the split re-runs once
    per POSITION instead of once per row. Measured on the 10× corpus
    (r7): the whole shingle-index materialization dropped 41.6 s →
    4.3 s once the input was bound. The binding trick: wrap the input
    as a 1-element array and map over it — lambda variables are
    evaluated once by the higher-order function, and every inner
    reference is a cheap variable read. Works for any caller, keeps
    this a pure Column-in/Column-out facade."""
    return F.element_at(F.transform(F.array(expr), body), 1)


def char_ngrams(col, n: int) -> Column:
    """All length-n character shingles of a string column (array<string>).
    Pure built-ins: sequence over offsets + substring; the input string
    expression is bound once per row (see _bind_once)."""
    c = F.col(col) if isinstance(col, str) else col
    # guard: sequence(1, 0) would count *down* in Spark, so emit [] when
    # the string is shorter than n
    return _bind_once(c, lambda s: F.when(
        F.length(s) >= n,
        F.transform(F.sequence(F.lit(1), F.length(s) - (n - 1)),
                    lambda i: s.substr(i, F.lit(n))),
    ).otherwise(F.array().cast("array<string>")))


def word_shingles(tokens: Column, n: int) -> Column:
    """Length-n word shingles from an array<string> of tokens, joined by a
    single space (array<string>); the token-array expression is bound
    once per row (see _bind_once)."""
    return _bind_once(tokens, lambda t: F.when(
        F.size(t) >= n,
        F.transform(F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.array_join(F.slice(t, i + 1, n), " ")),
    ).otherwise(F.array().cast("array<string>")))
