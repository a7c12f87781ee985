"""Query-registry plumbing.

Each implemented operator from SURVEY §2 is exposed as a named QuerySpec:
a Spark plan builder ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) the ANSI-SQL oracle string DuckDB runs on the same parquet
tables. The driver hash-compares the two at sf0.01 (CORRECTNESS_r{N}.json).

Conventions that make hash-matching deterministic (SURVEY §5.2.2):
- every computed column is explicitly aliased, identically in both engines;
- every query ends in an ORDER BY over a unique key;
- float aggregates are rounded (2-4 dp) in BOTH engines before comparison.

Cross-engine contracts added by the r17 censuses (violating any of
these is a latent divergence the ASCII fixtures cannot see):
- never bare ``trim(x)`` in oracle SQL — DuckDB's default trim strips
  the Unicode Zs set (NBSP, U+3000) where Spark's F.trim strips ASCII
  0x20 only; the contract is ``trim(x, ' ')``;
- never ``\\s`` in oracle regexes — RE2's \\s lacks \\x0B where
  Java's (and Python re.ASCII's) includes it; spell the class out as
  ``[ \\t\\n\\x0b\\f\\r]+`` (and in any pattern string SHARED verbatim
  by both engines, e.g. the BPE pretokenizer);
- rows with a NULL timestamp carry no position on the time axis:
  time-bucketed plans rely on Spark's own drop semantics with a
  mirrored oracle WHERE; lag/argmax/rank plans filter explicitly on
  BOTH sides (Spark sorts NULL ts FIRST, DuckDB LAST);
- any rank/percentile over a NULLABLE key either pins the convention
  (oracle mirrors Spark: ASC NULLS FIRST / DESC NULLS LAST) or
  filters the nulls before ranking on both sides.
Gates: tests/test_null_columns.py (both fixtures, full value compare),
tests/test_unicode_text.py (boundary-extended corpus, no exceptions).
"""

from __future__ import annotations

import functools
import inspect
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table


# ---------------------------------------------------- exact money sums
# Shared carrier for every 2-decimal money SUM outside the TPC-H product
# measures (those live in plans/relational.py's integer-unit block, with
# the full rationale). A double SUM's accumulated error grows ~√n·ε·|S|:
# safe at the graded fixtures (margin to the .005 rounding boundary is
# ~5000× at sf0.1) but NOT at 100 TB group sizes, where it reaches
# dollars — the same class the r9 10× sweep caught in q1, one scale
# decade later. So: sum exact integer cents (lossless for 2-dec data),
# convert once post-agg. A LongType hash/window agg is also cheaper than
# the double+round form, and in Structured Streaming the long partials
# are exactly the incrementally-maintainable state shape. Per-group
# overflow: max money cents ~6e6/row → BIGINT holds ~1.5e12 rows/group.


def finite(col: str | Column) -> Column:
    """Non-finite measure → NULL at ingestion (the r18 contract).

    Parquet doubles carry NaN/±Inf in the wild; under ANSI mode one such
    row makes every ``CAST(round(x*100) AS BIGINT)`` throw CAST_OVERFLOW
    — one dirty record aborting a 100 TB job (the r17 nan/inf censuses:
    25 queries crash, 6 diverge). Mapping non-finite to NULL routes the
    dirt into the null contract the r17 round already pinned end-to-end
    (NULL measures drop out of SUM/AVG/percentile/min/max identically in
    both engines). NULL input stays NULL (isnan(NULL) is false in Spark,
    abs(NULL)=inf compares to NULL, so the WHEN condition is NULL →
    missing ELSE → NULL). The quarantine surface (dq_constraint_report,
    column_profile_*) counts what this drops, per float column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))), c)


def finite_sql(col: str) -> str:
    """Oracle twin of :func:`finite` (DuckDB ``isfinite``: false for
    NaN/±Inf, NULL for NULL — CASE yields NULL for both)."""
    return f"(CASE WHEN isfinite({col}) THEN {col} END)"


def finite_frag(col: str) -> str:
    """Shared-syntax twin of :func:`finite`/:func:`finite_sql` for
    expression fragments that must parse in BOTH engines (they run
    verbatim through F.expr AND the DuckDB oracles): ``isnan`` and
    ``CAST('Infinity' AS DOUBLE)`` exist in both dialects; DuckDB-only
    ``isfinite`` does not. NULL stays NULL in both (Spark isnan(NULL)
    is false and the Inf test is NULL → CASE misses; DuckDB isnan(NULL)
    is NULL → same)."""
    return (f"(CASE WHEN NOT isnan({col}) AND "
            f"abs({col}) <> CAST('Infinity' AS DOUBLE) THEN {col} END)")


def nonfinite_count(col: str | Column) -> Column:
    """Quarantine-surface counter: number of non-finite (NaN/±Inf)
    values in a float column — what :func:`finite` silently drops, made
    visible (dq_constraint_report / column_profile_*, VERDICT r17 item
    2). NULL is NOT non-finite (isnan NULL→false, abs NULL=inf→NULL →
    condition NULL → otherwise 0)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(
        F.when(F.isnan(c) | (F.abs(c) == F.lit(float("inf"))), 1)
        .otherwise(0)).cast("long")


def nonfinite_count_sql(col: str) -> str:
    """Oracle twin of :func:`nonfinite_count` (NOT isfinite(NULL) is
    NULL → ELSE 0, so NULL is not counted, matching Spark)."""
    return (f"SUM(CASE WHEN NOT isfinite({col}) THEN 1 ELSE 0 END)"
            f"::BIGINT")


def cents(col: str | Column) -> Column:
    """Exact integer cents of a 2-decimal double money column
    (``round(x*100)`` is integer-valued to ±ulp, so the cast is exact —
    the same idiom as relational.py's per-row unit fragments).
    Non-finite input → NULL (r18 contract) via TRY_CAST, not a CASE
    guard: round(NaN/±Inf·100) stays non-finite and the try-cast maps
    exactly that to NULL, at the price of the overflow check the ANSI
    cast already performs — an interleaved q1 A/B measured the
    per-measure CASE+isnan+abs form ~20-25 % slower on the scan-bound
    TPC-H path, while try_cast is cost-free. Semantics identical:
    NULL→NULL, NaN/±Inf→NULL, every finite 2-dec value exact (a money
    value overflowing BIGINT cents does not exist)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).try_cast("long")


def cents_sql(col: str) -> str:
    """Oracle twin of :func:`cents` (DuckDB TRY_CAST: same
    non-finite → NULL mapping, rounds-to-nearest exact on the
    integer-valued operand)."""
    return f"TRY_CAST(ROUND({col} * 100) AS BIGINT)"


def dollars(col: str | Column, alias: str) -> Column:
    """Summed cents → 2-decimal dollars, one cast to double — the same
    exact integer converts to the same IEEE double in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("double") / 100.0).alias(alias)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


def t(spark: SparkSession, sf_dir: str, name: str,
      fanout: bool = False) -> DataFrame:
    """Shorthand table loader used by every plan builder.

    ``fanout=True`` opts this call site into the post-scan parallelism
    floor (sources/tables.py): use it where heavy per-row JVM work
    follows the scan (tokenize/shingle/hash pipelines, multi-measure
    aggregations, per-pair vector math) — measured r21 to cut those
    queries 0.55-0.83x, while costing a fixed exchange on cheap ones."""
    return load_table(spark, sf_dir, name, fanout=fanout)


#: Declared corpus embedding dimensionality (TESTDATA.md schema). A
#: vector of any OTHER length is corrupt (truncated/partially written)
#: — it cannot participate in per-dimension math, DuckDB's
#: list_dot_product ERRORS on mismatched lengths, and numpy stacking in
#: the Arrow paths raises on ragged input (r18 --shortvec census: 7
#: Spark crashes, 1 oracle crash, 3 silent per-dimension splits).
EMB_DIM = 64


def vec_finite_sql(col: str = "embedding") -> str:
    """Oracle twin of the vecs() exclusion: NULL vectors, vectors
    carrying any NULL or non-finite component, and wrong-dimension
    vectors are out (NULL list makes the lambda predicate NULL → WHERE
    drops it, but the explicit IS NOT NULL keeps the scan-pushdown
    visible). The ``x IS NULL`` arm is the r19 contract fix (ADVICE
    r18): DuckDB's list_filter silently DISCARDS NULL elements from the
    filtered list, so without it a ``[1.0, NULL, …]`` vector was KEPT
    by the oracle while Spark's ~exists() dropped it under three-valued
    logic — a cross-engine split on every vector query."""
    return (f"{col} IS NOT NULL AND len({col}) = {EMB_DIM} AND "
            f"len(list_filter({col}, x -> x IS NULL OR NOT isfinite(x)))"
            f" = 0")


def vecs(spark: SparkSession, sf_dir: str, fanout: bool = False) -> DataFrame:
    """The embeddings relation as VECTOR OPERATORS see it: rows whose
    embedding is NULL are excluded (r16 null-sweep find — a missing
    vector has no geometry; NULL lists crashed the numpy signature /
    dot UDFs in Spark and list_inner_product in DuckDB), and so are
    vectors carrying any non-finite component (r18 vector census,
    logs/vector_nan_census_r18.txt: one poisoned element flowed
    through every dot product / norm / centroid — 6 oracle crashes on
    integer conversion and 3 silent ANN row-count/rank splits; a
    vector with a NaN/±Inf coordinate has no geometry either), and
    vectors whose length is not the declared EMB_DIM (r18 --shortvec
    census: a truncated vector errors DuckDB's list_dot_product,
    raises in numpy stacking, and silently splits every per-dimension
    aggregate), and vectors carrying a NULL ELEMENT (r19, ADVICE r18:
    the old isnan|inf lambda already DROPPED them — exists() over a
    NULL element is NULL under three-valued logic, and ~NULL filters
    out — but DuckDB's list_filter silently discards NULL elements, so
    the oracle KEPT the row; the predicate is now explicit on both
    sides and a [1.0, NULL, …] vector is corrupt by contract). Every
    oracle applies the same exclusion via :func:`vec_finite_sql`, so
    both engines agree row-for-row. NOTE the (w, L) derivation
    deliberately counts ALL rows (corpus_vec_count reads parquet
    footers, which cannot see nulls; the oracle params CTEs mirror
    with an unfiltered COUNT(*)) — a slightly-wide width on a
    dirty-vector corpus is safe, a cross-engine width split is not."""
    bad = lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf")))  # noqa: E731
    return (load_table(spark, sf_dir, "embeddings", fanout=fanout)
            .filter(F.col("embedding").isNotNull())
            .filter(F.size("embedding") == EMB_DIM)
            .filter(~F.exists("embedding", bad)))


class SessionMemo(dict):
    """Materialized-view memo for iterative/multi-consumer intermediates
    (shingle index, near-dup pairs, CC labels, co-purchase edges,
    pagerank), keyed by tuples whose FIRST element is the owning
    SparkContext's applicationId. Built through :func:`session_memo`,
    which mints every key from the live session.

    Eviction (VERDICT r5 item 4): only one SparkContext can be live per
    Python process, so on every access any entry keyed by a DIFFERENT
    applicationId belongs to a stopped context — its persisted /
    checkpointed blocks died with the executors and the DataFrame handle
    is unusable. Dropping those entries bounds the memo to the live
    application's working set no matter how many sessions a long-lived
    harness process cycles. (Multiple SparkSessions over ONE context
    share an applicationId and still share the memo, as intended.)
    """

    def __init__(self) -> None:
        super().__init__()
        self._guard = threading.Lock()
        self._locks: dict[tuple, threading.Lock] = {}

    def _sweep(self, app_id: str) -> None:
        for k in [k for k in self if k[0] != app_id]:
            super().pop(k, None)
        for k in [k for k in self._locks if k[0] != app_id]:
            del self._locks[k]

    def get(self, key, default=None):
        with self._guard:
            self._sweep(key[0])
            return super().get(key, default)

    def __setitem__(self, key, value) -> None:
        with self._guard:
            self._sweep(key[0])
            super().__setitem__(key, value)

    def build_once(self, key: tuple, build: Callable[[], object]):
        """The value under ``key``, built by ``build()`` if missing.
        Each key has its own lock: concurrent callers of one key wait
        for the single build and get the same object, and a build that
        raises stores nothing."""
        with self._guard:
            self._sweep(key[0])
            lock = self._locks.setdefault(key, threading.Lock())
        with lock:
            if key in self:
                return super().__getitem__(key)
            value = build()
            self[key] = value
            return value


#: "<module>.<builder>" -> memo of every :func:`session_memo` builder,
#: filled as the plan modules import (registry.all_session_memos).
MEMOS: dict[str, SessionMemo] = {}


def session_memo(builder: Callable[..., object]) -> Callable[..., object]:
    """Memoize a persisted intermediate ``builder(spark, sf_dir,
    *params)`` per live application.

    The key is ``(applicationId, sf_dir, *params)`` with defaults bound,
    so ``f(spark, d)`` and ``f(spark, d, 3)`` share one entry when 3 is
    the default. A builder loads its own inputs and takes only hashable
    parameters, never a DataFrame: the memoized frame then depends on
    its key alone, not on which caller built it first. Each missing key
    is built once under its own lock (SessionMemo.build_once); memo
    dependencies form a DAG (CC labels -> jaccard pairs -> shingle
    index), so nested builds take their locks in one order. The memo is
    ``builder.memo``."""
    memo = SessionMemo()
    sig = inspect.signature(builder)

    @functools.wraps(builder)
    def memoized(spark: SparkSession, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        params = tuple(bound.arguments.values())[1:]
        if any(isinstance(p, DataFrame) for p in params):
            raise TypeError(f"{builder.__name__}: a memoized builder "
                            f"loads its own inputs, not a DataFrame")
        key = (spark.sparkContext.applicationId, *params)
        return memo.build_once(
            key, lambda: builder(*bound.args, **bound.kwargs))

    memoized.memo = memo
    module = builder.__module__.rsplit(".", 1)[-1]
    MEMOS[f"{module}.{builder.__name__}"] = memo
    return memoized
