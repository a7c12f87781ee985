"""Assembled query registry — the driver-facing operator inventory.

Every entry is one implemented operator/query from SURVEY §2 (reference
parity) or §7.2-7.3 (extended relational / streaming-twin / LLM-pipeline
surface). ``__spark_entry__`` exposes exactly this.
"""

from __future__ import annotations

import dataclasses
import json
import re
import warnings
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import TS_QUARANTINE_COLS, ts_quarantine_sql
from . import (
    curation, events, extended, quality, relational, scale, text, vectors,
    warehouse,
)
from .base import MEMOS, QuerySpec, SessionMemo

_MODULE_SPECS: list[QuerySpec] = [
    *text.SPECS,
    *relational.SPECS,
    *events.SPECS,
    *vectors.SPECS,
    *extended.SPECS,
    *scale.SPECS,
    *curation.SPECS,
    *warehouse.SPECS,
    *quality.SPECS,
]

# ------------------- timestamp-representability quarantine, oracle side
#
# sources.tables.load_table excludes rows whose event time lies outside
# the Arrow/pandas-representable window (r19 enforcement of the r18
# ts-extremes contract — one year-9999 row must not abort a 100 TB
# job). EVERY oracle that reads a quarantined table must apply the
# identical exclusion, or the engines split on dirty fixtures. Editing
# ~94 oracle strings by hand is exactly the drift hazard the r18
# shortvec census exposed for the vector predicate — so the mirror is
# MECHANICAL: each affected oracle gets a shadow CTE per referenced
# table (``orders AS (SELECT * FROM main.orders WHERE …)``); the bare
# name binds to the CTE everywhere in the query (including inside
# subqueries and the two WITH RECURSIVE oracles, where the shadow is
# non-self-referential thanks to the ``main.`` qualification), while
# ``main.<table>`` still resolves to the driver's registered view.
# The quality-gate queries are exempt: they are the upstream census
# that counts what the quarantine drops, so they must read raw.
RAW_ORACLE_QUERIES = frozenset({
    "dq_constraint_report",
    "column_profile_orders", "column_profile_lineitem",
    "column_profile_events", "column_profile_documents",
})

_TS_TABLE_RE = {
    table: re.compile(rf"\b{table}\b", re.IGNORECASE)
    for table in TS_QUARANTINE_COLS
}


def _wrap_ts_quarantine(sql: str) -> str:
    """Prepend shadow CTEs for every quarantined table the oracle
    references. A regex hit inside a longer identifier can't happen
    (\\b excludes letters/digits/underscore); a hit inside a string
    literal merely adds an unused — harmless — CTE."""
    tables = [t for t, pat in _TS_TABLE_RE.items() if pat.search(sql)]
    if not tables:
        return sql
    shadows = ",\n".join(ts_quarantine_sql(t) for t in tables)
    head = sql.lstrip()
    if re.match(r"(?i)^WITH\s+RECURSIVE\b", head):
        body = head[len("WITH"):].lstrip()[len("RECURSIVE"):]
        return f"WITH RECURSIVE\n{shadows},{body}"
    if re.match(r"(?i)^WITH\b", head):
        return f"WITH\n{shadows},{head[len('WITH'):]}"
    return f"WITH\n{shadows}\n{head}"


_MODULE_SPECS = [
    spec if spec.oracle is None or spec.name in RAW_ORACLE_QUERIES
    else dataclasses.replace(spec, oracle=_wrap_ts_quarantine(spec.oracle))
    for spec in _MODULE_SPECS
]

# Driver proof order. The driver checks ~50 rows per round, in registry
# order, so the registry leads with the rows whose last proof no longer
# covers them:
#   1. re-prove first: the plan fingerprint or oracle-SQL digest in
#      plan_fingerprints.json differs from the one recorded at the
#      query's last triple-green proof (checked_history.json);
#   2. never proven;
#   3. everything else, least recently proven first.
# Both files are data: after a plan or oracle edit, regenerate the
# snapshot (tools/gen_plan_fingerprints.py; the drift test fails until
# it matches the live registry); after each driver round, merge its
# CORRECTNESS file (tools/update_checked_history.py).
_SNAPSHOT_PATH = Path(__file__).with_name("plan_fingerprints.json")
_RECORD_PATH = Path(__file__).with_name("checked_history.json")


def _load_entries(path: Path, fields: dict[str, type]) -> dict[str, dict]:
    """``{query name: {field: value}}`` from ``path``, every entry
    holding ``fields`` with exactly those types. The files only ORDER
    the driver's correctness budget, so they must never take the query
    surface down with them: on an unreadable, corrupt or wrongly shaped
    file, warn loudly and order as if it were empty (an empty record
    makes every query never proven; an empty snapshot makes every proof
    stale). The invariant tests pin the committed files as well-formed."""
    try:
        with path.open(encoding="utf-8") as fh:
            raw = json.load(fh)
        # shape-validate BEFORE the order key reads it: valid JSON of
        # the wrong shape must degrade identically, not crash at import
        if not isinstance(raw, dict):
            raise ValueError("top level must be an object of name -> entry")
        for name, entry in raw.items():
            # type() is, not isinstance: True must not pass as a round
            if not (isinstance(entry, dict) and all(
                    type(entry.get(k)) is t for k, t in fields.items())):
                raise ValueError(f"{name}: entry must hold {list(fields)}")
        return raw
    except (OSError, ValueError, RecursionError) as e:
        # RecursionError: json.load on pathologically nested garbage
        # ('[[[[…') — still just a corrupt file, still must degrade
        warnings.warn(f"{path.name} unreadable ({e}); ordering as if it "
                      f"were empty", RuntimeWarning)
        return {}


#: name -> {"plan": md5, "oracle": md5} of the current registry
SNAPSHOT: dict[str, dict] = _load_entries(
    _SNAPSHOT_PATH, {"plan": str, "oracle": str})
#: name -> {"round": N, "plan": md5, "oracle": md5} at its last proof
RECORD: dict[str, dict] = _load_entries(
    _RECORD_PATH, {"round": int, "plan": str, "oracle": str})


def _proof_key(name: str, snapshot: dict, record: dict) -> tuple[int, int]:
    proof = record.get(name)
    if proof is None:
        return (1, 0)
    now = snapshot.get(name, {})
    stale = (now.get("plan"), now.get("oracle")) != (
        proof["plan"], proof["oracle"])
    return (0 if stale else 2, proof["round"])


def proof_order(specs: list[QuerySpec], snapshot: dict,
                record: dict) -> list[QuerySpec]:
    """``specs`` in driver proof order (see above); ties, least recently
    proven first, then module order."""
    return sorted(specs, key=lambda s: _proof_key(s.name, snapshot, record))


_ALL_SPECS: list[QuerySpec] = proof_order(_MODULE_SPECS, SNAPSHOT, RECORD)

QUERIES: dict[str, QuerySpec] = {s.name: s for s in _ALL_SPECS}
assert len(QUERIES) == len(_ALL_SPECS), "duplicate query name in registry"


def reprove_names() -> list[str]:
    """The re-prove-first block, in registry order."""
    return [n for n in QUERIES if _proof_key(n, SNAPSHOT, RECORD)[0] == 0]


def _with_engine_conf(
        fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Apply the dynamic engine confs (UTC session timezone, AQE, Arrow
    batch sizing) before building the plan — the driver may hand us a
    session that never went through ``entry()``/``get_session``, and the
    timezone in particular is correctness-relevant for every timestamp
    comparison against the DuckDB oracle."""
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..session import apply_engine_conf
        apply_engine_conf(spark)
        return fn(spark, sf_dir)
    return wrapped


def query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _with_engine_conf(spec.fn) for name, spec in QUERIES.items()}


def oracle_sqls() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}


def all_session_memos() -> dict[str, SessionMemo]:
    """Every ``@session_memo`` builder's memo, as ``{"<module>.<builder>":
    memo}`` — the single source of truth for cache-reset tooling
    (``bench._reset_memos``). The decorator registers each memo when its
    plan module imports, and this module imports them all."""
    return dict(MEMOS)
