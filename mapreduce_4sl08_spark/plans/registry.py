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

# Driver CORRECTNESS coverage history (the driver checks ~50 rows per
# round, in registry order). Ordering policy:
#   1. _ROUND_PRIORITY — rows whose plan or oracle CHANGED this round and
#      must be re-proven first.
#   2. Never-driver-checked queries (new this round) — sort next.
#   3. Remaining queries by last-proven round, least recent first.
#
# The per-round checked history lives in checked_history.json (one key
# per driver round, listing the CORRECTNESS_r{N}.json names that went
# triple-green); only the CURRENT round's priority tuple stays in code
# (VERDICT r7 item 2 — the frozensets were growing ~50 names/round).
# End-of-round ritual: append the new round's names to the JSON, then
# rewrite this tuple for the next round's changed plans.
_ROUND_PRIORITY: tuple[str, ...] = (
    # Plans that tools/gen_plan_fingerprints.py reports changed:
    # per-user features are built-ins (plans/events.user_sequence_features),
    # and the IVF centroids load their own vectors (@session_memo).
    "events_user_features",
    "ivf_recall_eval",
    # Plan and oracle changed: the word count lowercases, then deletes
    # `\W`, once per line (operators/wordcount.words_from_lines).
    "wordcount_documents",
    # round 22 (optimization round 2; VERDICT r21 "Next round" list).
    # ORDER IS THE DRIVER'S PROOF BUDGET ALLOCATION (see _order_key).
    # Block 1 — the 29 rows whose PLAN changed this round: fanout=True
    # at the remaining documents call sites (VERDICT r21 item 2 — the
    # keep-cardinality class plus langid_confusion_matrix, the one
    # heavy-map/low-card-agg winner of the r22 interleaved A/B,
    # logs/ab_fanout_lowcard_r22.txt). All value-identical, proven by
    # full 168/168 sweeps at sf0.001 AND sf0.01 with every site active
    # (logs/sweep_r22_c1_sf01.log), but the driver must re-prove them
    # first per the plan-drift gate. The posting-builder consumers
    # (tfidf/unigram/bigram/zipf/oov/pmi) lead — one shared-helper
    # change covers six rows.
    "corpus_curation_pipeline",
    "tfidf_top_terms",
    "unigram_rarity_score",
    "bigram_surprisal_score",
    "zipf_rank_frequency",
    "oov_rate_by_lang",
    "token_pmi_top_pairs",
    "decontamination_overlap",
    "lexical_diversity_stats",
    "vocab_growth_curve",
    "text_char_trigram_profile",
    "langid_confusion_matrix",
    "text_token_stats",
    "text_token_positions",
    "text_quality_score",
    "text_language_id",
    "text_repetition_stats",
    "quality_rules_audit",
    "doc_fingerprint",
    "winnowing_fingerprints",
    "span_dedup_report",
    "boilerplate_template_clusters",
    "text_bigram_top20",
    "array_functions_showcase",
    "docs_with_embeddings",
    "sequence_packing_bins",
    "bpe_pretokenize_counts",
    "token_budget_selection",
    "cluster_best_survivor",
    # Block 2 — EXECUTION changed, plan identical: the CC loop now
    # frees each superseded label checkpoint after the next round's
    # convergence aggregate materializes (session.free_checkpoint).
    # The jaccard-verify counting join and the pagerank eager+free
    # variants were TRIED and REVERTED on interleaved A/B losses
    # (logs/ab_jaccard_verify_r22.txt, ab_pagerank_r22.txt), so those
    # plans and executions equal r21's proven state.
    "dedup_connected_components",
    "dedup_cluster_stats",
    # fingerprint drifted in round 22, not yet re-proven
    "ivf_ann",
    # Block 3 — proof-staleness tail, least-recently-proven first
    # (r17 rows, then r18 — from checked_history.json after merging
    # the 50 r21-green rows).
    "dedup_exact_documents",
    "mixture_sampling_weights",
    "mixture_weighted_sample",
    "session_path_topk",
    "source_dup_quality_audit",
    "source_mix_report",
    "text_chunking_udtf",
    "watchlist_term_scan",
    "tokenizer_fertility_by_lang",
    "bucketed_join_zero_shuffle",
    "column_profile_documents",
    "column_profile_events",
    "column_profile_lineitem",
    "column_profile_orders",
    "supplier_concentration_hhi",
    "weighted_median_price_by_nation",
    "window_trailing_30d_spend",
)

_HISTORY_PATH = Path(__file__).with_name("checked_history.json")


def _load_history(path: Path) -> dict[str, list[str]]:
    """The history only ORDERS the driver's correctness budget — it must
    never take the whole query surface down with it. On an unreadable or
    corrupt file, degrade to "nothing ever checked" (every row sorts
    into the re-prove-first bucket) and say so loudly; the invariant
    tests pin the committed file as present and well-formed."""
    try:
        with path.open(encoding="utf-8") as fh:
            raw = json.load(fh)
        # shape-validate BEFORE anything downstream iterates: valid JSON
        # of the wrong shape (typo'd round key, string instead of list)
        # must degrade identically, not crash int()/.items() at import —
        # or worse, silently iterate a string per-character
        if not isinstance(raw, dict):
            raise ValueError("top level must be an object of round->names")
        for k, v in raw.items():
            # isdecimal + isascii, not isdigit: '²'.isdigit() is True
            # but int('²') raises — the crash this guard exists to stop
            if not (isinstance(k, str) and k.isascii() and k.isdecimal()):
                raise ValueError(f"round key {k!r} is not a digit string")
            if not (isinstance(v, list)
                    and all(isinstance(n, str) for n in v)):
                raise ValueError(f"round {k}: names must be a list of strings")
        return raw
    except (OSError, ValueError, RecursionError) as e:
        # RecursionError: json.load on pathologically nested garbage
        # ('[[[[…') — still just a corrupt file, still must degrade
        warnings.warn(
            f"checked_history.json unreadable ({e}); treating every "
            f"query as never driver-checked", RuntimeWarning)
        return {}


_HISTORY_RAW: dict[str, list[str]] = _load_history(_HISTORY_PATH)

#: name -> most recent driver round in which it went triple-green
_LAST_PROVEN: dict[str, int] = {}
for _round_str, _names in _HISTORY_RAW.items():
    _rnd = int(_round_str)
    for _name in _names:
        _LAST_PROVEN[_name] = max(_LAST_PROVEN.get(_name, 0), _rnd)

def _order_key(s: QuerySpec) -> tuple[int, int]:
    if s.name in _ROUND_PRIORITY:
        # tuple POSITION breaks ties (r17): when the priority block
        # exceeds the driver's ~50-row budget, the rows listed first —
        # Spark-plan and execution-side changes, the highest-information
        # re-proofs — must be the ones the budget covers; a (0, 0) tie
        # fell back to module order, which could spend the whole budget
        # on provably-ASCII-no-op oracle rewrites instead
        return (0, _ROUND_PRIORITY.index(s.name))
    if s.name not in _LAST_PROVEN:
        return (1, 0)  # never driver-checked (new this round)
    # Remaining: least-recently-proven first (LRU rotation) — each
    # round's ~50-row driver budget covers the priority rows plus the
    # stalest block (after r8 that is the 34 rows last proven in r6).
    return (2, _LAST_PROVEN[s.name])


_ALL_SPECS: list[QuerySpec] = sorted(_MODULE_SPECS, key=_order_key)

QUERIES: dict[str, QuerySpec] = {s.name: s for s in _ALL_SPECS}
assert len(QUERIES) == len(_ALL_SPECS), "duplicate query name in registry"


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
