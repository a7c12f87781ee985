"""Generate mapreduce_4sl08_spark/plans/plan_fingerprints.json: per
registry query, the md5 of its NORMALIZED analyzed logical plan at
sf0.001 and the md5 of its oracle SQL exactly as ``oracle_sqls()``
serves it (ts-quarantine wrapper applied).

The registry orders the driver's proof budget from this snapshot: a
query whose snapshot digests differ from the ones recorded at its last
triple-green proof (plans/checked_history.json) is re-proven first.
tests/test_plan_fingerprints.py fails while any live digest differs
from the snapshot, so the ritual is: after a plan or oracle edit, run
this tool and commit the snapshot with the edit; after each driver
round, merge its CORRECTNESS file with tools/update_checked_history.py.

The ANALYZED plan (pre-cache-substitution, pre-AQE) is used because it
is deterministic across sessions and cache states; expression ids
(#123) are normalized away. Verified stable across fresh processes.

    python tools/gen_plan_fingerprints.py
"""
from __future__ import annotations

import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"


def fingerprint(df) -> str:
    """md5 of the analyzed logical plan with the three session-global
    counter families CANONICALLY RENUMBERED by first occurrence:
    expression ids (#123), higher-order lambda variable suffixes
    (``lambda x_7``), and recursive-CTE ids (``CTERelationDef 7``).

    Renumbering (not blanking) preserves attribute identity: blanking
    every id to '#' made 'a.doc_id# < b.doc_id#' indistinguishable from
    the side-swapped or same-side-typo'd variant — a semantic drift
    class the gate exists to catch in this self-join-heavy registry.
    First-occurrence order is a function of the plan tree alone, so the
    canonical form is stable across sessions regardless of where each
    session's global counters started.

    The id pattern requires a preceding identifier char (or ')' for
    unaliased exprs, backtick for quoted names): expression ids always
    print attached to a name (``shingle#277``), while a STRING LITERAL
    that happens to look like one — e.g. the MinHash chained-digest
    suffix ``'#2'``, which the analyzed plan prints unquoted as a bare
    ``#2`` after ``concat(shingle#277, `` — must stay literal text. A
    bare ``#\\d+`` regex renumbered that literal, and whether it COLLIDED
    with a real low-numbered expression id depended on the session's
    global counter state, making r14's minhash fingerprints depend on
    build order (found in the r15 ritual; ROUND_NOTES r15 item 1)."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return hashlib.md5(normalize_plan(plan).encode()).hexdigest()


def normalize_plan(plan: str) -> str:
    """The canonical form ``fingerprint`` hashes — split out so the
    literal-vs-id discrimination is unit-testable without a Spark
    session (tests/test_plan_fingerprints.py)."""
    ids: dict[str, int] = {}
    # an expression id directly follows the thing it numbers: a word
    # char (plain name), ')' (unaliased expression), backtick (quoted
    # name), ']' or '.' (extraction-shaped names printed unquoted —
    # ADVICE r15 item 2 widened the class so such an id can't slip
    # through as a raw session-counter number). A LITERAL that merely
    # looks like an id (the MinHash '#2' digest suffix) prints after
    # '(' or ', ' and stays verbatim.
    norm = re.sub(r"(?<=[\w)`\].])#\d+",
                  lambda m: f"#{ids.setdefault(m.group(), len(ids))}", plan)
    lam: dict[str, int] = {}
    norm = re.sub(
        r"lambda ([a-z]+)_\d+",
        lambda m: f"lambda {m.group(1)}_{lam.setdefault(m.group(0), len(lam))}",
        norm)
    cte: dict[str, int] = {}
    norm = re.sub(
        r"\b(CTERelationDef|CTERelationRef|UnionLoop|UnionLoopRef) (\d+)",
        lambda m: f"{m.group(1)} {cte.setdefault(m.group(2), len(cte))}",
        norm)
    # The post-scan fan-out's partition count is SESSION-CONF-derived
    # (spark.sql.shuffle.partitions — sources/tables._scan_fanout_n),
    # so `RepartitionByExpression [k#0L], 32` hashes differently under
    # the 8-partition test session vs the default generator session,
    # exactly the cross-session instability this normalizer exists to
    # remove (found r22: the r21 fan-out queries' "drift" was conf,
    # masked while they sat in the priority tuple). The KEY stays
    # hashed — only the adaptive count is canonicalized; a removed or
    # re-keyed fan-out still drifts.
    norm = re.sub(r"(RepartitionByExpression \[[^\]]*\]), \d+",
                  r"\1, <n>", norm)
    return norm


def oracle_digest(sql: str) -> str:
    return hashlib.md5(sql.encode()).hexdigest()


def main() -> None:
    if sys.argv[1:]:
        # fail fast BEFORE the Spark session spin-up + full-registry
        # plan build — same convention as tools/make_scale_fixture.py
        sys.exit(f"usage: {sys.argv[0]}\n(got {sys.argv[1:]!r})")
    from mapreduce_4sl08_spark.plans import QUERIES, registry
    from mapreduce_4sl08_spark.session import get_session

    spark = get_session()
    fresh = {name: {"plan": fingerprint(spec.fn(spark, SF_DIR)),
                    "oracle": oracle_digest(spec.oracle)}
             for name, spec in QUERIES.items()}

    prior = registry.SNAPSHOT
    changed = sorted(n for n in fresh
                     if n in prior and prior[n] != fresh[n])
    added = sorted(set(fresh) - set(prior))
    removed = sorted(set(prior) - set(fresh))
    with open(registry._SNAPSHOT_PATH, "w") as f:
        json.dump(dict(sorted(fresh.items())), f, indent=1)
        f.write("\n")
    print(f"wrote {registry._SNAPSHOT_PATH}: {len(fresh)} queries "
          f"({len(changed)} changed, {len(added)} added, "
          f"{len(removed)} removed)")
    if changed:
        print("changed:", changed)


if __name__ == "__main__":
    main()
