"""Registry-wide invariants — enforced for EVERY query, present and
future:

1. No row-at-a-time Python UDF in any physical plan (BatchEvalPython).
   Python is allowed only at the Arrow boundary (ArrowEvalPython,
   FlatMapGroupsInPandas/ArrowExec, MapInPandas/ArrowExec, PythonUDTF)
   — the '10-100x' rule as a hard gate, not a guideline.
2. Every oracle SQL is deterministic: ends in an ORDER BY unless the
   query is a single-row scalar aggregate.
3. Every query name is a valid identifier and has a description.
"""

import re

import pytest

from mapreduce_4sl08_spark.plans import QUERIES
from tests.conftest import SF_SMOKE

SCALAR_AGG_QUERIES = {
    # single-row results: no ORDER BY needed for determinism
    "q6_forecast_revenue", "q14_promo_share", "q19_disjunctive_revenue",
    "q17_small_quantity_revenue", "events_funnel_conversion",
}


@pytest.fixture(scope="module")
def _no_rowpy_swept(spark, request):
    from tests.parallel_sweep import selected, sweep

    def check(name):
        df = QUERIES[name].fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, (
            f"{name} uses a row-at-a-time Python UDF — use built-ins or "
            f"an Arrow-batched form:\n{plan[:600]}")
        # registry-wide quadratic-join gate: a CartesianProduct shuffles
        # |L|×|R| rows and is never acceptable at 100 TB. The legitimate
        # scalar/crossJoin shapes compile to BroadcastNestedLoopJoin
        # over a broadcast one-row/tiny aggregate, which stays allowed.
        assert "CartesianProduct" not in plan, (
            f"{name} plans a CartesianProduct — broadcast the small "
            f"side or add a join key:\n{plan[:600]}")

    return sweep(selected(request, "test_no_row_at_a_time_python"), check)


@pytest.mark.parametrize("name", sorted(QUERIES), ids=str)
def test_no_row_at_a_time_python(_no_rowpy_swept, name):
    from tests.parallel_sweep import reraise
    reraise(_no_rowpy_swept, name)


@pytest.mark.parametrize("name", sorted(QUERIES), ids=str)
def test_oracle_is_deterministic(name):
    spec = QUERIES[name]
    if spec.oracle is None:
        return
    if name in SCALAR_AGG_QUERIES:
        return
    assert re.search(r"ORDER BY", spec.oracle, re.IGNORECASE), (
        f"{name}: oracle SQL has no ORDER BY — hash comparison would be "
        f"order-sensitive")


def test_registry_metadata():
    for name, spec in QUERIES.items():
        assert re.fullmatch(r"[a-z][a-z0-9_]*", name), name
        assert spec.doc, f"{name} has no description"


@pytest.mark.parametrize("name", sorted(QUERIES), ids=str)
def test_oracle_has_no_control_chars(name):
    """Oracle SQL must be pure printable text. The failure this pins:
    writing a module through a NON-raw outer Python string turns the
    regex escape \\b into a literal backspace (0x08) inside the SQL —
    valid SQL, silently matching nothing, caught only as a value
    mismatch three layers later (happened for real with
    watchlist_term_scan's word-boundary patterns)."""
    spec = QUERIES[name]
    if spec.oracle is None:
        return
    bad = sorted({c for c in spec.oracle if ord(c) < 32 and c not in "\n\t"})
    assert not bad, (
        f"{name}: oracle SQL contains control characters {bad!r} — "
        f"almost certainly a mangled regex escape (\\b/\\f) from a "
        f"non-raw string literal")


def test_no_driver_collect_in_plan_builders():
    """No registry plan builder may materialize data on the driver.

    A ``.collect()``/``.toPandas()``/``.head(``/``.first()`` inside a plan
    builder forces an eager job AND re-runs the shared subplan — at 100 TB
    that is a double full-table scan. Scalar subqueries must be expressed
    as ``crossJoin(broadcast(agg_df))`` so everything stays one lazy plan.
    Iterative algorithms (connected components, pagerank) may use actions
    for convergence only — they are explicitly allowlisted.
    """
    import inspect

    ITERATIVE_ALLOWLIST = {
        # driver carries only a convergence scalar per round, never data
        "dedup_connected_components", "graph_pagerank_purchases",
        "corpus_curation_pipeline",  # composes the connected-components step
    }
    # (?<!F) keeps the aggregate function F.first() legal — only the
    # DataFrame action df.first() is a driver materialization.
    banned = re.compile(r"\.(collect|toPandas|head|take)\(|(?<!F)\.first\(")
    for name, spec in QUERIES.items():
        if name in ITERATIVE_ALLOWLIST:
            continue
        src = inspect.getsource(spec.fn)
        code_only = "\n".join(line.split("#", 1)[0] for line in src.splitlines())
        m = banned.search(code_only)
        assert m is None, (
            f"{name} materializes on the driver via '{m.group(0)}' — "
            f"express scalar subqueries as crossJoin(broadcast(agg))")


def test_memoized_persists_bounded_across_sweep(spark):
    """VERDICT r4: a registry sweep must not accumulate pinned RDDs.

    Every query whose plan persists a multi-consumer intermediate
    (shingle index, verified jaccard pairs, converged CC labels,
    co-purchase edges, pagerank nodes/links) memoizes it per
    (applicationId, sf_dir). Sweep the whole persist-capable family
    twice: the second sweep must add ZERO persistent RDDs."""
    PERSISTING = [
        "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "dedup_connected_components", "dedup_cluster_stats",
        "corpus_curation_pipeline", "copurchase_triangles",
        "graph_pagerank_purchases", "simhash_dedup",
    ]
    from tests.conftest import SF_SMOKE

    def sweep():
        for name in PERSISTING:
            QUERIES[name].fn(spark, SF_SMOKE).count()
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    n_first = sweep()
    n_second = sweep()
    # <= not ==: the async ContextCleaner may reclaim orphaned
    # localCheckpoint blocks between sweeps; the invariant is NO GROWTH
    assert n_second <= n_first, (
        f"persistent RDDs grew across an identical sweep "
        f"({n_first} -> {n_second}) — a per-call persist() leaked; "
        f"memoize it per (applicationId, sf_dir)")


def test_driver_checked_bookkeeping_names_exist():
    """The proof record must reference real registry names — a typo
    (or a renamed query) would silently misorder the driver budget."""
    from mapreduce_4sl08_spark.plans import registry

    unknown = set(registry.RECORD) - set(registry.QUERIES)
    assert not unknown, (
        f"checked_history.json references unknown queries: {unknown}")
    assert all(e["round"] >= 1 for e in registry.RECORD.values())


def test_driver_checked_history_ordering():
    """The registry must order: stale proofs (plan or oracle digest moved
    since the last proof) first, then never-checked, then strictly by
    last-proven round ascending — this IS the treadmill that keeps the
    cumulative 168-green claim true."""
    from mapreduce_4sl08_spark.plans import registry

    record, snapshot = registry.RECORD, registry.SNAPSHOT

    def stale(n):
        return n in record and (
            (record[n]["plan"], record[n]["oracle"])
            != (snapshot[n]["plan"], snapshot[n]["oracle"]))

    names = list(registry.QUERIES)
    first = registry.reprove_names()
    assert names[:len(first)] == first
    assert set(first) == {n for n in names if stale(n)}
    rest = names[len(first):]
    # never-driver-checked rows (new this round) sort directly after the
    # re-prove block, before every history-proven row
    never = [n for n in rest if n not in record]
    assert never == rest[:len(never)], (
        f"never-checked rows must lead the proven block: {never}")
    rounds = [record[n]["round"] for n in rest[len(never):]]
    assert rounds == sorted(rounds), "history rotation out of LRU order"


def test_proof_order_follows_both_digests():
    """The order is a pure function of (specs, snapshot, record): moving
    one query's plan digest, or separately its oracle digest, in memory
    moves that query from the proven tail into the first block."""
    from mapreduce_4sl08_spark.plans import registry

    specs = list(registry.QUERIES.values())
    first = set(registry.reprove_names())
    name = list(registry.QUERIES)[-1]  # the most recently proven
    n_first = len(first)
    for field in ("plan", "oracle"):
        snapshot = dict(registry.SNAPSHOT)
        snapshot[name] = {**snapshot[name], field: "0" * 32}
        order = [s.name for s in
                 registry.proof_order(specs, snapshot, registry.RECORD)]
        assert set(order[:n_first + 1]) == first | {name}, field
    # never proven sorts after stale proofs and before proven ones
    record = {n: e for n, e in registry.RECORD.items() if n != name}
    order = [s.name for s in
             registry.proof_order(specs, registry.SNAPSHOT, record)]
    assert order.index(name) == n_first


def _load_update_tool():
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "update_checked_history",
        os.path.join(repo, "tools", "update_checked_history.py"))
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    return tool


def test_update_checked_history_tool_merge_semantics():
    """The end-of-round ritual tool (tools/update_checked_history.py)
    must record only triple-green rows, with the round's snapshot
    digests, never let an older round overwrite a newer record, and be
    idempotent — a bug here silently corrupts the treadmill that keeps
    the cumulative all-green claim true."""
    tool = _load_update_tool()

    rows = {
        "good": {"rows_match": True, "schema_match": True,
                 "hash_match": True, "err": None},
        "red_hash": {"rows_match": True, "schema_match": True,
                     "hash_match": False, "err": None},
        "errored": {"rows_match": True, "schema_match": True,
                    "hash_match": True, "err": "boom"},
    }
    green, red = tool.split_green(rows)
    assert green == ["good"] and red == ["errored", "red_hash"]

    snap = {n: {"plan": f"p-{n}", "oracle": f"o-{n}"} for n in "abcz"}
    record = {"b": {"round": 9, "plan": "old", "oracle": "old"},
              "c": {"round": 3, "plan": "old", "oracle": "old"}}
    out = tool.merge_round(record, 5, ["z", "b", "c"], snap)
    assert out["z"] == {"round": 5, "plan": "p-z", "oracle": "o-z"}
    assert out["c"] == {"round": 5, "plan": "p-c", "oracle": "o-c"}
    assert out["b"] == record["b"]                   # newer record kept
    assert list(out) == ["b", "c", "z"]
    assert tool.merge_round(out, 5, ["z", "b", "c"], snap) == out
    assert record["c"]["round"] == 3                 # input untouched


def test_update_checked_history_refuses_uncommitted_file(tmp_path):
    """Digests come from the snapshot in the commit that added the
    CORRECTNESS file, so a file git has never seen is refused."""
    import os
    import subprocess
    import sys

    rows = tmp_path / "CORRECTNESS_r99.json"
    rows.write_text('{"q1_pricing_summary": {"rows_match": true, '
                    '"schema_match": true, "hash_match": true}}')
    tool = _load_update_tool()
    before = open(tool.HISTORY).read()
    # a file outside the repository, and a repository path git never saw
    for path in (str(rows), os.path.join(tool.REPO, "CORRECTNESS_r99.json")):
        proc = subprocess.run([sys.executable, tool.__file__, path, "99"],
                              capture_output=True, text=True)
        assert proc.returncode != 0, proc.stdout
        assert "CORRECTNESS_r99.json" in proc.stderr
    assert open(tool.HISTORY).read() == before


def test_history_load_degrades_loudly_not_fatally(tmp_path):
    """An unreadable or corrupt proof record or snapshot must not take
    the driver-facing query surface down — they only order the
    correctness budget. The loader warns and returns empty."""
    from pathlib import Path

    import pytest

    from mapreduce_4sl08_spark.plans import registry

    fields = {"round": int, "plan": str, "oracle": str}
    with pytest.warns(RuntimeWarning, match="unreadable"):
        assert registry._load_entries(
            Path(str(tmp_path / "missing.json")), fields) == {}

    bad = tmp_path / "corrupt.json"
    bad.write_text("{not json")
    with pytest.warns(RuntimeWarning, match="unreadable"):
        assert registry._load_entries(Path(str(bad)), fields) == {}

    # valid JSON, wrong shape: old round->names layout, string-valued
    # entry, missing digest, bool or string round, non-dict top level
    deep = "[" * 3000 + "]" * 3000  # RecursionError inside json.load
    for payload in ('{"7": ["dedup_ngram_jaccard"]}',
                    '{"q": "dedup_ngram_jaccard"}',
                    '{"q": {"round": 7, "plan": "x"}}',
                    '{"q": {"round": true, "plan": "x", "oracle": "y"}}',
                    '{"q": {"round": "7", "plan": "x", "oracle": "y"}}',
                    '["dedup_ngram_jaccard"]', 'null', deep):
        shaped = tmp_path / "shaped.json"
        shaped.write_text(payload)
        with pytest.warns(RuntimeWarning, match="unreadable"):
            assert registry._load_entries(Path(str(shaped)), fields) == {}, payload

    # and the committed files themselves load clean, without warnings
    import warnings as w
    with w.catch_warnings():
        w.simplefilter("error")
        assert registry._load_entries(registry._RECORD_PATH, fields)
        assert registry._load_entries(
            registry._SNAPSHOT_PATH, {"plan": str, "oracle": str})


def test_oracle_whitespace_contract():
    """r17 whitespace contracts, enforced mechanically (self-review
    item: the prose rule in plans/base.py cannot stop the next oracle
    from re-introducing the divergence):

    - no bare ``trim(x)`` — DuckDB's default trim strips Unicode Zs
      (NBSP, U+3000) where Spark's F.trim strips ASCII 0x20 only, so
      every oracle trim must pass an explicit character-set argument;
      ADVICE r17 item 1 extends the match to TRIM/LTRIM/RTRIM in any
      case (SQL is case-insensitive, and DuckDB's l/rtrim defaults
      carry the same Unicode-Zs set);
    - no ``\\s`` in oracle regexes — RE2's \\s lacks \\x0B where
      Java's (Spark) and Python-ASCII's include it; spell the class
      out as ``[ \\t\\n\\x0b\\f\\r]+``.
    """
    import re

    from mapreduce_4sl08_spark.plans import QUERIES

    def bare_trims(sql: str) -> list[str]:
        found = []
        for m in re.finditer(r"\b(?:l|r)?trim\(", sql, re.IGNORECASE):
            depth, i, has_arg2 = 1, m.end(), False
            while i < len(sql) and depth:
                c = sql[i]
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                elif c == "," and depth == 1:
                    has_arg2 = True
                i += 1
            if not has_arg2:
                found.append(sql[m.start():m.start() + 50])
        return found

    offenders = {}
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        problems = []
        problems += [f"bare trim: {t!r}" for t in bare_trims(spec.oracle)]
        if "\\s" in spec.oracle:
            problems.append("regex \\s (RE2 dialect: lacks \\x0B)")
        if problems:
            offenders[name] = problems
    assert not offenders, (
        f"oracle whitespace-contract violations (see plans/base.py "
        f"docstring): {offenders}")


# ------------------------------------------------ global-window invariant


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.length())]


def _walk_logical(node):
    yield node
    for child in _scala_seq(node.children()):
        yield from _walk_logical(child)
    # subqueries/CTE definitions hang off innerChildren, not children
    for child in _scala_seq(node.innerChildren()):
        yield from _walk_logical(child)


#: logical operators that bound the row count feeding a global window:
#: an explicit limit(k), or an aggregate (group-count-sized frames —
#: the "top-k-first / tiny aggregate" idiom the plans comment by hand)
_BOUNDED_CLASSES = {"GlobalLimit", "LocalLimit", "Aggregate"}


def unbounded_global_windows(df) -> list[str]:
    """Every Window node with an EMPTY partitionSpec whose input subtree
    contains no Limit/Aggregate — i.e. a single-partition sort over an
    unbounded relation, the 'Moving all data to a single partition'
    WindowExec that melts one executor at 100 TB."""
    bad = []
    for node in _walk_logical(df._jdf.queryExecution().analyzed()):
        if node.getClass().getSimpleName() != "Window":
            continue
        if node.partitionSpec().length() > 0:
            continue
        subtree = list(_walk_logical(node))[1:]
        if not any(n.getClass().getSimpleName() in _BOUNDED_CLASSES
                   for n in subtree):
            bad.append(node.simpleString(100))
    return bad


@pytest.fixture(scope="module")
def _global_window_swept(spark, request):
    from tests.parallel_sweep import selected, sweep

    def check(name):
        df = QUERIES[name].fn(spark, SF_SMOKE)
        bad = unbounded_global_windows(df)
        assert not bad, (
            f"{name} plans a global (unpartitioned) window over an "
            f"UNBOUNDED input — put a limit(k) or aggregate below it, "
            f"or partition the window:\n" + "\n".join(bad))

    return sweep(selected(request, "test_global_window_sits_above_bounded_input"), check)


@pytest.mark.parametrize("name", sorted(QUERIES), ids=str)
def test_global_window_sits_above_bounded_input(_global_window_swept, name):
    """VERDICT r17 item 5: the benign-global-window idiom (top-k or
    tiny-aggregate first, THEN the unpartitioned rank/cume window) was
    protected only by comments. Mechanical form: any Window.orderBy
    without partitionBy must have a limit(k) or aggregate BELOW it in
    the analyzed plan. A violation is a plan that sorts the raw
    relation on one executor."""
    from tests.parallel_sweep import reraise
    reraise(_global_window_swept, name)


def test_global_window_gate_catches_bad_plan(spark):
    """The gate must actually fire: a deliberately-bad global window
    over a raw table (no limit, no aggregate) is flagged, and the same
    window above a limit(k) is not."""
    from pyspark.sql import Window, functions as F

    raw = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    w = Window.orderBy(F.col("o_totalprice").desc())
    bad_df = raw.select("o_orderkey", F.row_number().over(w).alias("rk"))
    assert unbounded_global_windows(bad_df), (
        "gate failed to flag a global window over a raw relation")

    good_df = (raw.orderBy(F.col("o_totalprice").desc()).limit(10)
               .select("o_orderkey", F.row_number().over(w).alias("rk")))
    assert not unbounded_global_windows(good_df)


def test_ts_oracles_carry_quarantine_shadow():
    """Every oracle that references a ts-bearing table must read it
    through the quarantine shadow CTE (the mechanical mirror of the
    load_table ts-representability filter) — except the raw-reading
    quality gates, which COUNT what the filter drops. Since the wrap is
    applied at registry assembly this is near-tautological today; the
    gate exists so a future bypass (a spec added after the wrap, or a
    name added to RAW_ORACLE_QUERIES without the quality-gate
    rationale) fails a test instead of shipping a cross-engine split
    on dirty timestamps."""
    import re

    from mapreduce_4sl08_spark.plans.registry import RAW_ORACLE_QUERIES
    from mapreduce_4sl08_spark.sources.tables import (
        TS_QUARANTINE_COLS, ts_quarantine_sql,
    )

    offenders = []
    for name, spec in QUERIES.items():
        if spec.oracle is None or name in RAW_ORACLE_QUERIES:
            continue
        for table in TS_QUARANTINE_COLS:
            if (re.search(rf"\b{table}\b", spec.oracle, re.IGNORECASE)
                    and ts_quarantine_sql(table) not in spec.oracle):
                offenders.append((name, table))
    assert not offenders, (
        f"ts-reading oracles missing the quarantine shadow CTE: "
        f"{offenders}")
    # and the exempt set stays exactly the quality gates
    assert RAW_ORACLE_QUERIES == {
        "dq_constraint_report", "column_profile_orders",
        "column_profile_lineitem", "column_profile_events",
        "column_profile_documents"}


def test_iterative_oracles_materialize_their_base_ctes():
    """Scale gate for the ORACLE side (r20): DuckDB inlines
    non-recursive CTEs, so an iterative oracle — an unrolled
    fixed-iteration chain or a WITH RECURSIVE walk — re-executes its
    base relation once PER ITERATION unless the base is AS
    MATERIALIZED. That made the pagerank oracle >9 min and the
    CC-composed survivor oracle 85 s at the 10x fixture (vs seconds
    for the Spark side) and stalled the full-registry 10x sweep. Pin
    the hint so a rewrite doesn't silently reintroduce the blowup:
    every recursive oracle whose walk joins a derived base relation
    must materialize that base.

    Generalized (ADVICE r20 item 4): instead of matching the literal
    CTE names `pairs AS|edges AS`, parse every CTE definition out of
    the oracle, find the recursive term (the CTE whose body references
    its own name), and require AS MATERIALIZED on every OTHER defined
    CTE that the recursive body references — so a future recursive
    oracle with any base-CTE naming cannot escape the gate."""
    import re

    _DEF = re.compile(
        r"(\w+)\s*(?:\([^()]*\))?\s+AS\s+(MATERIALIZED\s+)?\(",
        re.IGNORECASE)

    def _cte_defs(sql: str, top_only: bool = True):
        """(name, is_materialized, body) per `name [(cols)] AS
        [MATERIALIZED] (body)` definition, bodies by balanced-paren
        scan; with top_only, definitions nested inside an already
        captured body (an inlined sub-WITH, e.g. the verbatim
        DEDUP_JACCARD_SQL inside the CC oracles) are skipped — their
        references resolve in the inner scope, not this one."""
        out, spans = [], []
        for m in _DEF.finditer(sql):
            if top_only and any(s <= m.start() < e for s, e in spans):
                continue
            depth, i = 0, m.end() - 1
            while i < len(sql):
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                i += 1
            spans.append((m.end(), i))
            out.append((m.group(1), bool(m.group(2)), sql[m.end():i]))
        return out

    def _references(body: str, cte: str) -> bool:
        """True if `body` references top-level CTE `cte`: an unqualified
        mention (no `.`/word prefix — `main.orders` is the raw table,
        not the shadow CTE) that is not shadowed by the body defining
        its own CTE of the same name (the inlined sub-WITH case)."""
        if any(n == cte for n, _, _ in _cte_defs(body, top_only=False)):
            return False
        return re.search(rf"(?<![\w.]){cte}\b", body) is not None

    def _check_scope(name: str, sql: str):
        """Yield (rec_name, other, materialized) for every derived-CTE
        reference from a self-referencing CTE, in THIS scope and every
        nested sub-WITH scope (the curation oracle nests the recursive
        walk inside a `comp AS (...)` body)."""
        defs = _cte_defs(sql)
        for rec_name, _, rec_body in defs:
            if not _references(rec_body, rec_name):
                continue
            for other, materialized, _ in defs:
                if other != rec_name and _references(rec_body, other):
                    yield rec_name, other, materialized
        for _, _, body in defs:
            yield from _check_scope(name, body)

    checked = 0
    for name, spec in QUERIES.items():
        if spec.oracle is None or "WITH RECURSIVE" not in spec.oracle:
            continue
        found = list(_check_scope(name, spec.oracle))
        assert found, (
            f"{name}: WITH RECURSIVE oracle but no self-referencing "
            f"CTE referencing a derived base found — the gate's parser "
            f"needs updating")
        for rec_name, other, materialized in found:
            checked += 1
            assert materialized, (
                f"{name}: recursive term {rec_name} joins derived CTE "
                f"{other} without AS MATERIALIZED — DuckDB re-executes "
                f"it per iteration and blows up at 10x+ fixtures")
    # the known population: four CC-family walks + the reachability
    # walk all join `edges`; the gate must actually be exercising them
    # (a parser regression would otherwise pass vacuously)
    assert checked >= 5, f"materialization gate checked only {checked} refs"
    from mapreduce_4sl08_spark.plans.extended import PAGERANK_SQL
    assert PAGERANK_SQL.count("AS MATERIALIZED") == 16, (
        "the unrolled pagerank oracle must materialize all 16 CTEs "
        "(edges/nodes/params/outdeg/links/r0 + the 10 iterations)")


def test_wrapped_oracles_parse_in_duckdb():
    """The wrap itself must not BREAK an oracle (ADVICE r19 item 1):
    _wrap_ts_quarantine prepends shadow CTEs by text surgery, so an
    oracle starting with a SQL comment before WITH, or one defining
    its own CTE named orders/lineitem/events, would mis-splice into
    invalid SQL (malformed WITH or duplicate CTE name). The shadow
    gate above only catches a MISSING shadow — this gate EXPLAINs
    every wrapped oracle in a viewless DuckDB so wrap-induced
    breakage fails here, at parse/bind time, instead of in the
    driver. Views are registered over the smoke tables (binding — not
    just parsing — is what catches a duplicate-CTE collision)."""
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    failures = []
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        try:
            con.execute(f"EXPLAIN {spec.oracle}")
        except duckdb.Error as e:
            failures.append((name, str(e).splitlines()[0]))
    assert not failures, (
        f"wrapped oracles no longer parse/bind in DuckDB: {failures}")


def test_vector_oracles_carry_canonical_exclusion():
    """Single-source gate for the vecs() twin (r18 --shortvec lesson:
    the exclusion predicate was BAKED into 14 oracle strings, so when
    vecs() gained the dimension clause the oracles silently kept the
    old contract — the census caught it, this gate makes the drift a
    test failure). Every oracle that reads the embeddings table must
    contain base.vec_finite_sql()'s EXACT current text (plain or
    e.-qualified); the only allowlisted exception is the quarantine
    report, which deliberately reads every row to COUNT what vecs()
    excludes."""
    import re

    from mapreduce_4sl08_spark.plans.base import vec_finite_sql

    ALLOW_UNFILTERED = {"dq_constraint_report"}
    offenders = []
    for name, spec in QUERIES.items():
        if spec.oracle is None or name in ALLOW_UNFILTERED:
            continue
        if not re.search(r"\b(FROM|JOIN)\s+embeddings\b", spec.oracle,
                         re.IGNORECASE):
            continue
        if (vec_finite_sql() not in spec.oracle
                and vec_finite_sql("e.embedding") not in spec.oracle):
            offenders.append(name)
    assert not offenders, (
        f"embeddings oracles missing the CURRENT vec_finite_sql() text "
        f"(vecs() and these oracles have drifted apart): {offenders}")
