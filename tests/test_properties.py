"""Property-based invariants (SURVEY §5.2.4) over the real test tables —
cheap cross-checks that hold regardless of oracle availability."""

import pytest
from pyspark.sql import functions as F

from mapreduce_4sl08_spark.operators.wordcount import word_count, words_from_lines
from mapreduce_4sl08_spark.plans import QUERIES
from mapreduce_4sl08_spark.sources import load_table


def test_wordcount_conserves_tokens(spark, sf_smoke_dir):
    docs = load_table(spark, sf_smoke_dir, "documents").select(
        F.col("text").alias("value"))
    total_words = words_from_lines(docs).count()
    counted = word_count(docs).agg(F.sum("count")).collect()[0][0]
    assert counted == total_words


def test_groupby_invariant_under_repartition(spark, sf_smoke_dir):
    docs = load_table(spark, sf_smoke_dir, "documents").select(
        F.col("text").alias("value"))
    base = {(r.word, r["count"]) for r in word_count(docs).collect()}
    shuffled = {(r.word, r["count"])
                for r in word_count(docs.repartition(13)).collect()}
    assert base == shuffled


def test_sort_is_permutation(spark, sf_smoke_dir):
    c = load_table(spark, sf_smoke_dir, "customer")
    out = QUERIES["sort_customers_multi"].fn(spark, sf_smoke_dir)
    assert out.count() == c.count()
    assert set(r.c_custkey for r in out.collect()) == \
        set(r.c_custkey for r in c.select("c_custkey").collect())


def test_dedup_output_subset_and_unique(spark, sf_smoke_dir):
    d = load_table(spark, sf_smoke_dir, "documents")
    out = QUERIES["dedup_exact_documents"].fn(spark, sf_smoke_dir)
    kept = [r.kept_doc_id for r in out.collect()]
    assert len(kept) == len(set(kept))
    all_ids = {r.doc_id for r in d.select("doc_id").collect()}
    assert set(kept) <= all_ids
    # conservation: copies sum to table size
    assert out.agg(F.sum("n_copies")).collect()[0][0] == d.count()


def test_jaccard_pairs_are_symmetric_free_and_bounded(spark, sf_smoke_dir):
    out = QUERIES["dedup_ngram_jaccard"].fn(spark, sf_smoke_dir).collect()
    for r in out:
        assert r.doc_a < r.doc_b        # no self/duplicate-orientation pairs
        assert 0.0 <= r.jaccard <= 1.0
        assert r.n_common >= 1


def test_minhash_candidates_superset_check(spark, sf_smoke_dir):
    """Every pair the exact prefix-filter join finds at J>=0.5 should be
    found by MinHash-LSH at its lower 0.4 threshold IF banding caught it;
    here we check the verified outputs are consistent: any (a,b) in both
    results carries the identical jaccard value."""
    exact = {(r.doc_a, r.doc_b): r.jaccard
             for r in QUERIES["dedup_ngram_jaccard"].fn(spark, sf_smoke_dir).collect()}
    lsh = {(r.doc_a, r.doc_b): r.jaccard
           for r in QUERIES["dedup_minhash_lsh"].fn(spark, sf_smoke_dir).collect()}
    for pair, j in exact.items():
        if pair in lsh:
            assert lsh[pair] == j


def test_minhash_signature_cross_engine_24_perms(spark, sf_smoke_dir):
    """Raw per-doc MinHash signatures must agree value-for-value
    between Spark and DuckDB at 24 permutations — the regime past the
    former 16-perm ceiling, exercising ALL THREE chained digests
    (md5(shingle), md5(shingle || '#2'), md5(shingle || '#3')) through
    the served expressions (r15; VERDICT r14 item 6). A single slice
    disagreement would bucket the engines differently at any
    (bands, rows) built on these signatures."""
    import duckdb

    from mapreduce_4sl08_spark.plans.text import (
        _minhash_signatures, _shingle_sets, minhash_signature_sql)
    sh, _ = _shingle_sets(spark, sf_smoke_dir, 3)
    spark_rows = {r["doc_id"]: tuple(r[f"mh{p}"] for p in range(24))
                  + (r["n_sh"],)
                  for r in _minhash_signatures(sh, 24).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_smoke_dir}/documents.parquet'")
    sql_rows = {row[0]: tuple(row[1:])
                for row in con.execute(minhash_signature_sql(24)).fetchall()}
    assert spark_rows and spark_rows == sql_rows


def test_minhash_candidates_24_perm_arm_runs_and_verifies(spark, sf_smoke_dir):
    """A >16-perm operating point must run end to end: 24 perms as
    6 bands x 4 rows (S-curve threshold 6^(-1/4) ~ 0.64) — more bands
    than the production arm, so its candidate set is a superset of any
    4-band subset of the same rows. Verified pairs must carry exact
    Jaccard >= the arm's threshold."""
    from mapreduce_4sl08_spark.plans.text import (
        _minhash_candidates, _verify_pairs)
    cand, sets = _minhash_candidates(spark, sf_smoke_dir,
                                     perms=24, bands=6, rows=4)
    verified = _verify_pairs(cand, sets, 0.8).collect()
    for r in verified:
        assert r.doc_a < r.doc_b and r.jaccard >= 0.8
    # the smoke corpus has planted near-dups at J >= 0.8; the 6-band
    # arm must find them (collision prob 1-(1-0.8^4)^6 ~ 0.97 per pair)
    assert len(verified) > 0


def test_simhash_pairs_unique_and_verified(spark, sf_smoke_dir):
    """The first-equal-band emission (r7 — replaces .distinct()) must
    produce each qualifying pair EXACTLY once, oriented doc_a < doc_b,
    with the verified hamming bound."""
    from mapreduce_4sl08_spark.plans.extended import _HAMMING_MAX
    rows = QUERIES["simhash_dedup"].fn(spark, sf_smoke_dir).collect()
    pairs = [(r.doc_a, r.doc_b) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate pair emitted"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= _HAMMING_MAX


def test_simhash_packed_counters_equal_definitional_sums(spark):
    """Bit-for-bit equivalence of the packed-counter fingerprint
    against the definitional SUM(±1) form, on a corpus engineered to
    hit the tie: with an EVEN number of tokens where exactly half have
    bit b set, SUM(±1) == 0 (bit set, >= 0) and 2·cnt == n (bit set) —
    both forms must agree there and everywhere else."""
    import mapreduce_4sl08_spark.plans.extended as X

    rows = [
        (1, "alpha beta gamma delta"),          # even count
        (2, "alpha alpha alpha"),                # dup tokens (distinct=1)
        (3, "x"),                                # single token
        (4, "the quick brown fox jumps over"),   # 6 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.split(F.trim(F.lower("text")), r"\s+"))).alias("token"),
    ).filter(F.col("token") != "")
    hashed_toks = (
        toks.withColumn("m", F.md5(F.col("token")))
        .select(
            "doc_id",
            F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("h_hi"),
            F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("h_lo"),
        ))

    bits = X._SIMHASH_HALF_BITS
    # definitional form (kept here as the reference): 64 SUM(±1)
    # buffers then per-bit CASE reconstruction
    ref = hashed_toks.groupBy("doc_id").agg(
        *[F.expr(f"sum(((h_{h} >> {b}) & 1) * 2 - 1)").alias(f"s_{h}_{b}")
          for h in ("hi", "lo") for b in range(bits)])
    ref = ref.select("doc_id", *[
        F.expr("CAST(" + " + ".join(
            f"(CASE WHEN s_{h}_{b} >= 0 THEN {1 << b} ELSE 0 END)"
            for b in range(bits)) + " AS BIGINT)").alias(f"sim_{h}")
        for h in ("hi", "lo")])

    # packed form: the production expression simhash_dedup persists
    packed = X.simhash_bits(hashed_toks)

    want = sorted(map(tuple, ref.collect()))
    got = sorted(map(tuple, packed.collect()))
    assert got == want
    # and at least one tie actually occurred, or the test proves less
    # than it claims: doc 1 has 4 distinct tokens — with md5 bits
    # ~uniform, P(no 2-2 split across 64 bits) ≈ (5/8)^64 ≈ 1e-13
    ties = hashed_toks.groupBy("doc_id").agg(
        *[F.expr(f"sum(((h_hi >> {b}) & 1) * 2 - 1)").alias(f"t{b}")
          for b in range(bits)])
    tie_rows = ties.filter(
        " OR ".join(f"t{b} = 0" for b in range(bits))).count()
    assert tie_rows > 0, "corpus produced no SUM(±1)==0 tie to exercise"


def test_knn_rank_ordering(spark, sf_smoke_dir):
    rows = QUERIES["knn_bruteforce_cosine"].fn(spark, sf_smoke_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rk, r.cos_sim))
    for q, lst in by_q.items():
        lst.sort()
        sims = [s for _, s in lst]
        assert sims == sorted(sims, reverse=True)
        assert [rk for rk, _ in lst] == list(range(1, len(lst) + 1))


def _user_features_reference(events):
    """Per-user features as a pandas grouped map — the reference the
    built-in :func:`user_sequence_features` must equal row for row."""
    def features(pdf):
        import pandas as pd
        pdf = pdf.sort_values(["ts", "event_id"])
        # explicit µs unit: Arrow may hand pandas datetime64[ns] or [us]
        ts = pdf["ts"].astype("datetime64[us]").astype("int64")
        deltas = pdf["value"].diff().abs().dropna()
        return pd.DataFrame({
            "user_id": [pdf["user_id"].iloc[0]],
            "n_events": [len(pdf)],
            "span_us": [int(ts.max() - ts.min())],
            "max_value_delta": [float(deltas.max()) if len(deltas) else 0.0],
        })

    return (events.select("user_id", "event_id", "ts", "value")
            .groupBy("user_id")
            .applyInPandas(features, "user_id long, n_events long, "
                                     "span_us long, max_value_delta double"))


def test_grouped_map_fast_equals_canonical(spark, sf_smoke_dir):
    """The built-in lag-window form of the per-user features equals the
    pandas grouped-map reference row for row, on the rows
    events_user_features feeds it (timed, value through finite())."""
    import pandas as pd

    from mapreduce_4sl08_spark.plans.base import finite
    from mapreduce_4sl08_spark.plans.events import user_sequence_features
    e = (load_table(spark, sf_smoke_dir, "events")
         .filter(F.col("ts").isNotNull())
         .withColumn("value", finite("value")))
    got = (user_sequence_features(e).toPandas()
           .sort_values("user_id").reset_index(drop=True))
    want = (_user_features_reference(e).toPandas()
            .sort_values("user_id").reset_index(drop=True))
    assert len(got) > 1
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_user_features_round4_tie_semantics(spark, tmp_path):
    """Pin the integer-µs half-up derivation on data crafted to land
    EXACTLY on 4-decimal rounding ties — the class where the old float
    path diverged between Spark (decimal HALF_UP) and DuckDB (binary)
    at sf0.1 volume. Asserts cross-engine equality AND the absolute
    half-up values, so the semantics can't silently drift to either
    engine's native float rounding."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-01-01")
    us = lambda n: base + pd.Timedelta(microseconds=n)  # noqa: E731
    rows = [
        # user 1: span_us = 1_234_550 → 1.23455 s, a round-4 tie → 1.2346
        (1, 1, base, 10.0), (2, 1, us(1_234_550), 11.0),
        # user 2: span_us = 2_000_100 over 2 gaps → mean 1.00005 s,
        # a round-4 tie → 1.0001 (span itself is NOT a tie: 2.0001)
        (3, 2, base, 1.0), (4, 2, us(1_000_000), 2.0),
        (5, 2, us(2_000_100), 3.0),
        # user 3: single event → both seconds features exactly 0
        (6, 3, base, 5.0),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "events.parquet"))

    from mapreduce_4sl08_spark.plans.events import (
        EVENTS_USER_FEATURES_SQL, events_user_features)
    got = (events_user_features(spark, str(tmp_path))
           .toPandas().reset_index(drop=True))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path}/events.parquet')")
    want = con.execute(EVENTS_USER_FEATURES_SQL).fetchdf()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    by_user = got.set_index("user_id")
    assert by_user.loc[1, "span_seconds"] == 1.2346      # half-up, not 1.2345
    assert by_user.loc[2, "mean_gap_seconds"] == 1.0001  # half-up, not 1.0
    assert by_user.loc[3, "span_seconds"] == 0.0
    assert by_user.loc[3, "mean_gap_seconds"] == 0.0


def test_user_features_halfup_matches_decimal_reference(spark, tmp_path):
    """Randomized pin of the integer-µs derivation against an
    INDEPENDENT spec: Decimal quantize(4, ROUND_HALF_UP) on the exact
    rational span. Non-circular (the query uses the `(a + b/2) div b`
    integer trick; the reference uses decimal arithmetic), so an
    off-by-one in the trick — the float-ceil class the r8 review caught
    in the jaccard bounds — fails here. 25% of offsets are forced to
    50 µs multiples so round-4 ties are guaranteed in the sample."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(42)
    rows, eid = [], 0
    for uid in range(1, 301):
        n = int(rng.randint(1, 9))
        offs = rng.randint(0, 10**10, size=n)
        tie_mask = rng.rand(n) < 0.25
        offs[tie_mask] -= offs[tie_mask] % 50  # land on 50 µs multiples
        if n >= 3 and uid % 7 == 0:
            offs[1] = offs[0]  # duplicate timestamp within a user
        for o in offs:
            rows.append((eid, uid, int(o), float(rng.rand())))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "off", "value"])
    base = pd.Timestamp("2024-01-01")
    pdf["ts"] = (base + pd.to_timedelta(pdf.pop("off"), unit="us")
                 ).astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(pdf),
                   str(tmp_path / "events.parquet"))

    from mapreduce_4sl08_spark.plans.events import events_user_features
    got = events_user_features(spark, str(tmp_path)).toPandas()

    q4 = Decimal("0.0001")
    spans = (pdf.groupby("user_id")["ts"]
             .agg(lambda s: int((s.max() - s.min()).value // 1000)
                  if len(s) > 1 else 0))
    counts = pdf.groupby("user_id").size()
    for _, r in got.iterrows():
        span_us, n = int(spans[r.user_id]), int(counts[r.user_id])
        assert r.n_events == n
        want_span = float((Decimal(span_us) / Decimal(10**6))
                          .quantize(q4, ROUND_HALF_UP))
        assert r.span_seconds == want_span, (r.user_id, span_us)
        want_gap = (float((Decimal(span_us) / (Decimal(n - 1) * 10**6))
                          .quantize(q4, ROUND_HALF_UP)) if n > 1 else 0.0)
        assert r.mean_gap_seconds == want_gap, (r.user_id, span_us, n)


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """HLL++ at rsd=2% (and percentile_approx at 10000) must land within
    5% of exact — the query carries the comparison as ``within_tol``, and
    the exact counts are cross-checked against countDistinct here (they
    are also hash-checked against DuckDB in test_oracle_queries)."""
    from mapreduce_4sl08_spark.plans import QUERIES
    rows = QUERIES["agg_approx_distinct"].fn(spark, sf_dir).collect()
    assert rows and all(r.within_tol for r in rows)
    l = load_table(spark, sf_dir, "lineitem")
    exact = {r.l_returnflag: (r.p, r.o)
             for r in l.groupBy("l_returnflag")
             .agg(F.countDistinct("l_partkey").alias("p"),
                  F.countDistinct("l_orderkey").alias("o")).collect()}
    for r in rows:
        assert (r.exact_parts, r.exact_orders) == exact[r.l_returnflag]


def test_pagerank_invariants(spark, sf_smoke_dir):
    """PageRank mass conservation + positivity + rank concentration on
    high-in-degree nodes (suppliers, who receive all edges)."""
    from mapreduce_4sl08_spark.operators.graph import pagerank, purchase_graph
    edges = purchase_graph(
        load_table(spark, sf_smoke_dir, "lineitem"),
        load_table(spark, sf_smoke_dir, "orders"))
    n_nodes = (edges.select(F.col("src").alias("n"))
               .unionByName(edges.select(F.col("dst").alias("n")))
               .distinct().count())
    ranks = pagerank(edges, iterations=10)
    rows = ranks.collect()
    assert len(rows) == n_nodes
    assert all(r["rank"] > 0 for r in rows)
    total = sum(r["rank"] for r in rows)
    # customers are all dangling (outdeg>0, indeg=0) -> they keep only
    # teleport mass; suppliers absorb the rest. Mass <= 1 (dangling loss)
    assert 0.1 < total <= 1.000001
    top = max(rows, key=lambda r: r["rank"])
    assert top["node"].startswith("s")  # a supplier dominates


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    """Multi-table LSH recall regression at sf0.01: the 16-table × 4-bit
    banding must recover ≥85% of the exact top-5 neighbor pairs (the
    S-curve predicts ~0.95 at the corpus's q≈0.65 planted-neighbor
    regime; measured 0.92 on this fixed dataset — everything is
    deterministic, so a drop means the banding or planes changed)."""
    bf = {(r.query_id, r.vec_id)
          for r in QUERIES["knn_bruteforce_cosine"].fn(spark, sf_dir).collect()}
    ann = {(r.query_id, r.vec_id)
           for r in QUERIES["lsh_bucket_ann"].fn(spark, sf_dir).collect()}
    assert bf, "bruteforce baseline is empty"
    recall = len(bf & ann) / len(bf)
    assert recall >= 0.85, f"LSH recall regressed: {recall:.2f}"
    # ANN results are a subset of real vectors with exact rerank — any
    # pair it returns must carry the true cosine (checked by the oracle);
    # here: per-query result counts never exceed top-k
    from collections import Counter
    per_q = Counter(q for q, _ in ann)
    assert all(v <= 5 for v in per_q.values())


def test_embedding_near_dup_recall_vs_bruteforce(spark, sf_dir):
    """LSH-routed near-dup finds every planted pair at sf0.01 (14/14 on
    this fixed dataset; collision prob ≈0.95+ per the S-curve at
    cos≥0.45) and returns no pair below the threshold."""
    from mapreduce_4sl08_spark.functions import cosine as _  # noqa: F401
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    from mapreduce_4sl08_spark.functions import cosine
    brute = {(r.id_a, r.id_b)
             for r in a.join(b, F.col("id_a") < F.col("id_b"))
             .withColumn("cs", cosine(F.col("emb_a"), F.col("emb_b")))
             .filter(F.col("cs") >= 0.45).select("id_a", "id_b").collect()}
    routed = QUERIES["embedding_near_dup"].fn(spark, sf_dir)
    got = {(r.id_a, r.id_b) for r in routed.collect()}
    assert got <= brute, "near-dup emitted a below-threshold pair"
    recall = len(got) / len(brute)
    assert recall >= 0.9, f"near-dup recall regressed: {recall:.2f}"


def test_ivf_ann_recall_vs_bruteforce(spark, sf_dir):
    """IVF regression floor at sf0.01 (deterministic centroids + data).
    The fixture's neighbors sit at cos≈0.45-0.5 — barely above the
    near-orthogonal background — so they are NOT centroid-localized:
    a (K, nprobe) sweep measured recall ≈ 2× the corpus fraction
    searched at every K in {8,16,32,64}, and k-means refinement of the
    centroids moved it by <0.1. Decision (documented at
    plans/vectors.py:_IVF_NPROBE): IVF runs at the honest nprobe=4/16
    operating point (recall 0.56 searching 25% of the corpus) and LSH
    (pinned ≥0.85 above) is the served high-recall path on data like
    this. The floor pins param/centroid regressions."""
    bf = {(r.query_id, r.vec_id)
          for r in QUERIES["knn_bruteforce_cosine"].fn(spark, sf_dir).collect()}
    ivf = {(r.query_id, r.vec_id)
           for r in QUERIES["ivf_ann"].fn(spark, sf_dir).collect()}
    assert len(bf & ivf) / len(bf) >= 0.5


def test_stratified_sample_rates(spark, sf_dir):
    """Hash-mod stratified sampling: per-stratum keep rates land near
    the configured percentages, and repeated runs are identical."""
    from mapreduce_4sl08_spark.plans.scale import _DEFAULT_PCT, _STRATA_PCT
    d = load_table(spark, sf_dir, "documents")
    totals = {r.lang: r["count"] for r in d.groupBy("lang").count().collect()}
    out = QUERIES["stratified_sample_documents"].fn(spark, sf_dir)
    kept = {r.lang: r["count"] for r in out.groupBy("lang").count().collect()}
    for lang, total in totals.items():
        pct = _STRATA_PCT.get(lang, _DEFAULT_PCT)
        rate = kept.get(lang, 0) / total
        assert abs(rate - pct / 100) < 0.12, (lang, rate, pct)
    again = QUERIES["stratified_sample_documents"].fn(spark, sf_dir)
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in again.collect()]


def test_winnowing_guarantee(spark, sf_smoke_dir):
    """The winnowing contract (Schleimer et al. §2): two documents
    sharing a token run of length >= w+k-1 MUST share at least one
    selected fingerprint. Construct the overlap synthetically."""
    from mapreduce_4sl08_spark.plans.text import (
        _WINNOW_K, _WINNOW_W, winnowing_fingerprints)
    shared = " ".join(f"tok{i}" for i in range(_WINNOW_W + _WINNOW_K - 1))
    rows = [(900001, f"aaa bbb ccc {shared} ddd eee fff"),
            (900002, f"xxx yyy {shared} zzz www qqq rrr")]
    tmp = spark.createDataFrame(rows, ["doc_id", "text"])
    import tempfile, os
    d = tempfile.mkdtemp(prefix="winnow")
    # reuse the real loader path: write a tiny documents.parquet
    tmp.withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")) \
       .withColumn("n_chars", F.length("text")) \
       .write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = winnowing_fingerprints(spark, d)
    fps = {}
    for r in out.collect():
        fps.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert fps[900001] & fps[900002], "shared run produced no shared fingerprint"


def test_jaccard_prune_cascade_is_lossless_on_varied_sizes(spark, tmp_path):
    """Soundness of the AllPairs/PPJoin candidate cascade — including the
    r7 asymmetric probe prefix (size-canonical pairs, mixed-α prefix
    lemma): on a seeded corpus of WIDELY varying doc sizes (3..60 tokens,
    truncations right at the t·|B| length boundary, same-size ties,
    exact duplicates), the verified output must equal a pure-Python
    brute force over every pair. The parquet-fixture oracles can't vary
    size structure; this pins the pruning math against exactly the
    shapes where an off-by-one in prefix length or a wrong tie-break in
    the canonical order would silently drop a true pair."""
    import itertools
    import os
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from mapreduce_4sl08_spark.plans import QUERIES

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(120)]
    docs = {}
    next_id = 910000

    def add(tokens):
        nonlocal next_id
        docs[next_id] = " ".join(tokens)
        next_id += 1
        return next_id - 1

    bases = []
    for n in (3, 4, 5, 7, 10, 15, 20, 30, 45, 60):
        toks = [rng.choice(vocab) for _ in range(n)]
        bases.append(toks)
        add(toks)
    for toks in bases:
        # near-dup: replace ~20% of tokens in place
        mutated = list(toks)
        for i in rng.sample(range(len(toks)), max(1, len(toks) // 5)):
            mutated[i] = rng.choice(vocab)
        add(mutated)
        # truncation at the length-filter boundary: |B'| ≈ |B|/2
        if len(toks) >= 6:
            add(toks[:len(toks) // 2])
        # exact duplicate (J = 1.0) and a same-size shuffled tie
        add(toks)
        shuffled = list(toks)
        rng.shuffle(shuffled)
        add(shuffled)

    def shingle_set(text):
        toks = text.strip().lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    def round4(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                               rounding=ROUND_HALF_UP))

    expected = {}
    sets = {i: shingle_set(s) for i, s in docs.items()}
    for a, b in itertools.combinations(sorted(docs), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        nc = len(sa & sb)
        if nc == 0:
            continue
        j = round4(nc / (len(sa) + len(sb) - nc))
        if j >= 0.5:
            expected[(a, b)] = (nc, j)

    tmp = spark.createDataFrame(sorted(docs.items()), ["doc_id", "text"])
    d = str(tmp_path)  # pytest-managed: parquet fixture is cleaned up
    tmp.withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")) \
       .withColumn("n_chars", F.length("text")) \
       .write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {(r.doc_a, r.doc_b): (r.n_common, r.jaccard)
           for r in QUERIES["dedup_ngram_jaccard"].fn(spark, d).collect()}
    missing = set(expected) - set(got)
    extra = set(got) - set(expected)
    assert not missing, f"pruning dropped true pairs: {sorted(missing)[:5]}"
    assert not extra, f"verify emitted below-threshold pairs: {sorted(extra)[:5]}"
    for pair, (nc, j) in expected.items():
        g_nc, g_j = got[pair]
        assert g_nc == nc and abs(g_j - j) < 1e-9, (pair, (nc, j), got[pair])


def test_bpe_pretokenizer_cross_engine_parity(spark):
    """The BPE pretokenizer regex must tokenize IDENTICALLY under Java
    regex (Spark) and RE2 (DuckDB) — the reason the pattern is restricted
    to lookahead-free constructs. Fuzz 300 seeded random strings mixing
    letters (incl. accented), digits, punctuation, contractions, and
    whitespace runs, and compare token sequences engine-vs-engine."""
    import random

    import duckdb

    from mapreduce_4sl08_spark.plans.curation import _BPE_PRETOKEN_RE

    rng = random.Random(7)
    pieces = ["the", "fox", "Éclair", "naïve", "42", "3.14", "!!", "--",
              "it's", "don't", "we'll", "I'm", "they're", "you've", "he'd",
              "...", "(a)", "[x]", "a,b", "€5", "日本", "x;y", '"q"']
    seps = [" ", "  ", "\t", " \t ", "\n", ""]
    strings = ["".join(p + rng.choice(seps)
                       for p in rng.choices(pieces, k=rng.randint(1, 12)))
               for _ in range(300)]

    from pyspark.sql import Row
    from pyspark.sql import functions as F
    sdf = spark.createDataFrame([Row(i=i, s=s) for i, s in enumerate(strings)])
    spark_toks = {
        r.i: r.toks
        for r in sdf.select(
            "i", F.regexp_extract_all("s", F.lit(_BPE_PRETOKEN_RE), F.lit(0))
            .alias("toks")).collect()
    }

    con = duckdb.connect()
    duck_re = _BPE_PRETOKEN_RE.replace("'", "''")
    duck_toks = {}
    for i, s in enumerate(strings):
        [(toks,)] = con.execute(
            f"SELECT regexp_extract_all(?, '{duck_re}')", [s]).fetchall()
        duck_toks[i] = toks

    mismatches = {i: (spark_toks[i], duck_toks[i])
                  for i in spark_toks if spark_toks[i] != duck_toks[i]}
    assert not mismatches, f"{len(mismatches)} mismatches; first: " \
        f"{next(iter(mismatches.items()))}"
    # sanity: tokenization is lossless modulo inter-token whitespace
    joined = "".join(spark_toks[0]).replace(" ", "")
    assert joined == strings[0].replace(" ", "").replace("\t", "").replace("\n", "")


def test_shingle_generators_match_python_oracle_fuzz(spark):
    """Hypothesis fuzz: char_ngrams and word_shingles must equal the
    obvious Python definition on arbitrary strings/token lists —
    including the shorter-than-n inputs where Spark's sequence(a, b)
    counts DOWN and would silently emit garbage without the guards."""
    from hypothesis import given, settings, strategies as st

    from pyspark.sql import Row
    from mapreduce_4sl08_spark.functions import char_ngrams, word_shingles

    texts = st.lists(
        st.text(alphabet="ab å√", min_size=0, max_size=7), min_size=1, max_size=8)

    @settings(max_examples=10, deadline=None)
    @given(texts=texts, n=st.integers(min_value=1, max_value=4))
    def check(texts, n):
        df = spark.createDataFrame([Row(i=i, s=s, toks=s.split(" "))
                                    for i, s in enumerate(texts)])
        got = {r.i: (r.cn, r.ws) for r in df.select(
            "i", char_ngrams(F.col("s"), n).alias("cn"),
            word_shingles(F.col("toks"), n).alias("ws")).collect()}
        for i, s in enumerate(texts):
            toks = s.split(" ")
            want_cn = [s[j:j + n] for j in range(len(s) - n + 1)]
            want_ws = [" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)]
            assert got[i] == (want_cn, want_ws), (s, n, got[i])

    check()


def test_cc_propagation_warns_on_diameter_over_cap(spark):
    """VERDICT r7 item 3: the min-label loop's diameter cap must be
    LOUD. A 60-node path graph needs ~58 propagation rounds for label 0
    to reach the far end (one hop per round past the 1-hop seed), so
    _CC_MAX_ROUNDS=20 cannot converge — RuntimeWarning must fire and the
    truncated labels must show it. A star graph (diameter 2) must
    converge silently and label every node with the hub minimum."""
    import warnings

    import pytest

    from pyspark.sql import Row
    from mapreduce_4sl08_spark.plans.text import _min_label_propagation

    def sym_edges(pairs):
        rows = [Row(src=a, dst=b) for a, b in pairs]
        rows += [Row(src=b, dst=a) for a, b in pairs]
        return spark.createDataFrame(rows)

    # star: hub 0, leaves 1..6 — converges in one verify round, no warning
    star = sym_edges([(0, i) for i in range(1, 7)])
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels = {r.doc_id: r.component
                  for r in _min_label_propagation(star).collect()}
    assert labels == {i: 0 for i in range(7)}

    # path 0-1-2-...-59: min label 0 travels one hop per round past the
    # 1-hop seed, so 20 rounds cannot reach the far end -> loud warning,
    # and the returned labels are the (partially merged) last round's
    path = sym_edges([(i, i + 1) for i in range(59)])
    with pytest.warns(RuntimeWarning, match="did not reach a confirmed fixpoint"):
        labels = {r.doc_id: r.component
                  for r in _min_label_propagation(path).collect()}
    assert len(labels) == 60
    assert labels[0] == 0 and labels[59] > 0  # truncation really happened

    # boundary (r8 review): a 22-node path's LAST label change lands
    # exactly on propagation round 20 — the free confirmation round
    # must confirm the fixpoint with NO spurious warning
    exact = sym_edges([(i, i + 1) for i in range(21)])
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels = {r.doc_id: r.component
                  for r in _min_label_propagation(exact).collect()}
    assert labels == {i: 0 for i in range(22)}


def test_jaccard_candidate_cascade_lossless_across_thresholds(spark, tmp_path):
    """The r8 exact-integer probe-prefix bound
    (pos <= n - ceil(2t/(1+t)*n) + 1) is EQUIVALENT to the old float+eps
    form at t=0.5 but strictly tighter elsewhere — so the t=0.5 cascade
    test alone no longer pins the general lemma. Run the parametric
    candidate stage + verify at t in {0.3, 0.7, 0.9} on a varied-size
    seeded corpus and require exact equality with a pure-Python brute
    force at each threshold."""
    import itertools
    import os
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from mapreduce_4sl08_spark.plans.text import (
        _jaccard_candidates, _verify_pairs)

    rng = random.Random(20260814)
    vocab = [f"v{i}" for i in range(80)]
    docs, next_id = {}, 920000

    def add(tokens):
        nonlocal next_id
        docs[next_id] = " ".join(tokens)
        next_id += 1

    for n in (3, 4, 5, 7, 9, 12, 16, 22, 30, 40):
        toks = [rng.choice(vocab) for _ in range(n)]
        add(toks)
        mutated = list(toks)
        for i in rng.sample(range(n), max(1, n // 6)):
            mutated[i] = rng.choice(vocab)
        add(mutated)
        add(toks)  # exact duplicate
        if n >= 6:
            add(toks[:n // 2])       # truncation near length boundaries
            add(toks[: (2 * n) // 3])

    def shingle_set(text):
        toks = text.strip().lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    def round4(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                               rounding=ROUND_HALF_UP))

    sets = {i: shingle_set(s) for i, s in docs.items()}
    d = str(tmp_path)
    spark.createDataFrame(sorted(docs.items()), ["doc_id", "text"]) \
        .write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    for threshold in (0.3, 0.43, 0.7, 0.9):  # 0.43: r8 review repro threshold
        expected = set()
        for a, b in itertools.combinations(sorted(docs), 2):
            sa, sb = sets[a], sets[b]
            nc = len(sa & sb)
            if nc and round4(nc / (len(sa) + len(sb) - nc)) >= threshold:
                expected.add((a, b))
        cand, sh_sets = _jaccard_candidates(spark, d, threshold)
        got = {(r.doc_a, r.doc_b)
               for r in _verify_pairs(cand, sh_sets, threshold).collect()}
        missing, extra = expected - got, got - expected
        assert not missing, \
            f"t={threshold}: pruning dropped true pairs {sorted(missing)[:5]}"
        assert not extra, \
            f"t={threshold}: below-threshold pairs {sorted(extra)[:5]}"
        assert expected, f"t={threshold}: degenerate oracle (no pairs)"


def test_jaccard_integer_bounds_never_tighter_than_exact_lemma():
    """r8 review finding: float forms like ceil(lit(2t/(1+t)) * n) can
    overshoot the exact lemma ceiling when the double constant rounds
    UP (measured at t=0.43, n=143 among ~200 other (t, n) combos),
    silently dropping true pairs. The BIGINT forms at the rational
    floor p/q must never prune tighter than the exact-real-t lemma.
    Verify with exact Fraction arithmetic over a dense (t, n) grid
    including the review's failing thresholds."""
    from fractions import Fraction

    from mapreduce_4sl08_spark.plans.text import _threshold_floor_rational

    def ceil_frac(x: Fraction) -> int:
        return -((-x.numerator) // x.denominator)

    thresholds = [0.18, 0.3, 0.43, 0.5, 0.57, 0.7, 0.9]
    thresholds += [i / 97 for i in range(5, 93)]  # dense non-dyadic grid
    for t in thresholds:
        T = Fraction(t)  # exact binary rational of the double
        p, q = _threshold_floor_rational(t)
        # the floor really is a floor (length filter soundness rests on it)
        assert Fraction(p, q) <= T
        for n in list(range(1, 500)) + [1000, 1999, 2000, 9999, 10**6]:
            # probe prefix: pos <= n - ceil(2T/(1+T)*n) + 1
            exact = n - ceil_frac(2 * T / (1 + T) * n) + 1
            ours = n + 1 - ceil_frac(Fraction(2 * p * n, q + p))
            assert ours >= exact, f"probe prefix tighter than lemma: {t}, {n}"
            # Chaudhuri prefix: pos <= n - ceil(T*n) + 1
            exact = n - ceil_frac(T * n) + 1
            ours = n + 1 - ceil_frac(Fraction(p * n, q)) if p else n + 1
            assert ours >= exact, f"index prefix tighter than lemma: {t}, {n}"
            # positional alpha: smallest passing ubound
            exact = ceil_frac(T / (1 + T) * n)
            ours = ceil_frac(Fraction(p * n, q + p))
            assert ours <= exact, f"alpha tighter than lemma: {t}, {n}"


def test_hash_split_partitions_corpus_and_is_stable(spark, sf_smoke_dir):
    """The split report must (a) partition the corpus exactly — per-source
    doc counts across splits sum to the source's total — and (b) be a pure
    function of the data: identical under a different physical
    partitioning (the reproducibility property the operator exists for)."""
    docs = load_table(spark, sf_smoke_dir, "documents")
    totals = {r.source: r.n for r in
              docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    out = QUERIES["hash_split_assignment"].fn(spark, sf_smoke_dir).collect()
    per_source: dict[str, int] = {}
    for r in out:
        assert r.split in ("train", "val", "test")
        per_source[r.source] = per_source.get(r.source, 0) + r.n_docs
    assert per_source == totals
    rows1 = {(r.source, r.split, r.n_docs, r.total_chars) for r in out}
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = {(r.source, r.split, r.n_docs, r.total_chars)
                 for r in QUERIES["hash_split_assignment"]
                 .fn(spark, sf_smoke_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert rows1 == rows2


def test_watchlist_flag_bounds(spark, sf_smoke_dir):
    """flagged_docs <= n_docs, hits are non-negative, and the per-mille
    rate is exactly (flagged*1000) div n_docs — the integer-rate contract."""
    for r in QUERIES["watchlist_term_scan"].fn(spark, sf_smoke_dir).collect():
        assert 0 <= r.flagged_docs <= r.n_docs
        assert r.blockterm_hits >= r.flagged_docs  # each flagged doc has >=1 hit
        assert r.email_hits >= 0 and r.ipv4_hits >= 0
        assert r.flagged_permille == (r.flagged_docs * 1000) // r.n_docs


def test_source_cap_conserves_and_respects_cap(spark, sf_smoke_dir):
    """kept + dropped == total per (source, lang); kept never exceeds the
    cap; a group at-or-under the cap keeps everything; and the survivor
    choice is a pure function of the data (stable under a different
    shuffle partitioning)."""
    from mapreduce_4sl08_spark.plans.curation import _DOMAIN_CAP
    docs = load_table(spark, sf_smoke_dir, "documents")
    totals = {(r.source, r.lang): r.n for r in
              docs.groupBy("source", "lang")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    out = QUERIES["source_frequency_cap"].fn(spark, sf_smoke_dir).collect()
    assert {(r.source, r.lang) for r in out} == set(totals)
    for r in out:
        assert r.n_kept + r.n_dropped == r.n_docs == totals[(r.source, r.lang)]
        assert r.n_kept <= _DOMAIN_CAP
        if r.n_docs <= _DOMAIN_CAP:
            assert r.n_dropped == 0
        assert r.kept_chars >= 0
    rows1 = {tuple(r) for r in out}
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = {tuple(r) for r in
                 QUERIES["source_frequency_cap"].fn(spark, sf_smoke_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert rows1 == rows2


def test_key_skew_profile_consistency(spark, sf_smoke_dir):
    """The profile's stats must agree with a directly-computed key-count
    relation: exact n_keys/n_rows/max, percentile ordering
    p50 <= p99 <= max, and the floor-exact top-1 share."""
    l = load_table(spark, sf_smoke_dir, "lineitem")
    counts = [r.n for r in l.groupBy("l_partkey")
              .agg(F.count(F.lit(1)).alias("n")).collect()]
    stats = {r.stat: r.value for r in
             QUERIES["key_skew_profile"].fn(spark, sf_smoke_dir).collect()}
    assert stats["n_keys"] == len(counts)
    assert stats["n_rows"] == sum(counts)
    assert stats["max_cnt"] == max(counts)
    assert stats["p50_cnt"] <= stats["p99_cnt"] <= stats["max_cnt"]
    import math
    assert stats["top1_share_e6"] == math.floor(
        max(counts) * 1e6 / sum(counts))


def test_centroid_fixedpoint_conserves_elements(spark, sf_smoke_dir):
    """Every (label, dim) cell counts exactly the label's vectors; dims
    cover 0..63; the e6 sums are invariant under repartitioning (the
    order-independence integer sums buy); centroid_e6 = floor(sum/n)."""
    import math
    e = load_table(spark, sf_smoke_dir, "embeddings")
    label_counts = {r.label: r.n for r in
                    e.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}
    out = QUERIES["embedding_centroid_fixedpoint"].fn(spark, sf_smoke_dir).collect()
    dims_per_label: dict[int, set[int]] = {}
    for r in out:
        assert r.n_vecs == label_counts[r.label]
        dims_per_label.setdefault(r.label, set()).add(r.dim)
        assert r.centroid_e6 == math.floor(r.sum_e6 / r.n_vecs)
    assert all(d == set(range(64)) for d in dims_per_label.values())
    rows1 = {(r.label, r.dim, r.sum_e6) for r in out}
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        rows2 = {(r.label, r.dim, r.sum_e6) for r in
                 QUERIES["embedding_centroid_fixedpoint"]
                 .fn(spark, sf_smoke_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert rows1 == rows2


def test_lexical_diversity_bounds_and_conservation(spark, sf_smoke_dir):
    """1 <= types <= tokens, both fixed-point ratios live in [0, 1e6],
    simpson_e6 == 0 exactly for single-type docs, and token totals
    conserve against a direct count of non-empty whitespace tokens."""
    from mapreduce_4sl08_spark.functions import TOKEN_SPLIT_RE
    docs = load_table(spark, sf_smoke_dir, "documents")
    direct_tokens = (
        docs.select(F.explode(F.split(F.lower(F.trim("text")),
                                      TOKEN_SPLIT_RE)).alias("tok"))
        .filter(F.col("tok") != "").count())
    out = QUERIES["lexical_diversity_stats"].fn(spark, sf_smoke_dir).collect()
    assert sum(r.n_tokens for r in out) == direct_tokens
    for r in out:
        assert 1 <= r.n_types <= r.n_tokens
        assert 0 < r.ttr_e6 <= 1_000_000
        assert 0 <= r.simpson_e6 < 1_000_000
        if r.n_types == 1:
            assert r.simpson_e6 == 0


def test_rolling_active_users_window_semantics(spark, sf_smoke_dir):
    """WAU >= DAU per day, WAU on the earliest day equals its DAU (the
    trailing window has nothing before it), stickiness is the exact
    integer per-million, and every WAU agrees with a directly computed
    distinct count over the trailing 7 epoch-days."""
    e = load_table(spark, sf_smoke_dir, "events")
    du = {(r.d, r.u) for r in e.select(
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
        F.col("user_id").alias("u")).distinct().collect()}
    import datetime
    epoch = datetime.datetime(1970, 1, 1)
    out = QUERIES["rolling_active_users"].fn(spark, sf_smoke_dir).collect()
    # day is a naive UTC timestamp: diff against the naive epoch, never
    # .timestamp() (which would interpret it in the box-local zone)
    assert {(r.day - epoch).days for r in out} == {d for d, _ in du}
    min_day = min(r.day for r in out)
    for r in out:
        d = (r.day - epoch).days
        expect_wau = len({u for (dd, u) in du if d - 6 <= dd <= d})
        assert r.wau_users == expect_wau
        assert r.dau_users <= r.wau_users
        assert r.stickiness_e6 == (r.dau_users * 1_000_000) // r.wau_users
        if r.day == min_day:
            assert r.wau_users == r.dau_users


def test_brand_rules_symmetry_and_bounds(spark, sf_smoke_dir):
    """Pairs are canonical (a < b), counts obey n_ab <= min(n_a, n_b)
    <= n_orders, and every e6 ratio is the exact integer floor of its
    defining fraction."""
    out = QUERIES["brand_basket_rules"].fn(spark, sf_smoke_dir).collect()
    assert out, "fixture should produce co-purchase pairs"
    for r in out:
        assert r.brand_a < r.brand_b
        assert 2 <= r.n_ab <= min(r.n_a, r.n_b) <= r.n_orders
        assert r.support_e6 == (r.n_ab * 1_000_000) // r.n_orders
        assert r.conf_a_to_b_e6 == (r.n_ab * 1_000_000) // r.n_a
        assert r.conf_b_to_a_e6 == (r.n_ab * 1_000_000) // r.n_b


def test_transition_matrix_conserves_and_normalizes(spark, sf_smoke_dir):
    """Transitions total (events - users with >=1 event): each user
    contributes len(stream)-1 transitions; per-from probabilities are
    exact floors and sum to ~1e6 (within the floor loss bound of
    |to-states| - 1 per from-state)."""
    e = load_table(spark, sf_smoke_dir, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    out = QUERIES["events_transition_matrix"].fn(spark, sf_smoke_dir).collect()
    assert sum(r.n for r in out) == n_events - n_users
    by_from: dict[str, list] = {}
    for r in out:
        assert r.prob_e6 == (r.n * 1_000_000) // r.n_from
        by_from.setdefault(r.from_type, []).append(r)
    for from_type, rows in by_from.items():
        assert all(r.n_from == rows[0].n_from for r in rows)
        assert sum(r.n for r in rows) == rows[0].n_from
        total_p = sum(r.prob_e6 for r in rows)
        assert 1_000_000 - (len(rows) - 1) <= total_p <= 1_000_000


def test_vocab_growth_monotone_and_conserves(spark, sf_smoke_dir):
    """Cumulative series are the exact running sums and are monotone;
    final cum_types equals the corpus's distinct-token count and final
    cum_tokens its total token count; doc counts conserve."""
    from mapreduce_4sl08_spark.functions import TOKEN_SPLIT_RE
    docs = load_table(spark, sf_smoke_dir, "documents")
    toks = (docs.select(F.explode(F.split(F.lower(F.trim("text")),
                                          TOKEN_SPLIT_RE)).alias("tok"))
            .filter(F.col("tok") != ""))
    total_tokens = toks.count()
    total_types = toks.distinct().count()
    out = QUERIES["vocab_growth_curve"].fn(spark, sf_smoke_dir).collect()
    assert sum(r.n_docs for r in out) == docs.count()
    cum_ty = cum_to = 0
    prev_bucket = -1
    for r in out:
        assert r.bucket > prev_bucket
        prev_bucket = r.bucket
        cum_ty += r.new_types
        cum_to += r.n_tokens
        assert r.cum_types == cum_ty and r.cum_tokens == cum_to
        assert r.new_types <= r.n_tokens
    assert out[-1].cum_types == total_types
    assert out[-1].cum_tokens == total_tokens


def test_rfm_segments_partition_customers(spark, sf_smoke_dir):
    """Segment labels are valid r-f-m triples in 1..4, customer counts
    partition the customer base exactly, and total spend conserves to
    the exact cents sum over orders."""
    o = load_table(spark, sf_smoke_dir, "orders")
    n_cust = o.select("o_custkey").distinct().count()
    total_c = o.select(F.sum(F.expr(
        "CAST(round(o_totalprice * 100) AS BIGINT)")).alias("c")).collect()[0].c
    out = QUERIES["customer_rfm_segments"].fn(spark, sf_smoke_dir).collect()
    assert sum(r.n_customers for r in out) == n_cust
    assert round(sum(r.total_spend for r in out), 2) == round(total_c / 100.0, 2)
    for r in out:
        parts = r.segment.split("-")
        assert len(parts) == 3
        assert all(p in ("1", "2", "3", "4") for p in parts)
        assert r.n_customers >= 1


def test_session_paths_count_and_rank(spark, sf_smoke_dir):
    """Ranks are dense 1..k (k <= 20), counts are non-increasing with
    rank (ties broken by path asc), every path has 1-3 steps, and path
    session counts never exceed the total session count."""
    sessions = QUERIES["events_sessionize"].fn(spark, sf_smoke_dir).count()
    out = QUERIES["session_path_topk"].fn(spark, sf_smoke_dir).collect()
    assert [r.rk for r in out] == list(range(1, len(out) + 1))
    assert len(out) <= 20
    prev = None
    for r in out:
        assert 1 <= len(r.path.split(">")) <= 3
        assert 1 <= r.n_sessions <= sessions
        if prev is not None:
            assert (r.n_sessions < prev.n_sessions
                    or (r.n_sessions == prev.n_sessions
                        and r.path > prev.path))
        prev = r


def test_revenue_concentration_shares(spark, sf_smoke_dir):
    """Deciles partition the customer base; spend conserves; shares sum
    to ~1e6 (floor loss < #deciles); cumulative top-share is the exact
    running sum's floor-share and ends at 1e6; higher deciles never
    carry less per-customer spend on average than lower ones."""
    o = load_table(spark, sf_smoke_dir, "orders")
    n_cust = o.select("o_custkey").distinct().count()
    out = QUERIES["revenue_concentration_deciles"].fn(spark, sf_smoke_dir).collect()
    assert sum(r.n_customers for r in out) == n_cust
    assert 1_000_000 - len(out) < sum(r.share_e6 for r in out) <= 1_000_000
    assert out[0].decile == max(r.decile for r in out)
    assert out[-1].cum_top_share_e6 == 1_000_000
    prev_cum = 0
    for r in out:  # ordered decile DESC
        assert r.cum_top_share_e6 >= prev_cum
        prev_cum = r.cum_top_share_e6
    avg_spend = [(r.decile, r.decile_spend / r.n_customers) for r in out]
    for (d_hi, a_hi), (d_lo, a_lo) in zip(avg_spend, avg_spend[1:]):
        assert d_hi > d_lo and a_hi >= a_lo


def test_interarrival_histogram_conserves_gaps(spark, sf_smoke_dir):
    """Each user contributes exactly n_events(user) - 1 gaps, so the
    histogram total must equal N - |users|; digit buckets start at 1."""
    e = load_table(spark, sf_smoke_dir, "events")
    out = QUERIES["events_interarrival_histogram"].fn(
        spark, sf_smoke_dir).collect()
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert sum(r.n for r in out) == n_events - n_users
    assert all(r.gap_digits >= 1 for r in out)
    assert all(r.n > 0 for r in out)


def test_boilerplate_clusters_bounds(spark, sf_smoke_dir):
    """Every cluster is a real multi-doc group; cluster membership
    counts can't exceed the corpus; hashes are distinct."""
    d = load_table(spark, sf_smoke_dir, "documents")
    out = QUERIES["boilerplate_template_clusters"].fn(
        spark, sf_smoke_dir).collect()
    n_docs = d.count()
    assert all(r.n_docs > 1 for r in out)
    assert sum(r.n_docs for r in out) <= n_docs
    hashes = [r.template_hash for r in out]
    assert len(hashes) == len(set(hashes))
    min_doc = d.agg(F.min("doc_id")).collect()[0][0]
    assert all(r.min_doc_id >= min_doc for r in out)


def test_label_outliers_per_label_topk(spark, sf_smoke_dir):
    """Exactly min(k, |label|) rows per label, ranks contiguous from 1,
    cosine within [-1, 1]."""
    e = load_table(spark, sf_smoke_dir, "embeddings")
    out = QUERIES["embedding_label_outliers"].fn(spark, sf_smoke_dir).collect()
    sizes = {r.label: r.c for r in
             e.groupBy("label").agg(F.count(F.lit(1)).alias("c")).collect()}
    from collections import defaultdict
    per = defaultdict(list)
    for r in out:
        per[r.label].append(r.rk)
        assert -1.0 - 1e-9 <= r.cos_to_centroid <= 1.0 + 1e-9
    for label, rks in per.items():
        assert sorted(rks) == list(range(1, min(3, sizes[label]) + 1))
    assert set(per) == {l for l, n in sizes.items() if n >= 1}


def test_langid_confusion_conserves_docs(spark, sf_smoke_dir):
    """Matrix cells partition the corpus; per-true-lang e6 shares sum
    to 1e6 minus at most one floor-loss per cell."""
    d = load_table(spark, sf_smoke_dir, "documents")
    out = QUERIES["langid_confusion_matrix"].fn(spark, sf_smoke_dir).collect()
    assert sum(r.n_docs for r in out) == d.count()
    from collections import defaultdict
    shares = defaultdict(list)
    for r in out:
        shares[r.true_lang].append(r.share_of_true_e6)
    for lang, ss in shares.items():
        assert 1_000_000 - len(ss) < sum(ss) <= 1_000_000


def test_share_drift_shares_and_first_day_null(spark, sf_smoke_dir):
    out = QUERIES["event_type_share_drift"].fn(spark, sf_smoke_dir).collect()
    from collections import defaultdict
    by_day = defaultdict(list)
    first_seen = {}
    for r in sorted(out, key=lambda r: (r.day, r.event_type)):
        by_day[r.day].append(r.share_e6)
        if r.event_type not in first_seen:
            first_seen[r.event_type] = r
        else:
            assert r.drift_e6 is not None
    for day, ss in by_day.items():
        assert 1_000_000 - len(ss) < sum(ss) <= 1_000_000
    for r in first_seen.values():
        assert r.drift_e6 is None


def test_burst_topk_rank_and_ordering(spark, sf_smoke_dir):
    e = load_table(spark, sf_smoke_dir, "events")
    out = QUERIES["events_burst_topk"].fn(spark, sf_smoke_dir).collect()
    n_users = e.select("user_id").distinct().count()
    assert [r.rk for r in out] == list(range(1, min(20, n_users) + 1))
    for r in out:
        assert r.peak_minute_events <= r.peak_hour_events <= r.n_events
    peaks = [r.peak_hour_events for r in out]
    assert peaks == sorted(peaks, reverse=True)


def test_engagement_value_covers_all_event_users(spark, sf_smoke_dir):
    """Left join preserves every event user; counts conserve."""
    e = load_table(spark, sf_smoke_dir, "events")
    out = QUERIES["customer_engagement_value"].fn(spark, sf_smoke_dir).collect()
    users = {r.user_id for r in e.select("user_id").distinct().collect()}
    assert {r.custkey for r in out} == users
    assert sum(r.n_events for r in out) == e.count()
    for r in out:
        assert 0 <= r.n_purchase_events <= r.n_events
        assert r.n_orders >= 0 and r.total_spend >= 0.0


def test_kmeans_partitions_and_improves(spark, sf_smoke_dir):
    """Clusters partition the corpus; total 2-iteration inertia is <=
    the 1-iteration inertia plus the floor-quantization slack (Lloyd
    monotonicity: the exact-mean update only shrinks the objective; the
    e6-floored centroid adds exactly n*delta^2 <= n per dimension)."""
    from mapreduce_4sl08_spark.plans import vectors as V

    e = load_table(spark, sf_smoke_dir, "embeddings")
    out = QUERIES["kmeans_lloyd_2iter"].fn(spark, sf_smoke_dir).collect()
    assert sum(r.n_vecs for r in out) == e.count()
    assert sorted(r.cid for r in out) == list(range(1, V._KMEANS_K + 1))
    two_iter_inertia = sum(r.inertia for r in out)

    orig = V._KMEANS_ITERS
    try:
        V._KMEANS_ITERS = 1
        one = V.kmeans_lloyd_2iter(spark, sf_smoke_dir).collect()
    finally:
        V._KMEANS_ITERS = orig
    slack = e.count() * 64  # n vectors x 64 dims x delta^2 < 1
    assert two_iter_inertia <= sum(r.inertia for r in one) + slack


def test_order_cadence_percentiles_consistent(spark, sf_smoke_dir):
    """Percentiles are ordered, within the observed gap range, and the
    gap count equals orders minus customers-with-orders."""
    o = load_table(spark, sf_smoke_dir, "orders")
    row = QUERIES["order_cadence_percentiles"].fn(
        spark, sf_smoke_dir).collect()[0]
    n_orders = o.count()
    n_cust = o.select("o_custkey").distinct().count()
    assert row.n_gaps == n_orders - n_cust
    assert 0 <= row.p25_days <= row.p50_days <= row.p75_days


def test_dim_stats_bounds_and_counts(spark, sf_smoke_dir):
    """One row per dimension; every count equals the corpus size;
    min <= mean <= max in e6 units."""
    from mapreduce_4sl08_spark.plans import vectors as V

    e = load_table(spark, sf_smoke_dir, "embeddings")
    out = QUERIES["embedding_dim_stats"].fn(spark, sf_smoke_dir).collect()
    assert [r.dim for r in out] == list(range(V._EMB_DIM))
    n = e.count()
    for r in out:
        assert r.n_vecs == n
        assert r.min_e6 <= r.mean_e6 <= r.max_e6


def test_minhash_recall_eval_consistent_with_sources(spark, sf_smoke_dir):
    """Each operating-point row must agree with the source pipelines it
    joins, and recall is the exact floor ratio. The r14 production_t08
    row (16 perms, 4x4 bands, J>=0.8) must hold recall in envelope —
    the S-curve at j>=0.8 collides with prob >= 0.88 per pair, and the
    planted dups sit well above threshold (measured 1.0 on this
    fixture; pinned >= 0.85 so the contract survives corpus tweaks)."""
    rows = {r.op_point: r for r in
            QUERIES["minhash_recall_eval"].fn(spark, sf_smoke_dir).collect()}
    assert set(rows) == {"fixture_t04", "production_t08"}
    exact = QUERIES["dedup_ngram_jaccard"].fn(spark, sf_smoke_dir)
    n_exact = exact.count()
    n_lsh = QUERIES["dedup_minhash_lsh"].fn(spark, sf_smoke_dir).count()
    t04 = rows["fixture_t04"]
    assert t04.n_exact == n_exact
    assert t04.n_lsh == n_lsh
    t08 = rows["production_t08"]
    assert t08.n_exact == exact.filter(F.col("jaccard") >= 0.8).count()
    for row in rows.values():
        assert row.n_common <= min(row.n_exact, row.n_lsh)
        if row.n_exact:
            assert row.recall_e6 == row.n_common * 1_000_000 // row.n_exact
            assert row.recall_e6 >= 850_000


def test_new_vs_returning_conserves_daily_actives(spark, sf_smoke_dir):
    """new + returning per day equals the day's distinct actives; the
    sum of new_users over all days equals total distinct users."""
    e = load_table(spark, sf_smoke_dir, "events")
    out = QUERIES["daily_new_vs_returning"].fn(spark, sf_smoke_dir).collect()
    daily = {r.day: r.n for r in
             e.select(F.date_trunc("DAY", "ts").alias("day"), "user_id")
             .distinct().groupBy("day").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    for r in out:
        assert r.new_users + r.returning_users == daily[r.day]
    assert sum(r.new_users for r in out) == \
        e.select("user_id").distinct().count()


def test_fertility_ratio_exact(spark, sf_smoke_dir):
    """chars_per_token_e6 is the exact floor ratio of the reported
    exact sums; every lang present."""
    d = load_table(spark, sf_smoke_dir, "documents")
    out = QUERIES["tokenizer_fertility_by_lang"].fn(
        spark, sf_smoke_dir).collect()
    assert {r.lang for r in out} == \
        {r.lang for r in d.select("lang").distinct().collect()}
    assert sum(r.n_docs for r in out) == d.count()
    for r in out:
        assert r.chars_per_token_e6 == \
            r.total_chars * 1_000_000 // r.total_tokens


def test_monthly_yoy_conserves_orders_and_lag(spark, sf_smoke_dir):
    """Order counts conserve; yoy_delta is null for exactly the first
    12 months present and equals the exact cents difference elsewhere."""
    o = load_table(spark, sf_smoke_dir, "orders")
    out = sorted(QUERIES["orders_monthly_yoy"].fn(spark, sf_smoke_dir)
                 .collect(), key=lambda r: r.month)
    assert sum(r.n_orders for r in out) == o.count()
    for i, r in enumerate(out):
        if i < 12:
            assert r.yoy_delta is None
        else:
            want = round(r.revenue * 100) - round(out[i - 12].revenue * 100)
            assert round(r.yoy_delta * 100) == want


def test_degree_histogram_handshake(spark, sf_smoke_dir):
    """Sum(degree * n_parts) = 2 x |edges| (handshake lemma)."""
    from mapreduce_4sl08_spark.plans.warehouse import _copurchase_edges
    out = QUERIES["copurchase_degree_histogram"].fn(
        spark, sf_smoke_dir).collect()
    n_edges = _copurchase_edges(spark, sf_smoke_dir).count()
    assert sum(r.degree * r.n_parts for r in out) == 2 * n_edges
    assert all(r.degree >= 1 and r.n_parts >= 1 for r in out)


def test_hhi_bounds(spark, sf_smoke_dir):
    """HHI in e12 units is bounded by [(1e6-n)^2/n, 1e12] (Cauchy-
    Schwarz lower bound with up-to-n floor losses on the shares)."""
    out = QUERIES["supplier_concentration_hhi"].fn(
        spark, sf_smoke_dir).collect()
    assert out, "no nations"
    for r in out:
        n = r.n_suppliers
        assert (1_000_000 - n) ** 2 // n <= r.hhi_e12 <= 1_000_000_000_000


def test_weekday_hour_profile_conserves_and_bounds(spark, sf_smoke_dir):
    """Counts conserve to the table size; dow in [0,6] (0=Sunday,
    epoch arithmetic cross-checked vs python calendar), hour in
    [0,23]."""
    import datetime

    e = load_table(spark, sf_smoke_dir, "events")
    out = QUERIES["events_weekday_hour_profile"].fn(
        spark, sf_smoke_dir).collect()
    assert sum(r.n_events for r in out) == e.count()
    for r in out:
        assert 0 <= r.dow <= 6 and 0 <= r.hour <= 23
    # pin the 0=Sunday convention independently of both engines
    # (naive-UTC epoch arithmetic — no local-timezone dependence)
    one = e.select("ts").limit(1).collect()[0].ts
    epoch_us = int((one - datetime.datetime(1970, 1, 1))
                   .total_seconds() * 1_000_000)
    got_dow = (epoch_us // 86_400_000_000 + 4) % 7
    assert got_dow == (one.weekday() + 1) % 7


# ----------------------------------------------------- r13 new operators


def test_zipf_head_is_ranked_and_exact(spark, sf_smoke_dir):
    """Ranks contiguous from 1, freq non-increasing, rank-1 freq equals
    the true max token frequency, and ratio_next_e6 is the exact floor
    ratio (>= 1e6 everywhere, null only on the last row)."""
    out = QUERIES["zipf_rank_frequency"].fn(spark, sf_smoke_dir).collect()
    assert [r.rk for r in out] == list(range(1, len(out) + 1))
    freqs = [r.freq for r in out]
    assert freqs == sorted(freqs, reverse=True)
    toks = (load_table(spark, sf_smoke_dir, "documents")
            .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                    .alias("t"))
            .filter(F.col("t") != ""))
    true_max = (toks.groupBy("t").count()
                .agg(F.max("count")).collect()[0][0])
    assert freqs[0] == true_max
    for i, r in enumerate(out):
        if i + 1 < len(out):
            assert r.ratio_next_e6 == r.freq * 1_000_000 // out[i + 1].freq
            assert r.ratio_next_e6 >= 1_000_000
        else:
            assert r.ratio_next_e6 is None


def test_oov_rate_bounds_and_conservation(spark, sf_smoke_dir):
    """Per-lang token counts conserve the corpus total; OOV is a subset;
    the e6 share is the exact floor ratio."""
    out = QUERIES["oov_rate_by_lang"].fn(spark, sf_smoke_dir).collect()
    toks = (load_table(spark, sf_smoke_dir, "documents")
            .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                    .alias("t"))
            .filter(F.col("t") != ""))
    assert sum(r.n_tokens for r in out) == toks.count()
    for r in out:
        assert 0 <= r.n_oov <= r.n_tokens
        assert r.oov_share_e6 == r.n_oov * 1_000_000 // r.n_tokens


def test_pmi_lift_exact_and_ranked(spark, sf_smoke_dir):
    """Support floor respected, lift recomputed exactly in Python ints,
    ranking consistent with (lift desc, bigram asc)."""
    out = QUERIES["token_pmi_top_pairs"].fn(spark, sf_smoke_dir).collect()
    toks = (load_table(spark, sf_smoke_dir, "documents")
            .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                    .alias("t"))
            .filter(F.col("t") != ""))
    n_total = toks.count()
    keys = [(-r.lift_e6, r.bigram) for r in out]
    assert keys == sorted(keys)
    assert [r.rk for r in out] == list(range(1, len(out) + 1))
    for r in out:
        assert r.c12 >= 20
        assert r.lift_e6 == (r.c12 * n_total * 1_000_000) // (r.c1 * r.c2)


def test_weighted_median_is_weighted_median(spark, sf_smoke_dir):
    """Brute-force the weighted lower median per nation from the raw
    (price, weight) pairs and match the operator exactly."""
    out = {r.n_name: r for r in
           QUERIES["weighted_median_price_by_nation"].fn(
               spark, sf_smoke_dir).collect()}
    l = load_table(spark, sf_smoke_dir, "lineitem")
    s = load_table(spark, sf_smoke_dir, "supplier")
    n = load_table(spark, sf_smoke_dir, "nation")
    rows = (l.join(s, l.l_suppkey == s.s_suppkey)
            .join(n, s.s_nationkey == n.n_nationkey)
            .select("n_name",
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    .alias("p"),
                    F.round(F.col("l_quantity") * 100).cast("long")
                    .alias("w"))
            .collect())
    per = {}
    for r in rows:
        per.setdefault(r.n_name, []).append((r.p, r.w))
    for name, pw in per.items():
        pw.sort()
        tot = sum(w for _, w in pw)
        cum = 0
        for p, w in pw:
            cum += w
            if 2 * cum >= tot:
                break
        assert round(out[name].median_price * 100) == p
        assert out[name].total_qty_e2 == tot


def test_backlog_aging_conserves_open_orders(spark, sf_smoke_dir):
    """Counts and exact cents conserve over the non-finished orders;
    buckets are non-negative and statuses exclude 'F'."""
    out = QUERIES["orders_backlog_aging"].fn(spark, sf_smoke_dir).collect()
    o = load_table(spark, sf_smoke_dir, "orders").filter(
        F.col("o_orderstatus") != "F")
    assert sum(r.n_orders for r in out) == o.count()
    want_c = o.select(F.sum(F.round(F.col("o_totalprice") * 100)
                            .cast("long"))).collect()[0][0]
    assert sum(round(r.backlog_value * 100) for r in out) == want_c
    assert all(r.age_bucket_30d >= 0 for r in out)
    assert all(r.o_orderstatus in ("O", "P") for r in out)


def test_power_pareto_nesting_and_exact_shares(spark, sf_smoke_dir):
    """Tiers nest (top01 ⊆ top05 ⊆ top10 in users and events), and each
    share is the exact floor e6 ratio of the reported event counts."""
    out = {r.tier: r for r in
           QUERIES["events_power_users_pareto"].fn(
               spark, sf_smoke_dir).collect()}
    e = load_table(spark, sf_smoke_dir, "events")
    tot = e.count()
    assert (out["top01"].n_users <= out["top05"].n_users
            <= out["top10"].n_users)
    assert (out["top01"].n_events <= out["top05"].n_events
            <= out["top10"].n_events <= tot)
    for r in out.values():
        assert r.share_e6 == r.n_events * 1_000_000 // tot


def test_source_audit_conserves_and_bounds(spark, sf_smoke_dir):
    """Doc counts conserve per source; dup share and mean quality are
    exact and inside their fixed-point ranges."""
    out = QUERIES["source_dup_quality_audit"].fn(
        spark, sf_smoke_dir).collect()
    d = load_table(spark, sf_smoke_dir, "documents")
    per_source = {r.source: r["count"] for r in
                  d.groupBy("source").count().collect()}
    assert {r.source: r.n_docs for r in out} == per_source
    for r in out:
        assert 0 <= r.n_duped <= r.n_docs
        assert r.dup_share_e6 == r.n_duped * 1_000_000 // r.n_docs
        assert 0 <= r.mean_quality_e4 <= 10_000


def test_lsh_dist_histogram_conserves_pairs(spark, sf_smoke_dir):
    """Bucket counts sum to the exact number of distinct consecutive
    intra-bucket pairs (the linear sampling form — Σ(nb-1) before
    cross-table dedup); digit buckets are positive."""
    from pyspark.sql import Window
    from mapreduce_4sl08_spark.plans.vectors import lsh_corpus_bands
    out = QUERIES["lsh_pair_distance_histogram"].fn(
        spark, sf_smoke_dir).collect()
    bands = lsh_corpus_bands(spark, sf_smoke_dir)
    wb = Window.partitionBy("band_key").orderBy("vec_id")
    n_pairs = (bands.withColumn("_n", F.lead("vec_id").over(wb))
               .filter(F.col("_n").isNotNull())
               .select("vec_id", "_n").distinct().count())
    assert sum(r.n_pairs for r in out) == n_pairs
    assert all(r.dist_digits >= 1 for r in out)
    assert all(1 <= r.lead_digit <= 9 or
               (r.lead_digit == 0 and r.dist_digits == 1) for r in out)
    # the linear form's pair count is bounded by n x tables (the whole
    # point of the r13 rewrite away from the quadratic bucket self-join);
    # tables = lsh_params(n)[1] — constant L = 16 under the r14
    # adaptive width (the plane budget grows to w*L, not L shrinking)
    from mapreduce_4sl08_spark.plans.vectors import lsh_params
    n_vec = load_table(spark, sf_smoke_dir, "embeddings").count()
    assert n_pairs <= n_vec * lsh_params(n_vec)[1]


def test_ivf_recall_consistent_with_sources(spark, sf_smoke_dir):
    """Recall counts must agree with the two source pipelines, and the
    e6 recall is the exact floor ratio; IVF stays at/above its pinned
    operating point (the _IVF_NPROBE decision note)."""
    r = QUERIES["ivf_recall_eval"].fn(spark, sf_smoke_dir).collect()[0]
    n_exact = QUERIES["knn_bruteforce_cosine"].fn(
        spark, sf_smoke_dir).count()
    n_ivf = QUERIES["ivf_ann"].fn(spark, sf_smoke_dir).count()
    assert r.n_exact == n_exact
    assert r.n_ivf == n_ivf
    assert 0 <= r.n_common <= min(r.n_exact, r.n_ivf)
    assert r.recall_e6 == r.n_common * 1_000_000 // r.n_exact
    assert r.recall_e6 >= 500_000


def test_cross_source_matrix_conserves_pairs(spark, sf_smoke_dir):
    """Matrix cell counts sum to the verified near-dup pair count and
    every cell is lexicographically ordered (upper-triangular)."""
    out = QUERIES["dedup_cross_source_matrix"].fn(
        spark, sf_smoke_dir).collect()
    n_pairs = QUERIES["dedup_ngram_jaccard"].fn(spark, sf_smoke_dir).count()
    assert sum(r.n_pairs for r in out) == n_pairs
    assert all(r.source_a <= r.source_b for r in out)


def test_adaptive_band_width_cross_engine_and_bounds():
    """The corpus-size-adaptive LSH knobs (r14 width, r15 tables):
    (1) the pure-integer Python formulas and the EXACT oracle params
    SELECT (``lsh_params_select_sql`` — the text the band CTE embeds)
    agree on BOTH (w, L) at every n, including the floor edge
    (n = 2048/2049, where w leaves 4) and the clamp edge
    (n = 2^16·128 and +1, where w freezes at 16 and L starts growing)
    — a 1-off disagreement on either knob would bucket the two engines
    differently and fail the driver loudly; (2) the width defends the
    bucket target below the clamp: expected bucket size
    n/2^w ≤ _BUCKET_TARGET; (3) both knobs are monotone in n, L is
    exactly _N_TABLES at/below the clamp and +8 per doubling past it,
    and every test SF stays in the w=4 recall floor."""
    import duckdb

    from mapreduce_4sl08_spark.plans.vectors import (
        _BUCKET_TARGET, _MAX_BAND_W, _N_TABLES, _TABLES_PER_DOUBLING,
        adaptive_band_width, lsh_params, lsh_params_select_sql,
        unclamped_band_width)
    con = duckdb.connect()
    clamp_n = _BUCKET_TARGET * 2 ** _MAX_BAND_W  # 8,388,608: last L=16 n
    ns = [0, 1, 127, 128, 129, 500, 2000, 2048, 2049, 5000, 15000,
          20000, 60000, 200000, 128 * 2 ** 15 + 1, clamp_n,
          clamp_n + 1, 2 * clamp_n, 2 * clamp_n + 1, 4 * clamp_n + 1,
          10 ** 8, 10 ** 10]
    prev_w = prev_l = 0
    for n in ns:
        sql_w, sql_l = con.execute(lsh_params_select_sql(str(n))).fetchone()
        w, l = lsh_params(n)
        assert (w, l) == (sql_w, sql_l), \
            f"n={n}: python (w,L)=({w},{l}) != sql ({sql_w},{sql_l})"
        assert w == adaptive_band_width(n)
        if w < _MAX_BAND_W:
            assert max(n, 1) <= _BUCKET_TARGET * 2 ** w
        assert w >= prev_w and l >= prev_l, f"knob not monotone at n={n}"
        prev_w, prev_l = w, l
        # L contract: constant below/at the clamp (recall lives in L —
        # the r14 probe showed L = 64//w giving production pairs 0.63
        # recall at w=11); +8 tables per corpus doubling past it (each
        # step halves the cos-0.9 design point's miss probability)
        if n <= clamp_n:
            assert l == _N_TABLES and w * l <= 256
        else:
            doublings = unclamped_band_width(n) - _MAX_BAND_W
            assert l == _N_TABLES + _TABLES_PER_DOUBLING * doublings
            assert w == _MAX_BAND_W
    # exact clamp-edge step: one vector past clamp_n adds exactly one
    # doubling's worth of tables
    assert lsh_params(clamp_n) == (16, 16)
    assert lsh_params(clamp_n + 1) == (16, 24)
    assert lsh_params(2 * clamp_n) == (16, 24)
    assert lsh_params(2 * clamp_n + 1) == (16, 32)
    # the oracle plane literal's exhaustion guard: within cover it is
    # silent; one doubling past _ORACLE_DOUBLINGS it ERRORS rather than
    # silently slicing a short signature
    from mapreduce_4sl08_spark.plans.vectors import _ORACLE_DOUBLINGS
    max_l = _N_TABLES + _TABLES_PER_DOUBLING * _ORACLE_DOUBLINGS
    covered = clamp_n * 2 ** _ORACLE_DOUBLINGS
    assert con.execute(
        lsh_params_select_sql(str(covered), max_l=max_l)).fetchone()[1] \
        == max_l
    import pytest as _pytest
    with _pytest.raises(Exception, match="plane literal exhausted"):
        con.execute(lsh_params_select_sql(str(covered + 1), max_l=max_l))
    # every shipped test SF sits in the w=4 floor (recall monitors
    # depend on the 16-table operating point at small n)
    for n in (500, 2000):
        assert adaptive_band_width(n) == 4


@pytest.mark.parametrize("doublings,expected_l", [(0, 24), (1, 32)])
def test_lsh_band_keys_cross_engine_above_clamp(spark, sf_smoke_dir,
                                                doublings, expected_l):
    """Band-key CONSTRUCTION parity in the above-clamp regime, row for
    row: force the (w=16, L=24) and (w=16, L=32) operating points —
    one and two doublings past the clamp (VERDICT r15 item 7 added the
    second, gate-locking the 2-doubling regime the r15 probes measured)
    — onto the 500-vector corpus in BOTH engines (Python passes
    lsh_params(n) for a literal n > clamp; the oracle CTE takes the
    same n as a literal with from_sql=''), and require the exact same
    (vec_id, band_key) set. This pins everything the >clamp path adds
    on real data without an 8.4M-row DuckDB run: the 384/512-plane
    signature, the 16-char band slicing, the 24/32-table explode, AND
    the r15 FLOOR(x·1e6) sign quantization (up to 512 dots/vector × 500
    vectors of cross-engine sign agreement — exact-integer sums, so
    agreement is by construction, not luck)."""
    import duckdb

    from mapreduce_4sl08_spark.plans.vectors import (
        _BUCKET_TARGET, _MAX_BAND_W, lsh_band_keys, lsh_bands_cte_sql,
        lsh_params, lsh_signature, plane_matrix)
    forced_n = _BUCKET_TARGET * 2 ** (_MAX_BAND_W + doublings) + 1
    w, n_tables = lsh_params(forced_n)
    assert (w, n_tables) == (16, expected_l)
    planes = plane_matrix(n_planes=w * n_tables)
    e = load_table(spark, sf_smoke_dir, "embeddings")
    spark_rows = set(
        (r.vec_id, r.band_key)
        for r in e.select(
            "vec_id",
            F.explode(lsh_band_keys(
                lsh_signature(F.col("embedding"), planes),
                n_tables=n_tables, band_w=w)).alias("band_key"))
        .collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{sf_smoke_dir}/embeddings.parquet'")
    sql_rows = set(map(tuple, con.execute(
        f"WITH {lsh_bands_cte_sql(planes=planes, n_sql=str(forced_n), from_sql='')} "
        f"SELECT vec_id, band_key FROM bands").fetchall()))
    assert len(spark_rows) == 500 * n_tables
    assert spark_rows == sql_rows


def test_above_clamp_recall_schedule_on_planted_pairs(spark, tmp_path):
    """The +8-tables-per-doubling schedule must actually deliver its
    recall past the clamp, pinned in CI (the probes measured it on
    8.4M/16.8M-vector fixtures; this is the cheap regression guard):
    band-collision of a planted pair depends only on the pair's own
    signatures, so 60 production-band companions (cos 0.86-0.98) on
    the 500-vector corpus measure the (w=16, L) operating points
    exactly. Expected band-collision recall ~0.90 at L=24 and ~0.95
    at L=32 (measured 0.907/0.950 on the big fixtures); with 60 pairs
    the >= 0.75 floor is ~4 sigma. Also pins monotonicity: L=32 must
    not recall fewer planted pairs than its L=24 prefix (the first 24
    tables are the same planes, so collisions can only be added)."""
    import subprocess
    import sys as _sys

    from mapreduce_4sl08_spark.plans.vectors import (
        lsh_band_keys, lsh_signature, plane_matrix)
    src = str(tmp_path / "planted")
    subprocess.run(
        [_sys.executable, "tools/make_scale_fixture.py",
         "/root/testdata/sf0.001", src, "1", "--plant=60",
         "--tables=embeddings"],
        check=True, capture_output=True, cwd="/root/repo")
    e = spark.read.parquet(f"{src}/embeddings.parquet")
    w = 16
    recalls = {}
    keysets_by_l = {}
    for n_tables in (24, 32):
        planes = plane_matrix(n_planes=w * n_tables)
        rows = e.select(
            "vec_id",
            F.explode(lsh_band_keys(
                lsh_signature(F.col("embedding"), planes),
                n_tables=n_tables, band_w=w)).alias("band_key")).collect()
        keys: dict[int, set] = {}
        for r in rows:
            keys.setdefault(r.vec_id, set()).add(r.band_key)
        hits = [bool(keys[j % 500] & keys[500 + j]) for j in range(60)]
        recalls[n_tables] = sum(hits) / 60
        keysets_by_l[n_tables] = hits
        assert recalls[n_tables] >= 0.75, \
            f"above-clamp recall {recalls[n_tables]} at L={n_tables}"
    # prefix property: every pair caught at L=24 is caught at L=32
    for h24, h32 in zip(keysets_by_l[24], keysets_by_l[32]):
        assert h32 or not h24


def test_near_dup_candidates_linear_in_corpus(spark, tmp_path):
    """VERDICT r13 item 3 done-condition: the near-dup op's OWN
    candidate volume stays O(n) as the corpus grows. Builds 10x/30x
    fixtures from sf0.001 (injective embedding copies) and counts the
    exact distinct candidate set of embedding_near_dup's band
    self-join: each scale must respect the analytic n * L * bucket
    target bound, and candidates-per-vector may not grow more than 2x
    from 10x to 30x (the fixed-w=4 quadratic gave exactly 3x here —
    pairs ~ n^2 / 2^w makes per-vector volume track n)."""
    import subprocess
    import sys as _sys

    from mapreduce_4sl08_spark.plans.vectors import (
        _BUCKET_TARGET, corpus_vec_count, lsh_corpus_bands, lsh_params)
    per_vec = {}
    for copies in (10, 30):
        out = str(tmp_path / f"x{copies}")
        subprocess.run(
            [_sys.executable, "tools/make_scale_fixture.py",
             "/root/testdata/sf0.001", out, str(copies)],
            check=True, capture_output=True, cwd="/root/repo")
        n = corpus_vec_count(out)
        assert n == 500 * copies
        w, n_tables = lsh_params(n)
        assert w > 4, "scale fixture must leave the small-corpus floor"
        bands = lsh_corpus_bands(spark, out)
        # constant-L contract: every vector lands in exactly L = 16
        # band rows regardless of corpus size (the signature budget
        # grows with w instead — recall lives in L)
        assert bands.count() == n * n_tables
        a, b = bands.alias("a"), bands.alias("b")
        cand = (a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                       & (F.col("a.vec_id") < F.col("b.vec_id")))
                .select("a.vec_id", "b.vec_id").distinct().count())
        assert cand <= n * n_tables * _BUCKET_TARGET, \
            f"{copies}x: {cand} candidates exceed the linear bound"
        per_vec[copies] = cand / n
    assert per_vec[30] <= 2 * per_vec[10], \
        f"candidate volume superlinear: {per_vec}"


def test_production_band_recall_on_planted_fixture(spark, tmp_path):
    """VERDICT r14 item 2 done-condition: MEASURED production-envelope
    (cos >= 0.86) recall, not just the analytic S-curve. Builds a
    planted source from sf0.001 (60 companions at exact cosines
    0.86-0.98 via make_scale_fixture --plant) and a 30x copy of it,
    then checks embedding_near_dup recovers >= 0.9 of the planted
    production pairs at EVERY copy (the signed-permutation copy
    transform preserves within-copy cosines, so each copy carries the
    same 60 planted pairs). At n=16,800 the adaptive knobs give w=8,
    L=16: the S-curve holds the worst planted pair (cos 0.86,
    q=0.828) at 1-(1-q^8)^16 ~ 0.981, so >= 0.9 over 1800 pairs is a
    property, not a flake (>5 sigma of margin)."""
    import subprocess
    import sys as _sys

    from mapreduce_4sl08_spark.plans import QUERIES
    from mapreduce_4sl08_spark.plans.vectors import (
        corpus_vec_count, lsh_params)
    n_plant, copies = 60, 30
    src = str(tmp_path / "planted")
    out = str(tmp_path / f"planted_x{copies}")
    subprocess.run(
        [_sys.executable, "tools/make_scale_fixture.py",
         "/root/testdata/sf0.001", src, "1",
         f"--plant={n_plant}", "--tables=embeddings"],
        check=True, capture_output=True, cwd="/root/repo")
    subprocess.run(
        [_sys.executable, "tools/make_scale_fixture.py", src, out,
         str(copies), "--tables=embeddings"],
        check=True, capture_output=True, cwd="/root/repo")
    n_base = 500 + n_plant
    n = corpus_vec_count(out)
    assert n == n_base * copies
    w, n_tables = lsh_params(n)
    assert w > 4, "fixture must leave the small-corpus floor"
    found = {(r.id_a, r.id_b)
             for r in QUERIES["embedding_near_dup"].fn(spark, out)
             .collect()}
    # planted pair j = (j % 500, 500 + j), replicated per copy at
    # vec_id offset c * n_base
    hits = sum((j % 500 + c * n_base, 500 + j + c * n_base) in found
               for c in range(copies) for j in range(n_plant))
    planted = copies * n_plant
    assert hits / planted >= 0.9, \
        f"production-band recall {hits}/{planted} below 0.9 at w={w}"


def test_corpus_vec_count_file_and_directory(tmp_path):
    """corpus_vec_count must read ONLY parquet footers and must handle
    both the fixture shape (single embeddings.parquet file) and the
    at-scale shape (a directory of part files, nested ok) — the band
    width derives from this count, so a miscount re-tunes the LSH."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_4sl08_spark.plans.vectors import corpus_vec_count
    assert corpus_vec_count("/root/testdata/sf0.001") == 500
    d = tmp_path / "embeddings.parquet" / "sub"
    d.mkdir(parents=True)
    t1 = pa.table({"vec_id": pa.array([1, 2, 3], type=pa.int64())})
    t2 = pa.table({"vec_id": pa.array([4, 5], type=pa.int64())})
    pq.write_table(t1, tmp_path / "embeddings.parquet" / "part-0.parquet")
    pq.write_table(t2, d / "part-1.parquet")
    (d / "_SUCCESS").write_text("")  # non-parquet sidecars must be skipped
    assert corpus_vec_count(str(tmp_path)) == 5


def test_lsh_sig_cache_disk_tier_over_limit(spark, sf_smoke_dir, monkeypatch):
    """Over the cache byte budget the signature relation must spill to
    a DISK_ONLY persist — one streamed UDF pass total — instead of the
    r15 recompute-per-consumer fallback (VERDICT r15 item 4: at the
    100 TB design point's 3 LSH consumers that fallback cost 3 full
    Arrow matmul passes). Under the budget it stays a memory-tier
    persist. Distinct (w, L) keys so neither call aliases a relation
    another test memoized."""
    from pyspark import StorageLevel

    from mapreduce_4sl08_spark.plans import vectors
    app = spark.sparkContext.applicationId
    monkeypatch.setattr(vectors, "_LSH_CACHE_MAX_BYTES", 0)
    over = vectors.lsh_corpus_sigs(spark, sf_smoke_dir, 5, 3, 500)
    monkeypatch.setattr(vectors, "_LSH_CACHE_MAX_BYTES", 2 * 1024 ** 3)
    under = vectors.lsh_corpus_sigs(spark, sf_smoke_dir, 5, 4, 500)
    try:
        assert over.storageLevel == StorageLevel.DISK_ONLY
        assert under.storageLevel.useMemory
        # the spilled relation still serves correct signatures
        assert over.count() == 500
        assert over.filter(F.length("sig") != 5 * 3).count() == 0
    finally:
        for df, w, l in ((over, 5, 3), (under, 5, 4)):
            df.unpersist()
            vectors.lsh_corpus_sigs.memo.pop(
                (app, sf_smoke_dir, w, l, 500), None)


def test_corpus_vec_count_sees_in_place_rebuild(tmp_path):
    """ADVICE r15 item 4: the footer-count cache must not survive an
    in-place fixture rebuild — a stale count silently yields a wrong
    (w, L) in Spark while the DuckDB oracle derives fresh ones from
    COUNT(*). The cache key carries the file's (mtime_ns, size) stamp,
    so rewriting embeddings.parquet invalidates it."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_4sl08_spark.plans.vectors import corpus_vec_count
    p = tmp_path / "embeddings.parquet"
    pq.write_table(
        pa.table({"vec_id": pa.array([1, 2, 3], type=pa.int64())}), p)
    assert corpus_vec_count(str(tmp_path)) == 3
    pq.write_table(
        pa.table({"vec_id": pa.array([1, 2, 3, 4, 5], type=pa.int64())}), p)
    # same-size rewrites are stamped by mtime_ns; force a distinct
    # stamp even on coarse-mtime filesystems
    os.utime(p, ns=(time.time_ns(), time.time_ns() + 1))
    assert corpus_vec_count(str(tmp_path)) == 5


def test_fixture_stamp_sees_directory_in_place_rebuild(tmp_path):
    """ADVICE r16 item 3: the single-file rebuild guard above does not
    cover a DIRECTORY-shaped corpus rebuilt in place by an external
    writer (same part-file names, different rows) — the directory's
    own mtime does not move, so the stamp must fold in every part
    file's (name, mtime_ns, size)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_4sl08_spark.plans.vectors import corpus_vec_count
    d = tmp_path / "embeddings.parquet"
    d.mkdir()
    part = d / "part-0.parquet"
    pq.write_table(
        pa.table({"vec_id": pa.array([1, 2, 3], type=pa.int64())}), part)
    assert corpus_vec_count(str(tmp_path)) == 3
    # external in-place rebuild: same file name, new contents; pin the
    # DIRECTORY mtime back so only the part file's stamp can tell
    dir_stat = os.stat(d)
    pq.write_table(
        pa.table({"vec_id": pa.array([1, 2, 3, 4, 5], type=pa.int64())}),
        part)
    os.utime(part, ns=(time.time_ns(), time.time_ns() + 1))
    os.utime(d, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    assert corpus_vec_count(str(tmp_path)) == 5


def test_iid_fixture_mode_and_overwrite_guard(tmp_path):
    """--iid=N (r16): schema-identical to the testdata embeddings
    table, exactly-unit rows, deterministic (pure function of the row
    index), and statistically i.i.d.-direction — the pairwise cosine
    spread must match the exact S^63 value 1/sqrt(64), which is the
    property the above-clamp de-correlation probe rests on. Plus the
    ADVICE r15 item 4 guard: a second run onto the same dir must
    refuse without --force."""
    import subprocess
    import sys as _sys

    import numpy as np
    import pyarrow.parquet as pq
    out = str(tmp_path / "iid")
    run = [_sys.executable, "tools/make_scale_fixture.py",
           f"--iid=4096", out]
    subprocess.run(run, check=True, capture_output=True, cwd="/root/repo")
    t = pq.read_table(f"{out}/embeddings.parquet")
    ref = pq.ParquetFile(
        "/root/testdata/sf0.001/embeddings.parquet").schema_arrow
    assert t.schema.remove_metadata().equals(ref.remove_metadata())
    X = np.stack(t["embedding"].to_pylist())
    assert (t["vec_id"].to_numpy() == np.arange(4096)).all()
    assert np.abs(np.linalg.norm(X, axis=1) - 1).max() < 1e-6
    C = X[:256] @ X[256:512].T
    # 65,536 cosines, sd of the sample-std ~ 0.125/sqrt(2*65536) ~ 3.5e-4
    assert abs(C.std() - 0.125) < 0.005
    assert abs(C.mean()) < 0.005
    second = subprocess.run(run, capture_output=True, cwd="/root/repo")
    assert second.returncode != 0
    assert b"refusing to overwrite" in second.stderr
    forced = subprocess.run(run + ["--force"], capture_output=True,
                            cwd="/root/repo")
    assert forced.returncode == 0


def test_band_dispersion_quadrature():
    """The angular-dispersion factor rho(w, dim) is now the capacity-
    planning multiplier for LSH verify compute (r16) — pin its
    quadrature: rho(1, d) = 1 EXACTLY (E[1 - theta/pi] = 1/2 by the
    antipodal symmetry of the cosine law, for every d), rho grows
    monotonically in w (Jensen, each extra plane multiplies a
    positively-correlated factor), and the w=16/d=64 value matches the
    2.029 the r15/r16 probes measured against (both fixtures landed at
    0.97-0.99x of rho-corrected)."""
    from tools.lsh_occupancy_probe import band_dispersion
    for dim in (8, 64, 256):
        assert abs(band_dispersion(1, dim=dim) - 1.0) < 1e-9
    rhos = [band_dispersion(w) for w in (1, 2, 4, 8, 16)]
    assert all(b > a for a, b in zip(rhos, rhos[1:]))
    assert abs(band_dispersion(16) - 2.029) < 0.002
    # higher dim concentrates theta at pi/2 -> less dispersion
    assert band_dispersion(16, dim=256) < band_dispersion(16, dim=64)
