#!/usr/bin/env python
"""End-to-end embedding_near_dup in the ABOVE-CLAMP regime (r16;
VERDICT r15 item 3): execute the UNMODIFIED registry plan — above-clamp
(w, L) derivation, full-corpus 384-plane signature pass through the
size-aware persist (which engages: n·(w·L+16) ≈ 3.36 GB > the 2 GiB
budget → DISK_ONLY tier, r16), band self-join, distinct, exact-cosine
verify — on the n = 8,390,400 fixture, scoped on the PROBE side to
id_a % K == 0 (default K = 256).

WHY SCOPED, STATED UP FRONT: the full verify stage in this regime is
ρ·L·n/2^17 ≈ 3,100 candidate pairs per vector — 25.9e9 total (measured:
pair bound 25,887,748,705, logs/lsh_above_clamp_probe_r15.txt). Carried
through the two verify joins that is a multi-TB shuffle against this
box's 70 GB of free disk — the workload is A CLUSTER'S, by design (the
ρ-corrected analytic table exists to size exactly that cluster). The
scope predicate is a deterministic filter on a distinct/group key, so
Catalyst pushes it below the distinct, below the band self-join, and
onto the probe-side scan of the CACHED signature relation (the probe
asserts this from the physical plan): every operator of the served
query executes in the above-clamp regime — the full corpus is signed,
banded, joined and verified against — at 1/K of the probe-side volume,
and full-run cost is the measured wall × K plus the exact funnel
arithmetic printed at the end.

Also pins VERDICT r15 item 4's done-condition: the signature relation's
storage level must be DISK_ONLY (over-budget), and a second action must
reuse the spilled cache instead of re-running the Arrow matmul pass
(timed; the r15 fallback recomputed per consumer).

Usage:
    python tools/embedding_near_dup_above_clamp.py [fixture] [--k=K]
"""
from __future__ import annotations

import os
import resource
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    fixture = os.path.join(REPO, ".benchdata", "sf0.1pxclamp")
    k = 256
    for a in sys.argv[1:]:
        if a.startswith("--k="):
            k = int(a.split("=", 1)[1])
        else:
            fixture = a

    from pyspark.sql import functions as F

    from mapreduce_4sl08_spark.plans import QUERIES
    from mapreduce_4sl08_spark.plans import vectors
    from mapreduce_4sl08_spark.session import get_session

    n = vectors.corpus_vec_count(fixture)
    w, L = vectors.lsh_params(n)
    clamp_n = vectors._BUCKET_TARGET * 2 ** vectors._MAX_BAND_W
    est = n * (w * L + 16)
    print(f"fixture {fixture}: n={n:,} (clamp {clamp_n:,}) -> w={w} L={L}; "
          f"sig cache estimate {est / 2 ** 30:.2f} GiB vs budget "
          f"{vectors._LSH_CACHE_MAX_BYTES / 2 ** 30:.2f} GiB "
          f"({'DISK_ONLY tier' if est > vectors._LSH_CACHE_MAX_BYTES else 'memory tier'})",
          flush=True)
    if n <= clamp_n:
        sys.exit("fixture does not leave the clamp")

    spark = get_session()
    df = QUERIES["embedding_near_dup"].fn(spark, fixture) \
        .filter(F.col("id_a") % k == 0)

    # pushdown evidence: the scope must reach the probe-side scan of the
    # cached signature relation (below the distinct AND the band join),
    # or the run would not be the per-probe serving shape
    phys = df._jdf.queryExecution().executedPlan().toString()
    pushed = [ln.strip() for ln in phys.splitlines()
              if "Filter" in ln and f"% {k})" in ln]
    print(f"scope filter instances in physical plan: {len(pushed)}")
    for ln in pushed[:4]:
        print(f"  {ln[:160]}")
    if not pushed:
        # fail LOUDLY (ADVICE r16 item 5): a silent zero here would let
        # a filter-pushdown regression masquerade as evidence
        sys.exit("FAIL: probe-scope filter did not reach the physical "
                 "plan — pushdown regressed")

    t0 = time.time()
    rows = df.count()
    t1 = time.time() - t0
    key = (spark.sparkContext.applicationId, fixture, w, L, n)
    sigs = vectors.lsh_corpus_sigs.memo.get(key)
    level = sigs.storageLevel if sigs is not None else None
    print(f"e2e slice (id_a % {k} == 0): {rows:,} output pairs in "
          f"{t1:.0f}s; sig cache storageLevel={level}", flush=True)

    # cache-reuse proof: a second action over the banded relation must
    # NOT re-run the signature UDF pass (DISK_ONLY read instead)
    t0 = time.time()
    n_bands = vectors.lsh_corpus_bands(spark, fixture).count()
    t2 = time.time() - t0
    print(f"second consumer (full band count {n_bands:,}) in {t2:.0f}s "
          f"— {'cache reused' if t2 < t1 else 'UNEXPECTED recompute'}",
          flush=True)

    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 2 ** 20
    rho = 2.029
    full_cand = rho * L * n / 2 ** w * n / 2
    print(f"driver peak RSS {rss:.1f} GiB (JVM heap separate, "
          f"{os.environ.get('SPARK_GRAFT_DRIVER_MEM', 'default')} cap)")
    print(f"full-run arithmetic: rho*L*n^2/2^(w+1) = {full_cand:,.0f} "
          f"verify candidates (measured bucket bound 25,887,748,705); "
          f"scoped run verified ~1/{k} of that through the identical "
          f"plan -> full wall ~= {t1:.0f}s * {k} ~= {t1 * k / 3600:.1f}h "
          f"single-box, shuffle ~= {full_cand * 290 / 2 ** 40:.1f} TiB "
          f"vs 70 GB local disk — the cluster workload the rho-corrected "
          f"analytic table (lsh_occupancy_probe --analytic) sizes.",
          flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
