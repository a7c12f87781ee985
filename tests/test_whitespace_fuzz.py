"""Adversarial whitespace-fuzz sweep (r17): every registry (plan,
oracle) pair must be VALUE-EQUAL on a seeded pseudo-random corpus
drawn from the alphabet that breaks tokenizers — ASCII whitespace
including \\x0B, Unicode spaces (NBSP, ideographic), zero-width space,
combining marks, emoji, RTL, punctuation, EMPTY strings — glued in
random orders at string boundaries and interiors alike.

This is the randomized complement of tests/test_unicode_text.py's
hand-picked rows: the hand-picked rows pin the KNOWN divergence
classes (bare-trim Zs stripping, RE2-\\s-lacks-\\x0B, boundary strip
sets); the fuzz corpus hunts unknown ones. Its first run found the
empty-string ANSI divide-by-zero in text_quality_score's alpha_ratio.

Deterministic (seed 1729, stdlib Random — stable across Python
versions for choice/randint on a fixed list), so a failure is always
reproducible and never flaky.
"""
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreduce_4sl08_spark.plans import QUERIES
from tests.conftest import SF_SMOKE as SRC
from tests.oracle import compare_frames
from tests.parallel_sweep import cursor_per_thread, reraise, selected, sweep

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

ALPHABET = [
    "a", "b", "the", "Zb9", "é", "日本", "\U0001F680", "́",
    " ", "\t", "\n", "\r", "\f", "\x0b", "\xa0", "　", "​",
    "م", ".", "-", "_", "'",
    # r19: C0 control bytes — legal in parquet strings, historically a
    # truncation/terminator hazard in C-string engines; both engines
    # treat them as ordinary non-space chars (the tokenizer contract's
    # class [ \t\n\x0b\f\r] excludes them). NUL (\x00) specifically is
    # a DOCUMENTED COLLATION DIALECT and stays out of the alphabet:
    # DuckDB's sort-key encoding treats a NUL byte as a terminator —
    # probed: list_sort/ORDER BY tie '\x00' with '' and 'a\x00' with
    # 'a' (stable input order preserved) while GROUP BY / DISTINCT /
    # '<' see the byte — so strings differing only past a NUL have no
    # defined cross-engine relative order (Spark compares the byte
    # lexicographically everywhere). Same boundary class as DuckDB's
    # Unicode trim() and RE2's \s.
    "\x01", "\x1f",
]


def fuzz_texts(n: int = 200, seed: int = 1729) -> list[str]:
    rng = random.Random(seed)
    return ["".join(rng.choice(ALPHABET)
                    for _ in range(rng.randint(0, 30)))
            for _ in range(n)]


@pytest.fixture(scope="module")
def sffuzz_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("sffuzz")
    texts = fuzz_texts()
    for t in TABLES:
        tab = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "documents":
            d = tab.to_pydict()
            for i, s in enumerate(texts):
                d["text"][i] = s
                if "n_chars" in d:
                    d["n_chars"][i] = len(s)
            tab = pa.table(d, schema=tab.schema)
        pq.write_table(tab, os.path.join(str(out), f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def duck_sffuzz(sffuzz_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sffuzz_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def _swept(spark, sffuzz_dir, duck_sffuzz, request):
    duck = cursor_per_thread(duck_sffuzz)

    def check(name):
        spec = QUERIES[name]
        spark_pdf = spec.fn(spark, sffuzz_dir).toPandas()
        if spec.oracle is None:
            assert spark_pdf is not None
            return
        oracle_pdf = duck().execute(spec.oracle).fetchdf()
        compare_frames(spark_pdf, oracle_pdf, name)

    return sweep(selected(request, "test_query_matches_oracle_on_whitespace_fuzz"), check)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_on_whitespace_fuzz(_swept, name):
    reraise(_swept, name)
