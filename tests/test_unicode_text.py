"""Unicode-stress sweep (r16): every registry (plan, oracle) pair must
be VALUE-EQUAL when the documents corpus carries real-world non-ASCII
text — accents, CJK, emoji (astral plane), RTL Arabic, combining
marks, NBSP and zero-width characters, mixed-script tokens. This is
where tokenizer/regex/casefold/hash implementations diverge between
engines if anything does: Java regex vs RE2 whitespace classes,
toLowerCase vs ICU lower, md5 over UTF-8 bytes, substring vs byte
slicing.

First census (logs/unicode_census_r16.txt): 167/168 value-equal on the
first run, zero crashes — the one divergence was the chunking UDTF
tokenizing with Python's argless str.split() (ANY Unicode whitespace,
so NBSP split a token) while the repo-wide contract is ASCII '\\s+'
(functions.TOKEN_SPLIT_RE / RE2). Fixed same round; this sweep runs
with NO exception list — a new unicode divergence is a failure, not a
census entry.
"""
import os

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

#: NBSP inside a would-be token, zero-width space, astral-plane emoji
#: glued to letters, RTL, combining marks — the separators and
#: codepoint classes engines disagree on first
STRESS = [
    "Café naïve résumé über niño",
    "日本語 テスト 中文 文本",
    "emoji \U0001F600 \U0001F680 mixed tóken\U0001F600tail",
    "مرحبا بالعالم rtl test",
    "combining á é ö marks",
    "zero\u200bwidth and\xa0nbsp spaced",  # explicit ZWSP + NBSP escapes
    # boundary whitespace (r17, ADVICE r16 item 1): leading NBSP and
    # trailing newline/tab are exactly where a Unicode-aware strip()
    # and an ASCII trim diverge \u2014 the interior-NBSP case above cannot
    # catch it
    "\xa0leading nbsp boundary token\n",
    "trailing tab boundary\t",
    "\u3000ideographic space boundary\u3000",
    # NBSP adjacent to an ASCII space at the boundary: DuckDB's bare
    # trim() eats BOTH (Unicode Zs set) where Spark's F.trim eats only
    # the 0x20 \u2014 this changes token COUNTS, not just token values, so
    # it pins the oracle-side trim(x, ' ') contract for every
    # count-based query too
    "\xa0 nbsp-space mixed lead",
    "nbsp-space mixed tail \xa0",
    "\u3000",  # all-whitespace (Unicode) document
    # vertical tab (r17): Java/Python-ASCII \s includes \x0B, RE2 \s
    # does NOT \u2014 the oracles spell the class out as [ \t\n\x0b\f\r] so
    # an interior \v must split tokens identically in both engines
    "interior\x0bvertical tab split",
]


@pytest.fixture(scope="module")
def sfuni_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("sfuni")
    for t in TABLES:
        tab = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        if t == "documents":
            d = tab.to_pydict()
            for i, s in enumerate(STRESS):
                d["text"][i] = s
                if "n_chars" in d:
                    d["n_chars"][i] = len(s)
            tab = pa.table(d, schema=tab.schema)
        pq.write_table(tab, os.path.join(str(out), f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def duck_sfuni(sfuni_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sfuni_dir}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def _swept(spark, sfuni_dir, duck_sfuni, request):
    duck = cursor_per_thread(duck_sfuni)

    def check(name):
        spec = QUERIES[name]
        spark_pdf = spec.fn(spark, sfuni_dir).toPandas()
        if spec.oracle is None:
            assert spark_pdf is not None
            return
        oracle_pdf = duck().execute(spec.oracle).fetchdf()
        compare_frames(spark_pdf, oracle_pdf, name)

    return sweep(selected(request, "test_query_matches_oracle_on_unicode_text"), check)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle_on_unicode_text(_swept, name):
    reraise(_swept, name)
