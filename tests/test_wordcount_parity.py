"""Reference-parity word count (SURVEY §5.2.1): the Spark pipeline must
reproduce the reference's semantics — split(\\s+) → per token: lower →
delete Java-`\\W` chars → drop empties → count → sort (count ASC, word
ASC) — validated against an independent pure-Python reimplementation over
fixtures covering every tokenizer edge case."""

import re
from collections import Counter

import pytest

from mapreduce_4sl08_spark.operators.wordcount import (
    word_count_files, words_from_lines)

# Java \W == [^a-zA-Z0-9_] and Java \s == [ \t\n\x0B\f\r] (ASCII, no
# UNICODE_CHARACTER_CLASS) — the Python oracle must NOT use Python's
# Unicode-aware \w and \s, nor str.strip(), which also eat NBSP/U+3000.
_JAVA_NON_WORD = re.compile(r"[^a-zA-Z0-9_]")
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def oracle_words(texts: list[str]) -> Counter:
    """The reference's per-token form: split, then lowercase each token,
    then delete its `\\W` chars (WorkerNode.java:43-46)."""
    return Counter(word for text in texts for token in _JAVA_WS.split(text)
                   if (word := _JAVA_NON_WORD.sub("", token.lower())))


def python_oracle(texts: list[str]) -> list[tuple[str, int]]:
    return sorted(oracle_words(texts).items(), key=lambda kv: (kv[1], kv[0]))


FIXTURE = """The quick brown fox THE the
end. "quoted" (paren) -- ...
foo_bar42 foo_bar42 foo_bar42
café naïve straße
\t  spaced \t out  \n
tie_a tie_b tie_a tie_b
"""


def test_parity_edge_cases(spark, tmp_path):
    p = tmp_path / "corpus.txt"
    p.write_text(FIXTURE, encoding="utf-8")
    got = [(r.word, r["count"]) for r in word_count_files(spark, str(p)).collect()]
    want = python_oracle(FIXTURE.split("\n"))
    assert got == want
    d = dict(got)
    assert d["the"] == 3          # case folding
    assert d["foo_bar42"] == 3    # digits + underscore kept by \W
    assert d["caf"] == 1 and d["nave"] == 1  # non-ASCII stripped (Java \W)
    assert "--" not in d and "" not in d     # punct-only tokens dropped
    assert d["strae"] == 1        # ß stripped


def engine_words(spark, lines: list[str]) -> Counter:
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    return Counter(r.word for r in words_from_lines(df).collect())


def test_parity_lowercases_before_deleting(spark):
    """Chars whose lowercase is ASCII keep it: KELVIN SIGN (U+212A) and
    U+0130 lowercase to 'k' and 'i' (plus U+0307) before `\\W` is
    deleted. NBSP and U+3000 are not Java `\\s`, so they stay inside a
    token and are deleted; \\x0B is, so it splits."""
    lines = ["\u0130stanbul \u212aelvin Kelvin istanbul",
             "nb\xa0sp ideo\u3000graphic vertical\x0btab",
             "\xa0 \u212a \u0130 \x0b"]
    assert engine_words(spark, lines) == Counter(
        {"istanbul": 2, "kelvin": 2, "nbsp": 1, "ideographic": 1,
         "vertical": 1, "tab": 1, "k": 1, "i": 1})


def test_per_line_form_equals_per_token_reference(spark):
    """Hypothesis: the one-pass-per-line pipeline equals the reference's
    per-token lower-then-delete on lines over an alphabet of ASCII and
    Unicode separators and of chars whose case mapping is unusual."""
    from hypothesis import given, settings, strategies as st

    alphabet = ("aZ_9.- \t\n\x0b\f\r\xa0\u200b\u3000\u212a\u0130"
                "\u0307\xdf\u1e9e\xe9\u03a3\U0001F600")

    @settings(max_examples=20, deadline=None)
    @given(st.lists(st.text(alphabet=alphabet, max_size=24), min_size=1, max_size=6))
    def check(lines):
        assert engine_words(spark, lines) == oracle_words(lines), lines

    check()


def test_wordcount_documents_matches_duckdb_on_case_mapping(spark, tmp_path):
    """Engine vs the DuckDB oracle on a documents table whose text has
    U+0130 and KELVIN SIGN, which only the lower-then-delete order
    keeps as letters in both engines."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_4sl08_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE
    from tests.oracle import compare_frames

    texts = ["\u0130stanbul \u212aelvin Kelvin istanbul",
             "\u212a\u212a \u0130\u0130 ii kk", "plain words only"]
    src = pq.read_table(f"{SF_SMOKE}/documents.parquet").slice(0, len(texts))
    d = src.to_pydict()
    d["text"] = texts
    pq.write_table(pa.table(d, schema=src.schema), str(tmp_path / "documents.parquet"))
    spec = QUERIES["wordcount_documents"]
    got = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    compare_frames(got, con.execute(spec.oracle).fetchdf(), spec.name)
    assert list(zip(got["word"], got["count"])) == python_oracle(texts)


def test_parity_multiple_files_and_tie_order(spark, tmp_path):
    (tmp_path / "a.txt").write_text("z y x x y z z w", encoding="utf-8")
    (tmp_path / "b.txt").write_text("w v v", encoding="utf-8")
    paths = [str(tmp_path / "a.txt"), str(tmp_path / "b.txt")]
    got = [(r.word, r["count"]) for r in word_count_files(spark, paths).collect()]
    want = python_oracle(["z y x x y z z w", "w v v"])
    assert got == want
    # ties ordered by word ASC within equal counts
    counts = [c for _, c in got]
    assert counts == sorted(counts)
    for i in range(len(got) - 1):
        if got[i][1] == got[i + 1][1]:
            assert got[i][0] < got[i + 1][0]


def test_parity_zipfian_corpus(spark, tmp_path):
    """Skewed corpus (the reference's motivating case for log-spaced
    range boundaries) — 2000 lines over a Zipfian vocab, deterministic."""
    import random
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(500)]
    weights = [1.0 / (i + 1) for i in range(500)]
    lines = [" ".join(rng.choices(vocab, weights=weights, k=12)) for _ in range(2000)]
    p = tmp_path / "zipf.txt"
    p.write_text("\n".join(lines), encoding="utf-8")
    got = [(r.word, r["count"]) for r in word_count_files(spark, str(p)).collect()]
    want = python_oracle(lines)
    assert got == want
    # property: total counts == total tokens
    assert sum(c for _, c in got) == 2000 * 12


def test_cli_end_to_end(spark, tmp_path):
    """The reference's user interface: text files in, sorted word counts
    out (K2 single-file mode)."""
    import glob
    from mapreduce_4sl08_spark.cli import main

    (tmp_path / "a.txt").write_text("the quick fox\nthe lazy dog the end.\n")
    (tmp_path / "b.txt").write_text("fox and dog and fox\n")
    out = str(tmp_path / "out")
    rc = main([str(tmp_path / "a.txt"), str(tmp_path / "b.txt"),
               "-o", out, "--format", "csv", "--single-file"])
    assert rc == 0
    [csv_file] = glob.glob(f"{out}/part-*.csv")
    lines = open(csv_file).read().strip().splitlines()
    assert lines[0] == "word,count"
    assert lines[1:] == ["end,1", "lazy,1", "quick,1", "and,2",
                         "dog,2", "fox,3", "the,3"]
