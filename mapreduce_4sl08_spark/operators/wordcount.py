"""Reference-parity word count — the ENTIRE reference engine as one query.

Maps every data-plane operator of /root/reference (SURVEY §2.1):

  S1/S2  scan+split   spark.read.text (line-aligned splits; the reference's
                      mid-word char splits, MasterNode.java:59-78, are a
                      documented deviation — SURVEY §7.1)
  P1     tokenize     split(_, '\\s+')                  WorkerNode.java:43
  P2     normalize    lowercase, then delete Java-'\\W'  WorkerNode.java:45
  P3     filter       word != ''                        WorkerNode.java:46
  P4+X1+A1  count     groupBy('word').count() — Spark adds the map-side
                      partial agg the reference lacks (SURVEY §4.3)
  A2+X2+O1+O2 sort    orderBy(count, word) — Exchange rangepartitioning
                      with sampled boundaries replaces the hand-tuned
                      log-spaced α=10 boundaries (MasterNode.java:144-164)
  K1/K2  sink         write (distributed) or toLocalIterator (EXPLICIT)

Counts are LongType (the reference's int overflows at 2^31 — wrong at the
100 TB design point). At scale this plan is two shuffles, both required by
the semantics; AQE right-sizes both.

P1-P3 run once per line, not per token: lowercase, delete every char
that is neither '\\w' nor '\\s' (so token boundaries stay put, and a token
left empty only merges two separators), split on '\\s+'. Lowercasing
first is the reference's order; it keeps the ASCII letter that U+212A
(KELVIN SIGN) and U+0130 lowercase to, which deleting first would lose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import TOKEN_SPLIT_RE

#: Java chars that are neither `\w` nor `\s` (both ASCII classes): what
#: P2 deletes, with the P1 separators kept in place
_NON_WORD_NON_SPACE_RE = r"[^\w\s]"


def words_from_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """P1-P3 over a one-line-per-row DataFrame → single `word` column."""
    norm = F.regexp_replace(F.lower(F.col(col)), _NON_WORD_NON_SPACE_RE, "")
    return (
        lines
        .select(F.explode(F.split(norm, TOKEN_SPLIT_RE)).alias("word"))
        .filter(F.col("word") != "")
    )


def word_count(lines: DataFrame, col: str = "value") -> DataFrame:
    """Full pipeline → (word string, count long), globally ordered by
    (count ASC, word ASC) exactly like WorkerNode.java:153-155."""
    return (
        words_from_lines(lines, col)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("count").asc(), F.col("word").asc())
    )


def word_count_files(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """The reference CLI entry (MainMaster.java:4-10): text files in,
    sorted (word, count) relation out."""
    return word_count(spark.read.text(paths))
