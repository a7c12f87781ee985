"""Text / LLM-data-pipeline plans over the `documents` table:
the flagship reference-parity word count, text analysis (token stats,
quality scoring, language-ID heuristic, fingerprinting) and deduplication
(exact, n-gram Jaccard, MinHash-LSH).

Everything is built-in-function composition (JVM-side, codegen-friendly);
the only hash primitive is md5, chosen because BOTH Spark and DuckDB
implement it identically so every pipeline stays oracle-checkable.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import TOKEN_SPLIT_RE, word_shingles
from ..operators.wordcount import word_count
from ..session import free_checkpoint, truncate_lineage
from .base import QuerySpec, session_memo, t
from .warehouse import _share_e6_expr

# ------------------------------------------------------------ flagship
# The whole reference engine (SURVEY §2.3) applied to documents.text.


def wordcount_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout: tokenize + regex-normalize + explode is the reference
    # engine's whole map phase — r21 measured 0.55x with the scan
    # parallelism floor (single-task on a 1-row-group input otherwise)
    docs = t(spark, sf_dir, "documents", fanout=True)
    return word_count(docs.select(F.col("text").alias("value")))


WORDCOUNT_SQL = r"""
WITH toks AS (
  SELECT regexp_replace(lower(tok), '\W', '', 'g') AS word
  FROM documents, UNNEST(regexp_split_to_array(trim(text, ' '), '[ \t\n\x0b\f\r]+')) AS u(tok)
)
SELECT word, COUNT(*) AS count
FROM toks
WHERE word <> ''
GROUP BY word
ORDER BY count ASC, word ASC
"""

# ------------------------------------------------------------ positional tokens


def text_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: tokens with their ordinal positions (the positional
    variant of the flagship's explode) — restricted to the first 5
    positions of each doc to keep the check sharp."""
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.trim(F.lower("text")), TOKEN_SPLIT_RE)
    return (
        d.select("doc_id", F.posexplode(toks).alias("pos", "token"))
        .filter(F.col("pos") < 5)
        .orderBy("doc_id", "pos")
    )


# trim(x, ' ') not trim(x): DuckDB's bare trim strips UNICODE spaces
# (NBSP, U+3000) where Spark's F.trim strips ASCII 0x20 only — for a
# query that emits token VALUES, a boundary NBSP must stay glued to
# its token in both engines (r17 boundary-whitespace census; the
# count-only queries are insensitive to this, values are not)
TOKEN_POSITIONS_SQL = r"""
SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+') AS toks
      FROM documents WHERE text IS NOT NULL),
     UNNEST(range(1, LEAST(len(toks), 5) + 1)) AS u(i)
ORDER BY doc_id, pos
"""

# ------------------------------------------------------------ token stats


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting: whitespace tokens + a BPE-ish
    word/number/punct-run regex count + char stats."""
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.trim("text"), TOKEN_SPLIT_RE)
    return (
        d.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.length("text").alias("n_chars_measured"),
            # BPE-ish subword proxy: alnum runs and single non-space punct
            F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0)).alias("n_subtokens"),
            F.round(F.length("text") / F.size(toks), 4).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


TOKEN_STATS_SQL = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text, ' '), '[ \t\n\x0b\f\r]+'))::INT AS n_tokens,
       length(text)::INT AS n_chars_measured,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]'))::INT AS n_subtokens,
       ROUND(length(text) / len(regexp_split_to_array(trim(text, ' '), '[ \t\n\x0b\f\r]+')), 4) AS chars_per_token
FROM documents
ORDER BY doc_id
"""

# ------------------------------------------------------------ rule-engine audit


def quality_rules_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative rule engine over documents: every failing rule per doc
    (vs the curation pipeline's first-reason-only) — the audit view a
    data curator debugs with."""
    from ..operators.rules import apply_rules
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.trim(F.lower("text")), TOKEN_SPLIT_RE)
    rules = {
        "min_tokens": F.size(toks) >= 30,
        "has_stopword": F.arrays_overlap(
            toks, F.array(F.lit("the"), F.lit("a"), F.lit("of"))),
        "no_all_caps": F.col("text") != F.upper("text"),
        "chars_sane": F.col("n_chars") == F.length("text"),
    }
    return (
        apply_rules(d, rules)
        .select("doc_id",
                F.array_join("failed_rules", ",").alias("failed"),
                (F.size("failed_rules") == 0).cast("int").alias("passes"))
        .orderBy("doc_id")
    )


RULES_AUDIT_SQL = r"""
WITH checks AS (
  SELECT doc_id,
         list_sort(list_filter([
           CASE WHEN NOT (len(regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+')) >= 30)
                THEN 'min_tokens' END,
           CASE WHEN NOT (len(list_intersect(regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+'),
                                             ['the', 'a', 'of'])) > 0)
                THEN 'has_stopword' END,
           CASE WHEN NOT (text <> upper(text)) THEN 'no_all_caps' END,
           CASE WHEN NOT (n_chars = length(text)) THEN 'chars_sane' END
         ], x -> x IS NOT NULL)) AS failed_rules
  FROM documents
)
SELECT doc_id,
       COALESCE(array_to_string(failed_rules, ','), '') AS failed,
       CAST(len(failed_rules) = 0 AS INT) AS passes
FROM checks
ORDER BY doc_id
"""


# ------------------------------------------------------------ repetition stats


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: fraction of duplicated 3-gram
    occurrences (Gopher-style repetition filter signal) — 1 means the doc
    is pure repeats; pure built-ins, no UDF."""
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.lower(F.trim("text")), TOKEN_SPLIT_RE)
    sh = word_shingles(toks, 3)
    return (
        d.select(
            "doc_id",
            F.size(sh).cast("long").alias("n_ngrams"),
            F.size(F.array_distinct(sh)).cast("long").alias("n_distinct_ngrams"),
        )
        .withColumn("dup_ratio", F.round(
            F.when(F.col("n_ngrams") > 0,
                   1 - F.col("n_distinct_ngrams") / F.col("n_ngrams"))
            .otherwise(0.0), 4))
        .orderBy("doc_id")
    )


REPETITION_SQL = r"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
         ELSE [] END AS grams
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '[ \t\n\x0b\f\r]+') AS toks
        FROM documents)
)
SELECT doc_id,
       len(grams)::BIGINT AS n_ngrams,
       len(list_distinct(grams))::BIGINT AS n_distinct_ngrams,
       ROUND(CASE WHEN len(grams) > 0
                  THEN 1 - len(list_distinct(grams)) / len(grams)
                  ELSE 0.0 END, 4) AS dup_ratio
FROM sh
ORDER BY doc_id
"""


# ------------------------------------------------------------ quality score


def _quality_score_expr():
    """The [0,1]-ish C4/Gopher-style quality score as a single Column —
    shared by text_quality_score and the fused projection inside
    corpus_curation_pipeline (same expression → identical values)."""
    toks = F.split(F.trim("text"), TOKEN_SPLIT_RE)
    n_tok = F.size(toks)
    stop_hits = F.size(F.expr(
        "filter(split(trim(lower(text)), '\\\\s+'), x -> x in ('the','a','of','and','to','in','is'))"))
    score = (
        F.when(n_tok >= 20, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((F.length("text") / n_tok).between(3, 12), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.least(F.round(stop_hits / n_tok, 4), F.lit(0.3))
    )
    return F.round(score, 4)


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length, mean word length, stopword
    ratio, alpha ratio → [0,1]-ish score; typical pretraining-corpus
    filter shape (C4/Gopher-style rules, arithmetic only)."""
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.trim("text"), TOKEN_SPLIT_RE)
    n_tok = F.size(toks)
    stop_hits = F.size(F.expr(
        "filter(split(trim(lower(text)), '\\\\s+'), x -> x in ('the','a','of','and','to','in','is'))"))
    alpha_chars = F.length(F.regexp_replace("text", r"[^A-Za-z]", ""))
    # empty-text contract (r17 whitespace-fuzz census find): an EMPTY
    # (not null) document has length 0, and ANSI division threw here
    # where DuckDB would error too — alpha_ratio of zero characters is
    # undefined, so it is NULL in both engines (n_tok is never 0:
    # split('') yields [''], so the other ratios are safe)
    return (
        d.select(
            "doc_id",
            n_tok.alias("n_tokens"),
            F.round(stop_hits / n_tok, 4).alias("stopword_ratio"),
            F.when(F.length("text") > 0,
                   F.round(alpha_chars / F.length("text"), 4))
            .alias("alpha_ratio"),
            _quality_score_expr().alias("quality_score"),
        )
        .orderBy("doc_id")
    )


QUALITY_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(trim(text, ' '), '[ \t\n\x0b\f\r]+')) AS n_tok,
         len(list_filter(regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+'),
             x -> x IN ('the','a','of','and','to','in','is'))) AS stop_hits,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars
  FROM documents
)
SELECT doc_id, n_tok::INT AS n_tokens,
       ROUND(stop_hits / n_tok, 4) AS stopword_ratio,
       CASE WHEN length(text) > 0
            THEN ROUND(alpha_chars / length(text), 4) END AS alpha_ratio,
       ROUND( (CASE WHEN n_tok >= 20 THEN 0.4 ELSE 0.0 END)
            + (CASE WHEN length(text) / n_tok BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END)
            + LEAST(ROUND(stop_hits / n_tok, 4), 0.3), 4) AS quality_score
FROM base
ORDER BY doc_id
"""

# ------------------------------------------------------------ language ID
# n-gram/stopword-marker heuristic (the container has no langdetect lib;
# the heuristic itself is the operator under test, deterministic by design).

_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
}


def _lang_score_exprs() -> dict:
    """Per-language marker-hit-rate score Columns (rounded 4dp) —
    shared by text_language_id and the fused curation projection."""
    toks = F.split(F.trim(F.lower("text")), TOKEN_SPLIT_RE)
    scores = {}
    for lang, markers in _LANG_MARKERS.items():
        in_list = ",".join(f"'{m}'" for m in markers)
        hits = F.size(F.expr(f"filter(split(trim(lower(text)), '\\\\s+'), x -> x in ({in_list}))"))
        scores[lang] = F.round(hits / F.size(toks), 4)
    return scores


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents", fanout=True)
    scores = _lang_score_exprs()
    d2 = d.select("doc_id", *[c.alias(f"score_{lang}") for lang, c in scores.items()])
    score_cols = [f"score_{lang}" for lang in _LANG_MARKERS]
    # argmax with deterministic tie-break on language-name order
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in sorted(_LANG_MARKERS):
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return d2.select("doc_id", *score_cols, pred.alias("pred_lang")).orderBy("doc_id")


def _langid_sql() -> str:
    score_exprs = []
    for lang, markers in _LANG_MARKERS.items():
        in_list = ",".join(f"'{m}'" for m in markers)
        score_exprs.append(
            f"ROUND(len(list_filter(toks, x -> x IN ({in_list}))) / len(toks), 4) AS score_{lang}")
    langs_sorted = sorted(_LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"score_{l}" for l in _LANG_MARKERS) + ")"
    case = f"CASE WHEN {best} <= 0 THEN 'und' " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs_sorted) + " END"
    return rf"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, {", ".join(score_exprs)}
  FROM base
)
SELECT doc_id, {", ".join(f"score_{l}" for l in _LANG_MARKERS)},
       {case} AS pred_lang
FROM scored
ORDER BY doc_id
"""


LANGID_SQL = _langid_sql()

# ------------------------------------------------------------ fingerprint


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle fingerprint: min/max md5 over 5-token shingles of the
    normalized text (a 2-hash sketch — the degenerate MinHash case) plus
    a whole-text hash. Rolling-hash flavored but built from set ops so
    both engines agree bit-for-bit."""
    d = t(spark, sf_dir, "documents", fanout=True)
    norm = F.lower(F.trim("text"))
    # stage norm and the hashed shingle array as columns: inlined, norm
    # would evaluate 3× per row (md5 + inside the split) and the
    # shingle pipeline 2× (min and max) — CollapseProject keeps staged
    # projections with multi-referenced non-cheap expressions (r3/r7
    # ROUND_NOTES lessons)
    staged = d.select("doc_id", norm.alias("norm")).select(
        "doc_id", "norm",
        F.transform(word_shingles(F.split("norm", TOKEN_SPLIT_RE), 5),
                    F.md5).alias("sh_md5"))
    return (
        staged.select(
            "doc_id",
            F.md5("norm").alias("full_hash"),
            F.array_min("sh_md5").alias("min_shingle_hash"),
            F.array_max("sh_md5").alias("max_shingle_hash"),
        )
        .orderBy("doc_id")
    )


_WINNOW_K = 4  # tokens per k-gram
_WINNOW_W = 5  # k-gram hashes per selection window


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide a
    window of w hashes, keep each window's minimum — guarantees a match
    of length ≥ w+k-1 tokens between two docs shares a fingerprint,
    while storing ~2/(w+1) of the hashes. md5-derived and set-valued, so
    both engines agree exactly. Output: one row per selected
    fingerprint (exploded — scalar columns hash-compare cleanly)."""
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.lower(F.trim("text")), TOKEN_SPLIT_RE)
    # hs MUST be bound as a column before the window transform: an
    # unaliased expression inside the lambda is re-evaluated per window
    # (HOFs are interpreted, no CSE) — re-hashing every gram for every
    # window turned O(n·w) into O(n²·k) before this split.
    base = d.select(
        "doc_id", F.transform(word_shingles(toks, _WINNOW_K), F.md5).alias("hs"))
    hs = F.col("hs")
    nwin = F.size(hs) - _WINNOW_W + 1
    fps = (
        F.when(nwin >= 1,
               F.transform(F.sequence(F.lit(1), nwin),
                           lambda j: F.array_min(F.slice(hs, j, _WINNOW_W))))
        .when(F.size(hs) > 0, F.array(F.array_min(hs)))
        .otherwise(F.array().cast("array<string>"))
    )
    return (
        base.select("doc_id", F.explode(F.array_distinct(fps)).alias("fingerprint"))
        .orderBy("doc_id", "fingerprint")
    )


WINNOWING_SQL = rf"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '[ \t\n\x0b\f\r]+') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {_WINNOW_K} THEN
           [md5(array_to_string(toks[i:i+{_WINNOW_K - 1}], ' '))
            FOR i IN range(1, len(toks) - {_WINNOW_K - 2})]
         ELSE [] END AS hs
  FROM base
),
wins AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= {_WINNOW_W} THEN
           [list_aggregate(hs[j:j+{_WINNOW_W - 1}], 'min')
            FOR j IN range(1, len(hs) - {_WINNOW_W - 2})]
         WHEN len(hs) > 0 THEN [list_aggregate(hs, 'min')]
         ELSE [] END AS fps
  FROM grams
)
SELECT DISTINCT doc_id, UNNEST(fps) AS fingerprint
FROM wins
ORDER BY doc_id, fingerprint
"""


FINGERPRINT_SQL = r"""
WITH base AS (
  SELECT doc_id, lower(trim(text, ' ')) AS norm,
         regexp_split_to_array(lower(trim(text, ' ')), '[ \t\n\x0b\f\r]+') AS toks
  FROM documents
),
shingled AS (
  SELECT doc_id, norm,
         CASE WHEN len(toks) >= 5 THEN
           [md5(array_to_string(toks[i:i+4], ' ')) FOR i IN range(1, len(toks) - 3)]
         ELSE [] END AS sh
  FROM base
)
SELECT doc_id, md5(norm) AS full_hash,
       list_min(sh) AS min_shingle_hash,
       list_max(sh) AS max_shingle_hash
FROM shingled
ORDER BY doc_id
"""

# ------------------------------------------------------------ exact dedup


def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-text hash: one survivor (min doc_id) per
    content hash. At scale: single hash-shuffle on a 128-bit key."""
    d = t(spark, sf_dir, "documents")
    return (
        d.withColumn("content_hash", F.md5(F.lower(F.trim("text"))))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("kept_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
        .orderBy("kept_doc_id")
    )


DEDUP_EXACT_SQL = """
SELECT md5(lower(trim(text, ' '))) AS content_hash,
       MIN(doc_id) AS kept_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY kept_doc_id
"""

# ------------------------------------------------------------ n-gram Jaccard near-dup


@session_memo
def _shingle_sets(spark: SparkSession, sf_dir: str, n: int = 3):
    """(doc_id, shingle) exploded-distinct + per-doc sorted shingle-set
    arrays. Shared by the Jaccard and MinHash pipelines, memoized so
    both (and every repeated invocation in a driver/bench session)
    share ONE shingle-index DataFrame pair instead of re-registering
    equal persist() entries.

    Both are persisted: the shingle index feeds 5+ consumers per query
    (document frequency, prefix window, sizes, both verify sides) and AQE
    stage reuse only dedupes the subset whose column pruning happens to
    canonicalize equal — measured 11 redundant scan+explode subtrees in
    one plan without persistence. Materializing the inverted index is
    the standard AllPairs shape; MEMORY_AND_DISK (the default) spills at
    100 TB rather than recomputing the corpus-sized explode per consumer."""
    # fanout: the per-doc shingle build (tokenize + n-gram + distinct +
    # sort) is the heaviest map work in the repo — single-task on a
    # 1-row-group input, it profiled at ~4.8 s/stage at sf0.1 (r21)
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.lower(F.trim("text")), TOKEN_SPLIT_RE)
    # Shingle distinctness only exists WITHIN a document, so the whole
    # index is built ROW-LOCALLY in one scan, zero shuffle: the per-doc
    # sorted set array first (array_distinct + array_sort on the
    # shingle array), then the exploded inverted index derived from it.
    # The previous shape aggregated `sets` back out of the exploded
    # index with collect_set — a corpus-sized shuffle that this
    # formulation deletes outright (r7 profile: the index build was
    # 5.4 s of the 9 s candidate stage at sf0.1, the self-join only
    # 0.9 s; this variant measured ~7% faster locally and removes the
    # one shuffle that scales with corpus size rather than with
    # near-dup density — the shape that matters at 100 TB).
    sets = (
        d.select("doc_id",
                 F.array_sort(F.array_distinct(word_shingles(toks, n))).alias("sh_set"))
        .withColumn("n_sh", F.size("sh_set").cast("long"))
        .persist()
    )
    sh = sets.select("doc_id", F.explode("sh_set").alias("shingle")).persist()
    return sh, sets


def _verify_pairs(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs via
    array_intersect against per-doc shingle sets — O(candidates), never a
    second inverted-index join. The AllPairs length filter runs first:
    J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so pairs with size ratio below
    the threshold floor are provably below the round-to-4-decimals
    output filter and skip the set intersection entirely (exact BIGINT
    form at p/q — see _threshold_floor_rational).

    KEPT in the array form after an r22 interleaved A/B against the
    counting-join alternative (join cand against the exploded
    (doc_id, shingle) relation twice + groupBy count — the VERDICT r21
    item-3 candidate direction): the arrays LOST NOTHING and the count
    join lost 3x at BOTH scales (verify-only, same persisted
    candidates: 0.57 vs 1.67 s at sf0.1, 4.9 vs 13.6 s at 10x —
    logs/ab_jaccard_verify_r22.txt). Why the payload-shipping concern
    does not bite here: this corpus's shingle sets are tiny (median
    ~18 shingles, ~400 B/doc), so `sets` broadcasts at every probed
    scale and the per-pair intersect is a few hash probes, while the
    counting join explodes candidates x |set| rows (22 M at 10x)
    through two joins and a wide-key hash aggregate. The counting form
    only wins once |set| is large enough that per-candidate array
    payloads dominate — documents orders of magnitude longer than this
    fixture's; revisit if the corpus shape changes."""
    p, q = _threshold_floor_rational(threshold)
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("sh_set").alias("set_a"), F.col("n_sh").alias("n_sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("sh_set").alias("set_b"), F.col("n_sh").alias("n_sh_b"))
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .filter(F.expr(f"{q} * least(n_sh_a, n_sh_b)"
                       f" >= {p} * greatest(n_sh_a, n_sh_b)"))
        .withColumn("n_common", F.expr(
            "CAST(size(array_intersect(set_a, set_b)) AS BIGINT)"))
        .withColumn("jaccard", F.expr(
            "round(n_common / (n_sh_a + n_sh_b - n_common), 4)"))
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over 3-token shingles,
    threshold 0.5 — the AllPairs/PPJoin prefix-filtering plan:

    1. global shingle document-frequency, ascending = rarity order;
    2. each doc keeps only its |S| - ceil(t·|S|) + 1 RAREST shingles (the
       prefix): any pair with J ≥ t provably shares a prefix shingle;
    3. inverted-index join on prefix shingles only — hot (stopword-like)
       shingles never enter the join, which is what makes this survive
       Zipfian shingle skew at 100 TB (a naive shingle self-join explodes
       quadratically on hot shingles);
    4. exact verification of the candidate pairs via array_intersect.

    Prefix filtering per Bayardo, Ma & Srikant, "Scaling Up All Pairs
    Similarity Search" (WWW 2007); positional/suffix refinements
    (PPJoin, Xiao et al., WWW 2008) are a further-pruning option if the
    candidate set ever dominates.
    """
    return _verified_jaccard_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


@session_memo
def _verified_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VERIFIED Jaccard>=0.5 pair set. It is the input of
    connected-components and the curation pipeline, so it is persisted
    AND memoized: the expensive AllPairs cascade runs once per session
    per dataset, and repeated invocations reuse ONE cached DataFrame
    instead of stacking a fresh persist() per call (the round-2 leak:
    executor storage grew per invocation)."""
    threshold = 0.5
    cand, sets = _jaccard_candidates(spark, sf_dir, threshold)
    return (
        _verify_pairs(cand, sets, threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
        .persist()
    )


def _threshold_floor_rational(threshold: float) -> tuple[int, int]:
    """Exact rational ``(p, q)`` with ``p/q <= threshold - 5e-5``, used
    to evaluate every AllPairs/PPJoin bound in EXACT BIGINT arithmetic
    (r8 review finding): the earlier ``F.ceil(F.lit(c) * n)`` forms
    could overshoot the true lemma ceiling whenever the double constant
    ``c`` rounded UP (e.g. 2t/(1+t) at t=0.43), silently dropping true
    pairs at non-default thresholds. A rational floor kills both float
    hazards at once — no ceil amplification, and the 5e-5 slack covers
    the verify stage's round-to-4-decimals semantics (every emitted
    pair has exact J >= round4(J) - 5e-5 >= threshold - 5e-5 >= p/q),
    so the cascade is a provable superset of the verify output.
    Tightness cost: a threshold shift of <= 6e-5 — prefix lengths grow
    by ~0.006%, unmeasurable (candidate counts at sf0.1/10x/30x are
    unchanged). BIGINT-safe for n_sh up to ~4.6e12: the widest
    coefficient is q + p <= 2e6 (probe prefix / alpha), and a shingle
    set that size would need a multi-TB single document — Spark's 2 GB
    string cap bounds real n_sh ~1e8 lower."""
    q = 1_000_000
    p = max(int(math.floor(threshold * q)) - 50, 0)
    return p, q


def _jaccard_candidates(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.5):
    """The AllPairs/PPJoin candidate stage (steps 1-3 of
    dedup_ngram_jaccard's docstring), before exact verification —
    split out so the candidate→verified ratio is measurable
    (VERDICT r5 item 5). Returns (candidates, shingle_sets).

    pref is persisted exactly once per call (both self-join sides read
    it during the single build) — the sole production caller memoizes
    the verified result, so this still registers one cache entry per
    dataset per session, same policy as _shingle_sets."""
    p, q = _threshold_floor_rational(threshold)
    sh, sets = _shingle_sets(spark, sf_dir, 3)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    # Chaudhuri prefix pos <= n - ceil((p/q)·n) + 1, in the exact
    # integer form p·n <= q·(n - pos + 1)   [ceil(x) <= m  <=>  x <= m]
    in_prefix = F.expr(f"{p} * n_sh <= {q} * (n_sh - pos + 1)")
    # persisted: both sides of the self-join read this prefix index —
    # without persistence the doc-frequency join + rank window run twice
    pref = (
        sh.join(freq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sets.select("doc_id", "n_sh"), "doc_id")
        .filter(in_prefix)
        .select("doc_id", "shingle", "pos", "n_sh")
        .persist()
    )
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin pruning inside the inverted-index join (Xiao et al., WWW'08;
    # prefix asymmetry per Bayardo et al., WWW'07 §3.1):
    # - pairs are canonicalized by SIZE (n_sh, doc_id), not by doc id:
    #   side `a` is the smaller set of the pair. That unlocks the
    #   asymmetric "indexing prefix": for a qualifying pair with
    #   |A| ≤ |B|, the overlap k ≥ ⌈2t/(1+t)·|A|⌉, and the smallest
    #   common shingle c1 has ≥ k-1 common shingles after it in BOTH
    #   lists, so pos_a(c1) ≤ |A| - k + 1 ≤ |A| - 2t/(1+t)·|A| + 1.
    #   At t = 0.5 that is a ~|A|/3 prefix on the probe side instead of
    #   the ~|A|/2 Chaudhuri prefix `pref` stores — a third of the
    #   self-join's `a`-side input rows never enter the join. (The
    #   mixed-α prefix lemma is sound because c1 lands inside BOTH
    #   prefixes for ANY α ≤ k.)
    # - length filter: J ≥ t requires t·|B| ≤ |A| (one direction only —
    #   a is the smaller side by canonicalization);
    # - positional filter: a match at canonical positions (pa, pb)
    #   bounds the overlap by 1 + min(|A|-pa, |B|-pb), which must reach
    #   α = ⌈t/(1+t)·(|A|+|B|)⌉. All prune BEFORE the distinct + set-
    #   intersection verify. (The pair-level ACCUMULATED positional
    #   bound — c matches + rem at the last — was probe-measured r7:
    #   prunes 0 of 124,979 candidates at sf0.1; survivors almost all
    #   match on exactly one prefix shingle, where it degenerates to
    #   the per-row bound. Not worth the wider shuffle row.)
    #
    # Every bound is evaluated in EXACT BIGINT arithmetic at the
    # rational threshold floor p/q (ceil(x) <= m  <=>  x <= m for
    # integer m — see _threshold_floor_rational for why no float form
    # survives: ADVICE r7 rejected the ad-hoc ε, and the r8 review
    # showed ceil(lit(c)·n) overshoots when c rounds up):
    #   positional:   (q+p)·ubound >= p·(|A|+|B|)   [ubound >= α]
    #   probe prefix: 2p·|A| <= (q+p)·(|A| - pos_a + 1)
    #   length:       q·|A| >= p·|B|
    alpha_ok = F.expr(
        f"{q + p} * (1 + least(a.n_sh - a.pos, b.n_sh - b.pos))"
        f" >= {p} * (a.n_sh + b.n_sh)")
    a_probe_prefix = (
        f"{2 * p} * a.n_sh <= {q + p} * (a.n_sh - a.pos + 1)")
    a_before_b = ("(a.n_sh < b.n_sh"
                  " OR (a.n_sh = b.n_sh AND a.doc_id < b.doc_id))")
    cand = (
        a.join(b, F.expr(
            f"a.shingle = b.shingle AND {a_before_b}"
            f" AND {a_probe_prefix} AND {q} * a.n_sh >= {p} * b.n_sh"))
        .filter(alpha_ok)
        .select(F.expr("least(a.doc_id, b.doc_id)").alias("doc_a"),
                F.expr("greatest(a.doc_id, b.doc_id)").alias("doc_b"))
        .distinct()
    )
    return cand, sets


DEDUP_JACCARD_SQL = r"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           array_to_string(toks[i:i+2], ' ') AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '[ \t\n\x0b\f\r]+') AS toks
          FROM documents),
         UNNEST(range(1, len(toks) - 1)) AS u(i)
    WHERE len(toks) >= 3
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.5
ORDER BY doc_a, doc_b
"""

# ------------------------------------------------------------ MinHash-LSH near-dup
# Deterministic md5-based MinHash so both engines compute identical
# signatures (Broder, "On the resemblance and containment of documents",
# 1997; banding analysis per Leskovec/Rajaraman/Ullman, Mining of Massive
# Datasets ch.3). Banding pairs up candidates, exact Jaccard verifies.
# This IS the scale path: candidate generation is O(docs × bands), never
# O(n²).

_MINHASH_PERMS = 8   # 4 bands × 2 rows — the fixture operating point
_MINHASH_BANDS = 4
_MINHASH_ROWS = 2
_JACCARD_THRESHOLD = 0.4

# Production operating point (r14; VERDICT r13 item 5): real near-dup
# corpora target J ≈ 0.8-0.9, where the banding S-curve 1-(1-j^r)^b
# wants MORE ROWS PER BAND — 4 bands × 4 rows puts the curve's
# threshold at (1/b)^(1/r) = 4^(-1/4) ≈ 0.71, so J ≥ 0.8 pairs collide
# with prob ≥ 0.88 while the J ≤ 0.4 background (j^4 ≤ 0.026) almost
# never does. Same deterministic md5 slicing, same plan shape — only
# (perms, bands, rows, threshold) move, which is exactly the re-tuning
# contract the plan docstring asserts. minhash_recall_eval measures
# BOTH points side by side.
_MINHASH_PERMS_T08 = 16  # 4 bands × 4 rows
_MINHASH_BANDS_T08 = 4
_MINHASH_ROWS_T08 = 4
_JACCARD_THRESHOLD_T08 = 0.8


def _minhash_signatures(sh: DataFrame, perms: int) -> DataFrame:
    """Per-doc MinHash signature (doc_id, mh0..mh{perms-1}, n_sh) from
    the distinct (doc_id, shingle) relation — split from
    ``_minhash_candidates`` (r15) so the cross-engine signature test
    exercises the served expressions directly at 24 perms."""
    digested = sh.withColumn("dg", F.md5(F.col("shingle")))
    for k in range(2, (perms + 7) // 8 + 1):
        digested = digested.withColumn(
            f"dg{k}", F.md5(F.concat(F.col("shingle"), F.lit(f"#{k}"))))
    # SQL-string aggregates (r21): one parsed expression per perm
    # instead of four py4j round trips per perm — identical analyzed
    # MIN(SUBSTRING(dg_k, off, 8)) tree, measurably cheaper driver time
    return digested.groupBy("doc_id").agg(
        *[F.expr(f"min(substring({'dg' if p < 8 else f'dg{p // 8 + 1}'}, "
                 f"{1 + 3 * (p % 8)}, 8))").alias(f"mh{p}")
          for p in range(perms)],
        F.count(F.lit(1)).alias("n_sh"),
    )


def _minhash_candidates(spark: SparkSession, sf_dir: str,
                        perms: int = _MINHASH_PERMS,
                        bands: int = _MINHASH_BANDS,
                        rows: int = _MINHASH_ROWS):
    """The MinHash-LSH candidate stage (signatures → bands → bucket
    join), before exact verification — split out so the banding
    candidate→verified funnel is measurable, same pattern as
    `_jaccard_candidates` (r6/r7). Parameterized over (perms, bands,
    rows) since r14 — the fixture and production operating points run
    the same plan. Returns (candidates, shingle_sets)."""
    assert bands * rows == perms and perms <= 24
    sh, sets = _shingle_sets(spark, sf_dir, 3)
    # signature: per doc, min over shingles of 8-hex slices (stride 3)
    # of ONE md5 — one hash per row instead of `perms` hashes
    # (aggregate exprs are not CSE'd, hence the withColumn). A 32-hex
    # digest only holds eight stride-3 8-hex windows, so signatures
    # wider than 8 perms CHAIN further deterministic digests
    # md5(shingle || '#k') — k=2 for perms 9-16, k=3 for 17-24 (r15
    # lifts the former 16-perm ceiling, which sat exactly at the
    # production arm's operating point); slices of a cryptographic
    # digest are independent enough for LSH banding. Mirrored
    # expression-for-expression in _minhash_sql and pinned
    # cross-engine at 24 perms by test_minhash_signature_cross_engine.
    sig = _minhash_signatures(sh, perms)
    # banding: hash the concatenation of each band's rows → bucket key
    band_cols = [
        F.expr("md5(concat_ws('|', "
               + ", ".join(f"mh{b * rows + r}" for r in range(rows))
               + "))").alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select("doc_id", "n_sh", *band_cols)
    # candidates: docs sharing any band bucket
    bands_long = banded.select(
        "doc_id",
        F.explode(F.expr("array(" + ", ".join(
            f"concat('b{b}:', band{b})" for b in range(bands)) + ")"))
        .alias("bucket"),
    )
    x, y = bands_long.alias("x"), bands_long.alias("y")
    cand = (
        x.join(y, F.expr("x.bucket = y.bucket AND x.doc_id < y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return cand, sets


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, sets = _minhash_candidates(spark, sf_dir)
    # exact-Jaccard verification restricted to the banded candidates —
    # array_intersect per pair, not a second inverted-index join
    return (
        _verify_pairs(cand, sets, _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _minhash_mh_exprs_sql(perms: int) -> str:
    """The oracle's per-permutation MIN(substr(md5(...))) expression
    list — the exact twin of the Spark aggregate in
    ``_minhash_candidates`` (same chained '#k' digest suffixes, same
    stride-3 slice offsets). Shared by ``_minhash_sql`` and the
    standalone signature SQL the 24-perm cross-engine test runs."""
    return ", ".join(
        "MIN(substr(md5(shingle"
        + ("" if p < 8 else f" || '#{p // 8 + 1}'")
        + f"), {1 + 3 * (p % 8)}, 8)) AS mh{p}"
        for p in range(perms))


#: the minhash generators' shared shingle CTE — ONE definition so the
#: served oracle (_minhash_sql) and the standalone signature SQL the
#: 24-perm cross-engine test runs can never drift apart on the token
#: regex / shingle width / min-length filter (r15 review finding)
_MINHASH_SH_CTE = r"""sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '[ \t\n\x0b\f\r]+') AS toks
          FROM documents),
         UNNEST(range(1, len(toks) - 1)) AS u(i)
    WHERE len(toks) >= 3
  )
)"""


def minhash_signature_sql(perms: int) -> str:
    """Standalone oracle SQL for the raw per-doc MinHash signature
    (doc_id, mh0..mh{perms-1}, n_sh) — the cross-engine
    signature-equality surface (r15, VERDICT r14 item 6)."""
    return f"""
WITH {_MINHASH_SH_CTE}
SELECT doc_id, {_minhash_mh_exprs_sql(perms)}, COUNT(*) AS n_sh
FROM sh GROUP BY doc_id ORDER BY doc_id
"""


def _minhash_sql(perms: int = _MINHASH_PERMS, bands: int = _MINHASH_BANDS,
                 rows: int = _MINHASH_ROWS,
                 threshold: float = _JACCARD_THRESHOLD) -> str:
    mh_exprs = _minhash_mh_exprs_sql(perms)
    band_exprs = ", ".join(
        "md5(" + " || '|' || ".join(f"mh{b * rows + r}" for r in range(rows))
        + f") AS band{b}" for b in range(bands))
    bucket_union = " UNION ALL ".join(
        f"SELECT doc_id, 'b{b}:' || band{b} AS bucket FROM banded" for b in range(bands))
    return f"""
WITH {_MINHASH_SH_CTE},
sig AS (
  SELECT doc_id, {mh_exprs}, COUNT(*) AS n_sh
  FROM sh GROUP BY doc_id
),
banded AS (SELECT doc_id, {band_exprs} FROM sig),
bands_long AS ({bucket_union}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands_long x JOIN bands_long y
    ON x.bucket = y.bucket AND x.doc_id < y.doc_id
),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT cand.doc_a AS doc_a, cand.doc_b AS doc_b,
       ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
FROM cand
JOIN common ON cand.doc_a = common.doc_a AND cand.doc_b = common.doc_b
JOIN sig sa ON cand.doc_a = sa.doc_id
JOIN sig sb ON cand.doc_b = sb.doc_id
WHERE ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 4) >= {threshold}
ORDER BY cand.doc_a, cand.doc_b
"""


MINHASH_SQL = _minhash_sql()


# ------------------------------------------------------------ UDTF chunking


def text_chunking_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking via Python UDTF (1→N table
    function). Oracle reproduces the window arithmetic with
    generate_series + array slices."""
    from ..operators.chunking import chunk_documents
    d = t(spark, sf_dir, "documents")
    return chunk_documents(d).orderBy("doc_id", "chunk_idx")


# trim set = the UDTF's ASCII strip(' \t\n\r\f\v'), and list_filter
# mirrors its empty-token drop: an all-whitespace or
# boundary-whitespace doc must chunk identically in both engines
# (r17, ADVICE r16 item 1)
CHUNKING_SQL = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(
           regexp_split_to_array(
             trim(lower(text),
                  ' ' || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)),
             '[ \t\n\x0b\f\r]+'),
           x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(s / 40 AS INT) AS chunk_idx,
       array_to_string(toks[s + 1 : s + 50], ' ') AS chunk,
       CAST(len(toks[s + 1 : s + 50]) AS INT) AS n_chunk_tokens
FROM base, UNNEST(range(0, len(toks), 40)) AS u(s)
ORDER BY doc_id, chunk_idx
"""


# ------------------------------------------------------------ connected-components dedup
# The end-of-pipeline step every near-dup system needs: dup PAIRS →
# dup CLUSTERS → one survivor per cluster. Iterative min-label
# propagation (the Pregel/GraphX pattern as plain DataFrame joins);
# the oracle is a recursive CTE computing min reachable label.


#: Diameter cap for min-label propagation. Near-dup components are
#: star/clique-shaped (diameter ≲ 3 at these thresholds), so 20 rounds
#: is far beyond anything a real corpus produces — but exceeding it must
#: be LOUD, not a silent truncation (VERDICT r7 item 3).
_CC_MAX_ROUNDS = 20


def _min_label_propagation(edges: DataFrame,
                           max_rounds: int = _CC_MAX_ROUNDS) -> DataFrame:
    """Min-label propagation over a symmetric ``(src, dst)`` edge list;
    returns ``(doc_id, component)`` for every edge-incident node, where
    component = min doc_id reachable. Warns ``RuntimeWarning`` (and
    returns the last round's labels) if the fixpoint is not reached
    within ``max_rounds`` — callers on pathological high-diameter graphs
    then know the labels may still merge further.

    Initial labels are the 1-HOP minimum (least of self and all
    neighbors), not the identity labeling: that is exactly what the
    first loop round would compute from identity labels, so seeding it
    here saves one full join+agg+collect round (~one job floor on
    local[32]; one fewer synchronization barrier on a real cluster).

    Convergence check: labels are monotone non-increasing under
    min-propagation, so the label SUM strictly decreases until the
    fixpoint — one cheap aggregate per round instead of a
    join-and-count of changed rows (halves the per-round job cost;
    the driver still carries only a scalar).
    """
    # lazy truncation throughout the loop (r21): each round's scalar
    # convergence aggregate is the action that materializes that
    # round's checkpoint blocks — one job per round instead of an
    # eager-materialization job plus an aggregate job (halves the
    # loop's job count; blocks and lineage cut are identical)
    labels = truncate_lineage(
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("dst").alias("nbr_min"))
        .select("doc_id", F.least("doc_id", "nbr_min").alias("component")),
        eager=False,
    )
    prev_sum = None
    converged = False
    # Up to max_rounds + 1 propagation rounds run: confirming the
    # fixpoint takes one propagation whose sum is unchanged, so the +1
    # lets a graph whose LAST label change lands exactly on round
    # max_rounds confirm instead of tripping a spurious warning (r8
    # review). On a still-unconverged graph that final round is a real
    # extra propagation — the returned labels are one round more merged
    # (strictly closer to the fixpoint), and the warning counts it.
    for _ in range(max_rounds + 1):  # converges in O(diameter) rounds
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        # every propagated node has ≥1 edge (symmetric edge list), so the
        # inner join covers the full label set
        new_labels = truncate_lineage(
            labels.join(neighbor_min, "doc_id")
            .select("doc_id",
                    F.least(F.col("component"), F.col("nbr_component")).alias("component")),
            eager=False,
        )
        cur_sum = new_labels.agg(F.sum("component")).collect()[0][0]
        # the collect materialized new_labels' checkpoint blocks, so the
        # previous round's label checkpoint is now dead — free it (guide
        # §5 / VERDICT r21 item 5: resident blocks stay O(1) in round
        # count instead of accumulating one label table per round; the
        # loop never reads a superseded frame again, which is the
        # free_checkpoint safety contract)
        free_checkpoint(labels)
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        warnings.warn(
            f"min-label propagation did not reach a confirmed fixpoint "
            f"within {max_rounds + 1} propagation rounds — the graph's "
            f"diameter exceeds the cap and the returned component labels "
            f"may still merge further; raise max_rounds for this graph",
            RuntimeWarning, stacklevel=2)
    return labels


@session_memo
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the Jaccard>=0.5 near-dup pairs into components; survivor
    = min doc_id per component. Driver loop controls ITERATION only
    (convergence flag = one int per round); all data flow is joins.
    At scale: edges ≪ docs, each round is one shuffle join; rounds ≈
    component diameter (near-dup clusters are tiny).

    Memoized: the loop materializes its fixpoint in cached labels, and
    re-running it for a second consumer (the curation pipeline, a
    repeated bench/driver invocation) would re-launch every round's job
    for identical results. Plan-level caching can't express this (the
    loop is driver code), so the memo is the DataFrame analogue of a
    materialized view."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # truncate_lineage (not cache): the iterative loop's real cost on a
    # tiny edge list is DRIVER-SIDE — every round's action re-analyzes a
    # plan tree that embeds the full AllPairs pipeline plus all prior
    # rounds' joins (measured at sf0.1: 9.1 s/4.8 s per round with
    # cache(), 0.6 s/0.4 s with lineage truncated; 256 edges either
    # way). Checkpointing materializes the rows and CUTS the lineage, so
    # each round analyzes a constant-size plan. Storage is switchable
    # (session.truncate_lineage): executor-local blocks by default; set
    # SPARK_GRAFT_CHECKPOINT_DIR for reliable .checkpoint() storage on a
    # cluster (survives executor loss). Intermediate round checkpoints
    # are KB-sized × O(diameter) rounds; localCheckpoint blocks are GC'd
    # by the ContextCleaner, and the reliable path's files are too
    # because ENGINE_CONF sets cleanCheckpoints=true (ADVICE r6 — the
    # Spark default would leave reliable checkpoint files forever).
    edges = truncate_lineage(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))),
        eager=False,  # materializes inside the loop's first-round job
    )
    labels = _min_label_propagation(edges)
    return (
        d.select("doc_id").join(labels, "doc_id", "left")
        .select("doc_id",
                F.coalesce("component", F.col("doc_id")).alias("component"))
        .withColumn("is_kept", (F.col("component") == F.col("doc_id")).cast("int"))
        .orderBy("doc_id")
    )


def _components_sql() -> str:
    # reuse the pair query verbatim so edges match the Spark side
    # exactly. pairs/edges are AS MATERIALIZED (r20): DuckDB inlines
    # non-recursive CTEs, and the recursive `walk` term re-executes its
    # join input EVERY iteration — without the hint the whole shingle
    # self-join re-ran per label-propagation round (the
    # cluster_best_survivor composition hit 85 s at the 10x fixture,
    # same class as the pagerank oracle stall). Value-identical: the
    # hint only pins execution, proven equal at sf0.01 before shipping.
    pair_sql = DEDUP_JACCARD_SQL.strip().rstrip(";")
    return f"""
WITH RECURSIVE
pairs AS MATERIALIZED ({pair_sql}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(doc_id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.label
  FROM walk w JOIN edges e ON w.doc_id = e.src
)
SELECT doc_id, MIN(label) AS component,
       CAST(MIN(label) = doc_id AS INT) AS is_kept
FROM walk
GROUP BY doc_id
ORDER BY doc_id
"""


COMPONENTS_SQL = _components_sql()


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size histogram — the "what did dedup buy us"
    report every curation run produces. Reuses the memoized converged
    components, so after dedup_connected_components has run this is one
    cheap double aggregate."""
    comp = dedup_connected_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


CLUSTER_STATS_SQL = f"""
SELECT cluster_size, COUNT(*) AS n_clusters
FROM (
  SELECT component, COUNT(*) AS cluster_size
  FROM ({COMPONENTS_SQL}) comp
  GROUP BY component
) sized
GROUP BY cluster_size
ORDER BY cluster_size
"""


# ------------------------------------------------------------ corpus curation pipeline
# The composition flagship: what a real pretraining-data pipeline runs —
# language filter → quality filter → exact dedup → near-dup clustering,
# producing a keep/drop decision with the FIRST failing reason per doc.

_QUALITY_THRESHOLD = 0.70


def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fused projection computes ALL per-doc signals (language,
    quality score, content hash) in a single scan — the round-2 version
    built three separate doc-scans and equi-joined them back on doc_id,
    paying two shuffle joins for values that are row-local. The only
    remaining joins are inherently relational: exact-dedup survivor per
    content-hash group, and the near-dup component labels.

    The signals are STAGED as two stacked projections (scores first,
    argmax over the score ATTRIBUTES second) — inlining the argmax over
    the raw marker-filter lambdas would re-evaluate each ~6× per row
    (CollapseProject rightly refuses to merge multi-referenced non-cheap
    expressions; measured 2× slower fully inlined)."""
    d = t(spark, sf_dir, "documents", fanout=True)
    scores = _lang_score_exprs()
    staged = d.select(
        "doc_id",
        *[c.alias(f"score_{lang}") for lang, c in scores.items()],
        _quality_score_expr().alias("quality_score"),
        F.md5(F.lower(F.trim("text"))).alias("content_hash"),
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_MARKERS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in sorted(_LANG_MARKERS):
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    # exact-dedup survivor = window-min over the content_hash partition,
    # NOT groupBy+self-join: the join form referenced the scored
    # projection twice, re-running the full regex-scoring scan
    # (tools/audit_plan_scans.py) — the window keeps it one pass.
    base = staged.select(
        "doc_id", pred.alias("pred_lang"), "quality_score", "content_hash"
    ).withColumn(
        "kept_doc_id",
        F.min("doc_id").over(Window.partitionBy("content_hash")))
    comp = dedup_connected_components(spark, sf_dir).select(
        "doc_id", F.col("is_kept").alias("nd_kept"))
    reason = (
        F.when(F.col("pred_lang") != "en", "lang")
        .when(F.col("quality_score") < _QUALITY_THRESHOLD, "quality")
        .when(F.col("doc_id") != F.col("kept_doc_id"), "exact_dup")
        .when(F.col("nd_kept") == 0, "near_dup")
    )
    return (
        base.join(comp, "doc_id")
        .select("doc_id", reason.alias("drop_reason"),
                reason.isNull().cast("int").alias("is_kept"))
        .orderBy("doc_id")
    )


def _curation_sql() -> str:
    return f"""
WITH lang AS ({LANGID_SQL.strip()}),
qual AS ({QUALITY_SQL.strip()}),
ex AS ({DEDUP_EXACT_SQL.strip()}),
comp AS (SELECT * FROM ({COMPONENTS_SQL.strip()}))
SELECT d.doc_id,
       CASE WHEN lang.pred_lang <> 'en' THEN 'lang'
            WHEN qual.quality_score < {_QUALITY_THRESHOLD} THEN 'quality'
            WHEN ex.kept_doc_id IS NULL THEN 'exact_dup'
            WHEN comp.is_kept = 0 THEN 'near_dup'
       END AS drop_reason,
       CAST(CASE WHEN lang.pred_lang <> 'en' THEN 'lang'
            WHEN qual.quality_score < {_QUALITY_THRESHOLD} THEN 'quality'
            WHEN ex.kept_doc_id IS NULL THEN 'exact_dup'
            WHEN comp.is_kept = 0 THEN 'near_dup'
       END IS NULL AS INT) AS is_kept
FROM documents d
JOIN lang ON d.doc_id = lang.doc_id
JOIN qual ON d.doc_id = qual.doc_id
LEFT JOIN ex ON d.doc_id = ex.kept_doc_id
JOIN comp ON d.doc_id = comp.doc_id
ORDER BY d.doc_id
"""


CURATION_SQL = _curation_sql()


# ------------------------------------------------------------ span dedup
# C4-style span-level dedup (Raffel et al., JMLR 2020 dedupe three-
# sentence spans; here fixed 10-token spans since the corpus has no
# sentence punctuation): hash every full 10-token span, report spans
# occurring in more than one document. At scale this is one explode +
# one hash-shuffle agg on the span hash — the same shape as exact doc
# dedup, ~10× the rows.

_SPAN_TOKENS = 10


def span_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.trim(F.lower("text")), TOKEN_SPLIT_RE)
    n = _SPAN_TOKENS
    # guard: sequence(0, -1) counts DOWN in Spark — emit an empty array
    # for docs shorter than one full span
    spans = F.when(
        F.size(toks) >= n,
        F.expr(f"transform(sequence(0, cast(size(split(trim(lower(text)), '\\\\s+')) div {n} as int) - 1), "
               f"i -> md5(array_join(slice(split(trim(lower(text)), '\\\\s+'), i * {n} + 1, {n}), ' ')))"),
    ).otherwise(F.array().cast("array<string>"))
    occ = d.select("doc_id", F.explode(spans).alias("span_hash"))
    return (
        occ.groupBy("span_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"),
             F.count(F.lit(1)).alias("n_occurrences"),
             F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") > 1)
        .orderBy("span_hash")
    )


SPAN_DEDUP_SQL = rf"""
WITH occ AS (
  SELECT doc_id,
         md5(array_to_string(toks[i * {_SPAN_TOKENS} + 1 : i * {_SPAN_TOKENS} + {_SPAN_TOKENS}], ' ')) AS span_hash
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+') AS toks
        FROM documents),
       UNNEST(range(0, len(toks) // {_SPAN_TOKENS})) AS u(i)
  WHERE len(toks) >= {_SPAN_TOKENS}
)
SELECT span_hash,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences,
       MIN(doc_id) AS first_doc
FROM occ
GROUP BY span_hash
HAVING COUNT(DISTINCT doc_id) > 1
ORDER BY span_hash
"""

# ------------------------------------------------------------ TF-IDF top terms
# Keyword extraction: per-doc top-5 terms by tf·idf. The idf weight is
# the RATIONAL form tf·1e6 ÷ (df+1) computed in exact integer arithmetic
# — a monotone transform of the usual log-idf in df, chosen because
# ln() is not correctly-rounded and a 1-ulp divergence between the JVM
# and C libm could flip a rank at a near-tie; integer scores are
# bit-identical across engines by construction.


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (integer rational-idf scores;
    ties by term asc). The shape every keyword/feature-extraction
    pipeline runs: token counts per doc ⋈ document frequencies."""
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = (
        d.select("doc_id",
                 F.explode(F.split(F.trim(F.lower("text")), TOKEN_SPLIT_RE)).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        tf.join(df_, "term")
        .withColumn("score", F.floor(F.col("tf") * F.lit(1_000_000) / (F.col("df") + 1))
                    .cast("long"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", F.col("rk").cast("int").alias("rk"), "term", "score")
        .orderBy("doc_id", "rk")
    )


TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok AS term
  FROM documents, UNNEST(regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+')) AS u(tok)
  WHERE tok <> ''
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id, term,
         CAST(FLOOR(tf * 1000000 / (df + 1)) AS BIGINT) AS score
  FROM tf JOIN df USING (term)
),
ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INT) AS rk, term, score
FROM ranked WHERE rk <= 5
ORDER BY doc_id, rk
"""

# ------------------------------------------------------- unigram rarity score
# CCNet-style language-model quality proxy without the LM: score each
# doc by how rare its tokens are against the corpus unigram
# distribution. Instead of avg -log p(w) (transcendental → cross-engine
# 1-ulp risk), the rarity of a token is the exact integer T div C(w)
# (inverse relative frequency); the per-doc mean does ONE float division
# at the end. High mean rarity ≈ unusual/noisy text — the same signal a
# perplexity filter thresholds on.


@session_memo
def _per_doc_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted per-doc term counts. ONE tokenize pass over the corpus
    serves every unigram consumer: unigram_rarity_score (corpus
    frequency, total, and per-doc scoring were three independent
    tokenize scans — tools/audit_plan_scans.py) and
    bigram_surprisal_score's unigram model. The relation is the standard
    (doc, term, n) posting shape — strictly smaller than the raw token
    stream it replaces."""
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = (
        d.select("doc_id",
                 F.explode(F.split(F.trim(F.lower("text")),
                                   TOKEN_SPLIT_RE)).alias("term"))
        .filter(F.col("term") != "")
    )
    return (toks.groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("n"))
            .persist())


def unigram_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-occurrence sums regrouped as count-weighted sums over the
    cached (doc, term, n) relation — identical values (sum over
    occurrences of floor(t/c) == sum over (doc, term) of
    n * floor(t/c)), one corpus tokenize instead of three."""
    pdt = _per_doc_term_counts(spark, sf_dir)
    freq = pdt.groupBy("term").agg(F.sum("n").alias("c"))
    total = freq.agg(F.sum("c").alias("_t"))
    scored = (
        pdt.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "n",
                (F.floor(F.col("_t") / F.col("c")) * F.col("n"))
                .cast("long").alias("rarity_n"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("n").alias("n_tokens"),
             F.sum("rarity_n").alias("rarity_sum"))
        .withColumn("mean_rarity",
                    F.round(F.col("rarity_sum") / F.col("n_tokens"), 4))
        .orderBy("doc_id")
    )


RARITY_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok AS term
  FROM documents, UNNEST(regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+')) AS u(tok)
  WHERE tok <> ''
),
freq AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
total AS (SELECT SUM(c) AS t FROM freq),
scored AS (
  SELECT doc_id, CAST(FLOOR(t / c) AS BIGINT) AS rarity
  FROM toks JOIN freq USING (term), total
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       SUM(rarity)::BIGINT AS rarity_sum,
       ROUND(SUM(rarity) / COUNT(*), 4) AS mean_rarity
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""

# ------------------------------------------------- bigram surprisal
# The bigram-LM step up from unigram rarity: per-doc mean of the inverse
# conditional frequency cnt(w1)/cnt(w1 w2) — high when the doc's word
# TRANSITIONS are rare under the corpus bigram model (the KenLM-
# perplexity-filter proxy, CCNet recipe). Kept in exact integer rarity
# units like unigram_rarity_score: log/exp are not correctly-rounded
# across libm implementations, floor-div of counts is bit-exact.


@session_memo
def _per_doc_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, bigram, nb) posting relation (the posting
    shape of _per_doc_term_counts) — one shingle pass serves
    bigram_surprisal_score AND token_pmi_top_pairs."""
    d = t(spark, sf_dir, "documents", fanout=True)
    toks_col = F.split(F.trim(F.lower("text")), TOKEN_SPLIT_RE)
    big = d.select(
        "doc_id", F.explode(word_shingles(toks_col, 2)).alias("bigram"))
    return (big.groupBy("doc_id", "bigram")
            .agg(F.count(F.lit(1)).alias("nb"))
            .persist())


def bigram_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One tokenize pass (shared _per_doc_term_counts cache) + one
    shingle pass, down from three corpus scans: the unigram model
    re-aggregates the cached (doc, term, n) relation and per-occurrence
    sums are regrouped as count-weighted sums — identical values."""
    pdb = _per_doc_bigram_counts(spark, sf_dir)
    uni = (_per_doc_term_counts(spark, sf_dir)
           .groupBy("term").agg(F.sum("n").alias("c1"))
           .withColumnRenamed("term", "w1"))
    bfreq = pdb.groupBy("bigram").agg(F.sum("nb").alias("c12"))
    scored = (
        pdb.join(bfreq, "bigram")
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .join(uni, "w1")
        .select("doc_id", "nb",
                (F.floor(F.col("c1") / F.col("c12")) * F.col("nb"))
                .cast("long").alias("surprisal_n"))
    )
    # Mean stays in exact integer 1e-4 units (ADVICE r3): a ROUND of the
    # float quotient can hit a Spark-vs-DuckDB half-boundary rounding
    # tie; `(sum * 10000) div n` is exact in both engines (operands are
    # non-negative, so div == floor-div).
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("nb").alias("n_bigrams"),
             F.sum("surprisal_n").alias("surprisal_sum"))
        .withColumn(
            "mean_surprisal",
            F.expr("(surprisal_sum * 10000) div n_bigrams"
                   " / cast(10000 as double)"))
        .orderBy("doc_id")
    )


BIGRAM_SURPRISAL_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+') AS t
  FROM documents
),
uni AS (
  SELECT tok AS w1, COUNT(*) AS c1
  FROM toks, UNNEST(t) AS u(tok)
  WHERE tok <> ''
  GROUP BY 1
),
big AS (
  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bigram
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
bfreq AS (SELECT bigram, COUNT(*) AS c12 FROM big GROUP BY 1),
scored AS (
  SELECT doc_id, CAST(FLOOR(c1 / c12) AS BIGINT) AS surprisal
  FROM big
  JOIN bfreq USING (bigram)
  JOIN uni ON string_split(bigram, ' ')[1] = w1
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       SUM(surprisal)::BIGINT AS surprisal_sum,
       ((SUM(surprisal)::BIGINT * 10000) // COUNT(*)) / 10000.0
         AS mean_surprisal
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""

# ------------------------------------------------------- decontamination
# Benchmark decontamination: flag training docs sharing any 8-token gram
# with the held-out eval set (here: the deterministic doc_id % 50 == 0
# slice stands in for an external benchmark table). The join is an
# inverted-index equi-join on the gram hash — at corpus scale the eval
# gram set is small and broadcasts, so the pass is one scan of the
# training corpus. The n-gram-overlap rule follows the GPT-3/PaLM
# decontamination recipe.

_DECON_N = 8


def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs contaminated by 8-gram overlap with the eval slice:
    per doc, how many distinct shared grams and how many eval docs hit."""
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.lower(F.trim("text")), TOKEN_SPLIT_RE)
    grams = (
        d.select("doc_id",
                 F.explode(F.array_distinct(
                     F.transform(word_shingles(toks, _DECON_N), F.md5))).alias("g"))
    )
    eval_grams = (grams.filter(F.col("doc_id") % 50 == 0)
                  .select(F.col("doc_id").alias("eval_id"), "g"))
    train_grams = grams.filter(F.col("doc_id") % 50 != 0)
    return (
        train_grams.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared_grams"),
             F.countDistinct("eval_id").alias("n_eval_docs_hit"))
        .orderBy("doc_id")
    )


DECON_SQL = rf"""
WITH grams AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(toks[i:i+{_DECON_N - 1}], ' ')) AS g
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '[ \t\n\x0b\f\r]+') AS toks
        FROM documents),
       UNNEST(range(1, len(toks) - {_DECON_N - 2})) AS u(i)
  WHERE len(toks) >= {_DECON_N}
)
SELECT tr.doc_id,
       COUNT(DISTINCT tr.g) AS n_shared_grams,
       COUNT(DISTINCT ev.doc_id) AS n_eval_docs_hit
FROM grams tr
JOIN grams ev ON tr.g = ev.g
WHERE tr.doc_id % 50 <> 0 AND ev.doc_id % 50 = 0
GROUP BY tr.doc_id
ORDER BY tr.doc_id
"""


SPECS: list[QuerySpec] = [
    QuerySpec("wordcount_documents", wordcount_documents, WORDCOUNT_SQL,
              "FLAGSHIP: the full reference pipeline (S1..K1) on documents.text"),
    QuerySpec("corpus_curation_pipeline", corpus_curation_pipeline, CURATION_SQL,
              "lang → quality → exact-dup → near-dup keep/drop pipeline"),
    QuerySpec("quality_rules_audit", quality_rules_audit, RULES_AUDIT_SQL,
              "declarative rule engine: ALL failing rules per doc"),
    QuerySpec("dedup_connected_components", dedup_connected_components, COMPONENTS_SQL,
              "near-dup clusters via iterative label propagation (recursive-CTE oracle)"),
    QuerySpec("text_chunking_udtf", text_chunking_udtf, CHUNKING_SQL,
              "overlapping token-window chunking via Python UDTF"),
    QuerySpec("text_token_positions", text_token_positions, TOKEN_POSITIONS_SQL,
              "posexplode positional tokenization"),
    QuerySpec("text_token_stats", text_token_stats, TOKEN_STATS_SQL,
              "token counting (whitespace + BPE-ish regex)"),
    QuerySpec("text_repetition_stats", text_repetition_stats, REPETITION_SQL,
              "within-doc duplicate-ngram ratio (Gopher repetition rule)"),
    QuerySpec("text_quality_score", text_quality_score, QUALITY_SQL,
              "heuristic quality scoring (C4/Gopher-style)"),
    QuerySpec("text_language_id", text_language_id, LANGID_SQL,
              "stopword-marker language ID heuristic"),
    QuerySpec("doc_fingerprint", doc_fingerprint, FINGERPRINT_SQL,
              "shingle-hash document fingerprint"),
    QuerySpec("winnowing_fingerprints", winnowing_fingerprints, WINNOWING_SQL,
              "MOSS winnowing: min-hash per sliding k-gram window"),
    QuerySpec("bigram_surprisal_score", bigram_surprisal_score, BIGRAM_SURPRISAL_SQL,
              "bigram-LM inverse-conditional-frequency surprisal (perplexity-filter proxy)"),
    QuerySpec("span_dedup_report", span_dedup_report, SPAN_DEDUP_SQL,
              "C4-style 10-token span dedup report (cross-doc repeated spans)"),
    QuerySpec("dedup_exact_documents", dedup_exact_documents, DEDUP_EXACT_SQL,
              "exact dedup via content hash"),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_JACCARD_SQL,
              "near-dup pairs: 3-gram Jaccard via inverted-index join"),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, MINHASH_SQL,
              "MinHash-LSH candidates + exact verify (deterministic md5 perms)"),
    QuerySpec("tfidf_top_terms", tfidf_top_terms, TFIDF_SQL,
              "per-doc top-5 TF-IDF keywords (integer rational-idf)"),
    QuerySpec("unigram_rarity_score", unigram_rarity_score, RARITY_SQL,
              "corpus unigram-LM rarity score (perplexity-filter proxy)"),
    QuerySpec("decontamination_overlap", decontamination_overlap, DECON_SQL,
              "benchmark decontamination: 8-gram overlap vs eval slice"),
    QuerySpec("dedup_cluster_stats", dedup_cluster_stats, CLUSTER_STATS_SQL,
              "near-dup cluster size histogram (dedup savings report)"),
]


# ------------------------------------------------------ lexical diversity
# Type-token ratio and Gini-Simpson diversity per document — the
# standard lexical-diversity quality filters — computed entirely in
# rational arithmetic: TTR = types/tokens and Simpson = 1 - Σc²/N² are
# ratios of exact integers, so both land in e6 fixed point via integer
# floor-division with zero cross-engine float risk (log-based entropy is
# deliberately avoided: ln/log2 are not correctly-rounded and differ
# between JVM and libm — same rationale as unigram_rarity_score above).
# Plan: the (doc_id, token) count is wordcount-shaped (the engine's
# flagship aggregation) with map-side combine; the per-doc reduction
# shuffles only (docs × types) pairs. Overflow: (N² − Σc²)·1e6 ≤ N²·1e6
# → BIGINT-safe for docs up to ~3e6 tokens.


def lexical_diversity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents", fanout=True)
    toks = F.split(F.lower(F.trim("text")), TOKEN_SPLIT_RE)
    ex = (d.select("doc_id", F.explode(toks).alias("tok"))
          .filter(F.col("tok") != ""))
    cnt = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    stats = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"))
    return (
        stats.select(
            "doc_id", "n_tokens", "n_types",
            F.expr("n_types * 1000000L div n_tokens").alias("ttr_e6"),
            F.expr("(n_tokens * n_tokens - sum_sq) * 1000000L"
                   " div (n_tokens * n_tokens)").alias("simpson_e6"))
        .orderBy("doc_id")
    )


LEXICAL_DIVERSITY_SQL = r"""
WITH ex AS (
  SELECT doc_id, t.tok
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text, ' ')), '[ \t\n\x0b\f\r]+') AS toks
        FROM documents),
       UNNEST(toks) AS t(tok)
  WHERE t.tok <> ''
),
cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY doc_id, tok),
stats AS (
  SELECT doc_id, SUM(c)::BIGINT AS n_tokens, COUNT(*) AS n_types,
         SUM(c * c)::BIGINT AS sum_sq
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_types,
       n_types * 1000000 // n_tokens AS ttr_e6,
       (n_tokens * n_tokens - sum_sq) * 1000000
         // (n_tokens * n_tokens) AS simpson_e6
FROM stats
ORDER BY doc_id
"""

SPECS.append(
    QuerySpec("lexical_diversity_stats", lexical_diversity_stats,
              LEXICAL_DIVERSITY_SQL,
              "per-doc type-token ratio + Gini-Simpson diversity (e6 fixed point)"))


# ------------------------------------------------------ vocabulary growth
# Heaps-law curve: distinct-vocabulary size as the corpus is consumed in
# doc_id order, reported at 20 corpus buckets — the dataset-level
# statistic that sizes tokenizer vocabularies and predicts novelty decay
# as a training corpus grows. Scale design: "cumulative distinct" is NOT
# computed with a global ordered window over tokens (a single-partition
# scan at 100 TB). Instead each token's FIRST document (min doc_id — a
# plain hash agg) is bucketed by exact integer id-range arithmetic
# ((id-mn)*20 div span, broadcast scalar bounds, no global sort), so
# new-type counts per bucket distribute fully; the only ordered window
# runs over the <= 20 bucket rows. All counts exact BIGINT.


def _vocab_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mn, mx, bucket, txt): each document with its corpus
    bucket and the id bounds the bucket arithmetic used."""
    d = t(spark, sf_dir, "documents", fanout=True)
    bounds = d.agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
    bucket = F.expr("(doc_id - mn) * 20 div (mx - mn + 1)")
    return (d.crossJoin(F.broadcast(bounds))
            .select("doc_id", "mn", "mx", bucket.alias("bucket"),
                    F.lower(F.trim("text")).alias("txt")))


@session_memo
def _vocab_token_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (tok, bucket) partials carrying occurrence counts AND
    min doc_id: ONE corpus-sized aggregation feeds both token branches
    of vocab_growth_curve. Without materialization, per-branch column
    pruning specializes each consumer's aggregate and Catalyst plans two
    independent corpus scans — with it, tokcnt and newt are small
    re-aggs of one cached relation."""
    toks = (_vocab_buckets(spark, sf_dir)
            .select("doc_id", "bucket", "mn", "mx",
                    F.explode(F.split("txt", TOKEN_SPLIT_RE)).alias("tok"))
            .filter(F.col("tok") != ""))
    return (toks.groupBy("tok", "bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").alias("min_doc"),
                 F.first("mn").alias("mn"), F.first("mx").alias("mx"))
            .persist())


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _vocab_buckets(spark, sf_dir)
    bt = _vocab_token_buckets(spark, sf_dir)
    firsts = (bt.groupBy("tok")
              .agg(F.min("min_doc").alias("first_doc"),
                   F.first("mn").alias("mn"), F.first("mx").alias("mx")))
    newt = (firsts
            .select(F.expr("(first_doc - mn) * 20 div (mx - mn + 1)")
                    .alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("new_types")))
    tokcnt = bt.groupBy("bucket").agg(F.sum("n").alias("n_tokens"))
    doccnt = docs.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        doccnt
        .join(tokcnt, "bucket", "left")
        .join(newt, "bucket", "left")
        .select(
            "bucket", "n_docs",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("new_types", F.lit(0)).alias("new_types"))
        .withColumn("cum_types", F.sum("new_types").over(w))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .orderBy("bucket")
    )


VOCAB_GROWTH_SQL = r"""
WITH bounds AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
docs AS (
  SELECT doc_id, (doc_id - mn) * 20 // (mx - mn + 1) AS bucket,
         lower(trim(text, ' ')) AS txt
  FROM documents, bounds
),
toks AS (
  SELECT doc_id, bucket, t.tok
  FROM (SELECT doc_id, bucket,
               regexp_split_to_array(txt, '[ \t\n\x0b\f\r]+') AS toks FROM docs),
       UNNEST(toks) AS t(tok)
  WHERE t.tok <> ''
),
firsts AS (SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok),
newt AS (
  SELECT (first_doc - mn) * 20 // (mx - mn + 1) AS bucket,
         COUNT(*) AS new_types
  FROM firsts, bounds GROUP BY 1
),
tokcnt AS (SELECT bucket, COUNT(*) AS n_tokens FROM toks GROUP BY bucket),
doccnt AS (SELECT bucket, COUNT(*) AS n_docs FROM docs GROUP BY bucket)
SELECT d.bucket, d.n_docs,
       COALESCE(t.n_tokens, 0)::BIGINT AS n_tokens,
       COALESCE(nw.new_types, 0)::BIGINT AS new_types,
       CAST(SUM(COALESCE(nw.new_types, 0))
            OVER (ORDER BY d.bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_types,
       CAST(SUM(COALESCE(t.n_tokens, 0))
            OVER (ORDER BY d.bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens
FROM doccnt d
LEFT JOIN tokcnt t ON d.bucket = t.bucket
LEFT JOIN newt nw ON d.bucket = nw.bucket
ORDER BY d.bucket
"""

SPECS.append(
    QuerySpec("vocab_growth_curve", vocab_growth_curve, VOCAB_GROWTH_SQL,
              "Heaps-law vocabulary growth at 20 corpus buckets (no global sort)"))


# ------------------------------------------------- boilerplate templates
# Structural-template detection: docs generated from the same form
# letter / scraped page template share a punctuation-and-shape skeleton
# even when every word differs. Skeleton = lowercase text with every
# alphanumeric run collapsed to a single marker; docs grouping to the
# same skeleton hash are template siblings (the C4/RefinedWeb
# boilerplate-cluster step before near-dup). Regex restricted to the
# Java-regex ∩ RE2-identical subset (plain character class, no
# lookaround). Scale shape: one pruned scan computing the row-local
# skeleton hash, one hash exchange on the 32-hex key, HAVING > 1 —
# exactly the exact-dedup plan with a weaker key.


def boilerplate_template_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents", fanout=True)
    skel_hash = F.md5(
        F.regexp_replace(F.lower(F.trim("text")), "[a-z0-9]+", "w"))
    return (
        d.select(skel_hash.alias("template_hash"), "doc_id")
        .groupBy("template_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), "template_hash")
    )


BOILERPLATE_SQL = """
SELECT md5(regexp_replace(lower(trim(text, ' ')), '[a-z0-9]+', 'w', 'g'))
         AS template_hash,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc_id
FROM documents
GROUP BY 1
HAVING COUNT(*) > 1
ORDER BY n_docs DESC, template_hash
"""

SPECS.append(
    QuerySpec("boilerplate_template_clusters", boilerplate_template_clusters,
              BOILERPLATE_SQL,
              "structural-skeleton template clusters (boilerplate detection)"))


# ------------------------------------------------- langid evaluation
# Confusion matrix of the n-gram-marker language classifier against the
# labeled `lang` column — the classifier-evaluation rollup every
# curation pipeline needs before trusting a language gate. Shares
# _lang_score_exprs with text_language_id / the curation pipeline, so
# the predictor under test is EXACTLY the deployed one. Per-true-lang
# shares in exact e6 integers (floor-div). Scale shape: one pruned
# scan, row-local scoring, one tiny (true, pred) hash agg; the share
# window runs over the ≤ |langs|² matrix rows.


def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout: the only winner of the heavy-map/low-cardinality-agg class
    # in the r22 interleaved A/B (0.56 vs 0.82 s — 8 marker-filter
    # lambdas per row dwarf the exchange; the mixture/source reports
    # with one split per row LOST 1.2-1.3x and stay un-fanned,
    # logs/ab_fanout_lowcard_r22.txt)
    d = t(spark, sf_dir, "documents", fanout=True)
    scores = _lang_score_exprs()
    staged = d.select(
        F.col("lang").alias("true_lang"),
        *[c.alias(f"score_{lang}") for lang, c in scores.items()])
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_MARKERS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in sorted(_LANG_MARKERS):
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    cm = (staged.select("true_lang", pred.alias("pred_lang"))
          .groupBy("true_lang", "pred_lang")
          .agg(F.count(F.lit(1)).alias("n_docs")))
    w = Window.partitionBy("true_lang")
    return (
        cm.withColumn(
            "share_of_true_e6",
            F.expr("n_docs * 1000000 div sum(n_docs) over "
                   "(partition by true_lang)"))
        .orderBy("true_lang", "pred_lang")
    )


def _langid_confusion_sql() -> str:
    score_exprs = []
    for lang, markers in _LANG_MARKERS.items():
        in_list = ",".join(f"'{m}'" for m in markers)
        score_exprs.append(
            f"ROUND(len(list_filter(toks, x -> x IN ({in_list})))"
            f" / len(toks), 4) AS score_{lang}")
    langs_sorted = sorted(_LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"score_{l}" for l in _LANG_MARKERS) + ")"
    case = f"CASE WHEN {best} <= 0 THEN 'und' " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs_sorted) + " END"
    return rf"""
WITH base AS (
  SELECT lang AS true_lang,
         regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+') AS toks
  FROM documents
),
scored AS (
  SELECT true_lang, {", ".join(score_exprs)}
  FROM base
),
cm AS (
  SELECT true_lang, {case} AS pred_lang, COUNT(*) AS n_docs
  FROM scored
  GROUP BY 1, 2
)
SELECT true_lang, pred_lang, n_docs,
       (n_docs * 1000000
        // SUM(n_docs) OVER (PARTITION BY true_lang))::BIGINT
         AS share_of_true_e6
FROM cm
ORDER BY true_lang, pred_lang
"""


LANGID_CONFUSION_SQL = _langid_confusion_sql()

SPECS.append(
    QuerySpec("langid_confusion_matrix", langid_confusion_matrix,
              LANGID_CONFUSION_SQL,
              "confusion matrix of the deployed langid vs labeled lang (e6 shares)"))


# ---------------------------------------------- minhash recall eval
# Recall/agreement evaluation of the MinHash-LSH near-dup path against
# the exact prefix-filtered AllPairs join — the monitoring query that
# justifies (or revokes) running the O(docs x bands) approximation
# INSTEAD of the exact quadratic verify at 100 TB. One row per
# OPERATING POINT (r14; VERDICT r13 item 5):
#   fixture_t04    — 8 perms, 4 bands × 2 rows, J ≥ 0.4 (the served
#                    dedup_minhash_lsh configuration on this corpus)
#   production_t08 — 16 perms, 4 bands × 4 rows, J ≥ 0.8 (the
#                    real-near-dup-corpus point: more rows per band
#                    push the S-curve threshold to 4^(-1/4) ≈ 0.71)
# Each arm is a full-outer join of its (already verified) pair sets
# with presence markers; the exact side of t08 is the SAME AllPairs
# relation filtered to jaccard ≥ 0.8 — no second inverted-index join —
# and both arms ride the session-memoized shingle index. Demonstrates
# the re-tuning contract: (perms, bands, rows, threshold) move, the
# plan shape does not. Exact e6 recall (floor-div), NULL when the
# exact set is empty.


def _recall_arm(label: str, exact: DataFrame, lsh: DataFrame) -> DataFrame:
    merged = (exact.select("doc_a", "doc_b", F.lit(1).alias("in_exact"))
              .join(lsh.select("doc_a", "doc_b", F.lit(1).alias("in_lsh")),
                    ["doc_a", "doc_b"], "full_outer"))
    return (
        merged.agg(
            F.count("in_exact").alias("n_exact"),
            F.count("in_lsh").alias("n_lsh"),
            # coalesce: on a pair-less corpus the merged relation is
            # EMPTY and SUM returns NULL where count returns 0 — the
            # r16 one-row sweep caught the two engines splitting on
            # exactly this (counts must be 0, only recall_e6 is NULL)
            F.coalesce(
                F.sum(F.when(F.col("in_exact").isNotNull()
                             & F.col("in_lsh").isNotNull(), 1)
                      .otherwise(0)),
                F.lit(0)).alias("n_common"))
        .select(
            F.lit(label).alias("op_point"),
            "n_exact", "n_lsh", "n_common",
            F.expr("CASE WHEN n_exact > 0 "
                   "THEN n_common * 1000000 div n_exact END")
            .alias("recall_e6"))
    )


def minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = dedup_ngram_jaccard(spark, sf_dir)
    t04 = _recall_arm("fixture_t04", exact,
                      dedup_minhash_lsh(spark, sf_dir))
    cand08, sets = _minhash_candidates(
        spark, sf_dir, perms=_MINHASH_PERMS_T08,
        bands=_MINHASH_BANDS_T08, rows=_MINHASH_ROWS_T08)
    lsh08 = _verify_pairs(cand08, sets, _JACCARD_THRESHOLD_T08)
    t08 = _recall_arm(
        "production_t08",
        exact.filter(F.col("jaccard") >= _JACCARD_THRESHOLD_T08), lsh08)
    return t04.unionByName(t08).orderBy("op_point")


def _minhash_recall_arm_sql(label: str, exact_sql: str,
                            lsh_sql: str) -> str:
    return f"""
SELECT '{label}' AS op_point,
       COALESCE(SUM(in_exact), 0)::BIGINT AS n_exact,
       COALESCE(SUM(in_lsh), 0)::BIGINT AS n_lsh,
       COALESCE(SUM(in_exact * in_lsh), 0)::BIGINT AS n_common,
       CASE WHEN SUM(in_exact) > 0
            THEN (SUM(in_exact * in_lsh) * 1000000 // SUM(in_exact))::BIGINT
       END AS recall_e6
FROM (
  SELECT COALESCE(e.in_exact, 0) AS in_exact,
         COALESCE(l.in_lsh, 0) AS in_lsh
  FROM (SELECT doc_a, doc_b, 1 AS in_exact FROM ({exact_sql})) e
  FULL JOIN (SELECT doc_a, doc_b, 1 AS in_lsh FROM ({lsh_sql})) l
  USING (doc_a, doc_b)
)"""


MINHASH_RECALL_SQL = f"""
SELECT * FROM ({_minhash_recall_arm_sql(
    'fixture_t04', DEDUP_JACCARD_SQL.strip(), MINHASH_SQL.strip())})
UNION ALL
SELECT * FROM ({_minhash_recall_arm_sql(
    'production_t08',
    f"SELECT doc_a, doc_b FROM ({DEDUP_JACCARD_SQL.strip()}) "
    f"WHERE jaccard >= {_JACCARD_THRESHOLD_T08}",
    _minhash_sql(_MINHASH_PERMS_T08, _MINHASH_BANDS_T08,
                 _MINHASH_ROWS_T08, _JACCARD_THRESHOLD_T08).strip())})
ORDER BY op_point
"""

SPECS.append(
    QuerySpec("minhash_recall_eval", minhash_recall_eval,
              MINHASH_RECALL_SQL,
              "MinHash-LSH recall vs exact AllPairs at both operating "
              "points (fixture J>=0.4, production J>=0.8)"))


# ------------------------------------------------ tokenizer fertility
# Chars-per-token by language — the tokenizer-fertility proxy that
# decides vocabulary allocation across languages (high fertility =
# under-tokenized language). Exact e6 integer ratio of two exact sums;
# n_chars comes from the typed column (no re-derivation), token counts
# from the shared tokenize split. One pruned scan, row-local counts,
# one |langs|-row aggregate.


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), TOKEN_SPLIT_RE)
    per = d.select(
        "lang", F.col("n_chars"),
        F.size(F.filter(toks, lambda x: x != "")).cast("long")
        .alias("n_toks"))
    return (
        per.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"),
             F.sum("n_toks").alias("total_tokens"))
        .select("lang", "n_docs", "total_chars", "total_tokens",
                # zero-token guard (ADVICE r12): Spark div yields NULL on
                # /0 but DuckDB // raises — CASE in BOTH engines keeps the
                # parity harness a value-compare, never a hard error
                F.expr("CASE WHEN total_tokens > 0 THEN "
                       "total_chars * 1000000 div total_tokens END")
                .alias("chars_per_token_e6"))
        .orderBy("lang")
    )


FERTILITY_SQL = r"""
WITH per AS (
  SELECT lang, n_chars,
         len(list_filter(regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+'),
                         x -> x <> ''))::BIGINT AS n_toks
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       SUM(n_chars)::BIGINT AS total_chars,
       SUM(n_toks)::BIGINT AS total_tokens,
       CASE WHEN SUM(n_toks) > 0
            THEN (SUM(n_chars) * 1000000 // SUM(n_toks))::BIGINT
       END AS chars_per_token_e6
FROM per
GROUP BY lang
ORDER BY lang
"""

SPECS.append(
    QuerySpec("tokenizer_fertility_by_lang", tokenizer_fertility_by_lang,
              FERTILITY_SQL,
              "chars-per-token by language (tokenizer fertility, exact e6)"))


# ------------------------------------------------- Zipf rank-frequency
# Rank-frequency head of the corpus unigram distribution — the Zipf
# diagnostic behind vocabulary sizing (is the corpus natural-language-
# shaped, or did a boilerplate flood flatten the head?). Reads the
# memoized (doc, term, n) posting relation (_per_doc_term_counts), so
# in-session it costs one |vocab|-row re-aggregation — no new corpus
# scan. The top-k cut is orderBy().limit() = TakeOrderedAndProject
# (per-partition heaps, driver merges k×|partitions| rows); the ranking
# window then sees k rows, never |vocab| (the events_burst_topk idiom).
# ratio_next_e6 (freq vs the next rank, the local Zipf slope proxy) is
# exact pure-BIGINT via the split-multiplier share expr.

_ZIPF_TOP_K = 100


def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    freq = (_per_doc_term_counts(spark, sf_dir)
            .groupBy("term").agg(F.sum("n").alias("freq")))
    order = [F.col("freq").desc(), F.col("term").asc()]
    top = freq.orderBy(*order).limit(_ZIPF_TOP_K)
    w = Window.orderBy(*order)
    return (
        top.select(F.row_number().over(w).alias("rk"), "term", "freq",
                   F.lead("freq").over(w).alias("_next"))
        .select("rk", "term", "freq",
                F.expr("CASE WHEN _next IS NOT NULL AND _next > 0 THEN "
                       + _share_e6_expr("freq", "_next")
                       + " END").alias("ratio_next_e6"))
        .orderBy("rk")
    )


ZIPF_SQL = r"""
WITH toks AS (
  SELECT tok AS term
  FROM documents,
       UNNEST(regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+')) AS u(tok)
  WHERE tok <> ''
),
freq AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1),
top AS (SELECT term, freq FROM freq ORDER BY freq DESC, term ASC LIMIT 100),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rk,
         term, freq,
         LEAD(freq) OVER (ORDER BY freq DESC, term ASC) AS nxt
  FROM top
)
SELECT CAST(rk AS INT) AS rk, term, freq,
       CASE WHEN nxt IS NOT NULL AND nxt > 0 THEN
         ((freq * 1000 // nxt) * 1000
          + ((freq * 1000 % nxt) * 1000) // nxt)::BIGINT
       END AS ratio_next_e6
FROM ranked
ORDER BY rk
"""

SPECS.append(
    QuerySpec("zipf_rank_frequency", zipf_rank_frequency, ZIPF_SQL,
              "top-100 token rank-frequency head with exact e6 rank-ratio"))


# ------------------------------------------------------- OOV rate by lang
# Out-of-vocabulary share per language against a top-K corpus vocabulary
# — the tokenizer-coverage report (which languages a frequency-built
# vocab underserves; pairs with tokenizer_fertility_by_lang). Vocab =
# top-1000 corpus tokens (freq desc, term asc — deterministic at the
# boundary), built from the memoized posting relation and broadcast to
# the per-(doc, term) join; lang arrives via a cheap 2-column projection
# join on doc_id, NOT a re-tokenize. OOV share is exact pure-BIGINT e6
# (overflow-safe split multiplier; a plain n*1e6 overflows at ~9e12
# tokens — real at 100 TB), zero-guarded in both engines.

_OOV_VOCAB_K = 1000


def oov_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    pdt = _per_doc_term_counts(spark, sf_dir)
    freq = pdt.groupBy("term").agg(F.sum("n").alias("freq"))
    vocab = (freq.orderBy(F.col("freq").desc(), F.col("term").asc())
             .limit(_OOV_VOCAB_K)
             .select("term", F.lit(1).alias("_inv")))
    langs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    per = (
        pdt.join(langs, "doc_id")
        .join(F.broadcast(vocab), "term", "left")
        .groupBy("lang")
        .agg(F.sum("n").alias("n_tokens"),
             F.sum(F.when(F.col("_inv").isNull(), F.col("n"))
                   .otherwise(F.lit(0))).alias("n_oov"))
    )
    return (
        per.select("lang", "n_tokens", "n_oov",
                   F.expr("CASE WHEN n_tokens > 0 THEN "
                          + _share_e6_expr("n_oov", "n_tokens")
                          + " END").alias("oov_share_e6"))
        .orderBy("lang")
    )


OOV_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok AS term
  FROM documents,
       UNNEST(regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+')) AS u(tok)
  WHERE tok <> ''
),
freq AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1),
vocab AS (
  SELECT term, 1 AS inv FROM freq ORDER BY freq DESC, term ASC LIMIT 1000
),
per AS (
  SELECT d.lang,
         COUNT(*) AS n_tokens,
         SUM(CASE WHEN v.inv IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
  FROM toks tk
  JOIN documents d USING (doc_id)
  LEFT JOIN vocab v USING (term)
  GROUP BY d.lang
)
SELECT lang, n_tokens, n_oov,
       CASE WHEN n_tokens > 0 THEN
         ((n_oov * 1000 // n_tokens) * 1000
          + ((n_oov * 1000 % n_tokens) * 1000) // n_tokens)::BIGINT
       END AS oov_share_e6
FROM per
ORDER BY lang
"""

SPECS.append(
    QuerySpec("oov_rate_by_lang", oov_rate_by_lang, OOV_SQL,
              "per-language OOV token share vs a top-1000 corpus vocab (e6)"))


# --------------------------------------------------- PMI collocations
# Top-20 adjacent-token collocations by pointwise-mutual-information
# LIFT: lift = P(w1 w2) / (P(w1)·P(w2)) = c12·N / (c1·c2) — the
# phrase-mining statistic (BPE merge candidates, stopword-pair
# screening). Exactness at any scale: the products c12·N·1e6 and c1·c2
# exceed BIGINT long before 100 TB, so the ratio is computed in
# DECIMAL(38,0) integer arithmetic — Spark's decimal `div` and DuckDB's
# HUGEINT `//` produce the identical exact floor quotient (verified:
# 1e35-scale operands, bit-equal). N ≈ 1e14 tokens and c12 ≤ N keep
# c12·N·1e6 ≤ 1e34 < 1e38. Min support c12 ≥ 20 bounds the ranked set
# to real collocations; both model relations ride the session memos
# (no new corpus scan in-session).

_PMI_TOP_K = 20
_PMI_MIN_SUPPORT = 20


def token_pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    uni = (_per_doc_term_counts(spark, sf_dir)
           .groupBy("term").agg(F.sum("n").alias("c")))
    total = uni.agg(F.sum("c").alias("_n"))
    bi = (_per_doc_bigram_counts(spark, sf_dir)
          .groupBy("bigram").agg(F.sum("nb").alias("c12"))
          .filter(F.col("c12") >= _PMI_MIN_SUPPORT))
    w1 = uni.select(F.col("term").alias("w1"), F.col("c").alias("c1"))
    w2 = uni.select(F.col("term").alias("w2"), F.col("c").alias("c2"))
    lift = F.expr(
        "(cast(c12 as decimal(38,0)) * cast(_n as decimal(38,0)) * 1000000)"
        " div (cast(c1 as decimal(38,0)) * cast(c2 as decimal(38,0)))")
    scored = (
        bi.withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("w2", F.split("bigram", " ").getItem(1))
        .join(w1, "w1").join(w2, "w2")
        .crossJoin(F.broadcast(total))
        .select("bigram", "c12", "c1", "c2",
                lift.cast("long").alias("lift_e6"))
    )
    order = [F.col("lift_e6").desc(), F.col("bigram").asc()]
    top = scored.orderBy(*order).limit(_PMI_TOP_K)
    return (
        top.select(F.row_number().over(Window.orderBy(*order)).alias("rk"),
                   "bigram", "c12", "c1", "c2", "lift_e6")
        .orderBy("rk")
    )


PMI_SQL = r"""
WITH arrs AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text), ' '), '[ \t\n\x0b\f\r]+') AS t
  FROM documents
),
uni AS (
  SELECT tok AS term, COUNT(*) AS c
  FROM arrs, UNNEST(t) AS u(tok)
  WHERE tok <> ''
  GROUP BY 1
),
total AS (SELECT SUM(c) AS n FROM uni),
big AS (
  SELECT array_to_string(t[i:i+1], ' ') AS bigram
  FROM arrs, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
bi AS (
  SELECT bigram, COUNT(*) AS c12 FROM big
  GROUP BY 1
  HAVING COUNT(*) >= 20
),
scored AS (
  SELECT bigram, c12, u1.c AS c1, u2.c AS c2,
         ((c12::HUGEINT * n * 1000000)
          // (u1.c::HUGEINT * u2.c))::BIGINT AS lift_e6
  FROM bi
  JOIN uni u1 ON u1.term = split_part(bigram, ' ', 1)
  JOIN uni u2 ON u2.term = split_part(bigram, ' ', 2)
  CROSS JOIN total
),
top AS (
  SELECT * FROM scored ORDER BY lift_e6 DESC, bigram ASC LIMIT 20
)
SELECT ROW_NUMBER() OVER (ORDER BY lift_e6 DESC, bigram ASC)::INT AS rk,
       bigram, c12, c1, c2, lift_e6
FROM top
ORDER BY rk
"""

SPECS.append(
    QuerySpec("token_pmi_top_pairs", token_pmi_top_pairs, PMI_SQL,
              "top-20 adjacent collocations by exact PMI lift (DECIMAL(38) e6)"))


# ------------------------------------------- cross-source dup matrix
# Which sources copy from each other: verified near-dup pairs (the
# exact AllPairs J>=0.4 set) cross-tabbed by the two docs' sources,
# with the pair normalized so (source_a, source_b) is lexicographically
# ordered — an upper-triangular source×source matrix. The diagonal is
# intra-source duplication (boilerplate); off-diagonal mass is
# syndication/mirroring, the signal curation uses to pick ONE canonical
# source. In-session the verified pair set rides _verified_jaccard_pairs
# (no new shingle pass); the source lookup is a cheap 2-column projection
# joined twice on doc id. Output bounded by |sources|².


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"),
                    F.col("source").alias("_sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"),
                    F.col("source").alias("_sb"))
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .select(F.least("_sa", "_sb").alias("source_a"),
                F.greatest("_sa", "_sb").alias("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


CROSS_SOURCE_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM ({DEDUP_JACCARD_SQL.strip()})
)
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs
FROM pairs
JOIN documents da ON da.doc_id = pairs.doc_a
JOIN documents db ON db.doc_id = pairs.doc_b
GROUP BY 1, 2
ORDER BY source_a, source_b
"""

SPECS.append(
    QuerySpec("dedup_cross_source_matrix", dedup_cross_source_matrix,
              CROSS_SOURCE_SQL,
              "near-dup pair counts cross-tabbed by source pair (who copies whom)"))
