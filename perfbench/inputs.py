"""Deterministic, untimed input builders for the benchmark.

What they build is written under ``perfbench/.data`` (gitignored) and
reused when the same inputs are asked for again:

- ``tables()``: the engine's seed-42 sf0.01 test fixture (ten tables:
  the TPC-H-like star + events + documents + embeddings), committed as
  a snapshot under ``perfbench/fixture/sf0.01`` and read in place. The
  batch-query workload reads it, so it is the same on every ``--seed``.
- ``events_stream_files(root, seed, ...)``: the fixture's earliest
  events, ``ts`` as µs timestamps, sorted by event time, cut into
  parquet files at seeded cut points, rows shuffled
  within each file by the seed, file mtimes increasing so the file
  source replays them in time order.
- ``zipf_corpus(root, seed, ...)``: a multi-file text corpus whose token
  stream is drawn from a Zipf distribution by the seed, plus the exact
  expected word-count CSV computed with a pure-Python ``Counter``.

Each builder returns a small dict with the paths it made and an input
fingerprint (row counts and bytes).
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = Path(__file__).resolve().parent / "fixture" / "sf0.01"


def _write(table: pa.Table, path: Path) -> None:
    tmp = path.with_suffix(".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def _fingerprint(paths: list[Path], rows: int) -> dict:
    return {"rows": int(rows), "bytes": int(sum(p.stat().st_size for p in paths)),
            "files": len(paths)}


def _done(d: Path) -> dict | None:
    marker = d / "_INPUT.json"
    return json.loads(marker.read_text()) if marker.exists() else None


def _finish(d: Path, info: dict) -> dict:
    (d / "_INPUT.json").write_text(json.dumps(info, sort_keys=True))
    return info


def tables() -> dict:
    """The committed snapshot of the engine's seed-42 sf0.01 test fixture,
    one parquet file per table, read in place."""
    paths = sorted(FIXTURE.glob("*.parquet"))
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    return {"dir": str(FIXTURE), "fingerprint": _fingerprint(paths, rows)}


def events_stream_files(root: Path, seed: int, n_files: int, n_rows: int) -> dict:
    """Time-ordered µs-timestamp event files for the file-source stream,
    the same rows as one ``events.parquet`` table for the batch twin."""
    d = root / f"events_stream_s{seed}_f{n_files}_r{n_rows}"
    info = _done(d)
    if info:
        return info
    src = pq.read_table(FIXTURE / "events.parquet")
    src = src.set_column(src.schema.get_field_index("ts"), "ts",
                         src.column("ts").cast(pa.timestamp("us")))
    order = np.argsort(src.column("ts").to_numpy(), kind="stable")
    ev = src.take(pa.array(order[:n_rows]))
    rng = np.random.default_rng(seed)
    n = ev.num_rows
    # seeded cut points: every file holds between half and 1.5x its share
    share = n / n_files
    sizes = np.maximum(1, np.round(share * rng.uniform(0.5, 1.5, n_files))).astype(int)
    cuts = np.minimum(np.cumsum(sizes) * n // sizes.sum(), n)
    stream_dir, twin_dir = d / "stream", d / "twin"
    for sub in (stream_dir, twin_dir):
        sub.mkdir(parents=True, exist_ok=True)
    paths, lo = [], 0
    base_mtime = 1_700_000_000
    for i, hi in enumerate(cuts):
        part = ev.slice(lo, int(hi) - lo)
        part = part.take(pa.array(rng.permutation(part.num_rows)))
        p = stream_dir / f"events-{i:04d}.parquet"
        _write(part, p)
        os.utime(p, (base_mtime + i, base_mtime + i))
        paths.append(p)
        lo = int(hi)
    _write(ev, twin_dir / "events.parquet")
    return _finish(d, {"stream_dir": str(stream_dir), "twin_dir": str(twin_dir),
                       "fingerprint": _fingerprint(paths, n)})


_WORD_RE = re.compile(r"\W")


def _vocab(size: int) -> list[str]:
    """A fixed pseudo-word vocabulary (independent of the run seed)."""
    rng = np.random.default_rng(7)
    syll = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        w = "".join(syll[i] for i in rng.integers(0, len(syll), int(rng.integers(1, 5))))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def zipf_corpus(root: Path, seed: int, n_files: int, n_tokens: int,
                vocab_size: int, zipf_s: float = 1.1) -> dict:
    """Zipf-distributed text files and the exact expected word count.

    A small share of tokens is capitalized or carries trailing
    punctuation, so the engine's normalize step has work to do; the
    expected counts apply the same normalization (strip non-word
    characters, lower-case) to every generated token."""
    d = root / f"corpus_s{seed}_f{n_files}_t{n_tokens}_v{vocab_size}"
    info = _done(d)
    if info:
        return info
    vocab = _vocab(vocab_size)
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    ids = rng.choice(vocab_size, n_tokens, p=p / p.sum())
    deco = rng.integers(0, 100, n_tokens)
    tokens = [vocab[i] for i in ids]
    for j in np.flatnonzero(deco < 5):
        tokens[j] = tokens[j].capitalize()
    for j in np.flatnonzero(deco >= 98):
        tokens[j] = tokens[j] + ("," if deco[j] == 98 else ".")
    counts = Counter(_WORD_RE.sub("", tok).lower() for tok in tokens)
    text_dir = d / "text"
    text_dir.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, n_tokens, n_files + 1).astype(int)
    paths = []
    for f in range(n_files):
        lines, lo, hi = [], int(bounds[f]), int(bounds[f + 1])
        while lo < hi:
            step = int(rng.integers(4, 20))
            lines.append(" ".join(tokens[lo:min(hi, lo + step)]))
            lo += step
        path = text_dir / f"part-{f:04d}.txt"
        path.write_text("\n".join(lines) + "\n")
        paths.append(path)
    rows = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))
    expected = d / "expected.csv"
    expected.write_text("word,count\n" + "".join(f"{w},{c}\n" for w, c in rows))
    return _finish(d, {"text_dir": str(text_dir), "expected": str(expected),
                       "distinct_words": len(rows),
                       "fingerprint": _fingerprint(paths, n_tokens)})
