"""Seeded inputs besides the corpus (which is the engine's own
`corpus.generate_corpus`): query pool, Zipf request stream, upsert versions.

Everything here is a pure function of its arguments; the engine only ever
sees what these functions return.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from pyspark_codesearch.analysis import tokenize_py

MARKERS = ("freshmarkalpha", "freshmarkbeta")


def query_pool(pdf: pd.DataFrame, seed: int, n_each: int = 6) -> list[str]:
    """Rare-identifier + context queries alternating with common multi-term ones.

    A rare query names one file's `uniqtermNNNNNN` plus two tokens from
    that file; a common query is 3 of the corpus's 40 most frequent
    terms. Pool order is the Zipf rank order; alternating the two kinds
    keeps their share of the traffic the same for every seed.
    """
    rng = np.random.default_rng([seed, 1])
    toks = [tokenize_py(c) for c in pdf["content"]]
    df = Counter(t for ts in toks for t in set(ts))
    common = [t for t, _ in df.most_common(40)]
    rare: list[str] = []
    for i in rng.choice(len(pdf), size=n_each, replace=False):
        ctx = [t for t in dict.fromkeys(toks[i]) if t != "uniqterm" and not t.isdigit()]
        picks = rng.choice(len(ctx), size=2, replace=False)
        rare.append(" ".join([f"uniqterm{int(i):06d}"] + [ctx[j] for j in sorted(picks)]))
    multi = []
    for _ in range(n_each):
        multi.append(" ".join(common[j] for j in sorted(rng.choice(40, size=3, replace=False))))
    return [q for pair in zip(rare, multi) for q in pair]


class ZipfStream:
    """Seeded draws from a pool with weight 1/rank."""

    def __init__(self, pool: list[str], seed: int):
        self.pool = pool
        w = 1.0 / np.arange(1, len(pool) + 1)
        self._p = w / w.sum()
        self._rng = np.random.default_rng([seed, 2])

    def next(self) -> str:
        return self.pool[int(self._rng.choice(len(self.pool), p=self._p))]

    def batch(self, n: int = 8) -> dict[str, str]:
        return {f"q{i}": self.next() for i in range(n)}


def upsert_target(pdf: pd.DataFrame) -> int:
    """Row of the file every upsert op rewrites: the first file of median
    length, so the write's size does not swing with the seed."""
    lengths = pdf["content"].str.len()
    return int(lengths.sub(lengths.median()).abs().idxmin())


def upsert_version(pdf: pd.DataFrame, row: int, op: int) -> pd.DataFrame:
    """Op `op`'s version of the target file: its content plus a marker
    term that alternates every op, so the index returns to the same state
    every two ops. Op -1 is the version the index is built with, so even
    the first op replaces a marker."""
    v = pdf.iloc[[row]].copy()
    v["content"] = v["content"] + " " + MARKERS[op % 2]
    return v


def with_version(pdf: pd.DataFrame, row: int, op: int) -> pd.DataFrame:
    """The corpus with the target file at op `op`'s version."""
    out = pdf.copy()
    out.iloc[row, out.columns.get_loc("content")] = upsert_version(pdf, row, op)["content"].iloc[0]
    return out
