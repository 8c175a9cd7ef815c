"""Correctness checks, run outside the timed phase.

Rankings are lists of (doc_id, score) in rank order.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np

from pyspark_codesearch.analysis import tokenize_py
from pyspark_codesearch.codecs import varbyte_decode
from pyspark_codesearch.engine import bm25_oracle_sql

TOL = 1e-6


def rankings_match(got, want, k: int = 10, tol: float = TOL) -> bool:
    """`got` is a correct top-k of the ranking `want`.

    `want` may run past k so that ties straddling rank k are visible:
    every rank's score and every returned document's own score must
    agree; among documents tied with the k-th score any subset is a
    correct answer, and above that score the id sets must be equal.
    """
    if len(got) != min(k, len(want)):
        return False
    if any(abs(g[1] - w[1]) > tol for g, w in zip(got, want)):
        return False
    score_of = dict(want)
    if any(d not in score_of or abs(score_of[d] - s) > tol for d, s in got):
        return False
    if not got:
        return True
    edge = got[-1][1]
    above = lambda rows: {d for d, s in rows if s > edge + tol}  # noqa: E731
    tied = lambda rows: {d for d, s in rows if abs(s - edge) <= tol}  # noqa: E731
    return above(got) == above(want) and tied(got) <= tied(want)


def marker_ok(rows, target_id: int) -> bool:
    """A freshly upserted marker term returns the upserted file at rank 1."""
    return bool(rows) and rows[0][0] == target_id


def stale_ok(rows) -> bool:
    """The marker the upsert replaced returns nothing."""
    return not rows


class Oracle:
    """DuckDB running the engine's own BM25 SQL over the stored docs table."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.con = duckdb.connect()

    def refresh(self) -> None:
        docs = os.path.realpath(os.path.join(self.index_dir, "docs"))
        self.con.execute(
            "CREATE OR REPLACE VIEW documents AS SELECT doc_id, content AS text "
            f"FROM read_parquet('{docs}/*.parquet')"
        )

    def topk(self, query: str, k: int = 10):
        sql = bm25_oracle_sql(query, k=k + 10, round_to=9)
        return [(int(d), float(s)) for d, s in self.con.execute(sql).fetchall()]

    def doc_id(self, path: str) -> int:
        docs = os.path.realpath(os.path.join(self.index_dir, "docs"))
        return int(self.con.execute(
            f"SELECT doc_id FROM read_parquet('{docs}/*.parquet') WHERE path = ?", [path]
        ).fetchone()[0])

    def close(self) -> None:
        self.con.close()


def expected_postings(contents) -> int:
    """One posting per distinct token per file."""
    return sum(len(set(tokenize_py(c))) for c in contents)


def segment_blocks(index_dir: str):
    """(n_docs, doc_ids_enc, tfs_enc, term, salt) of every stored block."""
    files = glob.glob(os.path.join(index_dir, "segments", "bucket=*", "*.parquet"))
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT n_docs, doc_ids_enc, tfs_enc, term, salt FROM read_parquet(?, hive_partitioning=false)",
            [files],
        ).fetchall()
    finally:
        con.close()


def decoded_postings(blocks) -> int:
    """Postings reproduced by decoding every block; -1 if a block's
    decoded length disagrees with its n_docs."""
    total = 0
    for n, ids, tfs, _, _ in blocks:
        a, b = varbyte_decode(ids), varbyte_decode(tfs)
        if a.size != n or b.size != n or (b == 0).any():
            return -1
        total += int(a.size)
    return total


def decode_mb_s(blocks, reps: int = 3) -> float:
    """varbyte_decode throughput over the index's own stored blocks."""
    import time

    bufs = [ids for _, ids, _, _, _ in blocks] + [tfs for _, _, tfs, _, _ in blocks]
    nbytes = sum(len(b) for b in bufs)
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        for b in bufs:
            varbyte_decode(b)
        out.append(time.perf_counter() - t)
    return nbytes / 1e6 / float(np.median(out))
