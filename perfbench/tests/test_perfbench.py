"""The benchmark's own checks: seeded generators, the percentile rule,
the correctness gates, and BENCHMARK.json agreeing with the code.

    python -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gate, gen  # noqa: E402
from perfbench.measure import Tracer, tail_percentile  # noqa: E402
from pyspark_codesearch.codecs import encode_blocked  # noqa: E402
from pyspark_codesearch.corpus import generate_corpus  # noqa: E402


def test_generators_are_deterministic_per_seed():
    a, b, c = generate_corpus(60, 5), generate_corpus(60, 5), generate_corpus(60, 6)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)
    pool = gen.query_pool(a, 5)
    assert pool == gen.query_pool(b, 5)
    assert pool != gen.query_pool(c, 6)
    assert len(set(pool)) == len(pool) == 12
    s1, s2 = gen.ZipfStream(pool, 5), gen.ZipfStream(pool, 5)
    assert [s1.next() for _ in range(50)] == [s2.next() for _ in range(50)]
    assert s1.batch() == s2.batch()
    row = gen.upsert_target(a)
    assert row == gen.upsert_target(b)
    lengths = a["content"].str.len()
    assert (lengths < lengths[row]).sum() <= len(a) // 2 <= (lengths <= lengths[row]).sum()
    v0, v1, v2 = (gen.upsert_version(a, row, op)["content"].iloc[0] for op in range(3))
    assert v0 == v2 != v1
    assert v0.endswith(gen.MARKERS[0]) and v1.endswith(gen.MARKERS[1])
    base = gen.with_version(a, row, -1)
    assert base["content"].iloc[row] == v1
    assert base.drop(index=row).equals(a.drop(index=row))


def test_rare_queries_name_their_file():
    pdf = generate_corpus(60, 9)
    pool = gen.query_pool(pdf, 9)
    rare = [q for q in pool if re.match(r"uniqterm\d{6} ", q)]
    assert rare == pool[0::2] and len(rare) == 6  # kinds alternate in rank order
    for q in rare:
        ident = q.split()[0]
        assert ident in pdf["content"].iloc[int(ident[len("uniqterm"):])]


@pytest.mark.parametrize("n", range(1, 600))
def test_tail_percentile_leaves_ten_samples_beyond(n):
    p = tail_percentile(n)
    higher = [q for q in (99, 95, 90, 80, 75) if p is None or q > p]
    if p is not None:
        assert n * (100 - p) / 100 >= 10
    assert all(n * (100 - q) / 100 < 10 for q in higher)


def test_tail_percentile_examples():
    assert tail_percentile(1000) == 99
    assert tail_percentile(200) == 95
    assert tail_percentile(100) == 90
    assert tail_percentile(50) == 80
    assert tail_percentile(40) == 75
    assert tail_percentile(39) is None


def test_ranking_gate_flags_wrong_rankings():
    want = [(1, 3.0), (2, 2.0), (3, 1.0), (4, 1.0), (5, 0.5)]
    assert gate.rankings_match(want[:3], want, k=3)
    assert gate.rankings_match([(1, 3.0), (2, 2.0), (4, 1.0)], want, k=3)  # tie at rank k
    assert not gate.rankings_match([(2, 3.0), (1, 2.0), (3, 1.0)], want, k=3)  # swapped ids
    assert not gate.rankings_match([(1, 3.0), (2, 2.1), (3, 1.0)], want, k=3)  # wrong score
    assert not gate.rankings_match([(1, 3.0), (2, 2.0), (9, 1.0)], want, k=3)  # wrong tie member
    assert not gate.rankings_match([(1, 3.0), (3, 2.0), (2, 1.0)], want, k=3)  # ids keep wrong scores
    assert not gate.rankings_match(want[:2], want, k=3)  # short
    assert gate.rankings_match([], [], k=3)


def test_marker_gate_flags_stale_and_missing_markers():
    assert gate.marker_ok([(7, 1.2)], 7)
    assert not gate.marker_ok([], 7)
    assert not gate.marker_ok([(8, 1.2), (7, 1.0)], 7)
    assert gate.stale_ok([])
    assert not gate.stale_ok([(7, 1.2)])


def test_oracle_ranking_and_injected_swap(tmp_path):
    pdf = generate_corpus(40, 3)
    docs = tmp_path / "docs"
    docs.mkdir()
    pdf.assign(doc_id=np.arange(len(pdf), dtype=np.int64)).to_parquet(docs / "part-0.parquet")
    oracle = gate.Oracle(str(tmp_path))
    oracle.refresh()
    try:
        q = gen.query_pool(pdf, 3)[0]  # rank 1 is a rare-identifier query
        want = oracle.topk(q)
        top = want[:10]
        assert len(top) >= 2 and top[0][1] > top[1][1]
        assert gate.rankings_match(top, want)
        swapped = [(top[1][0], top[0][1]), (top[0][0], top[1][1])] + top[2:]
        assert not gate.rankings_match(swapped, want)
        assert oracle.doc_id(pdf["path"].iloc[5]) == 5
    finally:
        oracle.close()


def test_build_gate_counts_and_decodes():
    assert gate.expected_postings(["a b b c", "The data data"]) == 3  # "a" and "the" are stopwords
    ids = np.arange(0, 300, 2, dtype=np.int64)
    tfs = np.ones(ids.size, dtype=np.int64)
    id_bufs, tf_bufs = encode_blocked(ids, tfs, 128)
    blocks = [(len(range(i * 128, min(ids.size, i * 128 + 128))), a, b, "t", 0)
              for i, (a, b) in enumerate(zip(id_bufs, tf_bufs))]
    assert gate.decoded_postings(blocks) == ids.size
    assert gate.decoded_postings([(blocks[0][0] + 1,) + blocks[0][1:]]) == -1


def test_tracer_self_time_excludes_children():
    t = Tracer(True)
    with t.span("lineage.upsert", req=1):
        with t.span("engine.search"):
            pass
    parent = next(s for s in t.spans if s["name"] == "lineage.upsert")
    child = next(s for s in t.spans if s["name"] == "engine.search")
    assert child["parent"] == parent["id"] and child["req"] == 1
    st = t.self_times()
    assert st["lineage.upsert"] == pytest.approx(
        (parent["end"] - parent["start"]) - (child["end"] - child["start"]))
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_benchmark_json_matches_the_code():
    from perfbench import run, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS) == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER_UNITS
    assert spec["command"] == ["python3", "perfbench/run.py"]
