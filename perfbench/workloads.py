"""The two workloads, `search` and `update`, and the set-up they share.

Both build a dense-id index from a seeded corpus in set-up, open it the
way a long-lived query service does (snapshot-pinned, cached tables plus
a resident term dictionary), warm it, then run a one-client closed loop
for the requested number of seconds.
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

from pyspark.sql import functions as F

from pyspark_codesearch import corpus, engine, lineage, wand
from pyspark_codesearch.analysis import tokenize_py
from pyspark_codesearch.corpus import generate_corpus
from pyspark_codesearch.indexing import CorpusStats

from . import gate, gen
from .measure import halves_p50, median, percentile, tail_percentile

SALT_RANGE = 1 << 20  # scripts/build_index.py default
N_BUCKETS = 2
K = 10
SEARCH_FILES = 300
UPDATE_FILES = 200
BATCH_EVERY = 10  # every tenth search request is a batch
BATCH_SIZE = 8
READS_PER_OP = 8  # even: half rare, half common queries
WARMUP_PASSES = 2  # p50 is still falling after 3; the run budget allows 2

# layers whose Spark cost is read per job group in a traced run
SPARK_LAYERS = ("lineage.build", "corpus.ingest", "lineage.open", "wand.dict_lookup",
                "engine.search", "lineage.load_segments", "wand.batch", "lineage.upsert")
# span names grouped into the layer their self time is charged to
SELF_LAYERS = ("bench", "session", "corpus", "lineage", "wand", "engine", "codecs")
ROUTES = ("exact", "selective", "full")
E2E_UNITS = {"setup_s": "s", "search_p50_ms": "ms", "loop_ops_per_s": "1/s",
             "disk_bytes_per_content_byte": "ratio"}


def dir_files(path: str) -> dict[str, int]:
    """Size of every regular file under path (symlinks are not followed)."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                out[p] = os.path.getsize(p)
    return out


class Index:
    """A built index opened for queries: cached snapshot-pinned tables
    and a resident TermDictionary, re-opened after every write. Caches
    fill on first use, as in a service that opens lazily."""

    def __init__(self, spark, path: str, probe, obs: dict):
        self.spark, self.path, self.probe, self.obs = spark, path, probe, obs
        self.frames: list = []
        self.td = None

    def open(self) -> None:
        spark, ix = self.spark, self.path
        self.close()
        postings = None
        for b in lineage.segment_bucket_ids(ix):
            p = lineage.read_table(spark, ix, f"postings/bucket={b}")
            postings = p if postings is None else postings.unionByName(p)
        self.postings = postings.cache()
        self.doc_lens = lineage.read_table(spark, ix, "doc_lens").cache()
        self.term_stats = lineage.read_table(spark, ix, "term_stats").cache()
        self.segments = lineage.load_segments(spark, ix).cache()
        self.frames = [self.postings, self.doc_lens, self.term_stats, self.segments]
        st = lineage.read_table(spark, ix, "stats").collect()[0]
        self.stats = CorpusStats(int(st["n_docs"]), float(st["avgdl"]))
        self.scale = lineage.impact_scale(ix, self.stats.avgdl)
        if self.td is None:
            self.td = wand.TermDictionary.for_index(spark, ix)
        else:
            self.td.invalidate()

    def close(self) -> None:
        for f in self.frames:
            f.unpersist()
        self.frames = []

    def search(self, query: str, req: int | None = None):
        """Interactive single query: dictionary lookup, routed top-k."""
        obs, probe = self.obs, self.probe
        t0 = time.perf_counter()
        fetched = len(self.td.fetched_terms)
        with probe.layer("wand.dict_lookup", req):
            dfs, salts, imps = self.td.lookup3(Counter(tokenize_py(query)).keys())
        t1 = time.perf_counter()
        route: dict = {}
        with probe.layer("engine.search", req):
            out = engine.search_topk_auto(
                self.postings, self.segments, self.doc_lens, self.term_stats, self.stats,
                query, K, salt_range=SALT_RANGE, df_lookup=dfs, salt_lookup=salts,
                imp_lookup=imps, impact_scale=self.scale, route_out=route,
            ).collect()
        t2 = time.perf_counter()
        obs["dict_lookup_ms"].append((t1 - t0) * 1000)
        obs["dict_fetched"].append(len(self.td.fetched_terms) - fetched)
        obs["engine_ms"].append((t2 - t1) * 1000)
        obs["route." + (route.get("wand_plan") or route.get("route", "exact"))] += 1
        obs["matched_postings"].append(route.get("matched_postings", 0))
        return [(int(r["doc_id"]), float(r["score"])) for r in out]

    def batch(self, queries: dict[str, str], req: int | None = None):
        """8-query batch through the scripts/query.py path."""
        obs, probe = self.obs, self.probe
        terms = {t for q in queries.values() for t in tokenize_py(q)}
        t0 = time.perf_counter()
        with probe.layer("lineage.load_segments", req):
            segs = lineage.load_segments_for_terms(self.spark, self.path, terms)
            scale = lineage.impact_scale(self.path, self.stats.avgdl)
        t1 = time.perf_counter()
        with probe.layer("wand.batch", req):
            out = wand.wand_topk_batch(
                segs, self.doc_lens, self.term_stats, self.stats, queries, K,
                salt_range=SALT_RANGE, impact_scale=scale,
            ).collect()
        t2 = time.perf_counter()
        obs["load_segments_ms"].append((t1 - t0) * 1000)
        obs["batch_ms"].append((t2 - t1) * 1000)
        if self.probe.tracer.enabled:
            obs["buckets_scanned"].append(
                len(lineage.buckets_for_terms(self.spark, terms, lineage.n_buckets_of(self.path))))
        res: dict[str, list] = {qid: [] for qid in queries}
        for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
            res[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
        return res


class Run:
    """State shared by set-up, the measured loop and the report."""

    def __init__(self, ctx):
        self.ctx = ctx  # spark, probe, tracer, layers, workdir, seed, seconds, traced
        self.obs = {k: [] for k in (
            "dict_lookup_ms", "dict_fetched", "engine_ms", "matched_postings",
            "load_segments_ms", "batch_ms", "buckets_scanned", "reopen_s",
            "upsert_units", "compiles")}
        self.obs.update({f"route.{r}": 0 for r in ROUTES})
        self.failed = 0
        self.attempted = 0
        self.gate_failures: list[str] = []
        self.setup_s = 0.0
        self.per_layer: dict[str, float] = {}
        self.diag: dict = {}

    def fail(self, what: str) -> None:
        self.gate_failures.append(what)
        print(f"perfbench: check failed: {what}", file=sys.stderr)

    # ------------------------------------------------------------ set-up
    def build(self, pdf):
        """Ingest and build the index from the corpus `pdf`; check it; open it."""
        c = self.ctx
        spark, probe = c.spark, c.probe
        self.ix = os.path.join(c.workdir, "index")
        self.pdf = pdf
        t = time.perf_counter()
        with probe.layer("lineage.build"):
            docs = corpus.ingest(spark.createDataFrame(self.pdf))
            lineage.build_index_resumable(docs, self.ix, n_buckets=N_BUCKETS, salt_range=SALT_RANGE)
        self.diag["build_s"] = time.perf_counter() - t
        with c.clock.paused():
            self.check_build()
        self.index = Index(spark, self.ix, probe, self.obs)
        t = time.perf_counter()
        with probe.layer("lineage.open"):
            self.index.open()
        self.diag["open_s"] = time.perf_counter() - t
        self.oracle = gate.Oracle(self.ix)
        self.oracle.refresh()

    def check_build(self) -> None:
        blocks = gate.segment_blocks(self.ix)
        want = gate.expected_postings(self.pdf["content"])
        stored = sum(b[0] for b in blocks)
        decoded = gate.decoded_postings(blocks)
        if not (want == stored == decoded):
            self.fail(f"build: postings expected {want}, stored {stored}, decoded {decoded}")
        if not self.ctx.traced:
            return
        c = self.ctx
        units = {r["unit"]: r["wall_ms"] / 1000.0
                 for r in lineage.read_metrics(c.spark, self.ix).collect()}
        seg = [v for u, v in units.items() if u.startswith("segments/")]
        groups = len({(b[3], b[4]) for b in blocks})
        nbytes = sum(len(b[1]) + len(b[2]) for b in blocks)
        with c.tracer.span("codecs.decode"):
            mb_s = gate.decode_mb_s(blocks)
        with c.probe.layer("corpus.ingest"):
            t = time.perf_counter()
            corpus.ingest(c.spark.createDataFrame(self.pdf)).agg(F.sum("doc_len")).collect()
            ingest_s = time.perf_counter() - t
        self.per_layer.update({
            "corpus.ingest_s": ingest_s,
            "lineage.unit.docs_s": units.get("docs", 0.0),
            "lineage.unit.postings_s": units.get("postings", 0.0),
            "lineage.unit.segments_s": sum(seg),
            "lineage.unit.segments_max_over_median": max(seg) / median(seg) if seg else 0.0,
            "indexing.segment_groups": groups,
            "indexing.segment_ms_per_group": sum(seg) * 1000 / groups if groups else 0.0,
            "indexing.postings": stored,
            "indexing.blocks": len(blocks),
            "codecs.decode_mb_s": mb_s,
            "codecs.bytes_per_posting": nbytes / stored if stored else 0.0,
        })

    def timed_search(self, query: str, req: int):
        """One interactive query; returns (rows, ms). Traced runs record
        the codegen compiles it caused."""
        layers = self.ctx.layers
        before = layers.codegen_compiles() if self.ctx.traced else 0
        t = time.perf_counter()
        with self.ctx.tracer.span("bench.request", req):
            rows = self.index.search(query, req)
        ms = (time.perf_counter() - t) * 1000
        if self.ctx.traced:
            self.obs["compiles"].append(layers.codegen_compiles() - before)
        return rows, ms

    def reset_obs(self, *loop_layers: str) -> None:
        """Forget set-up's observations of the layers the loop calls; the
        report covers the loop (set-up-only layers keep their record)."""
        for k, v in self.obs.items():
            self.obs[k] = [] if isinstance(v, list) else 0
        self.ctx.layers.reset(loop_layers)

    def check_ranking(self, query: str, rows, what: str, want=None) -> bool:
        if want is None:
            want = self.oracle.topk(query, K)
        if not want:
            self.fail(f"{what}: oracle returns nothing for {query!r}")
            return False
        if not gate.rankings_match(rows, want, K):
            self.fail(f"{what}: ranking differs from the oracle for {query!r}")
            return False
        return True

    # ------------------------------------------------------------ report
    def disk_bytes_per_content_byte(self, contents) -> float:
        return sum(dir_files(self.ix).values()) / sum(len(c.encode()) for c in contents)

    def finish(self, latencies_ms, cycle_s: float, ops_per_cycle: int, contents) -> dict:
        """Report. The loop's throughput is taken from one cycle of its fixed
        request mix, each request kind at its median time, so one slow
        request moves it no more than it moves a median."""
        c = self.ctx
        first, second = halves_p50(latencies_ms)
        p = tail_percentile(len(latencies_ms))
        self.diag.update({
            "samples": len(latencies_ms),
            "first_half_p50_ms": first,
            "second_half_p50_ms": second,
            "tail": {"percentile": p, "ms": percentile(latencies_ms, p) if p else None},
            "gate_failures": self.gate_failures,
        })
        if not c.traced:
            e2e = {
                "setup_s": self.setup_s,
                "search_p50_ms": median(latencies_ms),
                "loop_ops_per_s": ops_per_cycle / cycle_s,
                "disk_bytes_per_content_byte": self.disk_bytes_per_content_byte(contents),
            }
            return {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
        o = self.obs
        n_q = len(o["engine_ms"])
        self.per_layer.update({
            "wand.dict_lookup_ms": median(o["dict_lookup_ms"]),
            "wand.dict_terms_fetched_per_query": sum(o["dict_fetched"]) / n_q if n_q else 0.0,
            "wand.batch_ms": median(o["batch_ms"]),
            "engine.search_ms": median(o["engine_ms"]),
            "engine.matched_postings": median(o["matched_postings"]),
            "lineage.load_segments_ms": median(o["load_segments_ms"]),
            "lineage.buckets_scanned": median(o["buckets_scanned"]),
            "lineage.reopen_s": median(o["reopen_s"]),
            "spark.codegen.compiles_per_query": (
                sum(o["compiles"]) / len(o["compiles"]) if o["compiles"] else 0.0),
        })
        self.per_layer.update({f"engine.route.{r}": o[f"route.{r}"] for r in ROUTES})
        self.per_layer.update(upsert_layer_metrics(o["upsert_units"]))
        self.per_layer.update(c.layers.metrics(SPARK_LAYERS))
        self_s = {layer: 0.0 for layer in SELF_LAYERS}
        for name, s in c.tracer.self_times().items():
            layer = name.split(".", 1)[0]
            self_s[layer if layer in self_s else "bench"] += s
        self.per_layer.update({f"self_s.{k}": v for k, v in self_s.items()})
        on, off = self.diag.pop("overhead_samples", ([], []))
        self.per_layer["trace.overhead_pct"] = (
            (median(on) / median(off) - 1) * 100 if on and off else 0.0)
        self.per_layer["trace.spans"] = len(c.tracer.spans)
        return {k: (v, PER_LAYER_UNITS[k]) for k, v in self.per_layer.items()}


UPSERT_UNITS = ("plan_s", "docs_s", "postings_s", "term_stats_s", "segments_s",
                "buckets_rewritten", "affected_terms", "bytes_written_per_delta_byte")


def upsert_layer_metrics(ops: list[dict]) -> dict[str, float]:
    """Medians over upsert ops of each lineage unit's time and counts."""
    return {f"lineage.upsert.{k}": median([op[k] for op in ops]) for k in UPSERT_UNITS}


# ---------------------------------------------------------------- search
def search(run: Run) -> None:
    c = run.ctx
    run.build(generate_corpus(SEARCH_FILES, c.seed))
    pool = gen.query_pool(run.pdf, c.seed)
    stream = gen.ZipfStream(pool, c.seed)
    # warm-up: passes over the whole pool, each with one batch; the first
    # pass's answers are the ones checked against the oracle
    ref: dict[str, list] = {}
    for _ in range(WARMUP_PASSES):
        lat = []
        for q in pool:
            rows, ms = run.timed_search(q, None)
            lat.append(ms)
            ref.setdefault(q, rows)
        run.index.batch(stream.batch(BATCH_SIZE))
        run.diag.setdefault("warmup_pass_p50_ms", []).append(median(lat))
    run.setup_s = c.clock.stop()
    want = {q: run.oracle.topk(q, K) for q in pool}
    bad = {q for q in pool if not run.check_ranking(q, ref[q], "search", want[q])}
    run.reset_obs("wand.dict_lookup", "engine.search", "lineage.load_segments", "wand.batch")

    singles, batches, on, off = [], [], [], []
    deadline = time.perf_counter() + c.seconds
    req = 0
    while req % BATCH_EVERY or time.perf_counter() < deadline:  # whole cycles
        req += 1
        if c.traced:
            c.tracer.enabled = req % 2 == 0  # interleaved on/off for the overhead
        if req % BATCH_EVERY == 0:
            qs = stream.batch(BATCH_SIZE)
            t = time.perf_counter()
            with c.tracer.span("bench.request", req):
                res = run.index.batch(qs, req)
            batches.append((time.perf_counter() - t) * 1000)
            ok = all(q not in bad and gate.rankings_match(res[i], want[q], K)
                     for i, q in qs.items())
        else:
            q = stream.next()
            rows, ms = run.timed_search(q, req)
            singles.append(ms)
            (on if c.tracer.enabled else off).append(ms)
            ok = q not in bad and gate.rankings_match(rows, want[q], K)
        run.attempted += 1
        if not ok:
            run.failed += 1
            run.fail(f"search: request {req} differs from the oracle")
    c.tracer.enabled = c.traced
    run.diag["batch_request_ms"] = batches
    run.diag["overhead_samples"] = (on, off)
    cycle_s = ((BATCH_EVERY - 1) * median(singles) + median(batches)) / 1000
    run.metrics = run.finish(singles, cycle_s, BATCH_EVERY, run.pdf["content"])


# ---------------------------------------------------------------- update
def update(run: Run) -> None:
    c = run.ctx
    spark = c.spark
    pdf = generate_corpus(UPDATE_FILES, c.seed)
    row = gen.upsert_target(pdf)
    run.build(gen.with_version(pdf, row, -1))
    reads = gen.query_pool(run.pdf, c.seed)[:READS_PER_OP]
    target = run.oracle.doc_id(run.pdf["path"].iloc[row])
    for q in reads:  # warm the read path once
        run.timed_search(q, None)
    run.setup_s = c.clock.stop()
    run.reset_obs("lineage.upsert", "lineage.open", "wand.dict_lookup", "engine.search")

    visible, read_ms, on, off = [], [], [], []
    contents = list(run.pdf["content"])
    deadline = time.perf_counter() + c.seconds
    op = 0
    while op == 0 or time.perf_counter() < deadline:
        version = gen.upsert_version(pdf, row, op)
        marker, old = gen.MARKERS[op % 2], gen.MARKERS[(op + 1) % 2]
        delta = corpus.ingest(spark.createDataFrame(version)).withColumn(
            "doc_id", F.lit(target).cast("long"))
        before = dir_files(run.ix) if c.traced else {}
        req = op + 1
        t = time.perf_counter()
        with c.tracer.span("bench.request", req):
            with c.probe.layer("lineage.upsert", req):
                res = lineage.upsert_index(spark, run.ix, delta, salt_range=SALT_RANGE)
            t_open = time.perf_counter()
            with c.probe.layer("lineage.open", req):
                run.index.open()
            run.obs["reopen_s"].append(time.perf_counter() - t_open)
            rows = run.index.search(marker, req)
        visible.append(time.perf_counter() - t)
        ok = gate.marker_ok(rows, target) and gate.stale_ok(run.index.search(old))
        if not ok:
            run.fail(f"update: op {op} marker {marker!r} not visible or {old!r} stale")
        contents[row] = version["content"].iloc[0]
        run.oracle.refresh()
        for q in reads:
            if c.traced:
                c.tracer.enabled = len(read_ms) % 2 == 0
            got, ms = run.timed_search(q, req)
            read_ms.append(ms)
            (on if c.tracer.enabled else off).append(ms)
            ok = run.check_ranking(q, got, f"update op {op} read") and ok
        c.tracer.enabled = c.traced
        run.attempted += 1
        run.failed += not ok
        if c.traced:
            run.obs["upsert_units"].append(upsert_units(run, res, before, version))
        op += 1
    run.diag["upsert_visible_s"] = visible
    run.diag["overhead_samples"] = (on, off)
    cycle_s = median(visible) + READS_PER_OP * median(read_ms) / 1000
    run.metrics = run.finish(read_ms, cycle_s, 1, contents)


def upsert_units(run: Run, res: dict, before: dict[str, int], version) -> dict:
    """One upsert's lineage unit times (from its manifests) and write sizes."""
    recs = lineage.read_metrics(run.ctx.spark, run.ix).collect()
    fp = next(r["input_fingerprint"] for r in recs if r["unit"] == "upsert_plan")
    mine = {r["unit"]: r["wall_ms"] / 1000.0 for r in recs if r["input_fingerprint"] == fp}
    after = dir_files(run.ix)
    written = sum(s for p, s in after.items() if p not in before)
    return {
        "plan_s": mine.get("upsert_plan", 0.0),
        "docs_s": mine.get("upsert_docs", 0.0),
        "postings_s": sum(v for u, v in mine.items() if u.startswith("upsert_postings/")),
        "term_stats_s": mine.get("upsert_term_stats", 0.0),
        "segments_s": sum(v for u, v in mine.items() if u.startswith("segments/")),
        "buckets_rewritten": len(res.get("affected_buckets", [])),
        "affected_terms": res.get("affected_terms", 0),
        "bytes_written_per_delta_byte": written / len(version["content"].iloc[0].encode()),
    }


WORKLOADS = {"search": search, "update": update}

PER_LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "corpus.ingest_s": "s",
    "lineage.unit.docs_s": "s",
    "lineage.unit.postings_s": "s",
    "lineage.unit.segments_s": "s",
    "lineage.unit.segments_max_over_median": "ratio",
    "indexing.segment_groups": "count",
    "indexing.segment_ms_per_group": "ms",
    "indexing.postings": "count",
    "indexing.blocks": "count",
    "codecs.decode_mb_s": "MB/s",
    "codecs.bytes_per_posting": "B",
    **{f"lineage.upsert.{k}": ("s" if k.endswith("_s") else "count") for k in UPSERT_UNITS[:-1]},
    "lineage.upsert.bytes_written_per_delta_byte": "ratio",
    "lineage.reopen_s": "s",
    "lineage.load_segments_ms": "ms",
    "lineage.buckets_scanned": "count",
    "wand.dict_lookup_ms": "ms",
    "wand.dict_terms_fetched_per_query": "count",
    "wand.batch_ms": "ms",
    "engine.search_ms": "ms",
    **{f"engine.route.{r}": "count" for r in ROUTES},
    "engine.matched_postings": "count",
    **{f"spark.{layer}.{f}": u for layer in SPARK_LAYERS for f, u in (
        ("jobs", "count"), ("tasks", "count"), ("executor_run_s", "s"), ("core_util", "ratio"),
        ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
        ("task_max_over_median", "ratio"))},
    "spark.codegen.compiles_per_query": "count",
    **{f"self_s.{layer}": "s" for layer in SELF_LAYERS},
    "trace.overhead_pct": "%",
    "trace.spans": "count",
}
