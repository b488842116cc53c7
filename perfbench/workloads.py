"""The three workloads. Each returns its end-to-end figures in the common
metric set, the workload's own named figures (`detail`) and, in a traced
run, the per-layer figures."""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from statistics import median

import numpy as np

import layers
from inputs import DOCS_PER_FILE, Answers, Corpus, zipf_stream
from layers import K
from oracle import Bm25Oracle, read_postings, same_ranking
from stats import OpenLoop, closed_loop, percentile, samples_for, tail
from tracing import EventLog, Tracer, tree_cpu_s


# build-html: one corpus, repeated full builds at nproc cores; the traced
# run adds a build at 1 core for the N-vs-4N scaling figure. Set-up warms
# the JVM and the Python workers with one build of the first quarter of
# the corpus files: a cold build pays a fixed ~10 s whatever its size, and
# full builds after it run within ~5% of later ones
BUILD_DOCS = 5000
WARMUP_FILES_SHARE = 0.25

# serve-point: an open loop at a fixed rate about a third of saturation
# (closed-loop saturation is ~30 queries/s at 4 cores once warm; at 20/s
# the open-loop queue already builds up, and at 15/s a host slowdown
# pushes it there), then a closed loop
SERVE_DOCS = 1000
SERVE_RANDOM_QUERIES = 140  # plus the 60 gen_query_set queries
OPEN_RATE = 10.0
OPEN_SHARE = 0.7  # of --seconds, and at least 100 queries; the closed loop gets the rest
SERVE_TAIL_Q = 0.90
# flat-path latency keeps falling for the first few hundred queries while
# the JVM compiles the SQL front end and the plan's hot paths
WARMUP_QUERIES = 200

# ingest-serve: baseline delta, then rounds of append + delta + reopen,
# each followed by batch-path searches from nproc clients
INGEST_BASE = 1000
INGEST_SLICE = 250
INGEST_ROUNDS = 2
BATCH_QUERIES = 6
BATCH_TAIL_Q = 0.75
BATCH_CALLS_PER_S = 4  # batch calls per second of run time
FRESH_QUERY_TERMS = 3  # a round's freshness query: rarest pieces of a new doc


class Run:
    """What every workload shares: seed, window, tracer, correctness
    counters and the Spark session."""

    def __init__(self, seed: int, seconds: int, trace: bool, work: str,
                 event_dir: str | None):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work, self.event_dir = work, event_dir
        self.nproc = os.cpu_count() or 1
        self.tracer = Tracer(jobs=trace)
        self.attempted = self.failed = 0
        self.detail: dict = {}
        self.layer: dict = {}
        self.spark = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"MISMATCH {what}", file=sys.stderr)

    def start(self, master: str) -> float:
        from pears_lite_spark.session import get_spark
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=master)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        return time.perf_counter() - t

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def events(self) -> EventLog:
        return EventLog.from_dir(self.event_dir)

    def common(self, peak_rss_mb: float) -> dict:
        """The end-to-end metrics every workload reports the same way."""
        return {"peak_rss_mb": peak_rss_mb,
                "success_ratio": (self.attempted - self.failed) / max(self.attempted, 1)}


def _oracle_for(c: Corpus, rows: np.ndarray, doc_ids: np.ndarray, **frozen):
    toks, offs = c.doc_tokens(rows)
    return Bm25Oracle(doc_ids[rows], toks, offs, **frozen)


def _check_answer(run: Run, c: Corpus, oracle: Bm25Oracle, answers: Answers,
                  key: str, pieces: list[str], got) -> None:
    ids = c.query_ids(pieces)
    want = answers.get(key, lambda: oracle.topk(ids, K))
    if got == want:
        run.check(True, key)
        return
    run.check(same_ranking(got, want, oracle.scores(ids)),
              f"{key} {pieces}: got {got[:3]} want {want[:3]}")


def _check_index(run: Run, path: str, want: tuple[np.ndarray, ...]) -> None:
    """Every posting of the index written at `path`, read back, against
    the oracle's (term_id, doc_id, tf) triples."""
    got = read_postings(path)
    if got is None:
        run.check(False, f"{path}: a block's streams do not hold n values")
        return
    run.check(all(np.array_equal(g, w) for g, w in zip(got, want)),
              f"{path}: read back {len(got[0])} postings, oracle has "
              f"{len(want[0])}")


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


# ------------------------------------------------------------- build-html

def build_html(run: Run) -> dict:
    from pears_lite_spark.index.build import build_from_corpus, write_index
    c = Corpus(run.seed, BUILD_DOCS, 0)
    rows = np.flatnonzero(c.extractable)
    n_docs = len(rows)
    dl = np.diff(c.offsets)
    files = sorted(glob.glob(os.path.join(c.parquet, "*.parquet")))
    out = os.path.join(run.work, "index")
    setup = run.start(f"local[{run.nproc}]")
    run.layer["session.start_s"] = setup

    def build(tag: str, n_files: int = len(files)) -> tuple[float, float]:
        want = rows[rows < n_files * DOCS_PER_FILE]
        tr = run.tracer
        cdf = run.spark.read.parquet(*files[:n_files])
        t0 = time.perf_counter()
        cpu0 = tree_cpu_s(os.getpid())
        with tr.span("build_from_corpus", tag, cpu=run.trace):
            postings, stats = build_from_corpus(cdf)
        with tr.span("write_index", tag, cpu=run.trace):
            write_index(postings, out, stats=stats)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        avgdl = float(np.mean(dl[want]))
        run.check(stats.n_docs == len(want) and abs(stats.avgdl - avgdl) < 1e-9,
                  f"{tag}: indexed {stats.n_docs} docs avgdl {stats.avgdl}, "
                  f"generator says {len(want)} / {avgdl}")
        return wall, cpu

    warmup = build("warmup", round(len(files) * WARMUP_FILES_SHARE))[0]
    setup += warmup

    hi, t0 = [], time.perf_counter()
    while len(hi) < 2 or time.perf_counter() - t0 < run.seconds:
        hi.append(build(f"b{run.nproc}-{len(hi)}"))
    wall = median([w for w, _ in hi])
    cpu = median([u for _, u in hi])
    oracle = _oracle_for(c, rows, c.doc_ids(run.spark))
    _check_index(run, out, oracle.postings(c.term_ids(run.spark)))
    run.detail.update({
        "build_docs_per_s": n_docs / wall,
        "build_cpu_s_per_kdoc": cpu / n_docs * 1e3,
        "index_bytes_per_doc": _du(out) / n_docs,
        "warmup_build_s": warmup, "builds_s": [w for w, _ in hi]})
    if run.trace:
        run.layer.update(layers.index_probe(out))
        _module_probes(run, c, rows, oracle)
        run.stop()
        run.start("local[1]")
        wall1 = build("b1")[0]
        # throughput at nproc cores / (nproc x throughput at 1 core)
        run.detail["build_scaling_1v4"] = wall1 / (run.nproc * wall)
        run.layer["build.scaling_1v4"] = run.detail["build_scaling_1v4"]
    run.stop()
    if run.trace:
        _build_layers(run, f"b{run.nproc}-")
    return {"setup_s": setup,
            "op_p50_ms": wall * 1e3,
            "op_tail_ms": max(w for w, _ in hi) * 1e3,
            "throughput_per_s": n_docs / wall,
            "cpu_ms_per_unit": cpu / n_docs * 1e3}


def _build_layers(run: Run, rid: str, phase_b: str = "write_index") -> None:
    """Build-layer figures of the builds whose request id starts with
    `rid`; `phase_b` names the span that runs the merge + encode."""
    tr = run.tracer
    a = tr.named("build_from_corpus", rid)
    w = tr.named(phase_b, rid)
    run.layer.update({
        "build.phase_a_s": median([s.seconds for s in a]),
        "build.phase_a_cpu_s": median([s.cpu_s for s in a]),
        "build.merge_write_s": median([s.seconds for s in w]),
        "build.merge_write_cpu_s": median([s.cpu_s for s in w])})
    log = run.events()
    by_rid: dict = {}
    for s in a + w:
        by_rid.setdefault(s.rid, []).append(s)
    per = [layers.stage_metrics(log, spans, run.nproc) for spans in by_rid.values()]
    for key in per[0]:
        run.layer[key] = median([p[key] for p in per])


def _module_probes(run: Run, c: Corpus, rows: np.ndarray, oracle: Bm25Oracle) -> None:
    run.layer.update(layers.extract_probe(c.parquet))
    run.layer.update(layers.vocab_probe([c.texts[r] for r in rows]))
    run.layer.update(layers.codec_probe(oracle))


# ------------------------------------------------------------ serve-point

def serve_point(run: Run) -> dict:
    from pears_lite_spark.index.build import build_from_corpus, write_index
    from pears_lite_spark.search.bm25 import Searcher
    c = Corpus(run.seed, SERVE_DOCS, SERVE_RANDOM_QUERIES)
    rows = np.flatnonzero(c.extractable)
    out = os.path.join(run.work, "index")
    tr = run.tracer
    setup = run.start(f"local[{run.nproc}]")
    run.layer["session.start_s"] = setup
    doc_ids = c.doc_ids(run.spark)  # generated input: not set-up
    oracle = _oracle_for(c, rows, doc_ids)
    answers = Answers(os.path.join(c.dir, "answers-serve.json"))
    t0 = time.perf_counter()
    with tr.span("build_from_corpus", "setup", cpu=run.trace):
        postings, stats = build_from_corpus(run.spark.read.parquet(c.parquet))
    run.check(stats.n_docs == len(rows),
              f"indexed {stats.n_docs} docs, generator says {len(rows)}")
    # phase B (merge + encode) runs here, when the Searcher caches the postings
    with tr.span("Searcher", "setup", cpu=run.trace):
        searcher = Searcher(postings, stats)
    pool = c.queries
    closed_loop(lambda i: searcher.search([pool[i % len(pool)][1]], k=K),
                run.nproc, n=WARMUP_QUERIES)
    setup += time.perf_counter() - t0

    n_open = max(samples_for(SERVE_TAIL_Q), round(OPEN_RATE * OPEN_SHARE * run.seconds))
    stream = zipf_stream(len(pool), 100_000, run.seed)

    def query(i: int, rid: str):
        with tr.span("search", rid):
            return searcher.search([pool[stream[i]][1]], k=K)[0]

    ol = OpenLoop(OPEN_RATE, n_open, run.nproc)
    ol.run(lambda i: query(i, f"o{i}"))
    cpu0 = tree_cpu_s(os.getpid())
    elapsed, closed = closed_loop(lambda i: query(n_open + i, f"c{i}"), run.nproc,
                                  seconds=run.seconds * (1 - OPEN_SHARE))
    cpu = tree_cpu_s(os.getpid()) - cpu0
    served = [(i, r, e) for i, (r, e) in enumerate(zip(ol.results, ol.errors))]
    served += [(n_open + i, r, e) for i, _, r, e in closed]
    for i, res, err in served:
        text, pieces = pool[stream[i]]
        if err is not None:
            run.check(False, f"query {text!r} raised {err}")
        else:
            _check_answer(run, c, oracle, answers, f"q{stream[i]}", pieces, res)
    answers.save()

    lat_ms = [x * 1e3 for x in ol.latency]
    run.detail.update({
        "query_p50_ms": median(lat_ms), "query_p90_ms": tail(lat_ms, SERVE_TAIL_Q),
        "query_sat_qps": len(closed) / elapsed,
        "open_loop_queries": n_open, "open_rate_qps": OPEN_RATE,
        "closed_loop_queries": len(closed)})
    if run.trace:
        run.layer.update({
            "loadgen.sent": n_open,
            "loadgen.failed": sum(e is not None for e in ol.errors),
            "loadgen.lag_p95_ms": percentile(ol.lag, 0.95) * 1e3,
            "bm25.searcher_init_s": tr.named("Searcher")[0].seconds,
            "bm25.flat_rows": searcher.flat.count(),
            "bm25.postings_per_result": _postings_per_result(
                c, oracle, [pool[stream[i]][1] for i, _, _ in served],
                [r for _, r, _ in served])})
        # the probes read an index on disk: write one now, after measuring
        # (the build's phase-A cache is gone, so this reruns the build)
        write_index(postings, out, stats=stats)
        run.layer["bm25.score_topk_ms"] = layers.score_probe(
            out, stats.n_docs, stats.avgdl, [p for _, p in pool[:60]])
        run.layer.update(layers.index_probe(out))
        _module_probes(run, c, rows, oracle)
    searcher.close()
    run.stop()
    if run.trace:
        _build_layers(run, "setup", phase_b="Searcher")
        run.layer.update(layers.query_metrics(run.events(), tr.named("search")))
    return {"setup_s": setup,
            "op_p50_ms": run.detail["query_p50_ms"],
            "op_tail_ms": run.detail["query_p90_ms"],
            "throughput_per_s": run.detail["query_sat_qps"],
            "cpu_ms_per_unit": cpu / max(len(closed), 1) * 1e3}


def _postings_per_result(c: Corpus, oracle: Bm25Oracle, queries, results) -> float:
    postings = sum(oracle.df(t) for q in queries for t in set(c.query_ids(q)))
    return postings / max(sum(len(r or []) for r in results), 1)


# ----------------------------------------------------------- ingest-serve

def ingest_serve(run: Run) -> dict:
    import pandas as pd
    from pears_lite_spark import catalog
    from pears_lite_spark.index.build import tokenize_spm
    from pears_lite_spark.index.checkpoint import index_table_delta, read_resumable
    from pears_lite_spark.search.bm25 import Searcher
    total = INGEST_BASE + INGEST_ROUNDS * INGEST_SLICE
    # ~1% of generated docs are not extractable; generate enough to slice
    c = Corpus(run.seed, int(total * 1.02) + 10, SERVE_RANDOM_QUERIES)
    rows = np.flatnonzero(c.extractable)[:total]
    table, index = os.path.join(run.work, "table"), os.path.join(run.work, "index")
    tr = run.tracer
    setup = run.start(f"local[{run.nproc}]")
    run.layer["session.start_s"] = setup
    doc_ids = c.doc_ids(run.spark)  # generated input: not set-up
    frames = [pd.DataFrame({"url": [c.urls[r] for r in rs],
                            "text": [c.texts[r] for r in rs]})
              for rs in [rows[:INGEST_BASE]] + np.split(
                  rows[INGEST_BASE:], INGEST_ROUNDS)]
    dfs = [run.spark.createDataFrame(f) for f in frames]
    base_dl = np.diff(c.offsets)[rows[:INGEST_BASE]]
    frozen = {"n_docs": INGEST_BASE, "avgdl": float(base_dl.sum()) / INGEST_BASE}
    answers = Answers(os.path.join(
        c.dir, f"answers-ingest-b{INGEST_BASE}-s{INGEST_SLICE}x{INGEST_ROUNDS}.json"))
    pool = c.queries
    rng = np.random.default_rng(run.seed + 4)
    batches = [[pool[j][1] for j in rng.choice(len(pool), BATCH_QUERIES, replace=False)]
               for _ in range(8)]
    t0 = time.perf_counter()

    with tr.span("catalog.create_table", "setup"):
        catalog.create_table(dfs[0], table, "url")
    with tr.span("index_table_delta", "setup", cpu=run.trace):
        index_table_delta(run.spark, table, index, tokenize_spm)
    with open(os.path.join(index, "_stats.json")) as fh:
        st = json.load(fh)
    run.check(st["n_docs"] == frozen["n_docs"] and abs(st["avgdl"] - frozen["avgdl"]) < 1e-9,
              f"baseline stats {st}, generator says {frozen}")

    def reopen(rid: str):
        with tr.span("read_resumable", rid):
            postings, stats = read_resumable(run.spark, index)
        with tr.span("Searcher", rid):
            return Searcher(postings, stats, flat_cache=False)

    searcher = reopen("setup")
    setup += time.perf_counter() - t0

    n_calls = max(samples_for(BATCH_TAIL_Q), BATCH_CALLS_PER_S * run.seconds)
    per_round = -(-n_calls // INGEST_ROUNDS)
    fresh, ingest_cpu, lat, errors = [], [], [], 0
    for r in range(1, INGEST_ROUNDS + 1):
        rid = f"r{r}"
        indexed = rows[:INGEST_BASE + r * INGEST_SLICE]
        oracle = _oracle_for(c, indexed, doc_ids, **frozen)
        new = rows[INGEST_BASE + (r - 1) * INGEST_SLICE]
        fresh_q = _rarest_pieces(c, oracle, new)
        t = time.perf_counter()
        cpu0 = tree_cpu_s(os.getpid())
        with tr.span("catalog.append", rid):
            catalog.append(dfs[r], table)
        with tr.span("index_table_delta", rid, cpu=run.trace):
            res = index_table_delta(run.spark, table, index, tokenize_spm)
        searcher.close()
        searcher = reopen(rid)
        with tr.span("search", rid):
            got = searcher.search([fresh_q] + batches[0], k=K)
        fresh.append(time.perf_counter() - t)
        ingest_cpu.append(tree_cpu_s(os.getpid()) - cpu0)
        run.check(res["n_docs_delta"] == INGEST_SLICE,
                  f"{rid}: delta indexed {res['n_docs_delta']} docs, sent {INGEST_SLICE}")
        _check_answer(run, c, oracle, answers, f"{rid}-fresh", fresh_q, got[0])
        for q, hits in zip(batches[0], got[1:]):
            _check_answer(run, c, oracle, answers, f"{rid}-{q}", q, hits)

        def batch(i: int, rid=rid):
            with tr.span("search", f"{rid}-b{i}"):
                return searcher.search(batches[i % len(batches)], k=K)

        _, done = closed_loop(batch, run.nproc, n=min(per_round, n_calls - len(lat)))
        for i, l, res_b, err in done:
            lat.append(l * 1e3)
            if err is not None:
                errors += 1
                run.check(False, f"{rid} batch {i} raised {err}")
                continue
            for q, hits in zip(batches[i % len(batches)], res_b):
                _check_answer(run, c, oracle, answers, f"{rid}-{q}", q, hits)
    answers.save()
    parts = len([d for d in os.listdir(index) if d.startswith("part=")])
    run.detail.update({
        "freshness_s": median(fresh),
        "batch_query_p50_ms": median(lat),
        "batch_query_p75_ms": tail(lat, BATCH_TAIL_Q),
        "batch_calls": len(lat), "rounds": INGEST_ROUNDS, "index_parts": parts})
    if run.trace:
        deltas = tr.named("index_table_delta", "r")
        all_q = [q for b in batches for q in b]
        run.layer.update({
            "checkpoint.delta_s": median([s.seconds for s in deltas]),
            "checkpoint.delta_docs_per_s": INGEST_SLICE / median([s.seconds for s in deltas]),
            "checkpoint.delta_cpu_s": median([s.cpu_s for s in deltas]),
            "catalog.append_s": median([s.seconds for s in tr.named("catalog.append")]),
            "bm25.searcher_init_s": median([s.seconds for s in tr.named("Searcher", "r")]),
            "bm25.open_s": median([s.seconds for s in tr.named("read_resumable", "r")]),
            "bm25.flat_rows": 0,
            "loadgen.sent": len(lat),
            "loadgen.failed": errors,
            "bm25.postings_per_result": _postings_per_result(
                c, oracle, all_q, searcher.search(all_q, k=K)),
            "bm25.score_topk_ms": layers.score_probe(
                index, frozen["n_docs"], frozen["avgdl"], all_q)})
        run.layer.update(layers.index_probe(index))
        _module_probes(run, c, indexed, oracle)
    searcher.close()
    run.stop()
    if run.trace:
        log = run.events()
        deltas = tr.named("index_table_delta", "r")
        per = [layers.stage_metrics(log, [s], run.nproc) for s in deltas]
        for key in per[0]:
            run.layer[key] = median([p[key] for p in per])
        run.layer.update(layers.query_metrics(log, tr.named("search", "r")))
    return {"setup_s": setup,
            "op_p50_ms": run.detail["batch_query_p50_ms"],
            "op_tail_ms": run.detail["batch_query_p75_ms"],
            "throughput_per_s": INGEST_SLICE / median(fresh),
            "cpu_ms_per_unit": median(ingest_cpu) / INGEST_SLICE * 1e3}


def _rarest_pieces(c: Corpus, oracle: Bm25Oracle, row: int) -> list[str]:
    """The FRESH_QUERY_TERMS pieces of doc `row` with the lowest document
    frequency."""
    toks = np.unique(c.tokens[c.offsets[row]:c.offsets[row + 1]])
    rare = sorted(toks.tolist(), key=lambda t: (oracle.df(t), t))[:FRESH_QUERY_TERMS]
    return [c.pieces[t] for t in rare]


WORKLOADS = {"build-html": build_html, "serve-point": serve_point,
             "ingest-serve": ingest_serve}
