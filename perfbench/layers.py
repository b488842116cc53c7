"""Per-layer numbers for the traced run.

Two sources, both outside the program: calls from the benchmark process
into each module's public functions on a sample of the workload's own inputs, and
the Spark event log read back per span (job group).
"""

from __future__ import annotations

import os
import re
import statistics
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from oracle import index_files
from tracing import EventLog, Span, union_ms

SAMPLE_DOCS = 200
CODEC_TERMS = 300  # posting lists the codec probe encodes and decodes
K = 10


def extract_probe(parquet_dir: str) -> dict:
    """extract_html over the first SAMPLE_DOCS html pages of the corpus."""
    from pears_lite_spark.functions.extract import extract_html
    html = pq.read_table(parquet_dir, columns=["html"]).column("html")
    pages = html.slice(0, SAMPLE_DOCS).to_pylist()
    t = time.perf_counter()
    rejected = sum(1 for h in pages if not extract_html(h)[1])
    dt = time.perf_counter() - t
    return {"extract.docs_per_s": len(pages) / dt,
            "extract.rejected_ratio": rejected / len(pages)}


def vocab_probe(texts: list[str]) -> dict:
    """encode_as_pieces with a warm word cache, as in a reused worker."""
    from pears_lite_spark.vocab import get_vocab
    v = get_vocab()
    texts = texts[:SAMPLE_DOCS]
    for t in texts:
        v.encode_as_pieces(t)
    t0 = time.perf_counter()
    n = sum(len(v.encode_as_pieces(t)) for t in texts)
    dt = time.perf_counter() - t0
    return {"vocab.tokens_per_s": n / dt, "vocab.tokens_per_doc": n / len(texts)}


def codec_probe(oracle) -> dict:
    """encode_postings / block decode over the oracle's postings of the
    workload's most frequent terms (docs and tfs streams)."""
    from pears_lite_spark.index import codec
    terms, starts, counts = np.unique(oracle.term, return_index=True,
                                      return_counts=True)
    top = np.argsort(-counts, kind="stable")[:CODEC_TERMS]
    dl = oracle.dl
    lists = []
    for i in top:
        sl = slice(starts[i], starts[i] + counts[i])
        d = oracle.doc[sl]
        order = np.argsort(oracle.doc_ids[d], kind="stable")
        d = d[order]
        lists.append((oracle.doc_ids[d], oracle.tf[sl][order].astype(np.int64),
                      dl[d]))
    t = time.perf_counter()
    blocks = [b for ids, tfs, dls in lists
              for b in codec.encode_postings(ids, tfs, dls, oracle.avgdl)]
    t_enc = time.perf_counter() - t
    nbytes = sum(len(b.docs) + len(b.tfs) for b in blocks)
    t = time.perf_counter()
    for b in blocks:
        codec.decode_block_docs(b.docs, b.n)
        codec.decode_block_tfs(b.tfs, b.n)
    t_dec = time.perf_counter() - t
    return {"codec.encode_mb_per_s": nbytes / t_enc / 1e6,
            "codec.decode_mb_per_s": nbytes / t_dec / 1e6}


def index_probe(path: str) -> dict:
    """Blocks, postings and encoded bytes per posting of a written index."""
    blocks = postings = nbytes = 0
    for f in index_files(path):
        t = pq.read_table(f, columns=["n", "docs", "tfs", "dls", "positions"])
        blocks += t.num_rows
        postings += pc.sum(t["n"]).as_py() or 0
        for c in ("docs", "tfs", "dls", "positions"):
            nbytes += pc.sum(pc.binary_length(t[c])).as_py() or 0
    parts = len([d for d in os.listdir(path) if d.startswith("part=")])
    return {"build.blocks": blocks, "build.postings": postings,
            "codec.bytes_per_posting": nbytes / max(postings, 1),
            "checkpoint.parts": parts}


def score_probe(path: str, n_docs: int, avgdl: float,
                queries: list[list[str]]) -> float:
    """ms per query of bm25.score_topk over the index's real block lists
    for `queries`, one call per (query, doc_range) as the batch path does."""
    from pears_lite_spark.search.bm25 import idf, score_topk
    from pears_lite_spark.xxh64 import xxh64_signed
    tids = sorted({xxh64_signed(p) for q in queries for p in q})
    cols = ["term_id", "doc_range", "block_id", "first_doc", "last_doc", "n",
            "max_impact", "docs", "tfs", "dls"]
    lists: dict = {}  # (doc_range, term_id, part) -> [block row]
    df: dict = {}
    for f in index_files(path):
        m = re.search(r"part=(\d+)", f)
        part = int(m.group(1)) if m else 0
        t = pq.read_table(f, columns=cols, filters=[("term_id", "in", tids)])
        for r in t.to_pylist():
            lists.setdefault((r["doc_range"], r["term_id"], part), []).append(r)
            df[r["term_id"]] = df.get(r["term_id"], 0) + r["n"]
    by_range: dict = {}
    for (rng, tid, _), rows in lists.items():
        rows.sort(key=lambda r: r["block_id"])
        by_range.setdefault(rng, {}).setdefault(tid, []).append(
            [(r["first_doc"], r["last_doc"], r["n"], r["max_impact"],
              r["docs"], r["tfs"], r["dls"]) for r in rows])
    t = time.perf_counter()
    for q in queries:
        qt = {xxh64_signed(p) for p in q}
        for terms in by_range.values():
            tl = [{"idf": idf(n_docs, df[tid]), "blocks": bl}
                  for tid in qt for bl in terms.get(tid, [])]
            if tl:
                score_topk(tl, K, avgdl)
    return (time.perf_counter() - t) * 1e3 / max(len(queries), 1)


def stage_metrics(log: EventLog, spans: list[Span], cores: int) -> dict:
    """Spark stage metrics of the jobs run inside `spans`, per span."""
    n = max(len(spans), 1)
    tot = dict.fromkeys(("shuffle_write_bytes", "shuffle_read_bytes",
                         "spill_bytes", "gc_s", "idle_core_s"), 0.0)
    skew = [0.0]
    for sp in spans:
        g = str(sp.id)
        tasks = log.tasks_of(g)
        tot["shuffle_write_bytes"] += sum(t.shuffle_write for t in tasks)
        tot["shuffle_read_bytes"] += sum(t.shuffle_read for t in tasks)
        tot["spill_bytes"] += sum(t.spill for t in tasks)
        tot["gc_s"] += sum(t.gc_ms for t in tasks) / 1e3
        busy = union_ms((s.submit_ms, s.complete_ms) for s in log.stages_of(g))
        work = sum(t.finish_ms - t.launch_ms for t in tasks)
        tot["idle_core_s"] += max(0.0, cores * busy - work) / 1e3
        for st in log.stages_of(g):
            dur = [t.finish_ms - t.launch_ms for t in tasks if t.stage == st.id]
            if len(dur) >= 2 and statistics.median(dur) > 0:
                skew.append(max(dur) / statistics.median(dur))
    out = {f"build.{k}": v / n for k, v in tot.items()}
    out["build.task_skew"] = max(skew)
    return out


def query_metrics(log: EventLog, spans: list[Span]) -> dict:
    """Jobs, tasks, task time, and time outside Spark stages, per search() call."""
    n = max(len(spans), 1)
    jobs = tasks = task_ms = driver_ms = 0.0
    for sp in spans:
        g = str(sp.id)
        ts = log.tasks_of(g)
        jobs += log.jobs_of(g)
        tasks += len(ts)
        task_ms += sum(t.run_ms for t in ts)
        stage_ms = union_ms((s.submit_ms, s.complete_ms) for s in log.stages_of(g))
        driver_ms += max(0.0, sp.seconds * 1e3 - stage_ms)
    return {"bm25.jobs_per_query": jobs / n, "bm25.tasks_per_query": tasks / n,
            "bm25.task_ms_per_query": task_ms / n,
            "bm25.driver_ms_per_query": driver_ms / n}
