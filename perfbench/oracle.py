"""Exhaustive numpy BM25 oracle, the rank-identity check and a reader of
written indexes.

Imports no engine code. Scores follow the engine's documented model
(k1=1.2, b=0.75, idf = ln((N - df + 0.5) / (df + 0.5) + 1)); ties rank by
doc_id ascending. N and avgdl default to the indexed documents' own
values; an incrementally built index passes its frozen values instead.
"""

from __future__ import annotations

import glob
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K1, B = 1.2, 0.75
TOL = 1e-9


class Bm25Oracle:
    """doc_ids[i] owns tokens[offsets[i]:offsets[i + 1]] (integer token ids)."""

    def __init__(self, doc_ids: np.ndarray, tokens: np.ndarray,
                 offsets: np.ndarray, n_docs: int | None = None,
                 avgdl: float | None = None):
        self.doc_ids = np.asarray(doc_ids, np.int64)
        self.dl = np.diff(offsets)
        dl = self.dl.astype(np.float64)
        self.n_docs = len(self.doc_ids) if n_docs is None else n_docs
        self.avgdl = float(dl.mean()) if avgdl is None else avgdl
        n = len(self.doc_ids)
        doc_of = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))
        keys, tf = np.unique(np.asarray(tokens, np.int64) * n + doc_of,
                             return_counts=True)
        # postings sorted by (term, doc): term id, doc index, tf
        self.term = keys // n
        self.doc = keys % n
        self.tf = tf.astype(np.float64)
        self._norm = K1 * (1.0 - B + B * dl / self.avgdl)

    def postings(self, term_ids: np.ndarray) -> tuple[np.ndarray, ...]:
        """(term_id, doc_id, tf) of every posting, in lexsorted() order;
        `term_ids` maps the oracle's token ids to the index's term ids."""
        return lexsorted(term_ids[self.term], self.doc_ids[self.doc],
                         self.tf.astype(np.int64))

    def df(self, term: int) -> int:
        lo, hi = np.searchsorted(self.term, [term, term + 1])
        return int(hi - lo)

    def scores(self, terms) -> dict[int, float]:
        """doc_id -> score for every doc holding at least one query term."""
        acc = np.zeros(len(self.doc_ids))
        hit = np.zeros(len(self.doc_ids), bool)
        for t in sorted(set(terms)):
            lo, hi = np.searchsorted(self.term, [t, t + 1])
            if hi == lo:
                continue
            df = hi - lo
            idf = math.log((self.n_docs - df + 0.5) / (df + 0.5) + 1.0)
            d, tf = self.doc[lo:hi], self.tf[lo:hi]
            acc[d] += idf * tf / (tf + self._norm[d])
            hit[d] = True
        idx = np.flatnonzero(hit)
        return dict(zip(self.doc_ids[idx].tolist(), acc[idx].tolist()))

    def topk(self, terms, k: int) -> list[tuple[int, float]]:
        s = self.scores(terms)
        return sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def same_ranking(got: list[tuple[int, float]],
                 want: list[tuple[int, float]],
                 all_scores: dict[int, float]) -> bool:
    """Rank identity up to score ties: same length, every rank's score
    within TOL, and where the doc_ids differ the served doc must score
    within TOL of the oracle's doc at that rank (a tie broken the other
    way by float summation order)."""
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > TOL:
            return False
        if gd != wd and abs(all_scores.get(gd, math.inf) - ws) > TOL:
            return False
    return True


def lexsorted(term: np.ndarray, doc: np.ndarray, tf: np.ndarray):
    order = np.lexsort((doc, term))
    return term[order], doc[order], tf[order]


def _leb128(buf: bytes) -> np.ndarray:
    """The values of a LEB128 varint stream."""
    b = np.frombuffer(buf, np.uint8)
    if b.size == 0:
        return np.zeros(0, np.uint64)
    ends = np.flatnonzero(b < 0x80)
    starts = np.concatenate([[0], ends[:-1] + 1])
    shift = np.arange(b.size) - np.repeat(starts, ends - starts + 1)
    groups = (b & 0x7F).astype(np.uint64) << (7 * shift).astype(np.uint64)
    return np.add.reduceat(groups, starts)  # the 7-bit groups never overlap


def index_files(path: str) -> list[str]:
    """The parquet files of the index written at `path`."""
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def read_postings(path: str) -> tuple[np.ndarray, ...] | None:
    """(term_id, doc_id, tf) of every posting in the index written at
    `path`, in lexsorted() order, read by the documented block layout: one
    row per block of `n` postings, `docs` = LEB128 of the first doc_id
    (as uint64) then each gap - 1, `tfs` = LEB128 of each tf - 1. None if
    a block's streams do not hold `n` values."""
    t = pa.concat_tables(pq.read_table(f, columns=["term_id", "n", "docs", "tfs"])
                         for f in index_files(path))
    n = t["n"].to_numpy().astype(np.int64)
    vals = _leb128(b"".join(t["docs"].to_pylist())).astype(np.int64)
    tf = _leb128(b"".join(t["tfs"].to_pylist())).astype(np.int64) + 1
    if len(vals) != n.sum() or len(tf) != n.sum():
        return None
    first = np.concatenate([[0], np.cumsum(n)[:-1]])
    gaps = vals + 1
    gaps[first] = vals[first]
    # a block's doc_ids are the running sum of its gaps; int64 wraps like
    # the uint64 stream, so ids above 2^63 come out right
    run = np.cumsum(gaps)
    doc = run - np.repeat(run[first] - gaps[first], n)
    term = np.repeat(t["term_id"].to_numpy(), n)
    return lexsorted(term, doc, tf)
