import importlib.util
import math
import os

import numpy as np
import pytest

from oracle import Bm25Oracle, same_ranking
from spm import Segmenter

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
MODEL = os.path.join(ROOT, "pears_lite_spark", "assets", "enwiki.lite.16k.model")


def _repo_oracle():
    """tests/oracle.py, loaded read-only by path."""
    spec = importlib.util.spec_from_file_location(
        "repo_tests_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.bm25_topk_oracle


@pytest.fixture(scope="module")
def small():
    from pears_lite_spark.corpus import gen_corpus, gen_query_set
    pdf = gen_corpus(150, seed=5)
    pdf = pdf[pdf["text"] != ""]
    seg = Segmenter(MODEL)
    docs = {i: seg.pieces(t) for i, t in enumerate(pdf["text"])}
    queries = [seg.pieces(q) for q in gen_query_set(pdf, seed=5)]
    return seg, pdf, docs, queries


def _numpy_oracle(docs, ids, **kw):
    toks, offs = [], [0]
    for d in sorted(docs):
        toks += [ids.setdefault(p, len(ids)) for p in docs[d]]
        offs.append(len(toks))
    return Bm25Oracle(np.array(sorted(docs)), np.array(toks), np.array(offs), **kw)


def test_matches_repo_oracle(small):
    _, _, docs, queries = small
    ids: dict = {}
    o = _numpy_oracle(docs, ids)
    ref = _repo_oracle()
    for q in queries:
        want = ref(docs, q, 10)
        got = o.topk([ids.get(p, -1) for p in q], 10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want))


def test_frozen_stats_apply():
    # two docs, frozen N=10 / avgdl=4: idf and length norm use them
    o = Bm25Oracle(np.array([7, 3]), np.array([0, 1, 0, 0]), np.array([0, 2, 4]),
                   n_docs=10, avgdl=4.0)
    idf = math.log((10 - 2 + 0.5) / (2 + 0.5) + 1)
    norm = 1.2 * (1 - 0.75 + 0.75 * 2 / 4.0)
    s = o.scores([0])
    assert s[7] == pytest.approx(idf * 1 / (1 + norm), abs=1e-12)
    assert s[3] == pytest.approx(idf * 2 / (2 + norm), abs=1e-12)
    assert o.topk([0], 1) == [(3, s[3])]
    assert o.topk([99], 5) == []


def test_same_ranking_allows_only_true_ties():
    scores = {1: 2.0, 2: 2.0, 3: 1.0, 4: 0.5}
    want = [(1, 2.0), (2, 2.0), (3, 1.0)]
    assert same_ranking([(2, 2.0), (1, 2.0), (3, 1.0)], want, scores)
    assert not same_ranking([(1, 2.0), (2, 2.0), (4, 1.0)], want, scores)
    assert not same_ranking([(1, 2.0), (2, 2.0)], want, scores)
    assert not same_ranking([(1, 2.0), (1, 2.0), (3, 1.0)], want, scores)
    assert not same_ranking([(1, 2.0), (2, 2.0), (3, 1.0 + 1e-6)], want, scores)


def test_segmenter_matches_engine_vocab(small):
    from pears_lite_spark.vocab import get_vocab
    seg, pdf, _, _ = small
    v = get_vocab()
    odd = ["river ∆∆", "ΩΩΩ light", "naïve café façade", "  ", "Straße ß", "x"]
    for text in list(pdf["text"]) + odd:
        assert seg.pieces(text) == v.encode_as_pieces(text), text


def test_read_postings_decodes_engine_blocks(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pears_lite_spark.index.codec import encode_postings
    from oracle import read_postings
    rng = np.random.default_rng(3)
    rows, want = [], []
    for term_id in (-(2 ** 63), -5, 7, 2 ** 62):
        ids = np.unique(rng.integers(-(2 ** 63), 2 ** 63 - 1, 300, dtype=np.int64))
        tfs = rng.integers(1, 400, ids.size)
        for b in encode_postings(ids, tfs, np.full(ids.size, 10), 10.0):
            rows.append({"term_id": term_id, "n": b.n, "docs": b.docs, "tfs": b.tfs})
        want += [(term_id, d, t) for d, t in zip(ids.tolist(), tfs.tolist())]
    half = len(rows) // 2
    (tmp_path / "term_bucket=1").mkdir()
    pq.write_table(pa.Table.from_pylist(rows[:half]), tmp_path / "a.parquet")
    pq.write_table(pa.Table.from_pylist(rows[half:]),
                   tmp_path / "term_bucket=1" / "b.parquet")
    got = read_postings(str(tmp_path))
    assert list(zip(*(a.tolist() for a in got))) == sorted(want)
    rows[0]["n"] += 1
    pq.write_table(pa.Table.from_pylist(rows[:half]), tmp_path / "a.parquet")
    assert read_postings(str(tmp_path)) is None
