"""Seeded benchmark inputs, cached by (seed, size) under `.bench_cache/`.

Only generated inputs and oracle answers are cached: the corpus parquet,
the oracle's token stream, the url -> doc_id map and the query mix.
Nothing the program writes (indexes, tables) is ever cached.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

from spm import Segmenter

CACHE = ".bench_cache"
MODEL = os.path.join("pears_lite_spark", "assets", "enwiki.lite.16k.model")
DOCS_PER_FILE = 250


class Corpus:
    """The generated html corpus, the extractable docs' oracle tokens and
    a seeded query pool. `extractable[i]` marks docs whose `text` (the
    generator's known extraction) is non-empty."""

    def __init__(self, seed: int, n_docs: int, n_random_queries: int):
        self.seed, self.n_docs = seed, n_docs
        self.dir = os.path.join(CACHE, f"corpus-s{seed}-n{n_docs}")
        self.parquet = os.path.join(self.dir, "parquet")
        meta = os.path.join(self.dir, "meta.json")
        if not os.path.exists(meta):
            self._generate(n_random_queries, meta)
        with open(meta) as fh:
            m = json.load(fh)
        self.urls, self.texts = m["urls"], m["texts"]
        self.extractable = np.array([bool(t) for t in self.texts])
        self.queries = m["queries"]  # [(query text, [pieces])]
        self.pieces = m["pieces"]
        self.piece_id = {p: i for i, p in enumerate(self.pieces)}
        z = np.load(os.path.join(self.dir, "tokens.npz"))
        self.tokens, self.offsets = z["tokens"], z["offsets"]

    def _generate(self, n_random: int, meta: str) -> None:
        from pears_lite_spark import corpus
        os.makedirs(self.dir, exist_ok=True)
        corpus.write_corpus_parquet(self.parquet, self.n_docs, self.seed,
                                    DOCS_PER_FILE)
        pdf = pq.read_table(self.parquet, columns=["url", "text", "lang"]).to_pandas()
        seg = Segmenter(MODEL)
        piece_id: dict[str, int] = {}
        toks, offsets = [], [0]
        for text in pdf["text"]:
            ids = [piece_id.setdefault(p, len(piece_id))
                   for p in seg.pieces(text)]
            toks.extend(ids)
            offsets.append(len(toks))
        texts = list(corpus.gen_query_set(pdf, self.seed))
        texts += random_queries(pdf["text"], n_random, self.seed)
        queries = [(q, seg.pieces(q)) for q in texts]
        for _, ps in queries:
            for p in ps:
                piece_id.setdefault(p, len(piece_id))
        np.savez(os.path.join(self.dir, "tokens.npz"),
                 tokens=np.asarray(toks, np.int32),
                 offsets=np.asarray(offsets, np.int64))
        with open(meta + ".tmp", "w") as fh:
            json.dump({"urls": list(pdf["url"]), "texts": list(pdf["text"]),
                       "queries": queries,
                       "pieces": sorted(piece_id, key=piece_id.get)}, fh)
        os.replace(meta + ".tmp", meta)

    def doc_ids(self, spark) -> np.ndarray:
        """xxhash64(url) per doc, computed once by Spark's own function."""
        return self._xxhash64(spark, "doc_ids.npy", self.urls)

    def term_ids(self, spark) -> np.ndarray:
        """xxhash64(piece) per piece id: the index's term_id."""
        return self._xxhash64(spark, "term_ids.npy", self.pieces)

    def _xxhash64(self, spark, name: str, strings: list[str]) -> np.ndarray:
        path = os.path.join(self.dir, name)
        if not os.path.exists(path):
            import pandas as pd
            from pyspark.sql import functions as F
            pdf = pd.DataFrame({"i": np.arange(len(strings)), "s": strings})
            rows = (spark.createDataFrame(pdf)
                    .select("i", F.xxhash64("s").alias("h")).collect())
            ids = np.empty(len(strings), np.int64)
            for r in rows:
                ids[r["i"]] = r["h"]
            np.save(path, ids)
        return np.load(path)

    def doc_tokens(self, rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Flat tokens + offsets of the docs at `rows` (in that order)."""
        lens = self.offsets[rows + 1] - self.offsets[rows]
        parts = [self.tokens[self.offsets[r]:self.offsets[r + 1]] for r in rows]
        flat = np.concatenate(parts) if parts else np.zeros(0, np.int32)
        return flat, np.concatenate([[0], np.cumsum(lens)])

    def query_ids(self, pieces: list[str]) -> list[int]:
        return [self.piece_id[p] for p in pieces]


def random_queries(texts, n: int, seed: int) -> list[str]:
    """`n` queries of 1-4 words drawn Zipf-skewed (by corpus frequency
    rank) from the words of the corpus text."""
    from collections import Counter
    counts = Counter(w for t in texts for w in t.split())
    lexicon = [w for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]
    w = 1.0 / np.arange(1, len(lexicon) + 1)
    rng = np.random.default_rng(seed + 2)
    out = []
    for _ in range(n):
        k = int(rng.integers(1, 5))
        out.append(" ".join(lexicon[i] for i in
                            rng.choice(len(lexicon), size=k, p=w / w.sum())))
    return out


def zipf_stream(n_pool: int, n: int, seed: int) -> list[int]:
    """`n` seeded draws of pool indices, Zipf-skewed by pool position: the
    pool opens with the highest-df single terms, so in every seed the most
    popular queries are head terms and the mix costs about the same."""
    rng = np.random.default_rng(seed + 3)
    w = 1.0 / np.arange(1, n_pool + 1)
    return rng.choice(n_pool, size=n, p=w / w.sum()).tolist()


class Answers:
    """Oracle top-k answers memoized per run and persisted in the cache."""

    def __init__(self, path: str):
        self.path = path
        self.memo: dict[str, list] = {}
        if os.path.exists(path):
            with open(path) as fh:
                self.memo = json.load(fh)
        self._dirty = False

    def get(self, key: str, compute) -> list[tuple[int, float]]:
        if key not in self.memo:
            self.memo[key] = compute()
            self._dirty = True
        return [tuple(x) for x in self.memo[key]]

    def save(self) -> None:
        if self._dirty:
            with open(self.path + ".tmp", "w") as fh:
                json.dump(self.memo, fh)
            os.replace(self.path + ".tmp", self.path)
