"""Percentiles under the tail rule, and open/closed-loop load generation."""

from __future__ import annotations

import math
import threading
import time
from concurrent.futures import ThreadPoolExecutor

MIN_BEYOND = 10  # a tail percentile needs at least this many samples above it


def percentile(xs, q: float) -> float:
    """Nearest-rank q-th quantile (0 < q <= 1)."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th quantile of n samples."""
    return n - math.ceil(q * n)


def tail(xs, q: float) -> float:
    """The q-th quantile, refused unless >= MIN_BEYOND samples lie beyond
    it: a tail read from fewer samples is one outlier, not a percentile."""
    if beyond(len(xs), q) < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} of {len(xs)} samples has "
                         f"{beyond(len(xs), q)} beyond it, needs {MIN_BEYOND}")
    return percentile(xs, q)


def samples_for(q: float) -> int:
    """Fewest samples whose q-th quantile satisfies the tail rule."""
    n = MIN_BEYOND
    while beyond(n, q) < MIN_BEYOND:
        n += 1
    return n


class OpenLoop:
    """Sends request i at its due time t0 + i / rate whatever the state of
    earlier requests. Latency runs from the due time, so a stall also
    charges the requests queued behind it; lag is how late the generator
    itself dispatched (if it grows, the generator limited the run)."""

    def __init__(self, rate: float, n: int, workers: int):
        self.rate, self.n, self.workers = rate, n, workers
        self.latency = [0.0] * n
        self.lag = [0.0] * n
        self.results: list = [None] * n
        self.errors: list = [None] * n

    def due(self, t0: float, i: int) -> float:
        return t0 + i / self.rate

    def run(self, fn) -> None:
        with ThreadPoolExecutor(self.workers) as pool:
            t0 = time.perf_counter() + 0.05
            futures = []
            for i in range(self.n):
                due = self.due(t0, i)
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                self.lag[i] = time.perf_counter() - due
                futures.append(pool.submit(self._one, fn, i, due))
            for f in futures:
                f.result()

    def _one(self, fn, i: int, due: float) -> None:
        try:
            self.results[i] = fn(i)
        except Exception as e:  # a failed request is counted, not fatal
            self.errors[i] = repr(e)
        self.latency[i] = time.perf_counter() - due


def closed_loop(fn, clients: int, seconds: float = math.inf,
                n: int | None = None):
    """`clients` threads each send their next request when the previous
    one returns, until `seconds` pass or `n` requests have been sent.
    fn(i) gets a global request number.
    Returns (elapsed, [(i, latency, result, error)])."""
    lock = threading.Lock()
    counter = [0]
    out: list = []
    t_end = time.perf_counter() + seconds

    def client() -> None:
        while time.perf_counter() < t_end:
            with lock:
                i = counter[0]
                if n is not None and i >= n:
                    return
                counter[0] += 1
            t = time.perf_counter()
            try:
                res, err = fn(i), None
            except Exception as e:
                res, err = None, repr(e)
            lat = time.perf_counter() - t
            with lock:
                out.append((i, lat, res, err))

    t0 = time.perf_counter()
    with ThreadPoolExecutor(clients) as pool:
        for f in [pool.submit(client) for _ in range(clients)]:
            f.result()
    return time.perf_counter() - t0, sorted(out, key=lambda r: r[0])
