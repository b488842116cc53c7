import time

import pytest

from stats import OpenLoop, beyond, closed_loop, percentile, samples_for, tail


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert percentile(xs, 0.5) == 50
    assert percentile(xs, 0.95) == 95
    assert percentile(xs, 1.0) == 100
    assert percentile([7], 0.99) == 7


def test_tail_needs_ten_samples_beyond():
    assert beyond(200, 0.95) == 10
    assert beyond(199, 0.95) == 9
    assert samples_for(0.95) == 200
    assert samples_for(0.80) == 50
    assert tail(list(range(200)), 0.95) == 189
    with pytest.raises(ValueError):
        tail(list(range(199)), 0.95)
    with pytest.raises(ValueError):
        tail(list(range(49)), 0.80)


def test_open_loop_charges_queueing_from_due_time():
    # one worker, 20 ms of service per request, a request due every 10 ms:
    # the queue grows by 10 ms per request, and latency from the due time
    # must show it even though each request's own service time is flat
    ol = OpenLoop(rate=100.0, n=20, workers=1)
    ol.run(lambda i: time.sleep(0.02) or i)
    assert ol.results == list(range(20))
    assert ol.latency[0] < 0.05
    assert ol.latency[-1] > 0.02 + 19 * 0.01 * 0.8
    growth = [b - a for a, b in zip(ol.latency, ol.latency[1:])]
    assert sum(growth) / len(growth) > 0.007
    # the generator itself kept to its schedule
    assert max(ol.lag) < 0.05


def test_open_loop_counts_errors_without_stopping():
    ol = OpenLoop(rate=200.0, n=5, workers=2)

    def fn(i):
        if i == 2:
            raise RuntimeError("boom")
        return i
    ol.run(fn)
    assert ol.errors[2] is not None and "boom" in ol.errors[2]
    assert [r for r in ol.results if r is not None] == [0, 1, 3, 4]
    assert all(x > 0 for x in ol.latency)


def test_closed_loop_stops_at_count():
    elapsed, out = closed_loop(lambda i: i * 2, clients=3, n=17)
    assert [i for i, *_ in out] == list(range(17))
    assert all(res == i * 2 and err is None for i, _, res, err in out)
