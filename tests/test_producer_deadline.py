"""Spark-free tests of the deadline a pandas producer carries into its
Python worker (``PandasProducer.make_map_fn(deadline=...)``): the stop
must interrupt a blocked batch close to the deadline, and a worker that
finishes normally must leave no armed timer or foreign SIGALRM handler
behind for the next task it runs."""

import signal
import threading
import time

import pandas as pd
import pytest

from kiji_scoring_spark.producers import PandasProducer, ProducerDeadlineExceeded

#: scheduling slack allowed around the deadline
SLACK_S = 0.5


def _batches():
    return iter([pd.DataFrame({"x": [1.0, 2.0]})])


def _sleeping(seconds):
    def score(pdf):
        time.sleep(seconds)
        return pdf["x"] * 2

    return score


@pytest.fixture
def sentinel_handler():
    """Install a known SIGALRM handler, yield it, then put back the old one."""

    def handler(signum, frame):  # pragma: no cover - must never fire
        raise AssertionError("SIGALRM reached the caller's handler")

    old = signal.signal(signal.SIGALRM, handler)
    yield handler
    signal.setitimer(signal.ITIMER_REAL, 0)
    signal.signal(signal.SIGALRM, old)


def test_sleeping_batch_stops_near_deadline(sentinel_handler):
    cleaned = []
    producer = PandasProducer(_sleeping(30), cleanup=cleaned.append)
    budget_s = 0.3
    t0 = time.monotonic()
    map_fn = producer.make_map_fn("score", deadline=time.time() + budget_s)
    with pytest.raises(ProducerDeadlineExceeded):
        list(map_fn(_batches()))
    elapsed = time.monotonic() - t0
    assert budget_s - 0.05 <= elapsed < budget_s + SLACK_S
    assert cleaned == [None]  # cleanup still runs on the way out
    assert signal.getitimer(signal.ITIMER_REAL) == (0.0, 0.0)
    assert signal.getsignal(signal.SIGALRM) is sentinel_handler


def test_past_deadline_stops_at_once(sentinel_handler):
    producer = PandasProducer(_sleeping(30))
    map_fn = producer.make_map_fn("score", deadline=time.time() - 1.0)
    t0 = time.monotonic()
    with pytest.raises(ProducerDeadlineExceeded):
        list(map_fn(_batches()))
    assert time.monotonic() - t0 < SLACK_S
    assert signal.getsignal(signal.SIGALRM) is sentinel_handler


def test_normal_finish_disarms_and_restores(sentinel_handler):
    producer = PandasProducer(lambda pdf: pdf["x"] * 2)
    map_fn = producer.make_map_fn("score", deadline=time.time() + 30)
    (out,) = list(map_fn(_batches()))
    assert out["score"].tolist() == [2.0, 4.0]
    assert signal.getitimer(signal.ITIMER_REAL) == (0.0, 0.0)
    assert signal.getsignal(signal.SIGALRM) is sentinel_handler


def test_no_deadline_installs_nothing(sentinel_handler):
    seen = []

    def score(pdf):
        seen.append((signal.getsignal(signal.SIGALRM), signal.getitimer(signal.ITIMER_REAL)))
        return pdf["x"] * 2

    map_fn = PandasProducer(score).make_map_fn("score")
    list(map_fn(_batches()))
    assert seen == [(sentinel_handler, (0.0, 0.0))]


def test_non_main_thread_runs_without_timer():
    seen, errors, outs = [], [], []

    def score(pdf):
        seen.append(signal.getitimer(signal.ITIMER_REAL))
        return pdf["x"] * 2

    map_fn = PandasProducer(score).make_map_fn("score", deadline=time.time() + 30)

    def run():
        try:
            outs.extend(map_fn(_batches()))
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    t = threading.Thread(target=run)
    t.start()
    t.join(10)
    assert errors == []
    assert seen == [(0.0, 0.0)]
    assert outs[0]["score"].tolist() == [2.0, 4.0]
