"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench/selftest.py -q

Covers: a corrupted output counts as a failed job; the event-log fold
of a tiny known job; self-time arithmetic on nested spans.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import eventlog  # noqa: E402
import spans as S  # noqa: E402
from run import Runner  # noqa: E402

SQUARE = {7: [np.array([(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)])],
          9: [np.array([(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0)])]}
POINTS = [("a", 0.5, 0.5), ("b", 1.5, 1.5), ("c", 2.5, 2.5), ("d", 5.0, 5.0)]


class FakeWorkload:
    """Runs no Spark: its job returns fixed PIP rows, and its check is
    the real PIP check, so corrupting the rows must fail the job."""

    name = "fake"

    def __init__(self, rows):
        self.rows = rows
        self.expected = checks.pip_expected(POINTS, SQUARE)

    def check(self, spark, out):
        return checks.check_pip(self.expected, out)


def _attempt(rows) -> Runner:
    r = Runner(FakeWorkload(rows), spark=None)
    r.attempt(lambda: list(rows))
    return r


def test_pip_expected_brute_force():
    assert checks.pip_expected(POINTS, SQUARE) == {
        ("a", 7): 1, ("b", 7): 1, ("b", 9): 1, ("c", 9): 1}


def test_correct_output_passes():
    r = _attempt([("a", 7), ("b", 7), ("b", 9), ("c", 9)])
    assert (r.attempted, r.failed) == (1, 0)


def test_dropped_row_fails():
    r = _attempt([("a", 7), ("b", 7), ("c", 9)])
    assert (r.attempted, r.failed) == (1, 1)


def test_changed_zone_id_fails():
    r = _attempt([("a", 7), ("b", 7), ("b", 9), ("c", 7)])
    assert (r.attempted, r.failed) == (1, 1)


def test_raising_job_fails():
    r = Runner(FakeWorkload([]), spark=None)
    r.attempt(lambda: 1 / 0)
    assert (r.attempted, r.failed) == (1, 1)


def test_digest_is_order_insensitive_and_sees_changes():
    rows = [(1, 2, 3), (4, 5, 6)]
    assert checks.digest(rows) == checks.digest(rows[::-1])
    assert checks.digest(rows) != checks.digest([(1, 2, 3), (4, 5, 7)])
    assert checks.check_repeat("x", "d1", "d1") == []
    assert checks.check_repeat("x", "d1", "d2")


def test_knn_check_orders_by_dist_then_tid():
    targets = [(10, 0.0, 1.0), (11, 1.0, 0.0), (12, 3.0, 3.0)]  # 10, 11 tie
    want = checks.knn_expected([("q", 0.0, 0.0)], targets, 2)
    assert [t for t, _ in want["q"]] == [10, 11]
    good = [("q", 10, 1.0, 1), ("q", 11, 1.0, 2)]
    assert checks.check_knn(want, good) == []
    assert checks.check_knn(want, good[:1])  # a row dropped
    assert checks.check_knn(want, [("q", 11, 1.0, 1), ("q", 10, 1.0, 2)])  # tie flipped


def test_pairs_check():
    want = [(1, 2, 0.5), (3, 4, 1.0)]
    assert checks.check_pairs("j", want, [(3, 4, 1.0), (1, 2, 0.5)]) == []
    assert checks.check_pairs("j", want, want[:1])
    assert checks.check_pairs("j", want, [(1, 2, 0.5), (3, 4, 0.9)])


# ------------------------------------------------------------- spans


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_on_nested_spans():
    clock = Clock()
    tr = S.Tracer("run", clock=clock)
    with tr.span("job") as job:          # 0 .. 10
        clock.t = 1.0
        with tr.span("a") as a:          # 1 .. 4
            clock.t = 2.0
            with tr.span("a1"):          # 2 .. 3
                clock.t = 3.0
            clock.t = 4.0
        with tr.span("b") as b:          # 4 .. 7
            clock.t = 7.0
        clock.t = 10.0
    st = S.self_times(tr.spans)
    assert st[job["id"]] == pytest.approx(10 - 3 - 3)
    assert st[a["id"]] == pytest.approx(3 - 1)
    assert st[b["id"]] == pytest.approx(3)
    assert sum(st.values()) == pytest.approx(S.wall(job))
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]
    assert S.subtree(tr.spans, a["id"]) == [1, 2]
    assert all(s["run_id"] == "run" for s in tr.spans)


# ---------------------------------------------------------- event log


def _task(stage, run_ms, cpu_ns, wrote=0, read=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 1,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": wrote},
        "Disk Bytes Spilled": spill}}


def test_fold_synthetic_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        _task(0, 100, 50_000_000, wrote=10),
        _task(0, 300, 50_000_000, wrote=20),
        _task(1, 200, 10_000_000, read=30, spill=5),
        _task(1, 600, 10_000_000, read=30),
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        _task(2, 1000, 0),
    ]
    p = tmp_path / "log"
    p.write_text("".join(json.dumps(e) + "\n" for e in events))
    f = eventlog.fold(str(p))
    g = f["g"]
    assert (g["jobs"], g["tasks"]) == (1, 4)
    assert g["executor_run_s"] == pytest.approx(1.2)
    assert g["executor_cpu_s"] == pytest.approx(0.12)
    assert (g["shuffle_write_bytes"], g["shuffle_read_bytes"], g["spill_bytes"]) == (30, 60, 5)
    assert f[""]["tasks"] == 1
    assert eventlog.task_skew(g) == pytest.approx(600 / 400)  # stage 1 read the shuffle
    assert eventlog.core_util(g, wall_s=1.0, cores=2) == pytest.approx(0.6)


def test_fold_of_a_tiny_spark_job(tmp_path):
    """4 map tasks write shuffle, 3 reduce tasks read it (AQE off so the
    reduce side is not coalesced): 7 tasks charged to the span's group."""
    from pyspark.sql import functions as F

    from o2g_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    events = tmp_path / "events"
    events.mkdir()
    spark = get_spark("perfbench-selftest", master="local[2]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "3",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + str(events),
    })
    try:
        tr = S.Tracer("t", spark)
        with tr.span("tiny") as sp:
            spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 5).alias("k")).count().collect()
    finally:
        spark.stop()
    (log,) = list(events.iterdir())
    t = eventlog.fold(str(log))[tr.group(sp["id"])]
    assert t["tasks"] == 7
    assert t["shuffle_write_bytes"] > 0
    assert t["shuffle_read_bytes"] > 0
