"""Checks of the benchmark's own instruments.

Run from the repository root: ``python3 -m pytest perfbench -q``.

- The stage ledger against jobs of known shape (stage and task counts,
  shuffle bytes, and an idle pause that must add no task time).
- The seeded generator: the same seed gives the same content, another
  seed different content.
- The span tracer: nesting, self time, pass-through when disabled.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from ledger import StageLedger, covered  # noqa: E402
from spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("ZX_DRIVER_MEMORY", "1g")
    from zx_spark.session import get_spark

    s = get_spark("perfbench_test", {"spark.ui.showConsoleProgress": "false"})
    yield s


def _measure(spark, fn):
    led = StageLedger(spark)
    m0 = led.mark()
    fn()
    return led.since(m0)


def test_one_partition_sum_is_one_stage_one_task(spark):
    r = _measure(spark, lambda: spark.range(0, 1000, 1, 1).selectExpr("sum(id)").collect())
    assert (r["jobs"], r["stages"], r["tasks"]) == (1, 1, 1)
    assert r["input_rows"] == 1000


def test_eight_partition_sum_shape_under_aqe(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    r = _measure(spark, lambda: spark.range(0, 1000, 1, 8).selectExpr("sum(id)").collect())
    # AQE runs the 8-task map stage as its own job, then a second job whose
    # copy of that stage is skipped and whose final stage runs one task:
    # three stage attempts, 8 + 1 tasks run (17 if the skipped stage's 8
    # were counted, as a sum of numTasks does).
    assert (r["jobs"], r["stages"], r["tasks"]) == (2, 3, 9)
    assert r["shuffle_write_bytes"] > 0


def test_repartition_shuffles_bytes(spark):
    r = _measure(
        spark, lambda: spark.range(0, 100_000, 1, 4).repartition(5).selectExpr("sum(id)").collect()
    )
    assert r["shuffle_write_bytes"] > 0 and r["shuffle_read_bytes"] > 0


def test_idle_pause_adds_no_task_time(spark):
    job = lambda: spark.range(0, 1000, 1, 1).selectExpr("sum(id)").collect()  # noqa: E731
    job()
    idle = _measure(spark, lambda: time.sleep(0.5))
    assert idle["run_s"] == 0 and idle["cpu_s"] == 0 and idle["jobs"] == 0
    assert idle["driver_s"] >= 0.45

    def two_jobs_with_pause():
        job()
        time.sleep(0.5)
        job()

    r = _measure(spark, two_jobs_with_pause)
    # the pause is driver time, not task time (elapsed-time counters such
    # as ExecutorSummary.totalDuration grow by it)
    assert r["jobs"] == 2 and r["run_s"] < 0.4 and r["cpu_s"] < 0.4
    assert r["driver_s"] >= 0.45


def test_covered_merges_overlapping_intervals():
    assert covered([(0, 1), (0.5, 2), (3, 4), (3.5, 3.6), (5, 4.5)]) == pytest.approx(3.0)
    assert covered([]) == 0.0


def _inputs(seed, base):
    out = {}
    for wl in ("curate_batch", "ingest_mixed"):
        d = base / wl
        d.mkdir(parents=True)
        inp, _ = gen.build(seed, wl, str(d))
        for c in range(3):
            inp.add(f"batch{c}", gen.ingest_batch(seed, c))
        inp.add("corrections", gen.corrections(seed, 2, inp.tables["batch2"]))
        out[wl] = inp
    return out


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = (_inputs(s, tmp_path / d) for s, d in ((7, "a"), (7, "b"), (8, "c")))
    for wl in a:
        assert a[wl].content_hash() == b[wl].content_hash()
        assert a[wl].content_hash() != c[wl].content_hash()
        m = a[wl].manifest
        assert all(v["rows"] > 0 and v["bytes"] > 0 for v in m.values())


def test_planted_sets_are_disjoint(tmp_path):
    _, info = gen.build(3, "curate_batch", str(tmp_path))
    sets = [set(v) for v in info["planted"].values()]
    assert all(sets)
    assert sum(len(s) for s in sets) == len(set().union(*sets))


def _leaf(x):
    time.sleep(0.01)
    return x


def _outer(x):
    return _leaf(x) + 1


def test_tracer_nesting_self_time_and_passthrough():
    mod = sys.modules[__name__]
    tr = Tracer()
    tr.install(f"{__name__}:_leaf", "leaf")
    tr.install(f"{__name__}:_outer", "outer")
    try:
        assert mod._outer(1) == 2 and tr.spans == []  # disabled: no spans
        tr.enabled, tr.op = True, 0
        assert mod._outer(1) == 2
    finally:
        tr.enabled = False
        tr.uninstall()
    leaf, outer = sorted(tr.spans, key=lambda s: s.name)
    assert (outer.name, leaf.name) == ("outer", "leaf")
    assert tr.spans[leaf.parent] is outer and outer.parent is None
    assert outer.self_s == pytest.approx(outer.dur - leaf.dur)
    per = tr.per_op([0])
    assert per["leaf"]["calls"] == 1 and per["outer"]["dur_s"] == pytest.approx(outer.dur)
    assert mod._leaf.__name__ == "_leaf" and not hasattr(mod._leaf, "__wrapped__")
