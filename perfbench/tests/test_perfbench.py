"""Tests for the perfbench harness itself.

    python3 -m pytest perfbench/tests -q

The smoke test starts one local Spark session and takes about a minute.
"""

from __future__ import annotations

import copy
import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def _digest(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", ["etl_files", "corpus_curation"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a = _digest(gen.ensure_inputs(str(tmp_path / "a"), workload, 7))
    b = _digest(gen.ensure_inputs(str(tmp_path / "b"), workload, 7))
    c = _digest(gen.ensure_inputs(str(tmp_path / "c"), workload, 8))
    assert a == b
    assert len(a) == len(c)
    assert a != c


def test_inputs_are_cached_by_seed(tmp_path):
    d1 = gen.ensure_inputs(str(tmp_path), "etl_files", 3)
    stamp = os.stat(os.path.join(d1, "truth.json")).st_mtime_ns
    assert gen.ensure_inputs(str(tmp_path), "etl_files", 3) == d1
    assert os.stat(os.path.join(d1, "truth.json")).st_mtime_ns == stamp
    assert gen.ensure_inputs(str(tmp_path), "etl_files", 4) != d1


def test_cache_key_follows_the_settings(tmp_path, monkeypatch):
    d1 = gen.cache_dir(str(tmp_path), "etl_files", 3)
    settings = copy.deepcopy(gen.SETTINGS)
    settings["workloads"]["etl_files"]["large_rows"] += 1
    monkeypatch.setattr(gen, "SETTINGS", settings)
    assert gen.cache_dir(str(tmp_path), "etl_files", 3) != d1


def test_tail_percentile_rule():
    # at least 10 samples strictly beyond the nearest-rank position
    assert stats.tail_percentile(20) is None
    assert stats.tail_percentile(39) is None
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(200) == 95
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(10_000) == 99.9
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert sum(x > stats.percentile(xs, 90) for x in xs) == 10
    # the rule runs over job medians: 40 jobs give p75, however many
    # passes; fewer jobs give the slowest job's median latency
    lat = [(f"j{i}", float(i)) for i in range(1, 41)] * 3
    assert stats.job_tail(lat) == (30.0, 75)
    lat = [("a", 1.0), ("b", 5.0), ("b", 9.0), ("b", 6.0)] * 3
    assert stats.job_tail(lat) == (6.0, None)
    assert stats.job_tail(lat * 5) == (6.0, None)


def test_self_time_arithmetic():
    # a [0, 10] > b [1, 4] > c [2, 3]; a > b [5, 9]; e [11, 12] is a root
    tree = [("a", 0.0, 10.0, None), ("b", 1.0, 4.0, 0), ("c", 2.0, 3.0, 1),
            ("b", 5.0, 9.0, 0), ("e", 11.0, 12.0, None)]
    got = spans.layer_self_times(tree)
    assert got == pytest.approx({"a": 3.0, "b": 6.0, "c": 1.0, "e": 1.0})
    assert sum(got.values()) == pytest.approx(11.0)  # wall covered by roots
    assert spans.innermost_layer(tree, 2.5) == "c"
    assert spans.innermost_layer(tree, 4.5) == "a"
    assert spans.innermost_layer(tree, 10.5) is None


def test_tracer_wraps_and_counts():
    tracer = spans.Tracer()

    def leaf():
        return 1

    def outer():
        with tracer.span("inner"):
            return leaf()

    wrapped = tracer._wrap(outer, "outer")
    assert wrapped() == 1 and not tracer.spans  # disabled: no spans
    tracer.enabled = True
    wrapped()
    closed = tracer.closed_spans()
    assert [s[0] for s in closed] == ["outer", "inner"]
    assert closed[1][3] == 0
    assert tracer.calls == {"outer": 1, "inner": 1}


TINY = {"etl_files": {"small_rows": 24, "large_rows": 60},
        "corpus_curation": {"pages": 24, "documents": 8, "image_pairs": 4}}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    import harness

    s = harness.open_session(work)
    yield s
    s.stop()


@pytest.mark.parametrize("workload", ["etl_files", "query_mix",
                                      "corpus_curation"])
def test_smoke_every_workload_verifies(spark, tmp_path, monkeypatch,
                                       workload):
    import harness
    import workloads

    settings = copy.deepcopy(gen.SETTINGS)
    settings["workloads"].get(workload, {}).update(TINY.get(workload, {}))
    monkeypatch.setattr(gen, "SETTINGS", settings)
    monkeypatch.setattr(workloads.QueryMix, "QUERIES",
                        workloads.QueryMix.QUERIES[:3])
    inputs = gen.ensure_inputs(str(tmp_path), workload, 1)
    wl = workloads.WORKLOADS[workload](spark, inputs, 1, str(tmp_path),
                                       spans.Tracer())
    failures = []
    harness.run_pass(wl.jobs(), failures)
    checked, bad = wl.verify()
    assert failures == []
    assert bad == []
    assert checked == len(wl.jobs())
