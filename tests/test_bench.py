"""The bench harness's one-line record and its last-gasp signal path.

These run without Spark: they pin what the driver parses (the last
stdout line), independently of how fast the host is.

The ``_time_reps`` checks at the end are the exception: they run a fake
two-entry catalog, whose builder pins a tiny frame, on the test session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench

INGEST = {"samples": 600000, "sec": 1.2, "samples_per_s": 500000}
QPS = {"instant": {"queries": 32, "qps": 3.2},
       "range_1h": {"queries": 81, "qps": 8.1}}


def test_compose_line_parses_and_fits():
    timings = {f"q{i}": 0.5 for i in range(18)}
    line = bench._compose_line(timings, timings, timings, INGEST, QPS,
                               0.1, [])
    doc = json.loads(line)
    assert doc["metric"] == "headline_queries_total_wall"
    assert doc["value"] == doc["value_median"] == doc["value_min"] == 9.0
    assert doc["qps"] == {"instant": 3.2, "range_1h": 8.1}
    assert doc["ingest"] == INGEST
    assert "headline_failed" not in doc and "budget_skipped" not in doc
    assert len(line) < bench.LINE_MAX


def test_compose_line_trims_oversize():
    """Ingest detail goes first; the headline fields stay."""
    timings = {f"very_long_query_name_padding_{i:04d}": 0.123
               for i in range(30)}
    ingest = dict(INGEST, filler="x" * 800)
    line = bench._compose_line(timings, timings, timings, ingest, QPS,
                               0.1, ["iterative"])
    doc = json.loads(line)
    assert len(line) < bench.LINE_MAX
    assert doc["ingest"] == {"samples_per_s": 500000}
    assert doc["qps"] == {"instant": 3.2, "range_1h": 8.1}
    assert doc["queries"] == timings
    assert doc["budget_skipped"] == ["iterative"]


def test_compose_line_many_long_names_fit():
    timings = {f"very_long_query_name_padding_{i:04d}": 0.123
               for i in range(100)}
    line = bench._compose_line(timings, timings, timings, INGEST, QPS,
                               0.1, [])
    doc = json.loads(line)
    assert len(line) < bench.LINE_MAX
    assert doc["value"] == round(0.123 * 100, 3)  # the total of all 100
    assert doc["queries"]                # queries always survive
    assert doc["queries_trimmed"] == 100 - len(doc["queries"])
    assert "qps" not in doc and "value_median" not in doc


def test_empty_headline_is_flagged_not_zero():
    line = bench._compose_line({}, {}, {}, {}, {}, 0.1, ["qps"])
    doc = json.loads(line)
    assert doc["headline_failed"] is True
    assert doc["value"] is None
    line = bench._compose_line({"q": 0.5}, {"q": 0.5}, {"q": 0.5}, {}, {},
                               0.1, [], failed=True)
    assert json.loads(line)["value"] is None


def test_sigterm_reprints_line_and_exits_143():
    code = (
        "import os, signal, bench\n"
        "signal.signal(signal.SIGTERM, bench._on_signal)\n"
        "bench._EMIT['line'] = bench._compose_line("
        "{'q': 0.5}, {'q': 0.5}, {'q': 0.5}, {}, {}, 0.1, [])\n"
        "print('progress', end='', flush=True)\n"
        "os.kill(os.getpid(), signal.SIGTERM)\n"
        "signal.pause()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", code], cwd=root,
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 143
    doc = json.loads(proc.stdout.strip().splitlines()[-1])
    assert doc["value"] == 0.5 and doc["queries"] == {"q": 0.5}


class _FakeDef:
    """A catalog entry whose builder pins a tiny frame and records each
    call's data directory and whether the CacheManager was empty then."""

    def __init__(self, calls: list):
        self.calls = calls

    def fn(self, spark, sf_dir):
        from squirreldb_spark.pipeline._pins import pinned

        cache = spark._jsparkSession.sharedState().cacheManager()
        self.calls.append((sf_dir, cache.isEmpty()))
        return spark.range(5).selectExpr("id * 7 as v").transform(pinned)


def test_time_reps_warms_then_releases_pins_every_rep(spark):
    spark.catalog.clearCache()
    calls: dict[str, list] = {"a": [], "b": []}
    catalog = {n: _FakeDef(c) for n, c in calls.items()}
    best, samples = bench._time_reps(spark, catalog, ["a", "b"], reps=3)
    assert set(best) == set(samples) == {"a", "b"}
    assert all(len(s) == 3 for s in samples.values())
    for c in calls.values():
        # one warm-up on the sf0.001 set, then the timed reps
        assert [d for d, _ in c] == [bench.WARM_SF_DIR] + [bench.SF_DIR] * 3
        # every call starts with the previous call's pins released
        assert all(empty for _, empty in c)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_time_reps_stops_before_warming_past_reserve(spark, monkeypatch):
    left = iter([1000.0, 10.0])
    monkeypatch.setattr(bench, "_remaining", lambda: next(left, 10.0))
    calls: dict[str, list] = {"a": [], "b": []}
    catalog = {n: _FakeDef(c) for n, c in calls.items()}
    best, samples = bench._time_reps(spark, catalog, ["a", "b"], reps=2,
                                     reserve=100.0)
    assert set(samples) == {"a"} and len(calls["a"]) == 3
    assert calls["b"] == []  # not even warmed
