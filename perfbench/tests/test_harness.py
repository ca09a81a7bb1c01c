"""Tests of the benchmark's own harness: generator, statistics, spans,
event-log parser and the metric list in BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import ghgen  # noqa: E402
import lakegen  # noqa: E402
from run import END_TO_END_UNITS, unit  # noqa: E402
from spans import Span, Spans, covered  # noqa: E402
from stats import median, percentile  # noqa: E402
from workloads import per_layer_names  # noqa: E402


def _read_all(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


def test_same_seed_same_feed_bytes(tmp_path):
    a = ghgen.write_feed(str(tmp_path / "a"), seed=5, hours=2, events_per_hour=300)
    b = ghgen.write_feed(str(tmp_path / "b"), seed=5, hours=2, events_per_hour=300)
    c = ghgen.write_feed(str(tmp_path / "c"), seed=6, hours=2, events_per_hour=300)
    assert _read_all(a) == _read_all(b)
    assert _read_all(a) != _read_all(c)


def test_feed_has_its_stated_properties(tmp_path):
    (path,) = ghgen.write_feed(str(tmp_path), seed=1, hours=1,
                               events_per_hour=5000)
    with open(path, encoding="utf-8") as f:
        events = [json.loads(line) for line in f]
    assert len(events) == 5000
    ids = [e["id"] for e in events]
    assert len(ids) - len(set(ids)) == int(5000 * ghgen.REDELIVERY_SHARE)
    orgless = sum(e["org"] is None for e in events) / len(events)
    assert abs(orgless - ghgen.ORGLESS_SHARE) < 0.03
    actors = [e["actor"]["id"] for e in events]
    top = max(actors.count(a) for a in set(actors))
    assert top > 20 * len(actors) / len(set(actors))  # skewed, not uniform


def test_cached_feed_reuses_the_first_generation(tmp_path):
    first = ghgen.cached_feed(str(tmp_path), seed=3, hours=1, events_per_hour=50)
    mtime = os.path.getmtime(first[0])
    again = ghgen.cached_feed(str(tmp_path), seed=3, hours=1, events_per_hour=50)
    assert again == first and os.path.getmtime(again[0]) == mtime


def test_same_seed_same_lake():
    a, b = lakegen.tables(9, 0.001), lakegen.tables(9, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not lakegen.tables(10, 0.001)["lineitem"].equals(a["lineitem"])


def test_percentile_needs_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]
    assert percentile(samples, 90) == 90.0
    with pytest.raises(ValueError):
        percentile(samples, 91)  # rank 91 leaves 9 beyond
    assert percentile(samples[:20], 50) == 10.0
    with pytest.raises(ValueError):
        percentile(samples[:19], 50)
    with pytest.raises(ValueError):
        percentile(samples, 100)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_span_self_time_subtracts_covered_children():
    s = Spans()
    s.spans = [Span("op", 0.0, 10.0, None, "q"),
               Span("build", 1.0, 3.0, 0, "q"),
               Span("exec", 2.0, 5.0, 0, "q"),    # overlaps build
               Span("late", 8.0, 12.0, 0, "q"),   # runs past its parent
               Span("inner", 2.5, 4.0, 2, "q")]
    self_times = s.self_times()
    assert self_times[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert self_times[2] == pytest.approx(3.0 - 1.5)
    assert self_times[4] == pytest.approx(1.5)


def test_span_recorder_nests_and_inherits_op():
    s = Spans()
    with s.span("op", op="q7"):
        with s.span("plans.build"):
            pass
    op, child = s.spans
    assert child.parent == 0 and child.op == "q7" and op.parent is None
    assert op.start <= child.start <= child.end <= op.end


def test_covered_merges_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(2, 4), (3, 6), (9, 20)]) == pytest.approx(5.0)


def test_event_log_profile_per_job_group():
    jobs, stages = eventlog.read(os.path.join(HERE, "data", "tiny_eventlog.json"))
    p = eventlog.profile(jobs, stages, group="q1#0")
    assert (p.jobs, p.stages, p.tasks) == (2, 3, 7)  # stage 2 was skipped
    assert p.job_s == pytest.approx(0.8)
    m = p.metrics
    assert m["exec_run_ms"] == 1300 and m["exec_cpu_ns"] == 900_000_000
    assert (m["shuffle_records"], m["shuffle_bytes"]) == (40, 4096)
    assert (m["spill_memory_bytes"], m["spill_disk_bytes"]) == (100, 50)
    assert m["scan_rows"] == 6000


def test_event_log_profile_by_window_skips_failed_stages():
    jobs, stages = eventlog.read(os.path.join(HERE, "data", "tiny_eventlog.json"))
    p = eventlog.profile(jobs, stages, window_ms=(4000, 6000))
    assert (p.jobs, p.stages, p.tasks) == (1, 0, 0)
    assert p.job_s == pytest.approx(0.3)


def test_benchmark_json_lists_the_metrics_the_runs_report():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"),
              encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    assert all(m["unit"] == unit(m["name"]) for m in spec["per_layer"])
