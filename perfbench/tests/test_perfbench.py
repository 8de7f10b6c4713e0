"""Unit tests for the benchmark's own arithmetic, tracing and event-log parsing.

Run with: python -m pytest perfbench/tests -q
"""

import json
import sys
import types
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run, stats  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    Tracer,
    job_metrics,
    jobs_under,
    parse_event_log,
    self_times,
)

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.jsonl"


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.highest_supported_percentile(n) == expected


def test_failed_frac():
    assert stats.failed_frac(7, 0) == 0.0
    assert stats.failed_frac(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


def test_self_time_subtracts_covered_part_of_children_once():
    spans = [
        Span(0, "engine.crawl", 0.0, 10.0, None),
        Span(1, "catalog.write.stage", 1.0, 3.0, 0),
        Span(2, "catalog.read", 2.0, 4.0, 0),  # overlaps the first child
        Span(3, "catalog.state_save", 6.0, 7.0, 0),
        Span(4, "catalog.read", 6.2, 6.4, 3),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (3.0 + 1.0))
    assert st[3] == pytest.approx(0.8)
    assert st[1] == pytest.approx(2.0)


def test_wrap_records_nested_spans_and_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)

    class Table:
        def __init__(self, name):
            self.name = name

        def write(self, v):
            return mod.f(v)

    original_write = Table.__dict__["write"]
    original_f = mod.f
    tr = Tracer()
    tr.wrap(mod, "f", "engine.f")
    tr.wrap(Table, "write", lambda self, *a: f"catalog.write.{self.name}")
    with tr.span("job"):
        assert Table("stage").write(1) == 2
    assert Table("admissions").write(2) == 3  # outside the job span
    tr.restore()
    assert Table.__dict__["write"] is original_write and mod.f is original_f

    assert [s.name for s in tr.spans] == [
        "job", "catalog.write.stage", "engine.f", "catalog.write.admissions", "engine.f"]
    assert tr.spans[2].parent == tr.spans[1].id and tr.spans[1].parent == tr.spans[0].id
    assert tr.total("catalog.write")[1] == 2
    assert tr.total("catalog.write", within="job")[1] == 1
    assert tr.total("engine", within="job")[1] == 1


def test_event_log_parser_on_fixture():
    jobs = parse_event_log(FIXTURE.read_text().splitlines())
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0.submit_s == pytest.approx(1000.1) and j0.end_s == pytest.approx(1000.95)
    assert len(j0.tasks) == 4 and len(j1.tasks) == 1  # the killed task has no metrics

    m = job_metrics([j0], wall_s=1.0, cores=4)
    assert m["jobs"] == 1 and m["tasks"] == 4
    assert m["task_s"] == pytest.approx(1.0)
    assert m["gc_s"] == pytest.approx(0.03)
    assert m["shuffle_write_mb"] == pytest.approx(2.0)
    assert m["shuffle_read_mb"] == pytest.approx(2.0)
    assert m["spill_mb"] == pytest.approx(2.0)
    assert m["core_util"] == pytest.approx(0.25)
    # stage 0 runs 400/200/100 ms: max over median; one-task stages are skipped
    assert m["task_skew_max"] == pytest.approx(2.0)

    both = job_metrics(jobs, wall_s=2.5, cores=4)
    assert both["tasks"] == 5 and both["task_s"] == pytest.approx(1.5)


def test_jobs_attributed_to_enclosing_span():
    jobs = parse_event_log(FIXTURE.read_text().splitlines())
    tr = Tracer()
    tr.spans = [
        Span(0, "job", 1000.0, 1003.0, None),
        Span(1, "q.frontier_schedule", 1000.05, 1001.0, 0),
        Span(2, "stream.neardup", 1001.5, 1002.8, 0),
    ]
    assert [j.job_id for j in jobs_under(tr, jobs, "q")] == [0]
    assert [j.job_id for j in jobs_under(tr, jobs, "stream")] == [1]
    assert [j.job_id for j in jobs_under(tr, jobs, "job")] == [0, 1]
    assert tr.innermost_at(1002.0).name == "stream.neardup"


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
