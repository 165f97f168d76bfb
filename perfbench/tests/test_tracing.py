"""Event-log parsing and span attribution, on a log captured from a real
local Spark 4.1 session (trimmed to the fields the parser reads).

The session ran two job groups: ``demo.count.0`` (a groupBy count: jobs 0
and 1, where job 1 skipped the stage whose shuffle job 0 had written) and
``demo.sum.1`` (jobs 2 and 3).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from layers import E2E, PER_LAYER, per_layer  # noqa: E402
from tracing import EventLog, Span, Tracer, covered, self_time  # noqa: E402

LOG = os.path.join(HERE, "fixtures", "eventlog.jsonl")
T0 = 1792204891.0  # the log's clock, in epoch seconds


@pytest.fixture(scope="module")
def log() -> EventLog:
    return EventLog(LOG)


def test_jobs_are_grouped_by_job_group(log):
    assert [j.stage_ids for j in log.jobs_of("demo.count.0")] == [[0], [1, 2]]
    assert len(log.jobs_of("demo.sum.1")) == 2
    assert log.jobs_of("no.such.group") == []


def test_skipped_stages_are_not_counted(log):
    # stage 1 was skipped (job 1 reused job 0's shuffle output): it never
    # completed and ran no tasks
    assert 1 not in log.stages and 1 not in log.tasks
    st = log.call_stats(Span("count", "demo.count.0", T0, T0 + 2))
    assert st["spark_jobs"] == 2
    assert st["stages"] == 2
    assert st["stage_task_s"] == pytest.approx(0.174 + 0.173 + 0.057)
    assert st["stage_wall_s"] == pytest.approx((892.109 - 891.695) + (892.330 - 892.236))
    assert st["stage_jvm_cpu_s"] == pytest.approx(
        (113038822 + 90663334 + 57069891) / 1e9
    )
    assert st["shuffle_write_bytes"] == 152
    assert st["shuffle_read_bytes"] == 152
    assert st["heaviest_stage_tasks"] == 2
    assert st["task_skew"] == pytest.approx(0.174 / 0.1735)


def test_self_time_is_span_minus_covered_job_time(log):
    span = Span("count", "demo.count.0", T0 + 0.6, T0 + 1.4)
    jobs_s = (892.118 - 891.683) + (892.335 - 892.228)
    assert self_time(span, log.jobs_of("demo.count.0")) == pytest.approx(0.8 - jobs_s)
    # a span that starts after its first job only counts the overlap
    late = Span("count", "demo.count.0", T0 + 1.0, T0 + 1.4)
    assert self_time(late, log.jobs_of("demo.count.0")) == pytest.approx(
        0.4 - (0.118 + 0.107)
    )


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(11, 12)], 0, 10) == 0


def test_benchmark_json_lists_the_metrics_the_code_emits():
    spec = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
    with open(spec) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == E2E
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == PER_LAYER


def test_per_layer_emits_exactly_the_declared_metrics(log):
    """A workload that exercised no layer still reports every metric."""
    empty = SimpleNamespace(
        tracer=Tracer(None, "w", False), facts={}, setup={}, phases={}, samples={}
    )
    e2e = {name: 1.0 for name, _u, _b in E2E}
    got = per_layer(empty, empty, log, 1.0, e2e, e2e, 4)
    assert list(got) == [name for name, _u, _b in PER_LAYER]
    assert got["tracing.overhead_frac.write_p50_s"] == 0.0
