"""The event-log reader and per-module counters on a canned log."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from linkbench.spans import COUNTERS, MODULES, Span, module_metrics, read_event_log  # noqa: E402

FRAGMENT = Path(__file__).parent / "data" / "eventlog_fragment.jsonl"


def test_reader_attributes_stages_and_tasks_by_job_group():
    log = read_event_log(str(FRAGMENT))
    assert log.job_group == {0: "cc", 1: "superstep"}  # job 2 has no group
    # stage 0 is listed again by job 1 but ran under job 0
    assert log.stage_group == {0: "cc", 1: "cc", 2: "superstep"}
    assert log.stage_span[1] == (1002.5, 1003.0)
    assert [t.ok for t in log.tasks[0]] == [True, True, True, False]


def test_module_metrics_on_fragment():
    log = read_event_log(str(FRAGMENT))
    spans = [
        Span("superstep", 1003.2, 1003.7, "cc"),
        Span("cc", 999.5, 1004.0, None),
    ]
    m = module_metrics([log], spans, cores=4, reps={"cc": 2})
    assert set(m) == {f"{mod}.{c}" for mod in MODULES for c in COUNTERS}
    # per repetition: totals halved, ratios not
    assert m["cc.wall_s"] == pytest.approx(4.5 / 2)
    assert m["cc.self_s"] == pytest.approx(4.0 / 2)
    assert m["cc.jobs"] == 0.5
    assert m["cc.tasks"] == 2.5
    assert m["cc.task_s"] == pytest.approx(5.9 / 2)
    assert m["cc.busy_frac"] == pytest.approx(5.9 / (4.0 * 4))
    # self time 4.0 s, stages of cc ran 2.0 s + 0.5 s of it
    assert m["cc.driver_gap_s"] == pytest.approx(1.5 / 2)
    assert m["cc.shuffle_write_mb"] == pytest.approx(8.0 / 2)
    assert m["cc.spill_mb"] == pytest.approx(1.0 / 2)
    assert m["cc.gc_s"] == pytest.approx(0.5 / 2)
    # largest stage is stage 0: tasks 1, 1, 3, 0.5 s -> max 3 / median 1
    assert m["cc.skew"] == pytest.approx(3.0)
    assert m["cc.failed_tasks"] == 0.5
    assert m["superstep.wall_s"] == pytest.approx(0.5)
    assert m["superstep.jobs"] == 1
    assert m["superstep.driver_gap_s"] == pytest.approx(0.2)
    assert m["superstep.skew"] == 1.0
    assert m["edges.wall_s"] == 0 and m["edges.skew"] == 0
