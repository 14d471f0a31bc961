"""Event-log parser, on a trimmed log of a real two-group Spark session
(group g1: a groupBy collect — two jobs under AQE; group g2: a noop write)."""

import json
import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def test_fixture_log_per_group():
    got = eventlog.parse_file(FIXTURE)
    assert set(got) == {"g1", "g2"}
    g1, g2 = got["g1"], got["g2"]
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (2, 2, 5)
    assert (g2["jobs"], g2["stages"], g2["tasks"]) == (1, 1, 4)
    assert g1["input_records"] == 100_000 and g2["input_records"] == 1_000
    assert g1["shuffle_write_bytes"] == g1["shuffle_read_bytes"] == 1460
    assert g1["executor_run_s"] == pytest.approx(1.358)
    assert g1["executor_cpu_s"] == pytest.approx(0.446098985)
    assert g1["gc_s"] == pytest.approx(0.093)
    assert g2["shuffle_write_bytes"] == g2["spill_bytes"] == 0


def test_ungrouped_work_and_skipped_stages():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Stage IDs": [70, 71],
         "Properties": {}},
        # stage 70 is skipped (its shuffle output is reused): never submitted
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 71},
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 71,
         "Task Metrics": {"Executor Run Time": 250, "Disk Bytes Spilled": 4096,
                          "Memory Bytes Spilled": 1 << 20}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 71}},
    ]
    got = eventlog.parse(json.dumps(e) for e in lines)
    rec = got[None]
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (1, 1, 1)
    assert rec["executor_run_s"] == pytest.approx(0.25)
    assert rec["spill_bytes"] == 4096  # bytes that reached disk


def test_total_sums_only_the_named_groups():
    got = eventlog.parse_file(FIXTURE)
    both = eventlog.total(got, ["g1", "g2", "absent"])
    assert both["tasks"] == 9 and both["jobs"] == 3
    assert eventlog.total(got, [])["tasks"] == 0
