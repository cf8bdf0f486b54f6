"""Tests of the event-log parser and the output check, on a small recorded
log. The fixture is a real Spark 4.1 uncompressed event log of one traced
pass, trimmed to the events and fields the parser reads:

- pass:0 / queries.q1: ``build:q1`` reads a parquet file (a plan-time
  listing job); ``exec:q1`` (layer operators.pairs) forces a
  ``groupBy().applyInPandas`` with the noop sink, on freshly forked
  Python workers;
- pass:0 / queries.q3: after 3 s of idle Python workers, ``exec:q3``
  (layer operators.pairs) forces the same frame again on the reused
  workers;
- pass:0 / queries.q2 / ``exec:q2`` (layer job): a traced operator function
  ``operators.skew.detect`` collects an aggregate (a plan-time probe), then
  ``manifest.write`` writes parquet;
- setup:0, outside the pass, runs one job that must not be counted.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.digest import Tally, frame_problems  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
LOG = os.path.join(DATA, "eventlog-small")


@pytest.fixture(scope="module")
def layers():
    with open(os.path.join(DATA, "spans-small.json")) as fh:
        spans = json.load(fh)
    return eventlog.summarize([LOG], spans)


def test_span_to_layer_attribution(layers):
    assert set(layers) == {"queries", "operators.pairs", "operators.skew", "manifest"}
    # the setup job is outside the pass and not counted anywhere
    assert sum(L["jobs"] for L in layers.values()) == 10


def test_build_time_vs_exec_time_jobs(layers):
    # parquet listing inside the builder call, and the probe inside a traced
    # operator function, are build jobs; forcing the plan is exec
    assert layers["queries"]["build_jobs"] == layers["queries"]["jobs"] == 1
    assert layers["operators.skew"]["build_jobs"] == layers["operators.skew"]["jobs"] == 3
    assert layers["operators.pairs"].get("build_jobs", 0) == 0
    assert layers["operators.pairs"]["jobs"] == 4
    assert layers["manifest"].get("build_jobs", 0) == 0


def test_pandas_node_metrics(layers):
    pairs = layers["operators.pairs"]
    # the task updates of "time to run Python workers" (ms), "time to start
    # Python workers" (ms, fresh workers of q1 only) and "data sent
    # to/returned from Python workers" (bytes) of both pandas stages
    assert pairs["python_run_s"] == pytest.approx(1.672 + 0.317)
    assert pairs["python_boot_s"] == pytest.approx(1.093)
    assert pairs["to_python_mb"] * 1024 * 1024 == pytest.approx(2 * 7912)
    assert pairs["from_python_mb"] * 1024 * 1024 == pytest.approx(2 * 7968)
    for other in ("queries", "operators.skew", "manifest"):
        assert layers[other]["python_run_s"] == 0


def _raw_task_updates(name: str) -> float:
    total = 0.0
    with open(LOG) as fh:
        for line in fh:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerTaskEnd":
                total += sum(float(a["Update"]) for a in ev["Task Info"]["Accumulables"]
                             if a["Name"] == name)
    return total / 1e3


def test_python_times_are_task_time(layers):
    # "time to initialize Python workers" of a reused worker includes its
    # idle wait before the task (3 s here), so it exceeds the tasks' whole
    # run time and is not read; every Python time the parser reports fits
    # inside the run time of the tasks it came from, and the boot time of a
    # fresh worker is part of "time to run Python workers"
    pairs = layers["operators.pairs"]
    assert _raw_task_updates("time to initialize Python workers") > pairs["task_run_s"]
    for L in layers.values():
        assert L["python_boot_s"] <= L["python_run_s"] <= L["task_run_s"]


def test_writes_and_files(layers):
    m = layers["manifest"]
    assert m["written_mb"] > 0 and m["files"] == 1
    assert m["write_s"] > 0 and m["readback_s"] > 0
    assert m["exec_s"] >= m["write_s"]


def test_python_stage_moves_to_kernel_layer():
    with open(os.path.join(DATA, "spans-small.json")) as fh:
        spans = json.load(fh)
    moved = eventlog.summarize([LOG], spans, python_layers={"operators.pairs": "kernel"})
    assert moved["kernel"]["python_run_s"] == pytest.approx(1.989)
    # the stage that ran no Python stays where it was
    assert moved["operators.pairs"]["python_run_s"] == 0


def test_compressed_log_raises(tmp_path):
    z = tmp_path / "app-1"
    z.write_bytes(b"\x28\xb5\x2f\xfd" + b"\x00" * 64)  # zstd frame magic
    with pytest.raises(eventlog.EventLogError, match="zstd"):
        list(eventlog.read_events(str(z)))
    named = tmp_path / "app-2.zstd"
    named.write_bytes(b"{}\n")
    with pytest.raises(eventlog.EventLogError, match="compress=false"):
        list(eventlog.read_events(str(named)))


def test_rolling_log_raises(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text(open(LOG).readline())
    with pytest.raises(eventlog.EventLogError, match="rolling"):
        eventlog.summarize([str(d)], [])


def test_empty_or_foreign_file_raises(tmp_path):
    empty = tmp_path / "empty"
    empty.write_text("")
    with pytest.raises(eventlog.EventLogError, match="no events"):
        list(eventlog.read_events(str(empty)))
    other = tmp_path / "other"
    other.write_text('{"Event": "SparkListenerJobStart"}\n')
    with pytest.raises(eventlog.EventLogError, match="LogStart"):
        list(eventlog.read_events(str(other)))


def test_corrupted_output_raises_failed_frac():
    expected = pd.DataFrame({"user_id": [1, 2, 3], "x": [0.5, 1.25, 2.0], "tok": ["a", "b", "c"]})
    tally = Tally()
    # same rows in another order: passes
    tally.record("q", not frame_problems("q", expected.iloc[::-1].copy(), expected))
    assert tally.failed_frac == 0
    bad = expected.copy()
    bad.loc[1, "x"] = 1.26
    tally.record("q", not frame_problems("q", bad, expected))
    dropped = expected.iloc[:2].copy()
    tally.record("q", not frame_problems("q", dropped, expected))
    retyped = expected.assign(user_id=expected.user_id.astype(float))
    tally.record("q", not frame_problems("q", retyped, expected))
    assert tally.attempted == 4 and tally.failed == 3
    assert tally.failed_frac == pytest.approx(0.75)
