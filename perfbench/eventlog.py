"""Stdlib parser for Spark's JSON event log, attributing work to spans.

Spark writes one JSON object per line when ``spark.eventLog.compress=false``
and ``spark.eventLog.rolling.enabled=false``. A compressed log (zstd is the
Spark 4.1 default) or a rolling log directory raises ``EventLogError``
rather than parsing as empty.

Attribution: every job carries ``spark.jobGroup.id`` = the id of the
innermost span open when the driver launched it (``perfbench.trace``).
A job's layer is the nearest ``layer`` up its span chain; a job is a
*build* job when that span is a builder call (a plan-time probe) and an
*exec* job otherwise. A stage belongs to the layer of the job that ran
it, except that a stage running a pandas UDF node under a layer listed in
``python_layers`` is moved to the layer named there (the PIT kernel stage
inside the manifest writer's jobs, for example). SQL metrics ("time to run
Python workers", "data sent to Python workers", "sort time", ...) are the
sum of the updates the stage's tasks report (a stage's own accumulable value is the
accumulator's total when the stage completed, which also holds what
earlier stages running the same plan node added); driver-side SQL
metrics ("number of written files") come from the execution's driver
updates; persisted block sizes from block-update events
(``spark.eventLog.logBlockUpdates.enabled=true``).

"time to initialize Python workers" is not read: a reused Python worker
stamps its boot time when it starts waiting for its next task, so the
figure includes the idle time between tasks (a worker left idle for 12 s
between two jobs reports ~12 s of initialization for a 0.5 s stage). It
is not time spent in the task. "time to run Python workers" is the Python
runner's wall time within the task, from its start to the worker's last
output; "time to start Python workers" (``python_boot_s``) is the part of
it a freshly forked worker spent starting, and is 0 for a reused worker.

Only jobs under a span whose name starts with ``SCOPE`` (the timed
passes) are counted.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 1024 * 1024
_COMPRESSED_MAGIC = {
    b"\x28\xb5\x2f\xfd": "zstd",
    b"\x04\x22\x4d\x18": "lz4",
    b"\xff\x06\x00\x00": "snappy",
    b"LZF": "lzf",
}


# layers whose public functions build plans rather than run them
BUILDER_LAYERS = ("operators.", "pipeline")
# prefix of the spans whose jobs are counted: the timed passes
SCOPE = "pass:"


class EventLogError(ValueError):
    pass


def read_events(path: str):
    """Yield the events of one uncompressed, non-rolling event log file."""
    if os.path.isdir(path):
        raise EventLogError(
            f"{path} is a rolling event log directory; run with "
            "spark.eventLog.rolling.enabled=false")
    for ext in (".zstd", ".lz4", ".snappy", ".lzf"):
        if path.endswith(ext) or path.endswith(ext + ".inprogress"):
            raise EventLogError(
                f"{path} is a {ext[1:]}-compressed event log; run with "
                "spark.eventLog.compress=false")
    with open(path, "rb") as fh:
        head = fh.read(4)
        for magic, codec in _COMPRESSED_MAGIC.items():
            if head.startswith(magic):
                raise EventLogError(
                    f"{path} is a {codec}-compressed event log; run with "
                    "spark.eventLog.compress=false")
        fh.seek(0)
        n = 0
        for raw in fh:
            if not raw.strip():
                continue
            try:
                ev = json.loads(raw)
            except ValueError as e:
                raise EventLogError(f"{path}: line {n + 1} is not JSON ({e})") from e
            if n == 0 and ev.get("Event") != "SparkListenerLogStart":
                raise EventLogError(f"{path} does not start with SparkListenerLogStart")
            n += 1
            yield ev
    if n == 0:
        raise EventLogError(f"{path} holds no events")


def _reads_persisted(stage_info: dict) -> bool:
    return any(r.get("Storage Level", {}).get("Use Disk")
               or r.get("Storage Level", {}).get("Use Memory")
               for r in stage_info.get("RDD Info", []))


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Attribution:
    """Maps span ids to layer and phase."""

    def __init__(self, spans: list[dict]):
        self.by_id = {s["id"]: s for s in spans}

    def resolve(self, sid: str | None) -> tuple[str | None, str, bool]:
        """(layer, phase, in_scope) of the span ``sid``. The phase is "build"
        when the innermost labelled span is a builder call: a ``build:``
        span, or a traced function of an operator module (those return
        plans, so any job they launch is a plan-time probe)."""
        layer, phase, in_scope = None, "exec", False
        s = self.by_id.get(sid) if sid else None
        while s is not None:
            if layer is None and s.get("layer"):
                layer = s["layer"]
                traced_fn = s["name"].startswith(layer + ".")
                if s["name"].startswith("build:") or (
                        traced_fn and layer.startswith(BUILDER_LAYERS)):
                    phase = "build"
            if s["name"].startswith(SCOPE):
                in_scope = True
            s = self.by_id.get(s["parent"])
        return layer or "harness", phase, in_scope


def _collect(path: str, att: Attribution) -> dict:
    """The jobs in scope of one log file, with their stages and tasks (ids
    restart in every SparkContext, so files are not merged)."""
    c = {"job_of_stage": {}, "job_meta": {}, "stage_info": {}, "tasks": defaultdict(list),
         "acc_names": {}, "exec_group": {}, "driver_acc": [], "persisted": {}}
    current = None  # (layer, phase) of the last job started, if in scope

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", []):
            c["acc_names"][m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            plan_metrics(child)

    for ev in read_events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            layer, phase, ok = att.resolve(props.get("spark.jobGroup.id"))
            current = (layer, phase) if ok else None
            if ok:
                c["job_meta"][ev["Job ID"]] = (layer, phase)
                for sid in ev.get("Stage IDs", []):
                    c["job_of_stage"].setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerBlockUpdated" and current is not None:
            # logged with spark.eventLog.logBlockUpdates.enabled; carries no
            # job id, so it goes to the job started last (one driver thread)
            info = ev.get("Block Updated Info", {})
            if str(info.get("Block ID", "")).startswith("rdd_"):
                size = info.get("Disk Size", 0) + info.get("Memory Size", 0)
                key = (current[0], info["Block ID"])
                c["persisted"][key] = max(c["persisted"].get(key, 0), size)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            c["stage_info"][si["Stage ID"]] = si
        elif kind == "SparkListenerTaskEnd":
            c["tasks"][ev["Stage ID"]].append(ev)
        elif kind.endswith("SQLExecutionStart"):
            c["exec_group"][ev["executionId"]] = ev.get("jobGroupId")
            plan_metrics(ev.get("sparkPlanInfo", {}))
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            plan_metrics(ev.get("sparkPlanInfo", {}))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, val in ev.get("accumUpdates", []):
                c["driver_acc"].append((ev["executionId"], acc_id, val))
    return c


def _num(value) -> float:
    try:
        return float(value or 0)
    except (TypeError, ValueError):
        return 0.0


def summarize(paths: list[str], spans: list[dict],
              python_layers: dict | None = None) -> dict[str, dict]:
    """Per-layer totals over the jobs in scope. Times in seconds, bytes in
    MB; ``task_skew`` is max/median task run time in the layer's longest
    stage with at least two tasks."""
    python_layers = python_layers or {}
    att = Attribution(spans)
    layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list] = defaultdict(list)
    write_iv: dict[str, list] = defaultdict(list)
    read_iv: dict[str, list] = defaultdict(list)
    longest: dict[str, tuple[float, float]] = {}
    for path in paths:
        c = _collect(path, att)
        for layer, phase in c["job_meta"].values():
            layers[layer]["jobs"] += 1
            if phase == "build":
                layers[layer]["build_jobs"] += 1
        for sid, jid in c["job_of_stage"].items():
            si = c["stage_info"].get(sid)
            if si is None or "Submission Time" not in si:
                continue
            layer = c["job_meta"][jid][0]
            tasks = c["tasks"].get(sid, [])
            acc: dict[str, float] = defaultdict(float)
            for te in tasks:
                for a in te.get("Task Info", {}).get("Accumulables", []):
                    acc[a.get("Name")] += _num(a.get("Update"))
            # a stage that ran a pandas UDF (not one that merely lists it in
            # its lineage, as a stage reading a persisted frame does)
            if layer in python_layers and acc["data sent to Python workers"] > 0:
                layer = python_layers[layer]
            L = layers[layer]
            t0, t1 = si["Submission Time"] / 1e3, si["Completion Time"] / 1e3
            intervals[layer].append((t0, t1))
            L["stages"] += 1
            L["python_run_s"] += acc["time to run Python workers"] / 1e3
            L["python_boot_s"] += acc["time to start Python workers"] / 1e3
            L["to_python_mb"] += acc["data sent to Python workers"] / MB
            L["from_python_mb"] += acc["data returned from Python workers"] / MB
            L["sort_s"] += acc["sort time"] / 1e3
            run_times = []
            out_bytes = in_bytes = 0
            for te in tasks:
                m = te.get("Task Metrics") or {}
                info = te.get("Task Info", {})
                L["tasks"] += 1
                if (te.get("Task End Reason", {}).get("Reason") != "Success"
                        or info.get("Failed") or info.get("Killed")):
                    L["failed_tasks"] += 1
                run_times.append(m.get("Executor Run Time", 0) / 1e3)
                L["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                L["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                L["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                L["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                L["shuffle_read_mb"] += (sr.get("Local Bytes Read", 0)
                                         + sr.get("Remote Bytes Read", 0)) / MB
                L["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                L["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                L["peak_task_mem_mb"] = max(L["peak_task_mem_mb"],
                                            m.get("Peak Execution Memory", 0) / MB)
                in_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                out_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
            L["input_mb"] += in_bytes / MB
            L["written_mb"] += out_bytes / MB
            if _reads_persisted(si):
                L["cache_read_mb"] += in_bytes / MB
            (write_iv if out_bytes else read_iv)[layer].append((t0, t1))
            if len(run_times) >= 2 and (layer not in longest or t1 - t0 > longest[layer][0]):
                med = statistics.median(run_times)
                longest[layer] = (t1 - t0, max(run_times) / med if med > 0 else 1.0)
        for (layer, _), size in c["persisted"].items():
            layers[layer]["persisted_mb"] += size / MB
        for exec_id, acc_id, val in c["driver_acc"]:
            if c["acc_names"].get(acc_id) != "number of written files":
                continue
            layer, _, ok = att.resolve(c["exec_group"].get(exec_id))
            if ok:
                layers[layer]["files"] += val
    for layer, iv in intervals.items():
        L = layers[layer]
        L["exec_s"] = _union(iv)
        if layer == "manifest":
            L["write_s"] = _union(write_iv[layer])
            L["readback_s"] = _union(read_iv[layer])
        if layer in longest:
            L["task_skew"] = longest[layer][1]
        if L.get("persisted_mb"):
            L["cache_reread_ratio"] = L["cache_read_mb"] / L["persisted_mb"]
    return {k: dict(v) for k, v in layers.items()}
