"""Per-layer metrics of a traced run, and the table printed for it.

``PER_LAYER`` is what BENCHMARK.json lists: totals over all layers that are
non-zero on every workload, per timed pass. The table adds, per layer
(repository module), every figure the event-log parser derives; most are
zero outside the workload that exercises the layer, so they stay in the
table and the saved trace rather than in the result line.
"""

from __future__ import annotations

import statistics

PER_LAYER = {  # name -> unit
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "trace.wall_s": "s",
    "trace.uncovered_s": "s",
    "process.peak_rss_mb": "MB",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.peak_task_mem_mb": "MB",
    "exec.task_skew": "ratio",
    "python.run_s": "s",
    "python.to_mb": "MB",
    "python.from_mb": "MB",
    "python.exec_share": "ratio",
}

COLUMNS = ["exec_s", "jobs", "build_jobs", "stages", "tasks", "failed_tasks", "task_run_s",
           "task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
           "shuffle_fetch_wait_s", "spill_mb", "peak_task_mem_mb", "task_skew",
           "python_run_s", "python_boot_s", "to_python_mb", "from_python_mb", "sort_s",
           "input_mb", "written_mb", "files", "write_s", "readback_s", "cache_read_mb",
           "persisted_mb", "cache_reread_ratio"]
_MAX = {"peak_task_mem_mb", "task_skew", "cache_reread_ratio"}


def iqr(values: list[float]) -> float:
    """Distance between the first and third quartile (0 for one value).
    Quartiles are interpolated between the samples: with the few samples
    of one run, the default method would extrapolate past them."""
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[2] - q[0]


def per_pass(layers: dict[str, dict], n: int) -> dict[str, dict]:
    """Totals divided by the number of timed passes (peaks and ratios kept)."""
    return {name: {k: (v if k in _MAX else v / n) for k, v in L.items()}
            for name, L in layers.items()}


def per_layer_values(layers: dict[str, dict], ctx: dict) -> dict[str, float]:
    n = ctx["passes"]
    tot = lambda k: sum(L.get(k, 0.0) for L in layers.values()) / n  # noqa: E731
    top = lambda k: max((L.get(k, 0.0) for L in layers.values()), default=0.0)  # noqa: E731
    return {
        "session.start_s": statistics.median(ctx["sessions"]),
        "queries.build_s": statistics.median(ctx["build_s"]),
        "queries.build_jobs": tot("build_jobs"),
        "queries.exec_s": tot("exec_s"),
        "trace.wall_s": statistics.median(ctx["wall"]),
        "trace.uncovered_s": ctx["uncovered_s"],
        "process.peak_rss_mb": ctx["peak_rss_mb"],
        "exec.jobs": tot("jobs"),
        "exec.tasks": tot("tasks"),
        "exec.task_run_s": tot("task_run_s"),
        "exec.task_cpu_s": tot("task_cpu_s"),
        "exec.shuffle_write_mb": tot("shuffle_write_mb"),
        "exec.shuffle_read_mb": tot("shuffle_read_mb"),
        "exec.peak_task_mem_mb": top("peak_task_mem_mb"),
        "exec.task_skew": top("task_skew"),
        "python.run_s": tot("python_run_s"),
        "python.to_mb": tot("to_python_mb"),
        "python.from_mb": tot("from_python_mb"),
        "python.exec_share": tot("python_run_s") / max(tot("task_run_s"), 1e-9),
    }


def print_table(layers: dict[str, dict], ctx: dict, out) -> None:
    n = ctx["passes"]
    rows = per_pass(layers, n)
    print(f"[trace] per-layer figures per timed pass (n={n} passes)", file=out)
    names = sorted(rows)
    print(f"{'metric':<22}" + "".join(f"{x[-14:]:>15}" for x in names), file=out)
    for col in COLUMNS:
        vals = [rows[x].get(col, 0.0) for x in names]
        if any(vals):
            print(f"{col:<22}" + "".join(f"{v:>15.4g}" for v in vals), file=out)
    print(f"[trace] span coverage: {ctx['uncovered_s']:.4f} s of each pass is outside "
          f"query spans", file=out)
    for q, v in ctx["per_query"].items():
        print(f"[trace] queries.{q}_s median {statistics.median(v):.4f} "
              f"IQR {iqr(v):.4f} n {len(v)}", file=out)
