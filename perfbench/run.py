"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload pit_flagship --seed 0 --seconds 10 --trace 0

One client in a closed loop: the process runs one query at a time on
``local[4]``, waits for it, and forces the output with the ``noop`` sink.

- Set-up: the session is started three times (the first start launches
  the JVM, the others restart the SparkContext in it), and then one
  untimed warm-up pass runs every query once. ``setup_s`` is the median
  session start plus the warm-up pass. Input generation and expected-value
  computation are excluded (they are cached by seed and size under
  ``.perfbench_cache/``).
- Every execution of the warm-up pass is checked against the expected
  output; every other execution counts as failed if it raises.
  ``attempted``/``failed`` in the result count all of them.
- Timed passes repeat until ``--seconds`` have passed (at least two).
  ``wall_s`` is the median pass time; ``kernel_rows_per_s`` and
  ``pipeline_rows_per_s`` are the median per-pass throughputs of the
  workload's two query groups (``workloads.py``).

With ``--trace 1`` the Spark event log is on (uncompressed, not rolling),
the layer modules' public functions are wrapped in spans, and the result
holds the per-layer metrics instead of the end-to-end ones. The full
per-layer table goes to stderr and to ``.perfbench_cache/traces/``.

Exit status is 2, with no result line, when the program under test cannot
be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
CACHE = os.path.join(ROOT, ".perfbench_cache")
SETUPS = 3
MIN_PASSES = 2


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: session, inputs, tally, timings."""

    def __init__(self, workload, seed: int, trace: bool):
        from perfbench.digest import Tally
        from perfbench.trace import NullTracer, Tracer

        self.wl = workload
        self.seed = seed
        self.tracer = Tracer() if trace else NullTracer()
        self.tally = Tally()
        self.work = os.path.join(CACHE, f"run-{os.getpid()}")
        self.evdir = os.path.join(self.work, "eventlog")
        os.makedirs(self.evdir, exist_ok=True)
        self.spark = None

    def start_session(self) -> float:
        from spark_pit.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData"),
        }
        if self.tracer.enabled:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.evdir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        t0 = time.perf_counter()
        with self.tracer.span("session.start", layer="session"):
            self.spark = get_spark(app_name=f"perfbench_{self.wl.name}",
                                   master="local[4]", shuffle_partitions=8,
                                   extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def inputs(self) -> tuple[str, dict]:
        from perfbench.inputs import InputCache

        cache = InputCache(os.path.join(CACHE, "inputs"), self.wl.name, self.wl.size_tag,
                           self.seed)
        meta = cache.load()
        if meta is None:
            t0 = time.perf_counter()
            cache.reset()
            meta = self.wl.generate(self.spark, cache.dir, self.seed)
            meta["seed"] = self.seed
            cache.save(meta)
            log(f"[inputs] generated {cache.dir} in {time.perf_counter() - t0:.1f} s")
        log(f"[inputs] {cache.dir}: " + ", ".join(f"{k}={v}" for k, v in
                                                  sorted(meta["rows"].items())))
        return cache.dir, meta

    def execute(self, q, checked: bool):
        """One execution of ``q``; failures are tallied, never raised."""
        try:
            b, e, problems = q.run(self.spark, self.tracer, checked)
        except Exception:  # the query boundary: record and keep running
            log(f"[fail] {q.name}:\n{traceback.format_exc()}")
            self.tally.record(q.name, False, "raised")
            return None
        self.tally.record(q.name, not problems, "; ".join(problems))
        return b, e

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    try:
        import bench_extra  # noqa: F401  (shared query builders)
        import spark_pit.session  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as e:
        log(f"perfbench: the program under test is not importable from {ROOT}: {e}")
        return 2
    from perfbench import procmon
    from perfbench.workloads import PINNED_ENV, UNSET_ENV, WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]
    os.makedirs(CACHE, exist_ok=True)
    for k in UNSET_ENV:
        os.environ.pop(k, None)
    os.environ.update(PINNED_ENV)
    run = Run(wl, args.seed, bool(args.trace))
    os.environ["SPARK_LOCAL_DIRS"] = run.work
    os.environ["TMPDIR"] = run.work
    log("[env] " + " ".join(f"{k}={v}" for k, v in sorted(PINNED_ENV.items()))
        + " " + " ".join(f"{k}=<unset>" for k in UNSET_ENV))
    log(f"[run] workload={wl.name} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace}; the seed sets the key offset of the job and timeline "
        f"events; the flagship events do not depend on it")

    mon = procmon.Monitor()
    mon.start()
    try:
        result = measure(run, args.seconds, mon)
    finally:
        run.stop()
        stop_jvm()
        mon.stop()
        procmon.wait_children()
        shutil.rmtree(run.work, ignore_errors=True)
    log(f"[host] steal={mon.steal_pct():.2f}% loadavg={mon.loadavg()}")
    print(json.dumps(result))
    return 0


def measure(run: Run, seconds: float, mon) -> dict:
    from perfbench.report import iqr
    from perfbench.workloads import KERNEL, PIPELINE

    tr = run.tracer
    sessions, passes = [], []
    per_query: dict[str, list[float]] = {}
    group_s: dict[str, list[float]] = {KERNEL: [], PIPELINE: []}
    build_s: list[float] = []
    for k in range(SETUPS):
        if k:
            run.stop()
        sessions.append(run.start_session())
        log(f"[setup {k}] session start {sessions[-1]:.2f} s")
    in_dir, meta = run.inputs()
    if tr.enabled:
        log(f"[trace] wrapped {tr.install()} layer functions")
    queries = run.wl.queries(in_dir, run.work, meta)
    warm = 0.0
    with tr.span("setup:warm-up"):
        for q in queries:
            r = run.execute(q, checked=True)
            warm += sum(r) if r else 0.0
    log(f"[setup] warm-up pass {warm:.2f} s")

    mon.arm()
    deadline = time.perf_counter() + seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        b_total = 0.0
        g_total = dict.fromkeys(group_s, 0.0)
        with tr.span(f"pass:{len(passes)}"):
            for q in queries:
                with tr.span(f"queries.{q.name}"):
                    r = run.execute(q, checked=False)
                if r is None:
                    g_total[q.group] = None
                    continue
                per_query.setdefault(q.name, []).append(r[0] + r[1])
                if g_total[q.group] is not None:
                    g_total[q.group] += r[0] + r[1]
                b_total += r[0]
        passes.append(time.perf_counter() - t0)
        build_s.append(b_total)
        for g, v in g_total.items():
            if v is not None:  # a group with a failed query has no time
                group_s[g].append(v)
        log(f"[pass {len(passes) - 1}] {passes[-1]:.3f} s: "
            + ", ".join(f"{g} " + ("failed" if v is None else f"{v:.3f} s")
                        for g, v in g_total.items()))
    if run.tally.problems:
        log("[check] " + "; ".join(run.tally.problems))

    # every metric but setup_s is the median of its own per-pass samples
    table = [("setup_s", "s", [statistics.median(sessions) + warm]),
             ("wall_s", "s", passes)]
    for g, times in group_s.items():
        rows = sum(q.rows for q in queries if q.group == g)
        table.append((f"{g}_rows_per_s", "rows/s", [rows / t for t in times] or [0.0]))
    table += [("session.start_s", "s", sessions), ("warmup_s", "s", [warm])]
    table += [(f"queries.{n}_s", "s", v) for n, v in per_query.items()]
    table.append(("process.peak_rss_mb", "MB", [mon.peak_mb()]))
    log(f"{'metric':<28}{'unit':<8}{'n':>4}{'median':>14}{'IQR':>12}")
    for name, unit, vals in table:
        log(f"{name:<28}{unit:<8}{len(vals):>4}{statistics.median(vals):>14.4f}"
            f"{iqr(vals):>12.4f}")
    log(f"{'failed_frac':<28}{'1':<8}{run.tally.attempted:>4}"
        f"{run.tally.failed_frac:>14.4f}")

    result = {"correct": run.tally.failed == 0 and len(per_query) == len(queries),
              "attempted": run.tally.attempted, "failed": run.tally.failed}
    if not tr.enabled:
        result["metrics"] = {name: {"value": statistics.median(vals), "unit": unit}
                             for name, unit, vals in table[:4]}
        return result
    run.stop()  # closes the last event log file
    result["metrics"] = layer_metrics(run, sessions, passes, per_query, build_s,
                                      mon.peak_mb())
    return result


def layer_metrics(run, sessions, passes, per_query, build_s, peak_rss_mb) -> dict:
    from perfbench import eventlog
    from perfbench.report import PER_LAYER, per_layer_values, print_table

    logs = [os.path.join(run.evdir, f) for f in sorted(os.listdir(run.evdir))]
    layers = eventlog.summarize(logs, run.tracer.spans,
                                python_layers={"manifest": "operators.pit"})
    n = len(passes)
    spans = run.tracer.spans
    covered = sum(s["end"] - s["start"] for s in spans if s["name"].startswith("queries."))
    total = sum(s["end"] - s["start"] for s in spans if s["name"].startswith("pass:"))
    ctx = {
        "passes": n,
        "sessions": sessions,
        "wall": passes,
        "per_query": per_query,
        "build_s": build_s,
        "uncovered_s": (total - covered) / n,
        "peak_rss_mb": peak_rss_mb,
    }
    values = per_layer_values(layers, ctx)
    print_table(layers, ctx, sys.stderr)
    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
    with open(os.path.join(CACHE, "traces", f"{run.wl.name}-s{run.seed}.json"), "w") as fh:
        json.dump({"layers": layers, "context": ctx, "spans": spans}, fh)
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
