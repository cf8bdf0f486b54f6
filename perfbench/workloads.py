"""The benchmark workloads and the queries each one runs.

A workload names its queries, writes its inputs, and computes each query's
expected output. One execution of a query is ``Query.run``: the builder
call, then forcing the result. A timed execution forces with the ``noop``
sink; a checked execution materialises the result instead and compares it
with the expected one.

Sizes are chosen so that a whole run (three session starts, the warm-up
pass, the timed passes) stays under a minute on a 4-core box: most
queries' time here is per-job overhead rather than rows, so fewer rows
would save little.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from perfbench import inputs
from perfbench.digest import frame_problems, spark_digest

CPUS = 4
# Values the shared bench builders read from the environment, pinned so no
# outside variable can change a workload. run.py prints them.
PINNED_ENV = {
    "SPARK_GRAFT_REPL": "64",
    "SPARK_GRAFT_IMG_REPL": "8",
    "SPARK_GRAFT_CPUS": str(CPUS),
    "SPARK_PIT_ARROW_BATCH": "10000",
    "SPARK_PIT_DRIVER_MEM": "2g",
}
UNSET_ENV = ("SPARK_GRAFT_BUCKETS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_MASTER",
             "SPARK_PIT_MASTER")

TIMELINE = ["asof_join", "sessionize", "autocorr", "asdc"]
DEDUP = ["dedup_clusters", "embedding_neardup"]

# The operator module whose plan each query executes; jobs launched inside a
# builder call are attributed to the innermost traced function instead.
QUERY_LAYER = {
    "flagship": "operators.pit",
    "asof_join": "operators.asof",
    "sessionize": "operators.windows",
    "autocorr": "operators.autocorr",
    "asdc": "operators.pairs",
    "dedup_clusters": "operators.dedup",
    "embedding_neardup": "operators.similarity",
    "pit_job": "job",
}

# Each workload's queries fall in two groups, reported as separate
# throughputs so that a loss in one cannot hide in a gain in the other.
KERNEL, PIPELINE = "kernel", "pipeline"

HOT_THRESHOLD = 500
JOB_ARGS = ["--table-kind", "events", "--hot-threshold", str(HOT_THRESHOLD),
            "--num-parts", "8", "--parts-per-batch", "4", "--num-buckets", "16"]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Query:
    """One named query of a workload. ``build(spark)`` returns the DataFrame
    (plan-time jobs run here). A checked execution materialises the result
    (timed) and then compares it with ``expected`` (not timed): by default
    the collected Spark result against the stored oracle frame; with
    ``digest=True`` the Spark-side digest against the expected digest."""

    def __init__(self, name: str, group: str, rows: int, build, expected,
                 digest: bool = False):
        self.name = name
        self.group = group
        self.layer = QUERY_LAYER[name]
        self.rows = rows
        self.build = build
        self.expected = expected
        self.digest = digest

    def problems(self, out) -> list[str]:
        if self.digest:
            return [] if out == self.expected else [f"digest {out} != {self.expected}"]
        import pandas as pd

        return frame_problems(self.name, out, pd.read_parquet(self.expected))

    def run(self, spark, tracer, checked: bool) -> tuple[float, float, list[str]]:
        """One execution: (build seconds, execute seconds, problems found)."""
        with tracer.span(f"build:{self.name}", layer="queries"):
            t0 = time.perf_counter()
            df = self.build(spark)
            t1 = time.perf_counter()
        with tracer.span(f"exec:{self.name}", layer=self.layer):
            if checked:
                out = spark_digest(df) if self.digest else df.toPandas()
            else:
                _force(df)
            t2 = time.perf_counter()
        return t1 - t0, t2 - t1, self.problems(out) if checked else []


class JobQuery(Query):
    """``spark_pit.job.run`` into a fresh, empty output directory. The old
    directory is deleted before the clock starts. An execution counts as
    failed unless it resumed nothing, completed, and wrote every input row.
    The checked execution also requires the hot-entity detector to find
    exactly the planted hot users, so the salted kernel path is the one
    measured."""

    def __init__(self, in_dir: str, work_dir: str, rows: int, expected: str, key_offset: int,
                 hot_ids: list[int]):
        super().__init__("pit_job", PIPELINE, rows, build=None, expected=expected,
                         digest=True)
        self.key_offset = key_offset
        self.hot_ids = sorted(hot_ids)
        self.in_dir = in_dir
        self.work_dir = work_dir
        self.out = None

    def run(self, spark, tracer, checked: bool):
        from spark_pit import job, manifest

        if self.out:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = os.path.join(self.work_dir, f"job-{uuid.uuid4().hex[:8]}")
        args = job.build_parser().parse_args(
            ["--events", os.path.join(self.in_dir, "events.parquet"), "--out", self.out,
             *JOB_ARGS])
        with tracer.span("exec:pit_job", layer=self.layer):
            t0 = time.perf_counter()
            res = job.run(spark, args)
            t1 = time.perf_counter()
        bad = []
        if res["resumed_from_parts"] != 0:
            bad.append(f"resumed_from_parts={res['resumed_from_parts']}")
        if not res["complete"]:
            bad.append("incomplete")
        if res["rows_out"] != self.rows:
            bad.append(f"rows_out={res['rows_out']} != {self.rows}")
        if checked and not bad:
            from spark_pit.operators.skew import hot_entities_countmin

            with tracer.span("verify:pit_job"):
                bad = self.problems(spark_digest(manifest.read_output(spark, self.out),
                                                 key="user_id", key_offset=self.key_offset))
                hot = sorted(hot_entities_countmin(spark.read.parquet(args.events),
                                                   "user_id", HOT_THRESHOLD))
            if hot != self.hot_ids:
                bad.append(f"hot users {hot} != planted {self.hot_ids}")
        return 0.0, t1 - t0, bad


# ------------------------------------------------------------------ twins
def _purchases(ev):
    from pyspark.sql import functions as F

    return ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("snapshot_ts"), F.col("event_id").alias("snapshot_id"))


def _replicate_events(ev, repl: int):
    """The flagship amplification, built independently of the bench builder:
    replica r shifts user_id by r * 10**9."""
    from pyspark.sql import functions as F

    ev = ev.withColumn("__r", F.explode(F.array(*[F.lit(r) for r in range(repl)])))
    return ev.select(
        (F.col("user_id").cast("long") + F.col("__r").cast("long") * F.lit(1_000_000_000))
        .alias("user_id"), "ts", "event_id", "event_type", "value")


def flagship_twin(spark, in_dir: str) -> str:
    from spark_pit.operators.pit import pit_features_declarative
    from spark_pit.queries import EVENT_VOCAB

    ev = _replicate_events(spark.read.parquet(f"{in_dir}/events.parquet"),
                           int(PINNED_ENV["SPARK_GRAFT_REPL"]))
    return spark_digest(pit_features_declarative(
        ev, _purchases(ev), entity="user_id", ts="ts", numeric_col="value",
        token_col="event_type", vocab=EVENT_VOCAB, gap_seconds=1800, width=5))


def job_twin(spark, in_dir: str, key_offset: int) -> str:
    from spark_pit.job import DEFAULT_VOCAB
    from spark_pit.operators.pit import pit_features_declarative

    ev = spark.read.parquet(f"{in_dir}/events.parquet")
    return spark_digest(pit_features_declarative(
        ev, _purchases(ev), entity="user_id", ts="ts", numeric_col="value",
        token_col="event_type", vocab=DEFAULT_VOCAB, gap_seconds=1800, width=5,
        tiebreak="event_id"), key="user_id", key_offset=key_offset)


def shared_digest(in_dir: str, tag: str, compute) -> str:
    """A digest that does not depend on the seed, computed once and kept
    beside the per-seed input directories as ``<tag>.json``."""
    path = os.path.join(os.path.dirname(in_dir), f"{tag}.json")
    try:
        with open(path) as fh:
            return json.load(fh)["digest"]
    except (OSError, ValueError, KeyError):
        digest = compute()
        with open(path + ".tmp", "w") as fh:
            json.dump({"digest": digest}, fh)
        os.replace(path + ".tmp", path)
        return digest


def oracle_frames(in_dir: str, names: list[str]) -> dict[str, str]:
    """Run each registry query's DuckDB ORACLE_SQL over the inputs and store
    the result as ``expected/<name>.parquet``; returns name -> path relative
    to ``in_dir``."""
    import duckdb

    from spark_pit.queries import ORACLES

    out_dir = os.path.join(in_dir, "expected")
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    out = {}
    try:
        for f in sorted(os.listdir(in_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(in_dir, f)}'")
        for n in names:
            out[n] = os.path.join("expected", f"{n}.parquet")
            con.execute(ORACLES[n]).df().to_parquet(os.path.join(in_dir, out[n]))
        return out
    finally:
        con.close()


# --------------------------------------------------------------- workloads
class TimelineSql:
    """Two groups of registry queries over seeded inputs.

    kernel: JVM-side headline queries over event timelines; scan, shuffle,
    sort, window and aggregate do nearly all the work (``asdc`` has one
    small pandas node). pipeline: dedup curation; ``dedup_clusters`` (MinHash
    star candidates, then connected-components rounds launched by the
    driver inside the builder call, then a whole-partition window over a
    mega-cluster) and ``embedding_neardup`` (the LSH bucket kernel). A
    change to the PIT kernel or the job path should leave both unchanged."""

    name = "timeline_sql"
    sizes = {"events_users": 300, "docs": 3000, "mega_cluster": 300, "vectors": 1500}
    table = {**{n: "events" for n in TIMELINE},
             "dedup_clusters": "documents", "embedding_neardup": "embeddings"}

    @property
    def size_tag(self) -> str:
        return "-".join(str(v) for v in self.sizes.values())

    def generate(self, spark, in_dir: str, seed: int) -> dict:
        sz = self.sizes
        rows = {"events": inputs.write_events(in_dir, sz["events_users"], seed),
                **inputs.write_corpus(in_dir, sz["docs"], sz["mega_cluster"], sz["vectors"],
                                      seed)}
        return {"rows": rows, "expected": oracle_frames(in_dir, TIMELINE + DEDUP)}

    def queries(self, in_dir: str, work_dir: str, meta: dict) -> list[Query]:
        from spark_pit.queries import QUERIES

        return [Query(n, KERNEL if n in TIMELINE else PIPELINE, meta["rows"][self.table[n]],
                      build=lambda spark, n=n: QUERIES[n](spark, in_dir),
                      expected=os.path.join(in_dir, meta["expected"][n]))
                for n in TIMELINE + DEDUP]


class PitFlagship:
    """The fused PIT kernel two ways: ``flagship`` (kernel group: the bench
    events x64 into the noop sink) and ``pit_job`` (pipeline group:
    ``spark_pit.job.run`` on seeded events with three hot users holding
    39% of the rows: count-min hot detection, the salted kernel for
    the hot users and the bucketed one for the rest, a disk persist,
    partitioned writes and read-back checksums).

    The flagship events carry no key offset, so the flagship digest is
    computed once per size and shared by every seed; the job digest is
    offset-invariant and shared the same way."""

    name = "pit_flagship"
    sizes = {"events_users": 20, "job_users": 60, "hot_users": 3, "hot_events": 800}

    @property
    def size_tag(self) -> str:
        return "-".join(str(v) for v in self.sizes.values())

    def generate(self, spark, in_dir: str, seed: int) -> dict:
        sz = self.sizes
        job_dir = os.path.join(in_dir, "job")
        os.makedirs(job_dir)
        rows = {"events": inputs.write_events(in_dir, sz["events_users"], None),
                "job/events": inputs.write_events(job_dir, sz["job_users"], seed,
                                                  sz["hot_users"], sz["hot_events"])}
        expected = {
            "flagship": shared_digest(in_dir, f"flagship-twin-{sz['events_users']}",
                                      lambda: flagship_twin(spark, in_dir)),
            "pit_job": shared_digest(
                in_dir, f"job-twin-{self.size_tag}",
                lambda: job_twin(spark, job_dir, inputs.key_offset(seed))),
        }
        hot = [inputs.key_offset(seed) + u for u in range(sz["hot_users"])]
        return {"rows": rows, "expected": expected, "hot_users": hot}

    def queries(self, in_dir: str, work_dir: str, meta: dict) -> list[Query]:
        import bench_extra

        # read by the bench builder (image input), pinned to the checkout
        os.environ["SPARK_GRAFT_IMG_DIR"] = in_dir

        def flagship(spark):
            return bench_extra.build_bench_set(spark, CPUS)["flagship"](spark, in_dir)

        repl = int(PINNED_ENV["SPARK_GRAFT_REPL"])
        return [
            Query("flagship", KERNEL, meta["rows"]["events"] * repl, flagship,
                  meta["expected"]["flagship"], digest=True),
            JobQuery(os.path.join(in_dir, "job"), work_dir, meta["rows"]["job/events"],
                     meta["expected"]["pit_job"], inputs.key_offset(meta["seed"]),
                     meta["hot_users"]),
        ]


WORKLOADS = {w.name: w for w in (PitFlagship(), TimelineSql())}
