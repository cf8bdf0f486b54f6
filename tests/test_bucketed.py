"""Bucketed (segment-vectorized) fused kernel == the declarative reference
twin (window functions + union-based as-of)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from spark_pit.operators.pit import pit_features_bucketed, pit_features_declarative

VOCAB = ["click", "error", "purchase", "signup", "view"]


def _frames(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    snaps = ev.where("event_type = 'purchase'").selectExpr(
        "user_id", "ts as snapshot_ts", "event_id as snapshot_id"
    )
    return ev, snaps


def _cmp(a: pd.DataFrame, b: pd.DataFrame):
    a = a.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    b = b.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    assert len(a) == len(b)
    for c in a.columns:
        if c == "wc":
            np.testing.assert_allclose(
                np.vstack(a[c].to_numpy()), np.vstack(b[c].to_numpy()),
                rtol=1e-12, atol=1e-12, err_msg=c,
            )
        elif a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            np.testing.assert_allclose(
                a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float),
                rtol=1e-12, atol=1e-12, equal_nan=True, err_msg=c,
            )
        else:
            assert a[c].astype(str).equals(b[c].astype(str)), c


def test_bucketed_equals_declarative(spark, sf_dir):
    ev, snaps = _frames(spark, sf_dir)
    kw = dict(
        entity="user_id", ts="ts", numeric_col="value",
        token_col="event_type", vocab=VOCAB, gap_seconds=1800, width=5,
        tiebreak="event_id",
    )
    a = pit_features_declarative(ev, snaps, **kw).toPandas()
    b = pit_features_bucketed(ev, snaps, num_buckets=7, **kw).toPandas()
    _cmp(a, b)


def test_bucketed_single_bucket(spark, sf_dir):
    """Degenerate bucket count: every entity in one pandas batch."""
    ev, snaps = _frames(spark, sf_dir)
    kw = dict(
        entity="user_id", ts="ts", numeric_col="value",
        token_col="event_type", vocab=VOCAB, gap_seconds=1800, width=5,
        tiebreak="event_id",
    )
    a = pit_features_declarative(ev, snaps, **kw).toPandas()
    b = pit_features_bucketed(ev, snaps, num_buckets=1, **kw).toPandas()
    _cmp(a, b)


def test_bucketed_no_snapshots(spark, sf_dir):
    ev, _ = _frames(spark, sf_dir)
    empty = ev.where("1=0").selectExpr(
        "user_id", "ts as snapshot_ts", "event_id as snapshot_id"
    )
    out = pit_features_bucketed(
        ev, empty, entity="user_id", ts="ts", numeric_col="value",
        token_col="event_type", vocab=VOCAB, num_buckets=4,
    ).toPandas()
    assert out["asof_snapshot_id"].isna().all()
    assert len(out) == ev.count()


def test_bucketed_empty_vocab_rejected(spark, sf_dir):
    ev, snaps = _frames(spark, sf_dir)
    with pytest.raises(ValueError, match="vocab is empty"):
        pit_features_bucketed(
            ev, snaps, entity="user_id", ts="ts", numeric_col="value",
            token_col="event_type", vocab=[],
        )


BATCH = 7  # Arrow batch rows for the batch-boundary test


def _edge_frames(spark):
    """Events and snapshots whose entity-sorted stream (one bucket) has an
    entity crossing the first batch edge, one spanning several batches,
    timestamp and snapshot ties, a snapshot-only entity and null /
    out-of-vocab inputs. event_id follows the (ts, event_type, value) order
    within an entity, so ``tiebreak="event_id"`` and the list form give the
    same total order."""
    t0 = dt.datetime(2024, 1, 1)
    ev, sn = [], []
    # user 1: nine events across the first batch edge; snapshots tie at
    # ts 5 and at ts 6 (max id wins)
    for m, tok, v in [(0, "click", 1.0), (1, "view", 2.0), (2, "view", None),
                      (3, "error", 4.0), (4, "click", 5.0), (5, "zzz", 6.0),
                      (6, "view", 7.0), (7, "click", 8.0), (7, "view", 8.0)]:
        ev.append((1, m, tok, v))
    sn += [(1, 5, 900), (1, 5, 899), (1, 6, 902), (1, 6, 901)]
    # user 2: 40 events over six batches, ts ties, a session gap, snapshots
    # at event timestamps (strictly before: not matched at equal ts)
    for k in range(40):
        m = k - (k % 5 == 1) + (45 if k >= 20 else 0)
        ev.append((2, m, VOCAB[k % 5] if k % 7 else None, float(k % 4) if k % 9 else None))
    sn += [(2, 10, 910), (2, 20, 920), (2, 20, 921), (2, 80, 930)]
    sn += [(3, 1, 940), (3, 2, 941)]  # user 3: snapshots only
    for k in range(BATCH):  # user 4: no snapshots
        ev.append((4, 3 * k, "signup", float(k)))
    evp = pd.DataFrame(ev, columns=["user_id", "m", "event_type", "value"])
    evp = evp.sort_values(["user_id", "m", "event_type", "value"], na_position="last")
    evp["event_id"] = np.arange(len(evp), dtype=np.int64)
    evp["note"] = "n" + evp["event_id"].astype(str)
    snp = pd.DataFrame(sn, columns=["user_id", "m", "snapshot_id"])
    for f in (evp, snp):
        f["ts"] = t0 + pd.to_timedelta(f.pop("m"), unit="min")
    snp = snp.rename(columns={"ts": "snapshot_ts"})

    rows = pd.concat([evp["user_id"], snp["user_id"]]).value_counts()
    assert rows[1] > BATCH and rows[2] > 3 * BATCH

    schema_ev = "user_id long, ts timestamp_ntz, event_type string, value double, " \
                "event_id long, note string"
    evs = spark.createDataFrame(
        evp[["user_id", "ts", "event_type", "value", "event_id", "note"]], schema_ev)
    sns = spark.createDataFrame(
        snp[["user_id", "snapshot_ts", "snapshot_id"]],
        "user_id long, snapshot_ts timestamp_ntz, snapshot_id long")
    return evs, sns, evp


def test_bucketed_batch_boundaries(spark):
    """Entities and snapshots split across Arrow batches give the
    declarative twin's output, with a single tiebreak column and with the
    list-plus-passthrough form the image pipeline uses."""
    ev, snaps, evp = _edge_frames(spark)
    kw = dict(entity="user_id", ts="ts", numeric_col="value",
              token_col="event_type", vocab=VOCAB, gap_seconds=1800, width=5)
    want = pit_features_declarative(ev, snaps, tiebreak="event_id", **kw).toPandas()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    spark.conf.set(key, str(BATCH))
    try:
        single = pit_features_bucketed(
            ev, snaps, tiebreak="event_id", num_buckets=1, **kw).toPandas()
        listed = pit_features_bucketed(
            ev, snaps, tiebreak=["event_type", "value"], passthrough=["event_id", "note"],
            num_buckets=1, **kw).toPandas()
    finally:
        spark.conf.set(key, prior)
    assert len(want) == len(evp)
    assert want["asof_snapshot_id"].notna().sum() > 0
    _cmp(want, single)
    _cmp(want, listed)
    notes = dict(zip(evp["event_id"], evp["note"]))
    assert (listed["note"] == listed["event_id"].map(notes)).all()
