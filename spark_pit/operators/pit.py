"""Flagship point-in-time feature pipeline (north_rule).

Fuses into ONE per-entity pass — a single shuffle for the whole feature set:

- as-of match against a snapshot stream (strictly-before, zero leakage)
- lag-1 / lead-1 of the numeric channel
- gap-based session id + position within session
- backfill (last non-null) of the numeric channel
- trailing-window token composition (EAAC analogue) as array<double>
- trailing-window rolling mean of the numeric channel

Physical shape (SURVEY.md §4 partitioning row): ``pit_features_bucketed``
unions events and snapshots into one stream, hash-partitions it on a bucket
key of B values, sorts each partition by entity in the JVM and runs every
feature vectorized once per Arrow batch. On a cluster the equivalent declarative
plan would pay one exchange per window family; the fused pass pays exactly
one, which is the reason this operator exists.

The reference semantics are those of the declarative twin
(``pit_features_declarative``), which builds the same columns from the
windows/asof operator library and is validated by the DuckDB oracle; tests
assert the fused kernel and the salted path (operators/skew.py) equal it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_pit.operators import windows
from spark_pit.operators.asof import asof_join_window


def _seg_starts(ids: np.ndarray) -> np.ndarray:
    """True where a sorted entity column starts a new entity."""
    s = np.ones(len(ids), dtype=bool)
    s[1:] = ids[1:] != ids[:-1]
    if ids.dtype.kind == "f":  # null ids are one entity, as in groupBy
        s[1:] &= ~(np.isnan(ids[1:]) & np.isnan(ids[:-1]))
    return s


def _whole_entities(batches, entity: str):
    """Regroup a partition's Arrow batches, sorted by entity, into frames
    of whole entities. A batch's last entity may continue in the next
    batch: it is held as a list of chunks and concatenated once, when it
    closes — never re-concatenated as it grows."""
    def cat(chunks):
        return chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)

    carry, last = [], None  # chunks of the still-open entity, and its id
    for b in batches:
        if not len(b):
            continue
        ids = b[entity].to_numpy()
        k = np.flatnonzero(_seg_starts(ids))[-1]  # the last entity's first row
        if k == 0 and carry and not _seg_starts(np.concatenate([last, ids[:1]]))[1]:
            carry.append(b)  # b continues the open entity
            continue
        closed = [c for c in (*carry, b.iloc[:k]) if len(c)]
        carry, last = [b.iloc[k:]], ids[-1:]
        if closed:
            yield cat(closed)
    if carry:
        yield cat(carry)


def pit_features_bucketed(
    events: DataFrame,
    snapshots: DataFrame,
    entity: str,
    ts: str,
    numeric_col: str,
    token_col: str,
    vocab: list[str],
    snap_ts: str = "snapshot_ts",
    snap_id: str = "snapshot_id",
    gap_seconds: int = 1800,
    width: int = 5,
    tiebreak: str | list[str] | None = None,
    num_buckets: int = 256,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """pit_features_declarative semantics over ONE sorted stream per partition,
    with **segment-vectorized** NumPy — zero per-entity Python. This is the
    production path; hot entities go through spark_pit.operators.skew.

    Events (tag 0) and snapshots (tag 1) are unioned and moved by ONE
    exchange on the bucket key ``pmod(xxhash64(entity), B)``; B =
    ``num_buckets`` is the key's cardinality (it caps the partitions that
    hold data; AQE sizes the stage). The JVM sorts each partition by
    entity and ``mapInPandas`` runs the kernel once per Arrow batch, not
    once per bucket (a pandas call per bucket costs ~18 ms of Python worker
    time: 0.28 s, 0.79 s and 2.50 s on the same 84,416 rows at 4, 32 and
    128 buckets). An entity spanning batches is held as chunks and processed
    once, when it closes. Within entities one numpy lexsort orders rows by
    (ts, tag, tiebreak, snapshot id): a JVM sort on all those keys took
    12.4 s of task time at 6.4M rows, against 0.5 s for the entity alone.

    Segment trick: ``seg_first[i]`` = index of row i's entity's first row;
    every window feature is a cumulative-array expression clipped at it.
    The as-of match is a forward-fill of the latest snapshot row: snapshots
    order after events at equal ts (strictly before) and by ascending id
    (the max id wins ties). Equality with the declarative twin is asserted
    in tests (tests/test_bucketed.py).
    """
    if not vocab:
        raise ValueError("pit_features_bucketed: vocab is empty (no wc columns)")
    code = {t: i for i, t in enumerate(vocab)}
    V = len(vocab)
    TAG, SID = "__tag", "__sid"  # stream row kind (0 event, 1 snapshot), snapshot id
    typ = {f.name: f.dataType for f in events.schema.fields}
    # tiebreak may be one dedicated column (emitted in the output, e.g.
    # event_id) or a LIST of columns already among the kernel inputs
    # (numeric/token/passthrough) — the list form lets callers get a fully
    # deterministic sort without materializing a row_number() uid first,
    # which would cost a whole extra sort exchange before the kernel
    tb = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    pt = list(passthrough or [])
    tb_ded = [c for c in tb if c not in {numeric_col, token_col, *pt}]
    payload = [*tb_ded, numeric_col, token_col, *pt]
    # the kernel emits the window composition as V separate double columns
    # (zero-copy columnar Arrow); the caller-visible array<double> is
    # assembled JVM-side in the final projection. A pandas object column
    # of per-row ndarrays converts to an Arrow list per ELEMENT — at 64M
    # rows that conversion dominated the kernel stage (guide §4.1: control
    # how efficiently columns cross the boundary).
    head = [
        f"{entity} {typ[entity].simpleString()}", f"{ts} timestamp_ntz",
        *(f"{c} {typ[c].simpleString()}" for c in tb_ded),
        f"{numeric_col} double", f"{token_col} string",
        "asof_snapshot_id long", "asof_age_sec double",
        f"lag1_{numeric_col} double", f"lead1_{numeric_col} double",
        "session_id long", "session_pos long",
        f"{numeric_col}_bf double", f"roll_mean_{numeric_col} double"]
    out_schema = ", ".join([*head, *(f"__wc{i} double" for i in range(V)),
                            *(f"{c} {typ[c].simpleString()}" for c in pt)])
    gap_us = gap_seconds * 1_000_000

    def features(g: pd.DataFrame) -> pd.DataFrame:
        """All features of the event rows of whole entities ``g``."""
        seg = np.cumsum(_seg_starts(g[entity].to_numpy()))
        ts_us = g[ts].to_numpy().astype("datetime64[us]").astype(np.int64)
        # order within entities; strings become sorted codes, nulls last
        keys = [g[c].to_numpy() for c in (SID, *reversed(tb))]
        keys = [pd.factorize(v, sort=True, use_na_sentinel=False)[0]
                if v.dtype == object else v for v in keys]
        tag = g[TAG].to_numpy()
        order = np.lexsort([*keys, tag, ts_us, seg])
        seg, ts_us, is_ev = seg[order], ts_us[order], tag[order] == 0
        # --- as-of: latest snapshot row before each row, same entity ---
        last_sn = np.maximum.accumulate(np.where(is_ev, -1, np.arange(len(g))))
        take = last_sn.clip(0)
        matched = (last_sn >= 0) & (seg[take] == seg)
        sid = g[SID].to_numpy()[order][take][is_ev]
        age = np.where(matched, (ts_us - ts_us[take]) / 1e6, np.nan)[is_ev]
        matched = matched[is_ev]
        # plain arrays: a frame built from Series would align their indexes
        ev = {c: g[c].to_numpy()[order[is_ev]] for c in (entity, ts, *payload)}
        seg, ts_us = seg[is_ev], ts_us[is_ev]
        n = len(seg)
        x = ev[numeric_col].astype(np.float64)
        codes = pd.Series(ev[token_col]).map(code).fillna(-1).to_numpy(dtype=np.int64)

        idx_arr = np.arange(n)
        new_seg = np.diff(seg, prepend=-1) != 0
        seg_first = np.maximum.accumulate(np.where(new_seg, idx_arr, 0))
        seg_last = np.append(np.flatnonzero(new_seg[1:]), n - 1)[np.cumsum(new_seg) - 1]
        out = {
            **ev,
            "asof_snapshot_id": pd.arrays.IntegerArray(sid.astype(np.int64), ~matched),
            "asof_age_sec": age,
        }

        # --- lag/lead clipped at segment bounds ---
        lag1 = np.roll(x, 1)
        lag1[idx_arr == seg_first] = np.nan
        lead1 = np.roll(x, -1)
        lead1[idx_arr == seg_last] = np.nan
        out[f"lag1_{numeric_col}"] = lag1
        out[f"lead1_{numeric_col}"] = lead1

        # --- sessionization: entity change forces a break ---
        brk = (np.diff(ts_us, prepend=ts_us[:1]) > gap_us) | new_seg
        gsid = np.cumsum(brk)  # 1-based global session counter
        out["session_id"] = gsid - gsid[seg_first]
        sess_start = np.where(brk, idx_arr, 0)
        np.maximum.accumulate(sess_start, out=sess_start)
        out["session_pos"] = idx_arr - sess_start

        # --- backfill clipped at segment start ---
        ffidx = np.where(~np.isnan(x), idx_arr, -1)
        np.maximum.accumulate(ffidx, out=ffidx)
        out[f"{numeric_col}_bf"] = np.where(
            ffidx >= seg_first, x[ffidx.clip(0)], np.nan
        )

        # --- rolling mean: window [max(i-w+1, seg_first), i] ---
        w_s = np.maximum(idx_arr - width + 1, seg_first)
        cs = np.concatenate([[0.0], np.nancumsum(np.nan_to_num(x))])
        ccnt = np.concatenate([[0], np.cumsum(~np.isnan(x))])
        rsum = cs[idx_arr + 1] - cs[w_s]
        rcnt = (ccnt[idx_arr + 1] - ccnt[w_s]).astype(np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            out[f"roll_mean_{numeric_col}"] = np.where(rcnt > 0, rsum / rcnt, np.nan)

        # --- trailing window composition, same clipped window ---
        onehot = np.zeros((n, V), dtype=np.int64)
        valid = codes >= 0
        onehot[idx_arr[valid], codes[valid]] = 1
        ocs = np.concatenate([np.zeros((1, V)), np.cumsum(onehot, axis=0)])
        wcm = (ocs[idx_arr + 1] - ocs[w_s]) / (idx_arr + 1 - w_s)[:, None]
        out.update({f"__wc{i}": wcm[:, i] for i in range(V)})
        return pd.DataFrame(out)

    def kern(batches):
        return (o for o in map(features, _whole_entities(batches, entity)) if len(o))

    # snapshot rows fill integral event-only columns with 0, not null: a null
    # makes the column float64 in pandas, which rounds ids above 2**53
    fill = [(F.lit(0) if isinstance(typ[c], T.IntegralType) else F.lit(None))
            .cast(typ[c]).alias(c) for c in payload]
    ev = events.select(entity, ts, *payload, F.lit(0).alias(TAG),
                       F.lit(0).cast("long").alias(SID))
    sn = snapshots.select(
        F.col(entity).cast(typ[entity]).alias(entity),
        F.col(snap_ts).cast(typ[ts]).alias(ts), *fill,
        F.lit(1).alias(TAG), F.col(snap_id).cast("long").alias(SID),
    )
    fused = (
        ev.unionByName(sn)
        .repartition(F.pmod(F.xxhash64(F.col(entity)), F.lit(num_buckets)))
        .sortWithinPartitions(F.col(entity).asc_nulls_last())
        .mapInPandas(kern, out_schema)
    )
    # reassemble the array<double> contract from the V flat kernel columns
    return fused.select(*(f.split(" ")[0] for f in head),
                        F.array(*[F.col(f"__wc{i}") for i in range(V)]).alias("wc"), *pt)


def pit_features_declarative(
    events: DataFrame,
    snapshots: DataFrame,
    entity: str,
    ts: str,
    numeric_col: str,
    token_col: str,
    vocab: list[str],
    snap_ts: str = "snapshot_ts",
    snap_id: str = "snapshot_id",
    gap_seconds: int = 1800,
    width: int = 5,
    tiebreak: str | None = None,
) -> DataFrame:
    """The reference PIT semantics: the fused kernel's columns built from
    the declarative operator library (window functions + union-based
    as-of). The in-engine cross-check of the fused and salted paths, and
    the DuckDB-oracle side."""
    ev = events.select(entity, ts, *([tiebreak] if tiebreak else []), numeric_col, token_col)
    df = asof_join_window(
        ev, snapshots, [entity], ts, snap_ts, [snap_id],
        strict=True, prefix="asof_", right_order=snap_id,
    )
    def _us(c: str):
        # TIMESTAMP_NTZ → epoch micros; session tz is UTC so NTZ↔LTZ is identity
        return F.unix_micros(F.col(c).cast("timestamp_ltz"))

    df = df.withColumn(
        "asof_age_sec", (_us(ts) - _us("asof_ts")) / F.lit(1e6)
    ).withColumnRenamed(f"asof_{snap_id}", "asof_snapshot_id").drop("asof_ts")
    df = windows.with_lag_lead(df, entity, ts, [numeric_col], [1], tiebreak)
    df = windows.with_session_id(df, entity, ts, gap_seconds, tiebreak)
    w = windows.entity_window(entity, ts, tiebreak)
    sess_w = windows.entity_window(entity, ts, tiebreak).partitionBy(entity, "session_id")
    df = df.withColumn("session_pos", F.row_number().over(sess_w) - 1)
    df = windows.with_backfill(df, entity, ts, [numeric_col], tiebreak)
    roll = w.rowsBetween(-(width - 1), 0)
    df = df.withColumn(f"roll_mean_{numeric_col}", F.avg(numeric_col).over(roll))
    size = F.count(F.lit(1)).over(roll)
    df = df.withColumn(
        "wc",
        F.array(*[
            (F.sum(F.when(F.col(token_col) == t, 1).otherwise(0)).over(roll) / size)
            for t in vocab
        ]),
    )
    return df.select(
        entity, ts, *([tiebreak] if tiebreak else []), numeric_col, token_col,
        "asof_snapshot_id", "asof_age_sec",
        f"lag1_{numeric_col}", f"lead1_{numeric_col}",
        "session_id", "session_pos",
        f"{numeric_col}_bf", f"roll_mean_{numeric_col}", "wc",
    )
