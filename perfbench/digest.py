"""Output checks of query executions, and their tally.

Two kinds of expected value:

- Registry queries: the DuckDB ``ORACLE_SQL`` result, stored as parquet with
  the inputs. ``frame_problems`` compares the collected Spark result with it
  using ``tools/check_oracle.py``'s ``compare`` (order-insensitive,
  dtype-strict, exact for every non-float column) with one relaxation:
  floats only need to agree within its 1e-9 tolerance. ``autocorr`` is not
  bit-exact against its oracle on the generated inputs (last-ulp
  differences), which the oracle gate reports as CLOSE-NOT-EXACT.
- PIT outputs: ``spark_digest`` is a Spark-side ``sum(xxhash64(row))`` over a canonical
  projection, for the PIT outputs whose expected value comes from the
  in-engine ``pit_features_declarative`` twin. The two PIT plans sum floats
  in different orders, so floats are rounded to 6 decimals (NaN as null,
  -0.0 as 0.0) before hashing; integers widen to long and timestamps become
  epoch microseconds.
"""

from __future__ import annotations

import hashlib

import pandas as pd


def frame_problems(name: str, got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    from tools.check_oracle import compare

    return [p for p in compare(name, got, expected) if "CLOSE-NOT-EXACT" not in p]


def _canon(col, dtype):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        c = col.cast("double")
        return F.when(F.isnan(c), F.lit(None)).otherwise(F.round(c, 6) + F.lit(0.0))
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return col.cast("long")
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        from spark_pit.util import ts_us

        return ts_us(col)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dtype.elementType))
    return col


def spark_digest(df, key: str | None = None, key_offset: int = 0) -> str:
    """``key_offset`` is subtracted from column ``key`` first, so outputs of
    inputs that differ only by the seed's key offset share one digest."""
    from pyspark.sql import functions as F

    if key is not None:
        df = df.withColumn(key, F.col(key) - F.lit(key_offset))
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    cols = [_canon(F.col(f.name), f.dataType).alias(f.name) for f in fields]
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
    ).first()
    names = ",".join(f.name for f in fields)
    return f"{row['n']}:{row['s']}:{hashlib.sha256(names.encode()).hexdigest()[:12]}"


class Tally:
    """Executions attempted, and those that raised or returned a digest
    other than the expected one."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: {why}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
