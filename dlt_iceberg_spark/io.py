"""Parquet table loading for the driver testdata.

The reference reads dlt-produced parquet with ``pq.read_table``
(destination_client.py:189-195); here the scan is Spark's vectorized parquet
reader so predicate pushdown / column pruning / partition-sized splits come
from Catalyst for free.

One real-world wrinkle handled here: ``events.ts`` has shipped in three
physical flavors across testdata generations — parquet ``TIMESTAMP(NANOS)``
(which Spark 4 refuses by default), raw ``int64`` ns-since-epoch, and plain
``TIMESTAMP(MICROS)``.  We decide the conversion from the parquet *footer*
(pyarrow), not from Spark's inferred schema: the footer is independent of
session confs (``spark.sql.legacy.parquet.nanosAsLong``,
``spark.sql.timestampType``) and of any schema caching, so the chosen branch
always matches what the analyzer will see.  All flavors normalize to
µs-precision ``TimestampNTZType``, matching the reference's µs cap
(destination_client.py:1581) and DuckDB's ``ts::TIMESTAMP`` truncation.
"""

from __future__ import annotations

import os
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: per-session plan cache: ``spark.read.parquet`` re-infers the schema from
#: the footer on every call (~100 ms of driver time); a DataFrame is an
#: immutable logical plan, so reusing one per (session, dir, table) is safe
#: for the immutable driver fixtures and removes that cost from every query
#: build.  Weak keys let stopped sessions drop their entries.
_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()

# Columns normalized to µs TimestampNTZ on load, whatever their physical type.
_TS_COLS = {"events": ("ts",)}


def _footer_type(path: str, col: str) -> "pa.DataType | None":
    """Arrow type of ``col`` straight from the parquet footer (conf-free)."""
    try:
        schema = pq.read_schema(path)
        idx = schema.get_field_index(col)
        if idx < 0:
            return None
        return schema.field(idx).type
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame with normalized types."""
    try:
        per_session = _PLAN_CACHE.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable; skip caching
        per_session = {}
    key = (os.path.abspath(sf_dir), name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")

    ts_cols = _TS_COLS.get(name, ())
    plans: dict[str, str] = {}
    for c in ts_cols:
        ftype = _footer_type(path, c)
        if ftype is None:
            continue
        if pa.types.is_integer(ftype):
            plans[c] = "ns_long"  # raw int64 ns-since-epoch
        elif pa.types.is_timestamp(ftype) and ftype.unit == "ns":
            plans[c] = "ns_ts"  # parquet TIMESTAMP(NANOS): Spark refuses w/o conf
        elif pa.types.is_timestamp(ftype):
            plans[c] = "cast"  # µs/ms timestamp: normalize to NTZ only
    if any(p == "ns_ts" for p in plans.values()):
        # read TIMESTAMP(NANOS) as long so we can truncate to µs ourselves
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    df = spark.read.parquet(path)
    for c, plan in plans.items():
        if plan in ("ns_long", "ns_ts"):
            # long ns-since-epoch -> µs TimestampNTZ. Integer `div`, NOT `/`:
            # float division loses the last µs digit at ~1.7e15 (double ulp),
            # which shows up as ±1 µs vs the DuckDB oracle's ts::TIMESTAMP.
            df = df.withColumn(
                c,
                F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"),
            )
        elif dict(df.dtypes).get(c) != "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
    per_session[key] = df
    return df
