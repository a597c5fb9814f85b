"""Distributed scan planning — manifest pruning as a Spark job.

Driver-side planning (`LakeTable.prune_split` / `_select_files`) is
O(entries-of-opened-manifests) in driver memory.  Fine for thousands of
files; at 100 TB (~800k × 128 MB files) a poorly-selective probe would
materialize hundreds of thousands of ``DataFile`` entries on the driver
before the real scan even starts.

Manifests here are *parquet* (lake/manifest.py), which makes the fix
idiomatic Spark: read the manifest chunks as a DataFrame, evaluate the
stats predicate executor-side, and collect ONLY the surviving entries —
the driver materializes the file list it was always going to need for
``spark.read.parquet(*paths)``, and nothing else.  Snapshot-level
aggregate ranges still skip whole manifests before the job is launched,
so the job reads just the undecided chunks.

Reference parity: this is Iceberg's distributed planning mode
(``SparkDistributedDataScan``); the reference itself delegates planning to
PyIceberg/DuckDB (src/dlt_iceberg/sql_client.py), which plan driver-side.

Correctness contract: lake/pruning.py is the single owner of the skip
decision.  The executor-side filter is ``Predicate.to_column`` — a
*conservative superset* of the exact driver predicate — and the exact
``Predicate.may_match`` (stats, partition tuples and blooms) is re-applied
to the collected survivors, so the result is bit-identical to driver
planning.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dlt_iceberg_spark.lake.manifest import DataFile, ManifestRef
from dlt_iceberg_spark.lake.pruning import Predicate

#: Spark-side schema of a manifest chunk (mirrors manifest._ENTRY_SCHEMA).
ENTRY_DDL = (
    "path string, rows bigint, bytes bigint, sequence bigint, "
    "stats string, partition string, names string, sketches string"
)


def entries_df(
    spark: SparkSession, table_location: str, refs: list[ManifestRef]
) -> DataFrame:
    """All entries of the given manifest chunks as a Spark DataFrame."""
    paths = [os.path.join(table_location, r.path) for r in refs]
    return spark.read.schema(ENTRY_DDL).parquet(*paths)


def plan_candidates(
    spark: SparkSession,
    table_location: str,
    schema: T.StructType,
    refs: list[ManifestRef],
    pred: Predicate,
) -> list[DataFile]:
    """Entries of ``refs`` that may satisfy ``pred`` (stats conjunction and
    transform-rewritten partition probes), selected by ONE Spark job over
    the manifest parquet.  Returns exact driver-plan parity: survivors are
    re-checked with ``pred.may_match``.  Pushing the partition probes
    executor-side matters precisely where they bind — a point lookup on a
    bucket-partitioned million-file table collects ~files/N entries
    instead of every entry."""
    if not refs:
        return []
    df = entries_df(spark, table_location, refs).filter(pred.to_column(schema))
    rows = df.collect()
    out = [
        DataFile(
            path=r.path,
            rows=r.rows,
            bytes=r.bytes,
            sequence=r.sequence,
            stats=json.loads(r.stats),
            partition=json.loads(r.partition),
            # pre-rename-era manifests lack the column → null → identity
            names=json.loads(r.names) if r.names else {},
            # carried so the exact recheck below applies manifest blooms
            # (executor-side filtering stays stats-only — conservative)
            sketches=json.loads(r.sketches) if r.sketches else {},
        )
        for r in rows
    ]
    return [f for f in out if pred.may_match(f.stats, f.partition, f.sketches)]
