"""Metadata-operation latencies on a synthetic 100k-file table — the
reproducible source of SCALE.md's "Measured" numbers.

Usage: python tools/bench_metadata.py [n_files]

Times three operations that would be O(table) under an inline-JSON
manifest and are O(touched) under chunked manifests (lake/manifest.py):
delta append commit, narrow two-level prune, and (for contrast) the
full-inventory rewrite that replace/compaction-style operations pay.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T  # noqa: E402

from dlt_iceberg_spark.lake.manifest import DataFile  # noqa: E402
from dlt_iceberg_spark.lake.table import LakeTable  # noqa: E402
from dlt_iceberg_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    spark = get_spark("bench-metadata")
    schema = T.StructType([T.StructField("k", T.LongType())])
    loc = tempfile.mkdtemp() + "/t"
    table = LakeTable(spark, loc)
    files = [
        DataFile(
            path=f"data/f{i}.parquet", rows=10, bytes=1000,
            stats={"k": [i * 10, i * 10 + 9]},
        )
        for i in range(n)
    ]

    t0 = time.perf_counter()
    s0 = table.commit(files, schema, "create", None)
    full = time.perf_counter() - t0

    t0 = time.perf_counter()
    s1 = table.commit(
        None, schema, "append", s0.version,
        new_files=[DataFile(path="data/new.parquet", rows=1, bytes=10, stats={"k": [0, 1]})],
    )
    delta = time.perf_counter() - t0

    t0 = time.perf_counter()
    touched, kept_refs, _ = table.prune_split(s1, {"k": (n * 5, n * 5 + 499)})
    prune = time.perf_counter() - t0

    print(f"table: {n} files in {len(s0.manifests)} manifests")
    print(f"full-rewrite commit: {full:.3f}s  (replace/compaction pay this)")
    print(f"delta append commit: {delta * 1000:.1f}ms  (reuses {len(s0.manifests)} manifests by ref)")
    print(
        f"narrow prune: {prune * 1000:.1f}ms  "
        f"({len(touched)} files touched, {len(kept_refs)} manifests skipped unread)"
    )


if __name__ == "__main__":
    main()
