"""Metadata scale proof at 1M files (VERDICT r4 task 7).

At 128 MB/file, 1M files ≈ 128 TB — past the 100 TB design point.  The
table is built incrementally (10 delta commits of 100k synthetic entries)
so DRIVER memory never holds more than one batch; every claim the 100k
module (test_manifest.py) makes is re-asserted at 10× scale:

- the snapshot document stays metadata-sized (refs, not entries);
- a delta append opens ZERO parent manifests;
- a narrow prune opens only the overlapping manifest chunks;
- micro-appends keep the ref count bounded via compact_refs;
- the distributed planner returns survivors only (driver collect is
  O(matching files), executors evaluate the 1M stats rows).

No sampling, no silent caps: all 1,000,000 entries are committed and all
assertions run over the full table.  Module budget ~2 min on local[32].
"""

import json
import os

import pytest

pytestmark = pytest.mark.slow  # 1M-file fixture: driver-window gate (VERDICT r11 task 1)
from pyspark.sql import types as T

import dlt_iceberg_spark.lake.table as table_mod
from dlt_iceberg_spark.lake.manifest import MANIFEST_CHUNK, MAX_MANIFESTS, DataFile
from dlt_iceberg_spark.lake.table import LakeTable

N_FILES = 1_000_000
BATCH = 100_000
SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def _batch(start: int, n: int) -> list[DataFile]:
    # k strictly increasing, 10 rows per file — narrow probes map to a
    # known file count; synthetic bucket tuples (i mod 8) exercise the
    # partition-probe pushdown at the same scale
    return [
        DataFile(
            path=f"data/f{i:07d}.parquet",
            rows=10,
            bytes=1000,
            stats={"k": [i * 10, i * 10 + 9]},
            partition={"k_bucket": str(i % 8)},
        )
        for i in range(start, start + n)
    ]


@pytest.fixture(scope="module")
def mega_table(spark, tmp_path_factory):
    loc = str(tmp_path_factory.mktemp("mega") / "t")
    t = LakeTable(spark, loc)
    snap = t.commit(_batch(0, BATCH), SCHEMA, "create", None)
    for b in range(1, N_FILES // BATCH):
        snap = t.commit(
            None,
            SCHEMA,
            "append",
            snap.version,
            manifests=snap.manifests,
            new_files=_batch(b * BATCH, BATCH),
        )
    return t


def test_1m_snapshot_is_metadata_sized(mega_table):
    v = mega_table.current_version()
    meta_path = os.path.join(mega_table.location, "metadata", f"v{v:06d}.json")
    with open(meta_path) as fh:
        raw = json.load(fh)
    assert len(raw["manifests"]) == N_FILES // MANIFEST_CHUNK
    # 100 refs with aggregate ranges: well under 100 KB for a 1M-file table
    assert os.path.getsize(meta_path) < 128 * 1024
    snap = mega_table.snapshot()
    assert snap.n_files == N_FILES
    assert snap.total_rows == N_FILES * 10


def test_1m_append_reads_zero_parent_manifests(mega_table, monkeypatch):
    reads = []
    orig = table_mod.read_manifest
    monkeypatch.setattr(
        table_mod,
        "read_manifest",
        lambda loc, ref, **kw: reads.append(ref) or orig(loc, ref, **kw),
    )
    snap = mega_table.snapshot()
    add = DataFile(path="data/new.parquet", rows=5, bytes=500, stats={"k": [10**9, 10**9]})
    new_snap = mega_table.commit(
        None, SCHEMA, "append", snap.version, manifests=snap.manifests, new_files=[add]
    )
    assert reads == []
    assert new_snap.n_files == N_FILES + 1


def test_1m_prune_opens_only_overlapping_chunks(mega_table, monkeypatch):
    reads = []
    orig = table_mod.read_manifest
    monkeypatch.setattr(
        table_mod,
        "read_manifest",
        lambda loc, ref, **kw: reads.append(ref) or orig(loc, ref, **kw),
    )
    snap = mega_table.snapshot()
    # ~50 files in the middle of the key space
    touched, kept_refs, kept_files = mega_table.prune_split(
        snap, {"k": (5_000_000, 5_000_499)}
    )
    assert len(reads) <= 2  # 1-2 of the 100 chunks
    assert 45 <= len(touched) <= 60
    assert sum(r.n_files for r in kept_refs) + len(kept_files) + len(touched) >= N_FILES


def test_1m_micro_appends_keep_ref_count_bounded(mega_table):
    """70 one-file commits on top of 100 full-size refs: compact_refs folds
    the small manifests, so the ref list never grows past full-chunks + a
    bounded tail of smalls (Iceberg's rewrite_manifests behavior)."""
    t = mega_table
    snap = t.snapshot()
    base_full = len(snap.manifests)
    worst = 0
    for i in range(70):
        snap = t.commit(
            None,
            SCHEMA,
            "append",
            snap.version,
            manifests=snap.manifests,
            new_files=[
                DataFile(
                    path=f"data/micro{i:03d}.parquet",
                    rows=1,
                    bytes=100,
                    stats={"k": [2 * 10**9 + i, 2 * 10**9 + i]},
                )
            ],
        )
        worst = max(worst, len(snap.manifests))
    # bounded: never accumulates one ref per micro-append
    assert worst <= base_full + max(MAX_MANIFESTS // 8, 4)
    assert snap.n_files >= N_FILES + 70  # nothing lost in the folds
    # folded entries stay findable (planning only — the files are synthetic)
    _, files = t._select_files(snap, [("k", "=", 2 * 10**9 + 33)])
    assert [f.path for f in files] == ["data/micro033.parquet"]


def test_1m_distributed_planner_survivor_only_collect(mega_table):
    """The planner job over 1M manifest entries returns exactly the files
    a driver plan would — and ONLY those (the collect that reaches the
    driver is the 50-row survivor set, not the million-entry inventory)."""
    from dlt_iceberg_spark.lake.planning import plan_candidates
    from dlt_iceberg_spark.lake.pruning import Predicate

    snap = mega_table.snapshot()
    where = [("k", ">=", 7_000_000), ("k", "<=", 7_000_499)]
    survivors = plan_candidates(
        mega_table.spark, mega_table.location, SCHEMA, snap.manifests,
        Predicate(where),
    )
    assert len(survivors) == 50
    assert all(
        f.stats["k"][1] >= 7_000_000 and f.stats["k"][0] <= 7_000_499
        for f in survivors
    )
    # end-to-end: read() in auto mode flips to the spark planner above the
    # DISTRIBUTED_PLAN_MIN_FILES threshold — same survivors, no error even
    # though the data files do not exist (planning never opens data)
    where_n, files = mega_table._select_files(snap, where, plan_mode="auto")
    assert sorted(f.path for f in files) == sorted(f.path for f in survivors)


def test_1m_partition_probe_pushdown_collects_one_bucket(mega_table):
    """Partition probes push into the planner job at 1M entries: probing
    one synthetic bucket collects ~1/8 of the inventory (the survivor set
    the driver was always going to need), never the full million rows —
    the scale property behind bucket-partitioned point lookups."""
    from dlt_iceberg_spark.lake.planning import plan_candidates
    from dlt_iceberg_spark.lake.pruning import Predicate

    snap = mega_table.snapshot()
    survivors = plan_candidates(
        mega_table.spark,
        mega_table.location,
        SCHEMA,
        snap.manifests,
        Predicate([], {"k_bucket": {"3"}}),
    )
    # earlier module tests appended a few files without the bucket key —
    # those must be KEPT (spec evolution semantics); bucket-3 files are
    # exactly 1/8 of the original million
    assert N_FILES // 8 <= len(survivors) <= N_FILES // 8 + 200
    assert all(f.partition.get("k_bucket") in (None, "3") for f in survivors)
    # combined with a range probe: intersection, still survivor-only
    both = plan_candidates(
        mega_table.spark,
        mega_table.location,
        SCHEMA,
        snap.manifests,
        Predicate([("k", ">=", 0), ("k", "<=", 799_999)], {"k_bucket": {"3"}}),
    )
    assert len(both) == 10_000  # 80k files in range / 8 buckets


def test_1m_metadata_only_ddl_reads_zero_manifests(mega_table, monkeypatch):
    """add_column + promote_column_type at 1M entries: both commits pass
    manifests BY REFERENCE — zero manifest chunks read, zero rewritten."""
    reads = []
    orig = table_mod.read_manifest
    monkeypatch.setattr(
        table_mod,
        "read_manifest",
        lambda loc, ref, **kw: reads.append(ref) or orig(loc, ref, **kw),
    )
    before = [r.path for r in mega_table.snapshot().manifests]
    mega_table.add_column("w", "int")
    snap = mega_table.promote_column_type("w", "long")
    assert reads == []
    assert [r.path for r in snap.manifests] == before
    assert {f.name: f.dataType for f in snap.schema.fields}["w"] == T.LongType()


def test_1m_changelog_diff_reads_only_the_new_manifest(mega_table, monkeypatch):
    """The changelog planner's manifest-ref diff at 1M entries: diffing an
    append snapshot against its parent reads ONLY the manifest the append
    introduced — the planning step behind read_changes/read_incremental
    and the streaming CDC source stays O(added) at 128 TB scale."""
    snap = mega_table.snapshot()
    add = DataFile(
        path="data/cdc_new.parquet", rows=5, bytes=500, stats={"k": [10**9 + 1, 10**9 + 1]}
    )
    new_snap = mega_table.commit(
        None, SCHEMA, "append", snap.version, manifests=snap.manifests, new_files=[add]
    )
    reads = []
    orig = table_mod.read_manifest
    monkeypatch.setattr(
        table_mod,
        "read_manifest",
        lambda loc, ref, **kw: reads.append(ref) or orig(loc, ref, **kw),
    )
    added, removed = mega_table._diff_files(new_snap, mega_table.snapshot(snap.version))
    assert [f.path for f in added] == ["data/cdc_new.parquet"]
    assert removed == []
    # every manifest read was unique to one side; the shared 1M-entry set
    # was passed by reference and never opened
    assert len(reads) <= 2, [r.path for r in reads]


def test_1m_stream_planning_reads_only_unique_manifests(mega_table, monkeypatch):
    """The STREAMING source's pyarrow ref-diff at 1M entries: planning one
    append micro-batch touches only the manifests unique to that step."""
    import pyarrow.parquet as pq_mod

    from dlt_iceberg_spark.streaming import source as src_mod

    snap = mega_table.snapshot()
    add = DataFile(
        path="data/stream_new.parquet", rows=5, bytes=500,
        stats={"k": [10**9 + 2, 10**9 + 2]},
    )
    new_snap = mega_table.commit(
        None, SCHEMA, "append", snap.version, manifests=snap.manifests, new_files=[add]
    )
    reader = src_mod._LakeStreamReader(SCHEMA, {"location": mega_table.location})
    reads = []
    real = pq_mod.read_table

    def counting(path, *a, **kw):
        if "/metadata/m-" in str(path):
            reads.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq_mod, "read_table", counting)
    parts = reader.partitions(
        {"version": snap.version}, {"version": new_snap.version}
    )
    monkeypatch.setattr(pq_mod, "read_table", real)
    assert len(parts) == 1 and parts[0].abs_path.endswith("stream_new.parquet")
    assert 0 < len(set(reads)) <= 2, len(set(reads))


def test_1m_cdc_delete_batch_plans_o_changed_with_eq_stats_pruning(
    mega_table, monkeypatch
):
    """CDC micro-batch planning over a small mutation of the 1M-entry
    table (VERDICT r6 task 3): an equality-delete batch whose key envelope
    is narrow must read only (a) the manifests unique to either side of
    the ref-diff and (b) the few chunks whose aggregate range overlaps the
    delete's stats envelope — never the full 100-chunk inventory."""
    import pyarrow.parquet as pq_mod

    from dlt_iceberg_spark.lake.manifest import DeleteFile
    from dlt_iceberg_spark.streaming import source as src_mod

    snap = mega_table.snapshot()
    n_chunks = len(snap.manifests)
    assert n_chunks >= 100  # the inventory is genuinely metadata-large
    # a MoR eq-delete batch: one new data file + one equality-delete file
    # whose key envelope covers ~30 source files in the middle of the
    # keyspace (stats-only: planning never opens the delete parquet)
    add = DataFile(
        path="data/cdc_upsert.parquet", rows=3, bytes=300,
        stats={"k": [3_000_000, 3_000_299]},
    )
    dele = DeleteFile(
        path="deletes/cdc_eq.parquet", rows=3, bytes=300,
        equality_ids=["k"], content="equality",
        stats={"k": [3_000_000, 3_000_299]},
    )
    new_snap = mega_table.commit(
        None, SCHEMA, "merge", snap.version,
        manifests=snap.manifests, new_files=[add],
        delete_files=[
            *[DeleteFile(**d.__dict__) for d in snap.delete_files],
            dele,
        ],
    )
    reader = src_mod._LakeStreamReader(
        SCHEMA, {"location": mega_table.location, "changes": "true"}
    )
    reads = []
    real = pq_mod.read_table

    def counting(path, *a, **kw):
        if "/metadata/m-" in str(path):
            reads.append(str(path))
        return real(path, *a, **kw)

    monkeypatch.setattr(pq_mod, "read_table", counting)
    parts = reader.partitions(
        {"version": snap.version}, {"version": new_snap.version}
    )
    monkeypatch.setattr(pq_mod, "read_table", real)
    kinds = sorted({p.kind for p in parts})
    assert kinds == ["delete_eq", "insert"]
    # the delete images target exactly the ~30 files the envelope overlaps
    eq_parts = [p for p in parts if p.kind == "delete_eq"]
    assert 25 <= len(eq_parts) <= 40, len(eq_parts)
    # manifest reads: ref-diff uniques (1-2) + envelope-overlapping chunks
    # (1-2 of 100) — O(changed), nowhere near the full inventory
    assert len(set(reads)) <= 5, (len(set(reads)), n_chunks)
