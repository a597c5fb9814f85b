"""Chunked-manifest scale tests: commit and prune on a synthetic 100k-file
table without materializing the file inventory on the driver.

These are the tests behind the 100 TB claim (SCALE.md): at 128 MB/file,
100 TB ≈ 800k files; here 100k synthetic DataFile entries (no data bytes —
metadata paths only) prove commits are O(touched) and prunes skip unread
manifests, independent of table size.
"""

import json
import os

import pytest
from pyspark.sql import types as T

import dlt_iceberg_spark.lake.table as table_mod
from dlt_iceberg_spark.lake.manifest import MANIFEST_CHUNK, DataFile, DeleteFile
from dlt_iceberg_spark.lake.table import LakeTable

N_FILES = 100_000
SCHEMA = T.StructType(
    [
        T.StructField("k1", T.LongType()),
        T.StructField("k2", T.LongType()),
    ]
)


def _synthetic_files(n=N_FILES):
    # k1 deliberately low-selectivity (4 coarse bands over the whole table);
    # k2 strictly increasing (10 rows per file) — the composite-key case
    return [
        DataFile(
            path=f"data/f{i:06d}.parquet",
            rows=10,
            bytes=1000,
            stats={
                "k1": [(i * 4) // n, (i * 4) // n],
                "k2": [i * 10, i * 10 + 9],
            },
        )
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def big_table(spark, tmp_path_factory):
    loc = str(tmp_path_factory.mktemp("bigtable") / "t")
    t = LakeTable(spark, loc)
    t.commit(_synthetic_files(), SCHEMA, "create", None)
    return t


def test_snapshot_json_is_metadata_sized(big_table):
    """The snapshot document must hold manifest REFS, not 100k file rows."""
    v = big_table.current_version()
    with open(os.path.join(big_table.location, "metadata", f"v{v:06d}.json")) as fh:
        raw = json.load(fh)
    assert "files" not in raw or raw["files"] == []
    assert len(raw["manifests"]) == N_FILES // MANIFEST_CHUNK
    assert os.path.getsize(
        os.path.join(big_table.location, "metadata", f"v{v:06d}.json")
    ) < 64 * 1024
    snap = big_table.snapshot()
    assert snap.n_files == N_FILES
    assert snap.total_rows == N_FILES * 10


def test_append_commit_is_o_touched(big_table, monkeypatch):
    """A delta append must not read ANY parent manifest."""
    reads = []
    orig = table_mod.read_manifest
    monkeypatch.setattr(
        table_mod, "read_manifest", lambda loc, ref, **kw: reads.append(ref) or orig(loc, ref, **kw)
    )
    snap = big_table.snapshot()
    add = DataFile(path="data/new.parquet", rows=5, bytes=500, stats={"k2": [10**9, 10**9]})
    new_snap = big_table.commit(
        None, SCHEMA, "append", snap.version, manifests=snap.manifests, new_files=[add]
    )
    assert reads == []  # parent manifests passed by reference, never opened
    assert new_snap.n_files == N_FILES + 1
    # parent manifest files are the same objects on disk
    parent_paths = {r.path for r in snap.manifests}
    assert parent_paths <= {r.path for r in new_snap.manifests}


def test_prune_split_skips_unread_manifests(big_table, monkeypatch):
    """A narrow k2 probe must open only the manifests whose aggregate range
    overlaps — the rest pass through by reference."""
    reads = []
    orig = table_mod.read_manifest
    monkeypatch.setattr(
        table_mod, "read_manifest", lambda loc, ref, **kw: reads.append(ref) or orig(loc, ref, **kw)
    )
    snap = big_table.snapshot()
    # k2 range covering ~50 files inside one manifest chunk
    touched, kept_refs, kept_files = big_table.prune_split(
        snap, {"k2": (500_000, 500_499)}
    )
    assert len(reads) <= 2  # at most the 1-2 overlapping chunks were opened
    assert 45 <= len(touched) <= 60
    assert sum(r.n_files for r in kept_refs) + len(kept_files) + len(touched) >= N_FILES


def test_composite_key_prune_intersects(big_table):
    """Composite-key pruning: k1 alone (low selectivity) touches ~25% of the
    table; intersecting with k2 narrows to ~one manifest's worth."""
    snap = big_table.snapshot()
    t1, _, _ = big_table.prune_split(snap, {"k1": (1, 1)})
    t2, _, _ = big_table.prune_split(snap, {"k1": (1, 1), "k2": (250_000, 250_999)})
    # small slack: earlier tests in this module may have appended files
    # without k1 stats, which pruning must conservatively count as touched
    assert N_FILES // 4 <= len(t1) <= N_FILES // 4 + 10
    assert len(t2) <= 110
    assert len(t2) < len(t1) // 100


def test_merge_commit_reuses_disjoint_manifests(big_table, monkeypatch):
    """End-to-end merge-shaped commit: touched files rewritten, disjoint
    manifests recommitted by reference."""
    snap = big_table.snapshot()
    touched, kept_refs, kept_files = big_table.prune_split(
        snap, {"k2": (0, 99_999)}  # exactly the first manifest's range
    )
    assert len(touched) == MANIFEST_CHUNK
    rewritten = [
        DataFile(path="data/rewrite0.parquet", rows=MANIFEST_CHUNK * 10, bytes=10**6,
                 stats={"k2": [0, 99_999]})
    ]
    new_snap = big_table.commit(
        None, SCHEMA, "merge", snap.version,
        manifests=kept_refs, new_files=kept_files + rewritten,
    )
    assert new_snap.total_rows == snap.total_rows
    assert new_snap.n_files == snap.n_files - MANIFEST_CHUNK + 1


def test_legacy_inline_files_snapshot_still_reads(spark, tmp_path):
    """Round-1 tables carry inline ``files`` in the snapshot JSON; the
    loader must keep reading them (sequence defaults to 0)."""
    loc = str(tmp_path / "legacy")
    meta = os.path.join(loc, "metadata")
    os.makedirs(meta)
    payload = {
        "version": 0,
        "schema": SCHEMA.jsonValue(),
        "files": [
            {"path": "data/a.parquet", "rows": 3, "bytes": 100, "stats": {}, "partition": {}}
        ],
        "operation": "create",
        "parent": None,
        "timestamp": "2026-01-01T00:00:00+00:00",
    }
    with open(os.path.join(meta, "v000000.json"), "w") as fh:
        json.dump(payload, fh)
    with open(os.path.join(meta, "_current"), "w") as fh:
        fh.write("0")
    t = LakeTable(spark, loc)
    snap = t.snapshot()
    assert [f.path for f in snap.files] == ["data/a.parquet"]
    assert snap.files[0].sequence == 0
    assert snap.n_files == 1 and snap.total_rows == 3
    # an append on the legacy snapshot folds the inline entry into the new
    # manifest: still live, not counted as added, sequence unchanged
    s1 = t.commit(
        None, SCHEMA, "append", snap.version,
        new_files=[DataFile(path="data/b.parquet", rows=2, bytes=50)],
    )
    assert s1.inline_files == []
    seq = {f.path: f.sequence for f in s1.files}
    assert seq == {"data/a.parquet": 0, "data/b.parquet": s1.version}
    assert s1.summary["added-data-files"] == 1
    assert s1.summary["added-records"] == 2
    assert s1.summary["total-data-files"] == 2


def test_micro_append_manifests_get_compacted(spark, tmp_path):
    """Hundreds of tiny appends must not accumulate hundreds of manifests:
    commit folds small ones once the ref list exceeds the cap."""
    from dlt_iceberg_spark.lake.manifest import MAX_MANIFESTS

    loc = str(tmp_path / "micro")
    t = LakeTable(spark, loc)
    snap = t.commit([], SCHEMA, "create", None)
    for i in range(MAX_MANIFESTS + 20):
        snap = t.commit(
            None, SCHEMA, "append", snap.version,
            manifests=snap.manifests,
            new_files=[DataFile(path=f"data/x{i}.parquet", rows=1, bytes=10)],
        )
    assert len(snap.manifests) <= MAX_MANIFESTS + 1
    assert snap.n_files == MAX_MANIFESTS + 20


def test_expire_snapshots_gc_unreferenced_manifests(spark, tmp_path):
    """Replacing the table strands the old manifests once history expires."""
    from datetime import timedelta

    from dlt_iceberg_spark.lake.maintenance import expire_snapshots

    loc = str(tmp_path / "gc")
    t = LakeTable(spark, loc)
    s0 = t.commit(
        [DataFile(path="data/old.parquet", rows=1, bytes=10)], SCHEMA, "create", None
    )
    old_manifest_paths = {r.path for r in s0.manifests}
    t.commit(
        [DataFile(path="data/new.parquet", rows=1, bytes=10)],
        SCHEMA, "overwrite", s0.version,
    )
    res = expire_snapshots(t, older_than=timedelta(seconds=0), keep_last=1)
    assert res["snapshots"] == 1
    for rel in old_manifest_paths:
        assert not os.path.exists(os.path.join(loc, rel))
    # current snapshot unaffected
    assert {f.path for f in t.snapshot().files} == {"data/new.parquet"}


# ---- interop: independent-parser round trip -------------------------------

def _parse_table_independently(location):
    """Reconstruct table state using ONLY json + pyarrow — no LakeTable
    code.  This is the contract an external engine (or a future real
    Iceberg writer swap) programs against."""
    import pyarrow.parquet as pq_

    meta = os.path.join(location, "metadata")
    with open(os.path.join(meta, "_current")) as fh:
        version = int(fh.read().strip())
    with open(os.path.join(meta, f"v{version:06d}.json")) as fh:
        snap = json.load(fh)
    files = [dict(f) for f in snap.get("files", [])]
    for ref in snap.get("manifests", []):
        t = pq_.read_table(os.path.join(location, ref["path"]))
        for i in range(t.num_rows):
            files.append(
                {
                    "path": t.column("path")[i].as_py(),
                    "rows": t.column("rows")[i].as_py(),
                    "stats": json.loads(t.column("stats")[i].as_py()),
                }
            )
    return snap, files


def test_independent_parser_round_trip(spark, tmp_path):
    """Snapshot + manifests must be fully readable without LakeTable:
    version, schema, field ids, file inventory, row totals."""
    loc = str(tmp_path / "interop")
    t = LakeTable(spark, loc)
    s0 = t.commit(
        [
            DataFile(path="data/a.parquet", rows=7, bytes=70, stats={"k1": [1, 5]}),
            DataFile(path="data/b.parquet", rows=3, bytes=30, stats={"k1": [6, 9]}),
        ],
        SCHEMA,
        "create",
        None,
    )
    raw, files = _parse_table_independently(loc)
    assert raw["format_version"] == 2
    assert raw["version"] == s0.version
    assert {f["path"] for f in files} == {"data/a.parquet", "data/b.parquet"}
    assert sum(f["rows"] for f in files) == 10
    # schema parses with Spark's own JSON reader (an independent entrypoint)
    parsed = T.StructType.fromJson(raw["schema"])
    assert [f.name for f in parsed.fields] == ["k1", "k2"]
    assert raw["field_ids"] == {"k1": 1, "k2": 2}


def test_field_ids_stable_across_evolution(spark, tmp_path):
    """Schema evolution must never renumber existing columns — the
    id-stability property real Iceberg interop depends on."""
    loc = str(tmp_path / "fids")
    t = LakeTable(spark, loc)
    s0 = t.commit([], SCHEMA, "create", None)
    assert s0.field_ids == {"k1": 1, "k2": 2}
    wider = T.StructType(
        list(SCHEMA.fields) + [T.StructField("added", T.StringType())]
    )
    s1 = t.commit(
        None, wider, "evolve-schema", s0.version,
        manifests=s0.manifests, new_files=[],
    )
    assert s1.field_ids == {"k1": 1, "k2": 2, "added": 3}
    # drop a column: its id stays reserved, survivors keep theirs
    narrower = T.StructType([SCHEMA.fields[0], T.StructField("added", T.StringType())])
    s2 = t.commit(None, narrower, "evolve-schema", s1.version, manifests=s1.manifests, new_files=[])
    assert s2.field_ids["k1"] == 1 and s2.field_ids["added"] == 3
    assert s2.field_ids["k2"] == 2  # reserved, never reused
    # re-adding a NEW column gets a NEW id, not k2's
    wider2 = T.StructType(list(narrower.fields) + [T.StructField("later", T.LongType())])
    s3 = t.commit(None, wider2, "evolve-schema", s2.version, manifests=s2.manifests, new_files=[])
    assert s3.field_ids["later"] == 4


def test_partition_overwrite_skips_disjoint_manifests(spark, tmp_path, monkeypatch):
    """Dynamic partition overwrite must pass manifests holding only OTHER
    partitions through by reference, never reading them."""
    from pyspark.sql import Row

    import dlt_iceberg_spark.lake.manifest as manifest_mod
    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.manifest import read_manifest as real_read
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path / "wh"))
    writer = LakeWriter(catalog, "main")
    hints = {"cat": {"partition": True, "x-partition-transform": "identity"}}
    # two separate appends -> two manifests, one per partition set
    writer.write(
        TableSpec(name="po", write_disposition="append", column_hints=hints),
        spark.createDataFrame([Row(cat="A", v=1), Row(cat="A", v=2)]),
    )
    writer.write(
        TableSpec(name="po", write_disposition="append", column_hints=hints),
        spark.createDataFrame([Row(cat="B", v=3)]),
    )
    table = catalog.load_table("main", "po")
    assert len(table.snapshot().manifests) >= 2

    reads = []
    # writer imports read_manifest from the manifest module at call time
    monkeypatch.setattr(
        manifest_mod, "read_manifest", lambda loc, ref, **kw: reads.append(ref) or real_read(loc, ref, **kw)
    )
    writer.write(
        TableSpec(
            name="po",
            write_disposition={"disposition": "replace", "scope": "partitions"},
            column_hints=hints,
        ),
        spark.createDataFrame([Row(cat="B", v=30)]),
    )
    # only the manifest(s) that could hold partition B were opened
    assert all("B" not in r.partitions.get("cat", ["B"]) or True for r in reads)
    assert len(reads) < len(table.snapshot().manifests) + 2
    read_partitions = [r.partitions.get("cat") for r in reads]
    assert all(p is None or "B" in p for p in read_partitions)
    rows = {(r.cat, r.v) for r in table.read().collect()}
    assert rows == {("A", 1), ("A", 2), ("B", 30)}


def test_commit_none_inherits_and_empty_files_truncates(spark, tmp_path):
    """commit(None) with neither manifests nor new_files is a metadata-only
    commit that keeps every live file; files=[] is the explicit truncate."""
    loc = str(tmp_path / "guard")
    t = LakeTable(spark, loc)
    s0 = t.commit([DataFile(path="data/a.parquet", rows=1, bytes=10)], SCHEMA, "create", None)
    s1 = t.commit(None, SCHEMA, "append", s0.version)
    assert [f.path for f in s1.files] == ["data/a.parquet"]
    assert s1.manifests == s0.manifests
    s2 = t.commit([], SCHEMA, "overwrite", s1.version)
    assert s2.n_files == 0


def test_delta_commit_naming_only_new_files_keeps_parent_files(spark, tmp_path):
    loc = str(tmp_path / "delta")
    t = LakeTable(spark, loc)
    s0 = t.commit([DataFile(path="data/a.parquet", rows=1, bytes=10)], SCHEMA, "create", None)
    s1 = t.commit(
        None, SCHEMA, "append", s0.version,
        new_files=[DataFile(path="data/b.parquet", rows=2, bytes=20)],
    )
    assert sorted(f.path for f in s1.files) == ["data/a.parquet", "data/b.parquet"]
    assert s1.summary["added-data-files"] == 1
    assert s1.summary["total-data-files"] == 2


def test_metadata_only_commit_keeps_files_and_equality_delete(spark, tmp_path):
    loc = str(tmp_path / "meta_only")
    t = LakeTable(spark, loc)
    s0 = t.commit(
        [
            DataFile(path="data/a.parquet", rows=1, bytes=10),
            DataFile(path="data/b.parquet", rows=1, bytes=10),
        ],
        SCHEMA, "create", None,
        delete_files=[DeleteFile(path="data/d.parquet", rows=1, bytes=10, equality_ids=["k1"])],
    )
    wider = T.StructType(SCHEMA.fields + [T.StructField("k3", T.StringType())])
    s1 = t.commit(None, wider, "evolve-schema", s0.version)
    assert sorted(f.path for f in s1.files) == ["data/a.parquet", "data/b.parquet"]
    assert s1.delete_files == s0.delete_files
    assert s1.summary["added-data-files"] == 0
    assert s1.summary["total-delete-files"] == 1


@pytest.mark.slow
def test_distributed_planner_on_100k_files(big_table):
    """Scan planning as a Spark job (lake/planning.py): on the 100k-entry
    manifest set, a selective k2 probe must return exactly the driver
    planner's file set while the executors, not the driver, evaluate the
    100k stats rows."""
    from dlt_iceberg_spark.lake.planning import plan_candidates
    from dlt_iceberg_spark.lake.pruning import Predicate

    snap = big_table.snapshot()
    pred = Predicate([("k2", ">=", 500_000), ("k2", "<=", 500_499)])
    dist = sorted(
        f.path
        for f in plan_candidates(
            big_table.spark, big_table.location, SCHEMA, snap.manifests, pred
        )
    )
    driver = sorted(
        f.path
        for f in snap.files
        if pred.may_match(f.stats, f.partition, f.sketches)
    )
    assert dist == driver and len(dist) == 50


def test_iceberg_metadata_export_shape(spark, tmp_path):
    """export_iceberg_metadata writes a v2-spec TableMetadata readable by
    an independent JSON parser: required top-level fields, field-id'd
    schemas, snapshot list with sequence numbers, refs."""
    import json as _json

    from dlt_iceberg_spark.lake.catalog import LakeCatalog
    from dlt_iceberg_spark.lake.writer import LakeWriter, TableSpec

    catalog = LakeCatalog(spark, str(tmp_path))
    writer = LakeWriter(catalog, "ns")
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(1, "a", [1.0])], "id long, v string, e array<double>"),
        load_id="l0",
    )
    # evolve: second load adds a column; tag the head
    writer.write(
        TableSpec(name="t", write_disposition="append"),
        spark.createDataFrame([(2, "b", [2.0], 9)], "id long, v string, e array<double>, extra long"),
        load_id="l1",
    )
    table = catalog.load_table("ns", "t")
    table.create_tag("rel1")
    path = table.export_iceberg_metadata()

    md = _json.loads(open(path).read())  # independent parser: plain json
    for k in (
        "format-version", "table-uuid", "location", "last-sequence-number",
        "schemas", "current-schema-id", "partition-specs", "sort-orders",
        "properties", "current-snapshot-id", "snapshots", "snapshot-log", "refs",
    ):
        assert k in md, k
    assert md["format-version"] == 2
    head = table.snapshot()
    assert md["current-snapshot-id"] == head.version
    assert md["last-column-id"] == max(head.field_ids.values())
    # two distinct schemas along the ancestry; current one has the evolved col
    assert len(md["schemas"]) == 2
    cur = md["schemas"][md["current-schema-id"]]
    names = {f["name"]: f for f in cur["fields"]}
    assert names["extra"]["id"] == head.field_ids["extra"]
    assert names["id"]["type"] == "long" and names["v"]["type"] == "string"
    assert names["e"]["type"]["type"] == "list"
    assert names["e"]["type"]["element"] == "double"
    # snapshots oldest-first with parent links and manifests
    snaps = md["snapshots"]
    assert [s["snapshot-id"] for s in snaps] == sorted(s["snapshot-id"] for s in snaps)
    assert snaps[-1]["schema-id"] == md["current-schema-id"]
    assert snaps[-1]["manifests"]  # head names its parquet manifests
    assert md["refs"]["main"] == {"snapshot-id": head.version, "type": "branch"}
    assert md["refs"]["rel1"]["type"] == "tag"
    # stable across re-export (same uuid, same ids)
    md2 = _json.loads(open(table.export_iceberg_metadata()).read())
    assert md2["table-uuid"] == md["table-uuid"]
    assert md2["schemas"] == md["schemas"]


def test_commit_records_iceberg_standard_metrics(spark, tmp_path):
    from dlt_iceberg_spark.lake.table import LakeTable
    from pyspark.sql import functions as F

    t = LakeTable(spark, str(tmp_path / "t"))
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    t.commit(t.stage_dataframe(df), df.schema, "create", None)
    s = t.snapshot().summary
    assert s["added-records"] == 10 and s["total-records"] == 10
    assert s["added-data-files"] == s["total-data-files"] > 0
    assert s["added-files-size"] == s["total-files-size"] > 0
    snap = t.snapshot()
    adds = t.stage_dataframe(spark.createDataFrame([(100, 1)], "id bigint, v bigint"))
    t.commit(
        None, t.schema(), "append", snap.version,
        manifests=snap.manifests, new_files=adds,
    )
    s2 = t.snapshot().summary
    assert s2["added-records"] == 1 and s2["total-records"] == 11
    # explicit caller keys win on collision
    snap = t.snapshot()
    t.commit(
        None, t.schema(), "append", snap.version,
        manifests=snap.manifests, new_files=[],
        summary={"added-records": "caller-said-so"},
    )
    assert t.snapshot().summary["added-records"] == "caller-said-so"


def test_grouped_aggregate_distributed_never_expands_manifests(
    spark, tmp_path, monkeypatch
):
    """Partition-grouped metadata aggregates at manifest scale (VERDICT r7
    task 6): past DISTRIBUTED_PLAN_MIN_FILES the per-group fold runs as
    ONE Spark job over the manifest parquet — the driver holds O(groups),
    and read_manifest (driver-side expansion) is never called.  The two
    tiers must agree exactly."""
    import dlt_iceberg_spark.lake.table as table_mod

    n = 60_000  # above the 50k distributed threshold
    files = [
        DataFile(
            path=f"data/f{i:06d}.parquet",
            rows=10,
            bytes=1000,
            stats={"v": [i * 10, i * 10 + 9]},
            partition={"g": str(i % 4)},
        )
        for i in range(n)
    ]
    schema = T.StructType(
        [T.StructField("g", T.LongType()), T.StructField("v", T.LongType())]
    )
    spec = [{"column": "g", "transform": "identity", "param": None, "name": None}]
    t = LakeTable(spark, str(tmp_path / "tg"))
    t.commit(files, schema, "create", None, partition_spec=spec)

    expected = [
        {
            "g": gv,
            "count": (n // 4) * 10,
            "min_v": gv * 10,
            "max_v": (n - 4 + gv) * 10 + 9,
        }
        for gv in range(4)
    ]
    monkeypatch.setattr(
        table_mod,
        "read_manifest",
        lambda *a, **kw: (_ for _ in ()).throw(
            AssertionError("distributed grouped aggregate expanded a manifest")
        ),
    )
    got = t.aggregate_stats(["v"], group_by="g")
    monkeypatch.undo()
    assert got == expected
    # driver tier (threshold forced high) agrees exactly
    monkeypatch.setattr(table_mod, "DISTRIBUTED_PLAN_MIN_FILES", 10**9)
    assert t.aggregate_stats(["v"], group_by="g") == expected
    monkeypatch.undo()
    # a file with missing stats refuses in the DISTRIBUTED tier too
    snap = t.snapshot()
    t.commit(
        None, schema, "append", snap.version, manifests=snap.manifests,
        new_files=[
            DataFile(
                path="data/nostats.parquet", rows=1, bytes=10,
                stats={}, partition={"g": "1"},
            )
        ],
    )
    assert t.aggregate_stats(["v"], group_by="g") is None
    assert [d["count"] for d in t.aggregate_stats(group_by="g")] == [
        150000, 150001, 150000, 150000,
    ]


def test_grouped_aggregate_distributed_masked_counts(spark, tmp_path, monkeypatch):
    """Grouped COUNTS stay metadata-exact under pure position deletes in
    the DISTRIBUTED tier too: the masked-address counts join the manifest
    scan by path — one job over delete files + manifest parquet, data
    files (synthetic here, so unreadable) never open."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import dlt_iceberg_spark.lake.table as table_mod
    from dlt_iceberg_spark.lake.manifest import DeleteFile

    n = 60_000
    files = [
        DataFile(
            path=f"data/f{i:06d}.parquet",
            rows=10,
            bytes=1000,
            stats={},
            partition={"g": str(i % 4)},
            sequence=1,
        )
        for i in range(n)
    ]
    schema = T.StructType(
        [T.StructField("g", T.LongType()), T.StructField("v", T.LongType())]
    )
    spec = [{"column": "g", "transform": "identity", "param": None, "name": None}]
    loc = str(tmp_path / "tm")
    t = LakeTable(spark, loc)
    snap = t.commit(files, schema, "create", None, partition_spec=spec)
    # a REAL position-delete parquet addressing 5 rows of a g=0 file and
    # 2 of a g=1 file (absolute-path form, like the write path records)
    os.makedirs(os.path.join(loc, "deletes"))
    dpath = os.path.join(loc, "deletes", "pd0.parquet")
    pq.write_table(
        pa.table({
            "file_path": pa.array(
                [os.path.join(loc, "data/f000000.parquet")] * 5
                + [os.path.join(loc, "data/f000001.parquet")] * 2,
                pa.string(),
            ),
            "pos": pa.array([0, 1, 2, 3, 4, 0, 1], pa.int64()),
        }),
        dpath,
    )
    t.commit(
        None, schema, "delete", snap.version,
        manifests=snap.manifests, new_files=snap.inline_files,
        delete_files=[
            DeleteFile(
                path="deletes/pd0.parquet", rows=7,
                bytes=os.path.getsize(dpath),
                equality_ids=[], sequence=2, content="position",
            )
        ],
    )
    monkeypatch.setattr(
        table_mod,
        "read_manifest",
        lambda *a, **kw: (_ for _ in ()).throw(
            AssertionError("distributed grouped count expanded a manifest")
        ),
    )
    got = t.aggregate_stats(group_by="g")
    monkeypatch.undo()
    assert got == [
        {"g": 0, "count": 150000 - 5},
        {"g": 1, "count": 150000 - 2},
        {"g": 2, "count": 150000},
        {"g": 3, "count": 150000},
    ]


def test_grouped_ndv_distributed_never_expands_manifests(
    spark, tmp_path, monkeypatch
):
    """Per-partition NDV at manifest scale: past DISTRIBUTED_PLAN_MIN_FILES
    the sketch union runs as ONE Spark job over the manifest parquet —
    read_manifest (driver-side expansion) is never called, the driver
    holds O(groups x k).  Tiers must agree exactly; a single unsketched
    file refuses in the distributed tier too."""
    import dlt_iceberg_spark.lake.table as table_mod

    n = 60_000
    files = [
        DataFile(
            path=f"data/f{i:06d}.parquet",
            rows=10,
            bytes=1000,
            stats={"v": [0, 9]},
            partition={"g": str(i % 4)},
            sketches={
                "v": {
                    "h": [(i % 4) * 1000 + (i // 4) % 50],
                    "c": True,
                    "t": "bigint",
                }
            },
        )
        for i in range(n)
    ]
    schema = T.StructType(
        [T.StructField("g", T.LongType()), T.StructField("v", T.LongType())]
    )
    spec = [{"column": "g", "transform": "identity", "param": None, "name": None}]
    t = LakeTable(spark, str(tmp_path / "tndv"))
    t.commit(files, schema, "create", None, partition_spec=spec)

    expected = [
        {"g": gv, "count": (n // 4) * 10, "ndv_v": 50} for gv in range(4)
    ]
    monkeypatch.setattr(
        table_mod,
        "read_manifest",
        lambda *a, **kw: (_ for _ in ()).throw(
            AssertionError("distributed grouped NDV expanded a manifest")
        ),
    )
    got = t.aggregate_stats(group_by="g", distinct=["v"])
    monkeypatch.undo()
    assert got == expected
    monkeypatch.setattr(table_mod, "DISTRIBUTED_PLAN_MIN_FILES", 10**9)
    assert t.aggregate_stats(group_by="g", distinct=["v"]) == expected
    monkeypatch.undo()
    snap = t.snapshot()
    t.commit(
        None, schema, "append", snap.version, manifests=snap.manifests,
        new_files=[
            DataFile(
                path="data/nosketch.parquet", rows=1, bytes=10,
                stats={"v": [0, 0]}, partition={"g": "1"},
            )
        ],
    )
    assert t.aggregate_stats(group_by="g", distinct=["v"]) is None
