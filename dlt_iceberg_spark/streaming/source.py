"""LakeTable as a Structured Streaming SOURCE — Iceberg streaming-read
parity (``spark.readStream.format("iceberg")`` tailing table appends),
built on PySpark 4's Python Data Source API.

Semantics (matching Iceberg's streaming read and our ``read_incremental``):

- Offsets are SNAPSHOT VERSIONS; each micro-batch covers the appends of
  ``(start, end]``.  Snapshots are immutable, so a checkpoint-replayed
  batch reads byte-identical data — exactly-once with any idempotent sink.
- Append-only tailing: an overwrite/merge/delete snapshot in the range
  raises (rows were rewritten or removed; a CDC consumer should use
  ``read_changes`` / ChangelogFeed instead).  Metadata-only snapshots
  (schema/partition DDL, compaction-flagged replaces are NOT layout-only
  for this purpose — compaction rewrites file sets; it raises) pass
  through contributing nothing.
- By default the stream starts at the CURRENT snapshot (only future
  appends flow — Iceberg's default).  ``starting_version`` rewinds the
  start (exclusive); ``from_beginning=true`` streams the whole table
  history first.
- ``changes=true`` switches to CDC MODE (Iceberg changelog-scan parity,
  the streaming twin of ``LakeTable.read_changes`` — which is its batch
  oracle in tests): the schema gains ``_change_type``/``_commit_version``
  and every snapshot contributes images — added files as inserts, removed
  files' parent-LIVE rows as deletes, new position/equality delete files
  as deletes of the parent rows they address/match, with the parent's MoR
  masks applied under the spec's sequence rules so already-dead rows are
  never re-deleted.  Layout-only snapshots contribute nothing.

Scale: everything driver-side is O(metadata) — offsets come from snapshot
JSON, and file diffs use a MANIFEST-REF diff (only manifests unique to a
snapshot vs its parent are read), so planning an append micro-batch costs
O(added + folded) at any table size (proved at 1M entries).  One
:class:`InputPartition` per data file; executors read their file with
pyarrow and emit Arrow record batches, so rows never pass through the
driver.  Era-aware: each partition carries the entry's ``names`` mapping
bridged through stable field ids, so files written before a
``rename_column`` stream under current names.

Reference surface: the reference has no streaming source (batch loads
only); this extends §2.12 the way Iceberg's spark integration does.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from dlt_iceberg_spark.lake.pruning import Predicate

#: snapshot ops a streaming tail passes through without emitting rows
_PASS_THROUGH_OPS = (
    "evolve-schema", "evolve-partition", "rename-column", "add-column",
    "drop-column", "promote-column", "backfill-stats", "analyze",
)
# "clone" adds its whole file set against the empty v0 parent — append
_APPEND_OPS = ("append", "create", "clone")

#: ops that change layout, not the row set — the CDC stream emits nothing
#: for them (keep in sync with LakeTable._LAYOUT_ONLY_OPS; a unit test
#: pins the equality.  Summary-flag skips — compaction / folded-delete-
#: files / rewritten-files — are inlined at the planning site with the
#: batch changelog's exact presence-vs-truthiness semantics)
_CDC_LAYOUT_ONLY_OPS = (
    "compact", "zorder", "evolve-schema", "evolve-partition",
    "backfill-stats", "analyze", "rename-column", "add-column",
    "drop-column", "promote-column", "consolidate-deletes",
)


def _strip_file_uri(p: str) -> str:
    """file:/p | file://p | file:///p -> /p (mirror of table._norm_path)."""
    if p.startswith("file:"):
        rest = p[len("file:"):]
        return "/" + rest.lstrip("/")
    return p


def _read_text(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def _current_version(location: str) -> int | None:
    try:
        return int(_read_text(os.path.join(location, "metadata", "_current")).strip())
    except FileNotFoundError:
        return None


def _snapshot_raw(location: str, version: int) -> dict:
    return json.loads(
        _read_text(os.path.join(location, "metadata", f"v{version:06d}.json"))
    )


def _file_entries(location: str, raw: dict, ref_keep=None) -> list[dict]:
    """Live file entries of a raw snapshot: path + names mapping + data
    sequence + stats (all the streaming source needs), from inline files +
    chunked manifests — pyarrow only, no SparkSession.

    ``ref_keep`` (manifest-ref dict -> bool) skips whole chunks WITHOUT
    opening them, using the refs' aggregate metadata — the caller promises
    the skipped chunks cannot hold entries it needs (eq-delete envelope
    pruning below)."""
    import pyarrow.parquet as pq

    out = [
        {
            "path": f["path"],
            "names": f.get("names", {}),
            "sequence": f.get("sequence"),
            "stats": f.get("stats", {}),
        }
        for f in raw.get("files", [])
    ]
    for ref in raw.get("manifests", []):
        if ref_keep is not None and not ref_keep(ref):
            continue
        t = pq.read_table(
            os.path.join(location, ref["path"]), columns=None
        )
        cols = {n: t.column(n).to_pylist() for n in t.column_names}
        for i in range(t.num_rows):
            out.append(
                {
                    "path": cols["path"][i],
                    "names": json.loads(cols["names"][i])
                    if "names" in cols and cols["names"][i]
                    else {},
                    "sequence": cols.get("sequence", [None] * t.num_rows)[i],
                    "stats": json.loads(cols["stats"][i])
                    if "stats" in cols and cols["stats"][i]
                    else {},
                }
            )
    return out


def _ref_diff(
    location: str, raw_cur: dict, raw_parent: dict | None
) -> tuple[list[dict], list[dict]]:
    """(added_entries, removed_entries) between a snapshot and its parent,
    diffing MANIFEST REFS first: entries inside manifests both snapshots
    share by reference cannot have changed, so only each side's UNIQUE
    manifests (plus inline file lists) are read.  An append tail therefore
    plans O(added + folded), never O(table) — the manifest-list reuse that
    keeps commits O(touched) pays off symmetrically on the read side."""
    cur_refs = {r["path"] for r in raw_cur.get("manifests", [])}
    par_refs = {r["path"] for r in (raw_parent or {}).get("manifests", [])}
    cur_view = {
        **raw_cur,
        "manifests": [
            r for r in raw_cur.get("manifests", []) if r["path"] not in par_refs
        ],
    }
    cur_entries = _file_entries(location, cur_view)
    if raw_parent is None:
        return cur_entries, []
    par_view = {
        **raw_parent,
        "manifests": [
            r for r in raw_parent.get("manifests", []) if r["path"] not in cur_refs
        ],
    }
    par_entries = _file_entries(location, par_view)
    cur_paths = {f["path"] for f in cur_entries}
    par_paths = {f["path"] for f in par_entries}
    return (
        [f for f in cur_entries if f["path"] not in par_paths],
        [f for f in par_entries if f["path"] not in cur_paths],
    )


@dataclass
class _FilePartition(InputPartition):
    abs_path: str
    names: dict  # current column -> physical column (None = absent)


@dataclass
class _ChangePartition(InputPartition):
    """One data file's contribution to a CDC micro-batch.

    ``kind``: ``insert`` (added file, all rows), ``delete`` (removed
    file, LIVE rows at parent), ``delete_pos`` (parent live rows
    addressed by this snapshot's new position deletes), ``delete_eq``
    (parent live rows matching this snapshot's new equality-delete
    keys).  ``parent_pos``/``parent_eq`` are the PARENT's applicable
    masks (so already-dead rows are never re-deleted); ``new_pos``/
    ``new_eq`` carry the snapshot's own delete files for the restricted
    kinds.  All paths absolute; eq entries are (path, [key cols])."""

    kind: str
    abs_path: str
    names: dict
    version: int
    parent_pos: list
    parent_eq: list
    new_pos: list
    new_eq: list


class _LakeStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.schema = schema
        self.location = options["location"]
        self.from_beginning = str(options.get("from_beginning", "")).lower() == "true"
        self.starting_version = options.get("starting_version")
        #: admission control for backfills (Iceberg's
        #: streaming-max-files-per-micro-batch, in snapshot units): each
        #: micro-batch advances at most N versions, so tailing a
        #: 10k-snapshot table from the beginning chunks instead of
        #: planning one giant batch.  The cap is applied in latestOffset
        #: relative to the LAST PLANNED end, tracked on the reader (the
        #: driver keeps one reader instance per run).
        mv = options.get("max_versions_per_batch")
        self.max_versions = int(mv) if mv is not None else None
        #: CDC mode: emit change IMAGES (_change_type/_commit_version)
        #: instead of refusing non-append snapshots — the streaming twin of
        #: LakeTable.read_changes, which is its batch oracle in tests
        self.changes = str(options.get("changes", "")).lower() == "true"
        self._last_end: int | None = None
        # the stream presents the schema as of stream START; capture that
        # snapshot's field ids so mid-stream renames translate through the
        # STABLE ids (same bridge as LakeTable.read_changes)
        cur = _current_version(self.location)
        self._start_field_ids = (
            _snapshot_raw(self.location, cur).get("field_ids", {})
            if cur is not None
            else {}
        )

    def initialOffset(self) -> dict:
        if self.starting_version is not None:
            return {"version": int(self.starting_version)}
        if self.from_beginning:
            return {"version": -1}
        cur = _current_version(self.location)
        return {"version": -1 if cur is None else cur}

    def latestOffset(self) -> dict:
        cur = _current_version(self.location)
        if cur is None:
            return {"version": -1}
        if self.max_versions is not None:
            floor = (
                self._last_end
                if self._last_end is not None
                else self.initialOffset()["version"]
            )
            cur = min(cur, floor + self.max_versions)
        return {"version": cur}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        s, e = start["version"], end["version"]
        self._last_end = max(e, self._last_end or e)
        if e <= s:
            # Spark requires ≥1 partition per planned batch; an empty file
            # partition yields zero rows
            return [_FilePartition("", {})]
        # walk parents from e down to s, diffing path sets per step —
        # identical logic to LakeTable.read_incremental, pyarrow-only
        raw_end = _snapshot_raw(self.location, e)
        raw = raw_end
        chain = []
        while raw is not None and raw["version"] > s:
            chain.append(raw)
            parent = raw.get("parent")
            if parent is None:
                if s >= 0:
                    raise ValueError(
                        f"no snapshot v{s} in ancestry of v{e}"
                    )
                break
            raw = _snapshot_raw(self.location, parent)
        if self.changes:
            return self._change_partitions(chain)
        parts: list[InputPartition] = []
        for raw in chain:
            op = raw.get("operation")
            if op in _PASS_THROUGH_OPS:
                continue
            if op not in _APPEND_OPS:
                raise ValueError(
                    f"cannot stream across a '{op}' snapshot "
                    f"(v{raw['version']}): rows were rewritten or removed; "
                    "use read_changes/ChangelogFeed for CDC "
                    "(or open the stream with changes=true)"
                )
            parent = raw.get("parent")
            parent_raw = (
                _snapshot_raw(self.location, parent) if parent is not None else None
            )
            # manifest-ref diff: only manifests UNIQUE to either side are
            # read, so planning an append batch costs O(added + folded)
            # entries — never a scan of the whole table's manifest set.
            # Each added entry's written names bridge to the stream schema
            # through ITS OWN era's field ids (a rename before or after the
            # add resolves through the stable id either way).
            added_entries, _removed = _ref_diff(self.location, raw, parent_raw)
            era_ids = raw.get("field_ids", {})
            for f in added_entries:
                parts.append(
                    _FilePartition(
                        os.path.join(self.location, f["path"]),
                        self._mapping_for(era_ids, f["names"]),
                    )
                )
        return parts or [_FilePartition("", {})]

    # -- CDC planning ------------------------------------------------------

    def _data_fields(self):
        return [
            f
            for f in self.schema.fields
            if f.name not in ("_change_type", "_commit_version")
        ]

    def _mapping_for(self, era_field_ids: dict, entry_names: dict) -> dict:
        """Stream-schema column -> physical column in a file whose entry
        follows ``era_field_ids`` naming — the same stable-field-id bridge
        as the append path, per era."""
        name_of_id = {i: n for n, i in (era_field_ids or {}).items()}
        start_ids = self._start_field_ids or era_field_ids or {}
        mapping = {}
        for f in self._data_fields():
            sid = start_ids.get(f.name)
            era = name_of_id.get(sid, f.name) if sid is not None else f.name
            phys = entry_names.get(era, era)
            if phys != f.name:
                mapping[f.name] = phys
        return mapping

    def _change_partitions(self, chain: list[dict]) -> Sequence[InputPartition]:
        parts: list[InputPartition] = []
        for raw in chain:
            op = raw.get("operation")
            summary = raw.get("summary", {})
            # EXACT batch-changelog semantics (table.py read_changes):
            # compaction skips on truthiness, the fold/rewrite markers on
            # PRESENCE — a "folded-delete-files": 0 still means layout-only
            if (
                op in _CDC_LAYOUT_ONLY_OPS
                or summary.get("compaction")
                or "folded-delete-files" in summary
                or "rewritten-files" in summary
            ):
                continue
            version = raw["version"]
            parent_v = raw.get("parent")
            parent_raw = (
                _snapshot_raw(self.location, parent_v)
                if parent_v is not None
                else None
            )
            # ref-diff keeps per-snapshot planning O(changed + folded);
            # the FULL parent entry set is read only when this snapshot
            # lands new delete files (their candidates can touch any file)
            added_entries, removed_entries = _ref_diff(
                self.location, raw, parent_raw
            )
            era_ids = raw.get("field_ids", {})
            parent_ids = (parent_raw or {}).get("field_ids", {})
            parent_deletes = (parent_raw or {}).get("delete_files", [])

            def _masks_for(entry):
                seq = entry.get("sequence") or 0
                pos = [
                    os.path.join(self.location, d["path"])
                    for d in parent_deletes
                    if d.get("content") == "position" and (d.get("sequence") or 0) >= seq
                ]
                eq = [
                    (
                        os.path.join(self.location, d["path"]),
                        list(d.get("equality_ids") or []),
                    )
                    for d in parent_deletes
                    if d.get("content") != "position" and (d.get("sequence") or 0) > seq
                ]
                return pos, eq

            def _guard_keys(entry, mapping, keys, what):
                for k in keys:
                    if mapping.get(k, k) != k or entry["names"].get(k, k) != k:
                        raise ValueError(
                            f"CDC streaming cannot bridge renamed {what} key "
                            f"{k!r} (file {entry['path']}); use "
                            "LakeTable.read_changes for this range"
                        )

            # inserts: files added by this snapshot
            for f in added_entries:
                parts.append(
                    _ChangePartition(
                        kind="insert",
                        abs_path=os.path.join(self.location, f["path"]),
                        names=self._mapping_for(era_ids, f["names"]),
                        version=version,
                        parent_pos=[],
                        parent_eq=[],
                        new_pos=[],
                        new_eq=[],
                    )
                )
            # delete images: files REMOVED by this snapshot (live rows only)
            for f in removed_entries:
                pos, eq = _masks_for(f)
                mapping = self._mapping_for(parent_ids, f["names"])
                for _, keys in eq:
                    _guard_keys(f, mapping, keys, "equality-delete")
                parts.append(
                    _ChangePartition(
                        kind="delete",
                        abs_path=os.path.join(self.location, f["path"]),
                        names=mapping,
                        version=version,
                        parent_pos=pos,
                        parent_eq=eq,
                        new_pos=[],
                        new_eq=[],
                    )
                )
            # delete images from this snapshot's NEW delete files
            new_dels = [
                d
                for d in raw.get("delete_files", [])
                if (d.get("sequence") or 0) == version
            ]
            if new_dels and parent_raw is not None:
                import pyarrow.parquet as pq

                new_pos = [d for d in new_dels if d.get("content") == "position"]
                new_eq = [d for d in new_dels if d.get("content") != "position"]
                # POSITION deletes address files by path, which manifest-ref
                # aggregates cannot index — the full parent entry listing is
                # the price of a position-delete batch (rare next to
                # appends), filtered below to the addressed paths.
                parent_entries = (
                    _file_entries(self.location, parent_raw) if new_pos else None
                )
                if new_pos:
                    # addresses name their files outright — plan ONLY those
                    addressed: set[str] = set()
                    for d in new_pos:
                        t = pq.read_table(
                            os.path.join(self.location, d["path"]),
                            columns=["file_path"],
                        )
                        addressed.update(
                            _strip_file_uri(p) for p in set(t.column("file_path").to_pylist())
                        )
                    for f in parent_entries:
                        if os.path.abspath(
                            os.path.join(self.location, f["path"])
                        ) not in addressed:
                            continue
                        pos, eq = _masks_for(f)
                        mapping = self._mapping_for(parent_ids, f["names"])
                        for _, keys in eq:
                            _guard_keys(f, mapping, keys, "equality-delete")
                        parts.append(
                            _ChangePartition(
                                kind="delete_pos",
                                abs_path=os.path.join(self.location, f["path"]),
                                names=mapping,
                                version=version,
                                parent_pos=pos,
                                parent_eq=eq,
                                new_pos=[
                                    os.path.join(self.location, d["path"])
                                    for d in new_pos
                                ],
                                new_eq=[],
                            )
                        )
                if new_eq:
                    # EQUALITY deletes carry key-column [min,max] stats, and
                    # manifest refs carry aggregate ranges: a chunk whose
                    # range misses EVERY new delete's envelope on some key
                    # cannot hold a candidate file, so it is never opened —
                    # a key-localized eq-delete batch plans O(overlapping
                    # chunks), not O(table), at any inventory size.
                    # Missing stats on either side conservatively keep.
                    envelopes = [
                        (
                            d,
                            Predicate.overlapping(
                                d.get("stats") or {}, d.get("equality_ids") or []
                            ),
                        )
                        for d in new_eq
                    ]

                    def _ref_may_hold_candidate(ref: dict) -> bool:
                        rngs = ref.get("ranges") or {}
                        return any(p.may_match(rngs) for _, p in envelopes)

                    eq_entries = (
                        parent_entries
                        if parent_entries is not None  # pos batch paid already
                        else _file_entries(
                            self.location, parent_raw,
                            ref_keep=_ref_may_hold_candidate,
                        )
                    )
                    for f in eq_entries:
                        f_seq = f.get("sequence") or 0
                        applicable = [
                            d
                            for d, p in envelopes
                            if (d.get("sequence") or 0) > f_seq
                            and p.may_match(f.get("stats", {}))
                        ]
                        if not applicable:
                            continue
                        pos, eq = _masks_for(f)
                        mapping = self._mapping_for(parent_ids, f["names"])
                        eq_new = [
                            (
                                os.path.join(self.location, d["path"]),
                                list(d.get("equality_ids") or []),
                            )
                            for d in applicable
                        ]
                        for _, keys in [*eq, *eq_new]:
                            _guard_keys(f, mapping, keys, "equality-delete")
                        parts.append(
                            _ChangePartition(
                                kind="delete_eq",
                                abs_path=os.path.join(self.location, f["path"]),
                                names=mapping,
                                version=version,
                                parent_pos=pos,
                                parent_eq=eq,
                                new_pos=[],
                                new_eq=eq_new,
                            )
                        )
        return parts or [_FilePartition("", {})]

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        if not partition.abs_path:
            return iter(pa.table([[] for _ in target], schema=target).to_batches())
        if isinstance(partition, _ChangePartition):
            return self._read_change(partition, target)
        mapping = partition.names or {}
        phys_cols = [
            mapping.get(f.name, f.name)
            for f in self.schema.fields
            if mapping.get(f.name, f.name) is not None
        ]
        t = pq.read_table(partition.abs_path, columns=phys_cols)
        arrays = []
        for f, field in zip(self.schema.fields, target):
            p = mapping.get(f.name, f.name)
            if p is None:
                arrays.append(pa.nulls(t.num_rows, type=field.type))
            else:
                arrays.append(t.column(p).cast(field.type))
        return iter(pa.table(arrays, schema=target).to_batches())

    def _read_change(self, p: _ChangePartition, target) -> Iterator:
        """Executor-side CDC image materialization for one data file:
        compute the PARENT-live row set (parent masks — position by
        address, equality by key with sequence rules already resolved at
        planning), restrict by kind, and emit with the image columns."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(p.abs_path)
        n = t.num_rows
        abs_self = os.path.abspath(p.abs_path)

        def _positions(paths) -> set:
            out: set = set()
            for path in paths:
                dt = pq.read_table(path, columns=["file_path", "pos"])
                for fp, pos in zip(
                    dt.column("file_path").to_pylist(), dt.column("pos").to_pylist()
                ):
                    if _strip_file_uri(fp) == abs_self:
                        out.add(pos)
            return out

        def _eq_matches(paths_keys) -> set:
            out: set = set()
            for path, ks in paths_keys:
                if not ks:
                    continue
                kt = pq.read_table(path, columns=ks)
                kset = set(zip(*[kt.column(k).to_pylist() for k in ks]))
                data_cols = [t.column(k).to_pylist() for k in ks]
                out |= {i for i, tup in enumerate(zip(*data_cols)) if tup in kset}
            return out

        if p.kind == "insert":
            take = list(range(n))
        else:
            dead = _positions(p.parent_pos) | _eq_matches(p.parent_eq)
            live = [i for i in range(n) if i not in dead]
            if p.kind == "delete_pos":
                addressed = _positions(p.new_pos)
                take = [i for i in live if i in addressed]
            elif p.kind == "delete_eq":
                match = _eq_matches(p.new_eq)
                take = [i for i in live if i in match]
            else:  # removed file: every parent-live row
                take = live
        # typed indices: an EMPTY take list must not infer arrow null type
        # (array_take(int64, null) has no kernel) — empty matches are
        # normal, e.g. an equality delete whose keys all miss this file
        sub = t if p.kind == "insert" else t.take(pa.array(take, type=pa.int64()))
        rows = sub.num_rows
        mapping = p.names or {}
        change = "insert" if p.kind == "insert" else "delete"
        arrays = []
        for f, field in zip(self.schema.fields, target):
            if f.name == "_change_type":
                arrays.append(pa.array([change] * rows, type=field.type))
            elif f.name == "_commit_version":
                arrays.append(pa.array([p.version] * rows, type=field.type))
            else:
                phys = mapping.get(f.name, f.name)
                if phys is None or phys not in sub.column_names:
                    arrays.append(pa.nulls(rows, type=field.type))
                else:
                    arrays.append(sub.column(phys).cast(field.type))
        return iter(pa.table(arrays, schema=target).to_batches())

    def commit(self, end: dict) -> None:
        pass


class LakeTableStreamSource(DataSource):
    """``spark.readStream.format("laketable").option("location", path)``.

    Register once per session with :func:`register_lake_stream_source`.
    The stream schema is the table's CURRENT snapshot schema at planning
    time; restart the stream after schema DDL (the same contract as
    Spark's file sources).
    """

    @classmethod
    def name(cls) -> str:
        return "laketable"

    def schema(self) -> T.StructType:
        location = self.options["location"]
        cur = _current_version(location)
        if cur is None:
            raise FileNotFoundError(f"no such table: {location}")
        schema = T.StructType.fromJson(_snapshot_raw(location, cur)["schema"])
        if str(self.options.get("changes", "")).lower() == "true":
            schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType(), False),
                    T.StructField("_commit_version", T.IntegerType(), False),
                ]
            )
        return schema

    def streamReader(self, schema: T.StructType) -> _LakeStreamReader:
        return _LakeStreamReader(schema, dict(self.options))

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "the laketable sink is append-only (outputMode('append')); "
                "complete/update modes need the disposition pipeline — use "
                "streaming.stream_write"
            )
        from dlt_iceberg_spark.streaming.sink import _LakeStreamWriter

        return _LakeStreamWriter(schema, dict(self.options))


def register_lake_stream_source(spark) -> None:
    """Idempotently register the ``laketable`` streaming format.

    Python data-source lookup for STREAM WRITES resolves through the
    default session's JVM-side registry — a ``newSession()`` child's own
    registration is not consulted there (PySpark 4 behavior, observed:
    child-registered format works for reads but ``writeStream`` raises
    DATA_SOURCE_NOT_FOUND).  Register on the default session too, so the
    format resolves no matter which session executes."""
    spark.dataSource.register(LakeTableStreamSource)
    try:
        default = type(spark).builder.getOrCreate()
        if default is not spark:
            default.dataSource.register(LakeTableStreamSource)
    except Exception:
        pass  # no default session to mirror into — the direct one stands


def read_stream(spark, location: str, **options):
    """Streaming DataFrame tailing a LakeTable's appends.

    ``options``: ``from_beginning=True`` streams existing rows first;
    ``starting_version=N`` rewinds to just after snapshot N;
    ``changes=True`` switches to CDC mode — the stream carries
    ``_change_type``/``_commit_version`` image columns and emits
    delete(old image)/insert(new image) pairs across merges, row-level
    deletes and rewrites (the streaming twin of
    ``LakeTable.read_changes``, which is its batch oracle).
    """
    register_lake_stream_source(spark)
    reader = spark.readStream.format("laketable").option("location", location)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
