"""The benchmark's workloads.

Each workload drives the library only through its public calls and hands
it only DataFrames built from :mod:`datagen` output.  A workload provides:

- ``fixture(rep)`` — set-up, run three times; the last repetition's state
  is what the ops use;
- ``rounds()`` — an endless stream of rounds; a round is a list of
  :class:`Op`.  A run times a whole number of rounds, ``ROUND_S`` (the
  round's nominal time on a 4-core host) sets how many fit in
  ``--seconds``, so every run of a workload does the same work;
- ``verify()`` — checks made after the timed region, returning one reason
  string per mismatch.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass
from datetime import timedelta
from pathlib import Path
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from oracle import Mirror, same_rows

from dlt_iceberg_spark.lake import (
    Dataset,
    LakeCatalog,
    LakeWriter,
    Pipeline,
    Resource,
    TableSpec,
    maintenance,
)

#: relative tolerance for float aggregates (Spark and DuckDB sum in
#: different orders); stored values always compare exactly
AGG_RTOL = 1e-9


@dataclass
class Op:
    kind: str
    fn: Callable[[], Any]
    #: input rows the op consumes: batch rows for a write, live rows of the
    #: tables read for a query or program, 0 for maintenance
    rows: int
    #: called on ``fn``'s result after the timed region; returns a reason
    #: string on mismatch
    check: Callable[[Any], str | None] | None = None


@dataclass
class Context:
    spark: Any
    work: Path
    seed: int
    tracer: Any


def _rng(*parts: int) -> np.random.Generator:
    return np.random.default_rng(list(parts))


def _dir_bytes(root: Path) -> tuple[int, int]:
    files = size = 0
    for cur, _dirs, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(cur, n))
    return files, size


def storage_by_subtree(warehouse: Path) -> dict[str, int]:
    """Bytes and files under the warehouse split into table data, table
    metadata and the ``_dlt_*`` ledger tables."""
    out = {f"storage.{k}.{u}": 0 for k in ("data", "metadata", "ledger") for u in ("bytes", "files")}
    if not warehouse.exists():
        return out
    for ns in warehouse.iterdir():
        if not ns.is_dir():
            continue
        for table in ns.iterdir():
            if not table.is_dir():
                continue
            for sub in table.iterdir():
                kind = "ledger" if table.name.startswith("_dlt_") else (
                    "data" if sub.name == "data" else "metadata"
                )
                if sub.is_dir():
                    files, size = _dir_bytes(sub)
                else:
                    files, size = 1, sub.stat().st_size
                out[f"storage.{kind}.files"] += files
                out[f"storage.{kind}.bytes"] += size
    return out


# -- table specs --------------------------------------------------------------

#: identity partitions on low-cardinality status columns: every write fans
#: out over a few partition directories without multiplying file counts
ORDERS_HINTS = {"o_orderstatus": {"partition": True}}
LINEITEM_HINTS = {"l_returnflag": {"partition": True}}
ORDERS_KEY = ["o_orderkey"]
LINEITEM_KEY = ["l_orderkey", "l_linenumber"]
HARD_DELETE_COL = "_dlt_deleted_at"
SORT_BUCKETS = 4

UPSERT = {"disposition": "merge", "strategy": "upsert"}
DELETE_INSERT = {"disposition": "merge", "strategy": "delete-insert"}


def table_spec(table: str, disposition: Any = "append", **kw) -> TableSpec:
    """Partition hint plus a range sort on the key, so key-local merges
    prune to a few files; ``orders`` also keeps NDV sketches."""
    if table == "orders":
        return TableSpec(
            "orders", write_disposition=disposition, primary_key=ORDERS_KEY,
            column_hints=ORDERS_HINTS, sort_order=ORDERS_KEY, sort_buckets=SORT_BUCKETS,
            ndv_sketch_columns=["o_custkey"], **kw,
        )
    return TableSpec(
        "lineitem", write_disposition=disposition, primary_key=LINEITEM_KEY,
        column_hints=LINEITEM_HINTS, sort_order=["l_orderkey"], sort_buckets=SORT_BUCKETS, **kw,
    )


WRITE_SPECS = {
    "append": lambda t: table_spec(t),
    "cow_upsert_local": lambda t: table_spec(t, UPSERT),
    "cow_upsert_scattered": lambda t: table_spec(t, UPSERT),
    "delete_insert_hard_delete": lambda t: table_spec(t, DELETE_INSERT),
    "mor_upsert": lambda t: table_spec(t, UPSERT, merge_mode="mor"),
}

#: TPC-H-shaped SQL over the lake views, portable between Spark SQL and
#: DuckDB
Q1 = """
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
           sum(l_extendedprice) AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           avg(l_discount) AS avg_disc, count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus"""


def _where_sql(where: list[tuple[str, str, Any]]) -> str:
    return " WHERE " + " AND ".join(f"{c} {op} {v!r}" for c, op, v in where)


def _changed(rng, frame: pd.DataFrame, cols: list[str], donor: pd.DataFrame) -> pd.DataFrame:
    """``frame`` with ``cols`` replaced by the values of ``donor`` rows."""
    out = frame.reset_index(drop=True).copy()
    pick = donor.iloc[rng.integers(0, len(donor), len(out))].reset_index(drop=True)
    for c in cols:
        out[c] = pick[c].to_numpy()
    return out


LINEITEM_VALUES = ["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
                   "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"]


def lake_sequence(rng, base: dict[str, pd.DataFrame]) -> list[tuple[str, str, Any]]:
    """The seeded round of ``bulk_merge`` as ``(kind, table, payload)``.
    Writes carry a frame; ``position_delete_where`` and ``scan`` carry a
    predicate list; ``query`` carries SQL."""
    o, li = base["orders"], base["lineitem"]
    n = len(o)
    n_cust = max(1, int(o["o_custkey"].max()) + 1)
    pct = max(10, n // 100)
    new_keys = iter(range(n, 10 * n, pct))

    def orders_at(keys):
        return datagen.orders(rng, np.asarray(keys, dtype=np.int64), n_cust)

    def lineitem_update(rows: int):
        """``rows`` existing lines with new values plus the lines of a few
        new orders."""
        old = li.iloc[np.sort(rng.choice(len(li), rows, replace=False))]
        fresh = datagen.lineitem(rng, np.arange(next(new_keys), next(new_keys) + pct // 10), 20_000, 1_000)
        return pd.concat([_changed(rng, old, LINEITEM_VALUES, fresh), fresh], ignore_index=True)

    lo = int(rng.integers(0, n - pct))
    local = orders_at(np.arange(lo, lo + pct))
    scattered = orders_at(np.concatenate([
        np.sort(rng.choice(n, pct, replace=False)), np.arange(next(new_keys), next(new_keys) + pct // 10),
    ]))
    # a delete-insert batch on (l_orderkey, l_linenumber) that also
    # carries hard deletes: every other row is marked deleted
    lo = int(rng.integers(0, n - pct))
    relined = datagen.lineitem(rng, np.arange(lo, lo + pct // 2), 20_000, 1_000)
    marks = np.full(len(relined), np.datetime64("NaT"), dtype="datetime64[us]")
    marks[::2] = np.datetime64("2024-06-01T00:00:00", "us")
    relined[HARD_DELETE_COL] = marks
    lo = int(rng.integers(0, n - pct))
    doomed = [("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + pct // 3)]
    lo = int(rng.integers(0, n - pct))
    l_range = [("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + pct // 5)]
    return [
        ("append", "orders", o),
        ("append", "lineitem", li),
        ("cow_upsert_local", "orders", local),
        ("cow_upsert_scattered", "orders", scattered),
        ("delete_insert_hard_delete", "lineitem", relined),
        ("mor_upsert", "lineitem", lineitem_update(pct * 4)),
        ("position_delete_where", "lineitem", doomed),
        # reads over the unfolded merge-on-read history
        ("query", "lineitem", Q1),
        ("scan", "lineitem", l_range),
        # a registry program (pandas-UDF kernel) over a fixed snapshot
        ("program", "knn_label_vote", None),
        ("compact_table", "lineitem", None),
        ("expire_snapshots", "lineitem", None),
    ]


def apply_to_mirror(mirror: Mirror, kind: str, table: str, payload: Any) -> Any:
    """Replay one step on DuckDB; reads return the expected answer."""
    if kind == "append":
        mirror.append(table, payload)
    elif kind in WRITE_SPECS:
        keys = ORDERS_KEY if table == "orders" else LINEITEM_KEY
        mirror.upsert(table, payload, keys, HARD_DELETE_COL if HARD_DELETE_COL in payload.columns else None)
    elif kind == "position_delete_where":
        mirror.delete_where(table, payload)
    elif kind == "query":
        return mirror.frame(payload)
    elif kind == "scan":
        return mirror.frame(f"SELECT * FROM {table}{_where_sql(payload)}")
    return None


class Workload:
    name = ""
    ROUND_S = 1.0

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark

    def fixture(self, rep: int) -> None:
        raise NotImplementedError

    def rounds(self) -> Iterator[list[Op]]:
        raise NotImplementedError

    def verify(self) -> list[str]:
        return []

    def storage(self) -> dict[str, int]:
        raise NotImplementedError

    def growth_ms_per_commit(self) -> float:
        return 0.0

    def _exec(self, relation) -> pd.DataFrame:
        with self.ctx.tracer.span("lake.dataset.exec"):
            return relation.df()


# -- small_loads ----------------------------------------------------------------


READ_BACK = """
    SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
    FROM orders GROUP BY o_orderstatus"""


class SmallLoads(Workload):
    """Sequential ``Pipeline.run`` loads of a few hundred ``orders`` rows
    into one warehouse.  A round is three appends, one small upsert and a
    read-back query over what landed.  The first round also creates the
    tables and is the process's first Spark work."""

    name = "small_loads"
    ROUND_S = 10.0
    BATCH = 300
    APPENDS_PER_ROUND = 3
    #: upserts rewrite keys of the most recent loads (late-arriving
    #: updates), plus some new keys
    RECENT_LOADS = 4

    def fixture(self, rep: int) -> None:
        self.rep = rep
        self.warehouse = self.ctx.work / f"small-{rep}"
        self.pipe = Pipeline(self.spark, str(self.warehouse), "shop", pipeline_name="perfbench")
        if getattr(self, "mirror", None) is not None:
            self.mirror.close()
        self.mirror = Mirror()
        self.next_key = 0
        self.load_keys: list[np.ndarray] = []
        self.loads = 0
        self.rng = _rng(self.ctx.seed, 11, rep)
        #: (loads already in the ledger, seconds) of every append load
        self.append_latency: list[tuple[int, float]] = []

    def _batch(self, upsert: bool) -> pd.DataFrame:
        old = np.array([], dtype=np.int64)
        if upsert:
            recent = np.concatenate(self.load_keys[-self.RECENT_LOADS:])
            old = self.rng.choice(recent, self.BATCH * 2 // 3, replace=False)
        new = np.arange(self.next_key, self.next_key + self.BATCH - len(old))
        self.next_key += len(new)
        self.load_keys.append(new)
        return datagen.orders(self.rng, np.sort(np.concatenate([old, new])), 1_000)

    def _load(self, upsert: bool) -> Op:
        frame = self._batch(upsert)
        history = self.loads
        self.loads += 1
        if upsert:
            self.mirror.upsert("orders", frame, ORDERS_KEY)
        else:
            self.mirror.append("orders", frame)
        spark = self.spark
        res = Resource(
            lambda: spark.createDataFrame(frame), "orders",
            write_disposition="merge" if upsert else "append", primary_key=ORDERS_KEY,
        )

        def run():
            info = self.pipe.run(res)
            if not upsert:
                self.append_latency.append((history, info.duration_s))
            return info.already_loaded

        return Op("upsert" if upsert else "append", run, self.BATCH,
                  lambda already: "load reported as already loaded" if already else None)

    def _read_back(self) -> Op:
        want = self.mirror.frame(READ_BACK)
        live = int(self.mirror.frame("SELECT count(*) AS n FROM orders")["n"][0])
        ds = self.pipe.dataset()
        return Op("read_back", lambda: self._exec(ds.query(READ_BACK)), live,
                  lambda got: same_rows(got, want, AGG_RTOL))

    def rounds(self) -> Iterator[list[Op]]:
        while True:
            ops = [self._load(upsert=False) for _ in range(self.APPENDS_PER_ROUND)]
            ops.append(self._load(upsert=True))
            ops.append(self._read_back())
            yield ops

    def verify(self) -> list[str]:
        bad = []
        cat = self.pipe.catalog
        table = cat.load_table("shop", "orders")
        reason = same_rows(table.read().toPandas(), self.mirror.frame("SELECT * FROM orders"))
        if reason:
            bad.append(f"orders contents: {reason}")
        ledger = cat.load_table("shop", "_dlt_loads").read().count()
        if ledger != self.loads:
            bad.append(f"ledger holds {ledger} loads, ran {self.loads}")
        # one snapshot per load, plus the empty one table creation commits
        snaps = len(table.snapshots())
        if snaps != self.loads + 1:
            bad.append(f"orders has {snaps} snapshots after {self.loads} loads")
        return bad

    def storage(self) -> dict[str, int]:
        return storage_by_subtree(self.warehouse)

    def growth_ms_per_commit(self) -> float:
        """Least-squares slope of append-load latency against the number of
        loads already in the ledger.  The first load is left out: it also
        creates the tables."""
        pts = self.append_latency[1:]
        if len(pts) < 3:
            return 0.0
        x = np.array([p[0] for p in pts], dtype=float)
        y = np.array([p[1] for p in pts], dtype=float) * 1000.0
        return float(np.polyfit(x, y, 1)[0])


# -- registry programs -----------------------------------------------------------


class Programs:
    """Registry programs over a generated snapshot, written as parquet files
    in the layout the registry reads.  A run builds the program's DataFrame
    and materializes it through the ``noop`` sink; the check compares the
    program's rows with its DuckDB oracle."""

    ROWS = {"embeddings": int(datagen.SF01_ROWS["embeddings"] * 0.1)}

    def __init__(self, ctx: Context, data_dir: Path):
        self.ctx = ctx
        self.data_dir = data_dir
        data_dir.mkdir(parents=True, exist_ok=True)
        frame = datagen.embeddings(ctx.seed, self.ROWS["embeddings"])
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), data_dir / "embeddings.parquet")
        self._verdicts: dict[str, str | None] = {}

    @staticmethod
    def spec(name: str):
        from dlt_iceberg_spark.queries import REGISTRY

        return REGISTRY[name]

    def input_rows(self, name: str) -> int:
        oracle = self.spec(name).oracle
        return sum(n for t, n in self.ROWS.items() if re.search(rf"\b{t}\b", oracle))

    def run(self, name: str) -> None:
        tracer = self.ctx.tracer
        with tracer.span("queries.build"):
            df = self.spec(name).fn(self.ctx.spark, str(self.data_dir))
        with tracer.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, name: str) -> str | None:
        if name not in self._verdicts:
            import duckdb

            con = duckdb.connect()
            try:
                for t in self.ROWS:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir / t}.parquet'")
                spec = self.spec(name)
                got = spec.fn(self.ctx.spark, str(self.data_dir)).toPandas()
                self._verdicts[name] = same_rows(got, con.execute(spec.oracle).df())
            finally:
                con.close()
        return self._verdicts[name]


# -- bulk_merge -----------------------------------------------------------------


class BulkMerge(Workload):
    """One round is the seeded :func:`lake_sequence` in a fresh warehouse:
    bulk appends, copy-on-write and merge-on-read merges driven through
    ``LakeWriter``, reads over the unfolded delete history and a registry
    program, then compaction and snapshot expiry.  Each write reads its
    batch from a parquet file, as a load job would."""

    name = "bulk_merge"
    ROUND_S = 45.0
    SCALE = 0.05

    def fixture(self, rep: int) -> None:
        self.base = datagen.tpch_base(self.ctx.seed, self.SCALE)
        self.steps = []
        for i, (kind, table, payload) in enumerate(lake_sequence(_rng(self.ctx.seed, 21), self.base)):
            path = None
            if isinstance(payload, pd.DataFrame):
                path = self.ctx.work / f"bulk-input-{rep}" / f"{i}.parquet"
                path.parent.mkdir(parents=True, exist_ok=True)
                pq.write_table(pa.Table.from_pandas(payload, preserve_index=False), path)
            self.steps.append((kind, table, payload, path))
        self.programs = Programs(self.ctx, self.ctx.work / f"programs-{rep}")
        self.round_no = 0
        self.storage_totals: dict[str, int] = {}
        self.last_warehouse: Path | None = None
        self._mirror: Mirror | None = None
        self._answers: dict[int, Any] = {}

    def _expected(self, i: int) -> Any:
        """DuckDB's answer for step ``i`` (the mirror replays the whole
        round once, on first use)."""
        if self._mirror is None:
            self._mirror = Mirror()
            for j, (kind, table, payload, _path) in enumerate(self.steps):
                self._answers[j] = apply_to_mirror(self._mirror, kind, table, payload)
        return self._answers[i]

    def _step(self, writer: LakeWriter, kind: str, table: str, payload: Any, path: Path | None) -> Any:
        cat, ns = writer.catalog, writer.namespace
        if kind in WRITE_SPECS:
            writer.write(WRITE_SPECS[kind](table), self.spark.read.parquet(str(path)))
            return None
        if kind == "position_delete_where":
            cat.load_table(ns, table).position_delete_where(payload)
            return None
        if kind == "compact_table":
            return maintenance.compact_table(cat.load_table(ns, table))
        if kind == "expire_snapshots":
            return maintenance.expire_snapshots(cat.load_table(ns, table), older_than=timedelta(0), keep_last=1)
        if kind == "program":
            return self.programs.run(table)
        ds = Dataset(cat, ns)
        if kind == "query":
            return self._exec(ds.query(payload))
        return self._exec(ds.scan(table, where=payload))

    def _check(self, i: int, kind: str, table: str):
        if kind in ("query", "scan"):
            return lambda got: same_rows(got, self._expected(i), AGG_RTOL if kind == "query" else 0.0)
        if kind == "program":
            return lambda _none: self.programs.check(table)
        return None

    def _rows(self, kind: str, table: str, payload: Any) -> int:
        if isinstance(payload, pd.DataFrame):
            return len(payload)
        if kind == "program":
            return self.programs.input_rows(table)
        if kind in ("query", "scan"):
            return sum(len(self.base[t]) for t in table.split(","))
        return 0

    def rounds(self) -> Iterator[list[Op]]:
        while True:
            if self.last_warehouse is not None:
                for k, v in storage_by_subtree(self.last_warehouse).items():
                    self.storage_totals[k] = self.storage_totals.get(k, 0) + v
                shutil.rmtree(self.last_warehouse, ignore_errors=True)
            wh = self.ctx.work / f"bulk-{self.round_no}"
            self.round_no += 1
            self.last_warehouse = wh
            writer = LakeWriter(LakeCatalog(self.spark, str(wh)), "bulk")
            yield [
                Op(kind, (lambda w=writer, s=step: self._step(w, *s)),
                   self._rows(kind, table, payload), self._check(i, kind, table))
                for i, step in enumerate(self.steps)
                for kind, table, payload, _path in [step]
            ]

    def verify(self) -> list[str]:
        self._expected(0)
        cat = LakeCatalog(self.spark, str(self.last_warehouse))
        bad = []
        for table in ("orders", "lineitem"):
            got = cat.load_table("bulk", table).read().toPandas()
            reason = same_rows(got, self._mirror.frame(f"SELECT * FROM {table}"))
            if reason:
                bad.append(f"{table} contents: {reason}")
        return bad

    def storage(self) -> dict[str, int]:
        totals = dict(self.storage_totals)
        for k, v in storage_by_subtree(self.last_warehouse).items():
            totals[k] = totals.get(k, 0) + v
        return totals


WORKLOADS = {w.name: w for w in (SmallLoads, BulkMerge)}
