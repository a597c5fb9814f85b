"""Layer tracing for the lake benchmark.

The tracer wraps the library's layer entry points from the outside, at the
attribute each caller actually resolves: a function imported by name
(``from ...schema.casting import cast_dataframe_safe`` in ``lake.writer``)
is replaced in every ``dlt_iceberg_spark`` module that holds it, and a
method is replaced on its class.  Spans live in memory (name, start, end,
parent, op) and are written out once, when the run ends.  Counters ride the
same wrappers: files and bytes staged, files a copy-on-write merge touched
against the files live, ``LocalFileIO`` calls and bytes, commit conflicts.

With tracing off nothing is patched and ``span`` is a no-op, so the
end-to-end run executes the library untouched.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import Counter, defaultdict

#: span name -> (module, qualified attribute).  Functions are patched by
#: identity wherever a library module holds them; methods on their class.
ENTRY_POINTS = {
    "lake.pipeline.run": ("dlt_iceberg_spark.lake.pipeline", "Pipeline.run"),
    "lake.state.load_recorded": ("dlt_iceberg_spark.lake.state", "StateStore.load_recorded"),
    "lake.state.store_schema": ("dlt_iceberg_spark.lake.state", "StateStore.store_schema"),
    "lake.state.get_newest_schema": ("dlt_iceberg_spark.lake.state", "StateStore.get_newest_schema"),
    "lake.state.store_completed_load": ("dlt_iceberg_spark.lake.state", "StateStore.store_completed_load"),
    "lake.writer.write": ("dlt_iceberg_spark.lake.writer", "LakeWriter.write"),
    "schema.infer_schema": ("dlt_iceberg_spark.schema.converter", "infer_schema"),
    "schema.cast_dataframe_safe": ("dlt_iceberg_spark.schema.casting", "cast_dataframe_safe"),
    "schema.evolve_schema_if_needed": ("dlt_iceberg_spark.schema.evolution", "evolve_schema_if_needed"),
    "lake.merge.merge_plan": ("dlt_iceberg_spark.lake.merge", "merge_plan"),
    "lake.table.stage_dataframe": ("dlt_iceberg_spark.lake.table", "LakeTable.stage_dataframe"),
    "lake.table.commit": ("dlt_iceberg_spark.lake.table", "LakeTable.commit"),
    "lake.table.prune_split": ("dlt_iceberg_spark.lake.table", "LakeTable.prune_split"),
    "lake.table.fold_deletes": ("dlt_iceberg_spark.lake.table", "LakeTable.fold_deletes"),
    "lake.table.read": ("dlt_iceberg_spark.lake.table", "LakeTable.read"),
    "lake.table.position_delete_where": ("dlt_iceberg_spark.lake.table", "LakeTable.position_delete_where"),
    "lake.manifest.write_manifest": ("dlt_iceberg_spark.lake.manifest", "write_manifest"),
    "lake.manifest.read_manifest": ("dlt_iceberg_spark.lake.manifest", "read_manifest"),
    "lake.maintenance.compact_table": ("dlt_iceberg_spark.lake.maintenance", "compact_table"),
    "lake.maintenance.expire_snapshots": ("dlt_iceberg_spark.lake.maintenance", "expire_snapshots"),
    "lake.dataset.query": ("dlt_iceberg_spark.lake.dataset", "Dataset.query"),
    "lake.dataset.scan": ("dlt_iceberg_spark.lake.dataset", "Dataset.scan"),
}

#: spans the harness opens itself around work it drives (not library calls)
HARNESS_SPANS = ("lake.dataset.exec", "queries.build", "queries.exec")

#: every span whose totals the traced run reports
SPAN_NAMES = tuple(ENTRY_POINTS) + HARNESS_SPANS

#: LocalFileIO methods: those that move bytes, then those that only count
_IO_READS = ("read_text", "read_bytes")
_IO_WRITES = ("write_text", "write_bytes", "write_text_exclusive")
_IO_OTHER = (
    "rename", "exists", "isdir", "listdir", "remove", "rmtree", "makedirs",
    "size", "mtime", "walk_files", "open_parquet_source",
)


def _resolve(module: str, qualname: str):
    owner = sys.modules[module]
    *path, attr = qualname.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, attr


class Tracer:
    """Spans and counters for one run.  ``enabled=False`` makes every
    method a no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        #: [name, start, end, parent index, op index]
        self.spans: list[list] = []
        self.counters: Counter = Counter()
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = -1

    # -- spans ---------------------------------------------------------------

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NOOP

    # -- patching ------------------------------------------------------------

    def _wrap(self, name: str, fn):
        tracer = self
        on_return = _ON_RETURN.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
            except Exception as exc:
                tracer.counters[f"{name}.errors"] += 1
                if type(exc).__name__ == "CommitConflictError":
                    tracer.counters[f"{name}.conflicts"] += 1
                raise
            finally:
                tracer._close(idx)
            if on_return is not None:
                on_return(tracer.counters, out)
            return out

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        if not self.enabled:
            return
        import dlt_iceberg_spark.lake  # noqa: F401  (loads every lake module)
        import dlt_iceberg_spark.queries  # noqa: F401

        modules = [
            m for n, m in list(sys.modules.items())
            if n.startswith("dlt_iceberg_spark") and m is not None
        ]
        for name, (module, qualname) in ENTRY_POINTS.items():
            owner, attr = _resolve(module, qualname)
            original = getattr(owner, attr)
            wrapper = self._wrap(name, original)
            if isinstance(owner, type):
                self._set(owner, attr, wrapper)
                continue
            for mod in modules:
                for key, value in list(vars(mod).items()):
                    if value is original:
                        self._set(mod, key, wrapper)
        from dlt_iceberg_spark.lake.fileio import LocalFileIO

        for attr in _IO_READS + _IO_WRITES + _IO_OTHER:
            self._set(LocalFileIO, attr, self._wrap_io(attr, getattr(LocalFileIO, attr)))

    def _wrap_io(self, attr: str, fn):
        c = self.counters

        @functools.wraps(fn)
        def wrapper(io, path, *args, **kwargs):
            c["lake.fileio.calls"] += 1
            out = fn(io, path, *args, **kwargs)
            if attr in _IO_READS:
                c["lake.fileio.bytes_read"] += len(out)
            elif attr in _IO_WRITES:
                c["lake.fileio.bytes_written"] += len(args[0])
            return out

        return wrapper

    def span_cost_s(self) -> float:
        """Seconds one wrapped call adds over a bare call, measured here."""
        def bare():
            return None

        probe = Tracer(True)
        wrapped = probe._wrap("calibration", bare)
        n = 20_000
        t0 = time.perf_counter()
        for _ in range(n):
            bare()
        t1 = time.perf_counter()
        for _ in range(n):
            wrapped()
        t2 = time.perf_counter()
        return max(0.0, ((t2 - t1) - (t1 - t0)) / n)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- results -------------------------------------------------------------

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: ``s`` (outermost calls only, so a recursive entry
        point is not counted twice), ``self_s`` (duration minus direct
        children) and ``calls``."""
        child_time = defaultdict(float)
        for name, start, end, parent, _op in self.spans:
            if parent >= 0:
                child_time[parent] += end - start
        out = {n: {"s": 0.0, "self_s": 0.0, "calls": 0} for n in SPAN_NAMES}
        for i, (name, start, end, parent, _op) in enumerate(self.spans):
            agg = out.setdefault(name, {"s": 0.0, "self_s": 0.0, "calls": 0})
            agg["calls"] += 1
            agg["self_s"] += (end - start) - child_time[i]
            p = parent
            while p >= 0 and self.spans[p][0] != name:
                p = self.spans[p][3]
            if p < 0:
                agg["s"] += end - start
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "op"],
                    "spans": self.spans,
                    "counters": dict(self.counters),
                },
                fh,
            )


class _Span:
    __slots__ = ("tracer", "name", "idx")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)
        return False


class _NoSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NOOP = _NoSpan()


# -- counters derived from entry-point return values ---------------------------


def _staged(c: Counter, files) -> None:
    c["lake.table.stage_dataframe.files_written"] += len(files)
    c["lake.table.stage_dataframe.bytes_written"] += sum(f.bytes for f in files)


def _pruned(c: Counter, split) -> None:
    touched, kept_refs, kept_files = split
    c["lake.table.prune_split.touched_files"] += len(touched)
    c["lake.table.prune_split.live_files"] += (
        len(touched) + len(kept_files) + sum(r.n_files for r in kept_refs)
    )


def _compacted(c: Counter, result) -> None:
    c["lake.maintenance.compact_table.bytes_rewritten"] += result.rewritten_bytes


_ON_RETURN = {
    "lake.table.stage_dataframe": _staged,
    "lake.table.prune_split": _pruned,
    "lake.maintenance.compact_table": _compacted,
}


# -- Spark job accounting per op ------------------------------------------------


class SparkJobs:
    """Tags every op's Spark jobs with a job group and, once the op has
    returned and the listener bus has drained, counts the group's jobs,
    stages, tasks and failed tasks.  The counts repeat exactly run to run
    for the same seed."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.totals: Counter = Counter()
        self.ops = 0
        #: seconds spent waiting for the listener bus and reading counts
        self.overhead_s = 0.0

    def begin(self, op: int) -> None:
        if self.enabled:
            self.sc.setJobGroup(f"perfbench-op-{op}", f"op {op}")

    def end(self, op: int) -> None:
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        self.ops += 1
        for job_id in tracker.getJobIdsForGroup(f"perfbench-op-{op}"):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            self.totals["jobs"] += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None:
                    continue
                self.totals["stages"] += 1
                self.totals["tasks"] += stage.numTasks
                self.totals["failed_tasks"] += stage.numFailedTasks
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - t0
