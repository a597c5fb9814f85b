"""File and manifest skipping — the one evaluator every planner uses.

Reads, merges, deletes, changelogs and metadata pushdowns all ask the same
question of a manifest entry: can this file (or this whole manifest chunk)
hold a row matching the predicate, judging only by metadata?  This module
answers it once, for every shape that metadata comes in:

- a ``{column: [min, max]}`` bounds dict — ``DataFile.stats``,
  ``ManifestRef.ranges`` and ``DeleteFile.stats`` all share it; a ``None``
  bound (or a missing column) proves nothing;
- partition values — a ref's ``{field: [summary values]}`` or a file's
  ``{field: value}`` (a single value is a one-element summary); a ``None``
  value is hive's default partition, which null AND empty-string transform
  values both fold into, so it matches any probe;
- a ``sketches`` dict — ``"bloom:<col>"`` membership filters
  (lake/bloom.py) prove absence for equality probes.

:class:`Predicate` offers Iceberg's evaluator split
(``InclusiveMetricsEvaluator`` / ``StrictMetricsEvaluator`` /
``ManifestEvaluator``): :meth:`~Predicate.may_match` (inclusive: False
only when metadata PROVES no row matches — prune), :meth:`~Predicate.all_match`
(strict: True only when metadata proves EVERY row matches — answer from
metadata) and :meth:`~Predicate.to_column` (a conservative Spark filter
over the manifest parquet, for distributed planning in lake/planning.py).

Timestamp stats live in a UTC-naive ``'T'``-separated ISO frame.  A probe
that cannot be brought into that frame is left out of pruning (the
residual Spark filter still applies it exactly), and timestamp conjuncts
never take the strict shortcut.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dlt_iceberg_spark.lake.bloom import bloom_may_contain, bloom_key, is_bloom

_TS_TYPES = (T.TimestampType, T.TimestampNTZType)
_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_STRINGY = (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType)
_EQ_OPS = ("=", "==", "in")

#: session-timeZone spellings that mean UTC — normalized to "UTC" wherever a
#: frame name is recorded or compared
_UTC_TZ_NAMES = ("UTC", "Etc/UTC", "GMT", "Z", "+00:00")


def _utc_naive(v):
    """Aware datetime -> UTC-naive (the manifest stats frame: all stored
    timestamp stats are session-UTC naive ISO strings)."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _ts_prune_value(v: Any) -> str | None:
    """Probe value -> the exact ISO form timestamp stats are stored in
    ('YYYY-MM-DDTHH:MM:SS[.ffffff]', UTC-naive), or None when the value
    cannot be brought into that frame — the predicate then SKIPS stats
    pruning (conservative) while the residual Spark filter still applies it
    exactly.  Needed because lexicographic ISO-string compare is only
    chronological when both sides use the same separator and timezone frame
    ('2024-01-01 10:00' sorts before '2024-01-01T09:00' textually)."""
    if isinstance(v, str):
        try:
            v = _dt.datetime.fromisoformat(v.replace(" ", "T"))
        except ValueError:
            return None
    if isinstance(v, _dt.datetime):
        return _utc_naive(v).isoformat()
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat()
    return None


def _session_zone(tz_name: str):
    """Session ``spark.sql.session.timeZone`` value -> tzinfo, or None when
    the zone can't be resolved (caller skips pruning, conservative).
    Handles IANA names via zoneinfo and fixed-offset forms (±HH:MM)."""
    if tz_name in _UTC_TZ_NAMES:
        return _dt.timezone.utc
    m = re.fullmatch(r"([+-])(\d{2}):(\d{2})", tz_name)
    if m:
        sign = 1 if m.group(1) == "+" else -1
        return _dt.timezone(
            sign * _dt.timedelta(hours=int(m.group(2)), minutes=int(m.group(3)))
        )
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(tz_name)
    except Exception:
        return None


def _aware_in_session(v: Any, tz_name: str):
    """Probe value -> AWARE datetime carrying the instant the residual
    Spark filter will use: naive values are interpreted in the session
    frame (exactly what Spark does when casting a naive string to
    timestamp), aware values pass through.  Returns None when the session
    zone is unresolvable or the naive local time is DST-ambiguous or
    nonexistent — Python's fold rules and the JVM's gap normalization can
    disagree there, and a probe that names a different instant than the
    residual filter could prune a file that holds matching rows."""
    if isinstance(v, str):
        try:
            v = _dt.datetime.fromisoformat(v.replace(" ", "T"))
        except ValueError:
            return None
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        v = _dt.datetime(v.year, v.month, v.day)
    if not isinstance(v, _dt.datetime):
        return None
    z = _session_zone(tz_name)
    if z is None:
        return None
    a0 = v.replace(tzinfo=z, fold=0)
    a1 = v.replace(tzinfo=z, fold=1)
    if a0.utcoffset() != a1.utcoffset():
        return None  # ambiguous local time (DST fall-back hour)
    # nonexistent local time (spring-forward gap): round-tripping through
    # UTC does not reproduce the wall-clock value
    back = a0.astimezone(_dt.timezone.utc).astimezone(z).replace(tzinfo=None)
    if back != v:
        return None
    return a0


def _stats_frame(dtype: T.DataType, v: Any, session_tz: str) -> Any:
    """A timestamp probe value (or in-list) in the UTC-naive stats frame,
    or None when it cannot be framed.  tz-adjusted stats decode in UTC
    while naive probes mean session-frame instants, so a non-UTC session
    converts through its zone (the instant the residual filter uses); NTZ
    columns are wall-clock on both sides."""

    def one(x):
        if isinstance(dtype, T.TimestampType) and session_tz not in _UTC_TZ_NAMES:
            x = _aware_in_session(x, session_tz)
            if x is None:
                return None
        return _ts_prune_value(x)

    if isinstance(v, list):
        vs = [one(x) for x in v]
        return vs if all(x is not None for x in vs) else None
    return one(v)


def _in_values(v: Any) -> tuple[list, bool]:
    """In-list probe values, sorted when orderable (then per-range checks
    bisect in O(log n) instead of scanning every value — the difference
    between 1e4 and 14 compares per file for a 10k-key rescan probe)."""
    try:
        return sorted(v), True
    except TypeError:  # mixed/unorderable values: linear scan
        return list(v), False


def _inclusive(op: str, v: Any):
    """``(min, max) -> bool``: could some value in [min, max] satisfy the
    term?  May raise TypeError on incomparable values (caller keeps)."""
    if op in ("=", "=="):
        return lambda mn, mx: mn <= v <= mx
    if op == "in":
        vs, ordered = _in_values(v)
        if not ordered:
            return lambda mn, mx: any(mn <= x <= mx for x in vs)

        def hit(mn, mx):
            i = bisect.bisect_left(vs, mn)
            return i < len(vs) and vs[i] <= mx

        return hit
    if op == "!=":  # only a single-valued range can be skipped
        return lambda mn, mx: not (mn == mx == v)
    if op == ">":
        return lambda mn, mx: mx > v
    if op == ">=":
        return lambda mn, mx: mx >= v
    if op == "<":
        return lambda mn, mx: mn < v
    if op == "<=":
        return lambda mn, mx: mn <= v
    return lambda mn, mx: True


def _strict(op: str, v: Any):
    """``(min, max) -> bool``: does EVERY value in [min, max] satisfy the
    term?  May raise TypeError (caller answers no)."""
    if op in ("=", "=="):
        return lambda mn, mx: mn == mx == v
    if op == "in":
        vs, ordered = _in_values(v)
        if not ordered:
            return lambda mn, mx: mn == mx and mn in vs

        def single(mn, mx):
            i = bisect.bisect_left(vs, mn)
            return mn == mx and i < len(vs) and vs[i] == mn

        return single
    if op == "!=":
        return lambda mn, mx: mx < v or mn > v
    if op == ">":
        return lambda mn, mx: mn > v
    if op == ">=":
        return lambda mn, mx: mn >= v
    if op == "<":
        return lambda mn, mx: mx < v
    if op == "<=":
        return lambda mn, mx: mx <= v
    return lambda mn, mx: False


def _spark_literal(dtype: T.DataType, value: Any):
    """(kind, literal) for the executor-side compare, or None when the
    column type has no conservative vectorized compare (the term then keeps
    every entry and the exact driver re-check decides)."""
    if isinstance(dtype, _NUMERIC):
        try:
            return "num", float(value)
        except (TypeError, ValueError):
            return None
    if isinstance(dtype, _STRINGY):
        if isinstance(value, (_dt.date, _dt.datetime)):
            return "str", value.isoformat()
        if isinstance(value, str):
            return "str", value
    return None


def _term_column(dtype: T.DataType, col: str, op: str, value: Any) -> Column:
    """Boolean Column over the manifest ``stats`` JSON: could the entry's
    [min, max] satisfy the term?  Conservative: numeric bounds compare as
    doubles (IEEE754 rounding is monotone, so a file can survive spuriously
    but never be dropped spuriously); strings/dates compare as UTF-8
    (ISO-encoded, so lexicographic == chronological); missing, JSON-null
    or uncastable bounds keep the entry; an in-list compares against its
    envelope [min(values), max(values)]."""
    if op == "in":
        lits = [_spark_literal(dtype, x) for x in (value or [])]
        if not lits or None in lits or len({k for k, _ in lits}) > 1:
            return F.lit(True)
        kind = lits[0][0]
        lo, hi = F.lit(min(x for _, x in lits)), F.lit(max(x for _, x in lits))
    else:
        lit = _spark_literal(dtype, value)
        if lit is None:
            return F.lit(True)
        kind = lit[0]
        lo = hi = F.lit(lit[1])

    def bound(idx: int) -> Column:
        # get_json_object renders a JSON null as the string "null"; nullif
        # folds it back to NULL and try_cast NULLs an unparseable bound —
        # both read as "stats prove nothing"
        raw = F.nullif(
            F.get_json_object(F.col("stats"), f"$['{col}'][{idx}]"), F.lit("null")
        )
        return raw.try_cast("double") if kind == "num" else raw

    mn, mx = bound(0), bound(1)
    if op in ("=", "==", "in"):
        dead = (mn > hi) | (mx < lo)
    elif op == "!=":
        dead = (mn == lo) & (mx == lo)
    elif op == ">":
        dead = mx <= lo
    elif op == ">=":
        dead = mx < lo
    elif op == "<":
        dead = mn >= lo
    elif op == "<=":
        dead = mn > lo
    else:
        return F.lit(True)
    return mn.isNull() | mx.isNull() | ~dead


class Predicate:
    """A conjunction of ``(column, op, value)`` terms plus partition probes
    (``{partition field: allowed value strings}``), evaluated against
    manifest metadata.

    ``where`` is the normalized conjunction (date/datetime values already
    ISO strings); it is kept as :attr:`where` for the residual Spark
    filter.  With ``schema``, timestamp terms are moved into the stats
    frame through ``session_tz`` and unframeable ones drop out of pruning.
    """

    def __init__(
        self,
        where=(),
        partitions: dict[str, set] | None = None,
        schema: T.StructType | None = None,
        session_tz: str = "UTC",
    ):
        self.where = list(where)
        self.partitions = partitions or {}
        dtypes = {f.name: f.dataType for f in schema.fields} if schema else {}
        #: timestamp conjuncts never take the strict (metadata-answer) path
        self._strict_ok = not any(
            isinstance(dtypes.get(c), _TS_TYPES) for c, _, _ in self.where
        )
        self._terms: list[tuple[str, str, Any]] = []
        for c, op, v in self.where:
            if isinstance(dtypes.get(c), _TS_TYPES):
                v = _stats_frame(dtypes[c], v, session_tz)
                if v is None:
                    continue
            self._terms.append((c, op, v))
        self._inclusive = [(c, _inclusive(op, v)) for c, op, v in self._terms]
        self._strict = [(c, _strict(op, v)) for c, op, v in self._terms]
        self._blooms = [
            (bloom_key(c), op, v) for c, op, v in self._terms if op in _EQ_OPS
        ]

    @classmethod
    def within(
        cls, ranges: dict[str, Any], partitions: dict[str, set] | None = None
    ) -> Predicate:
        """``lo <= col <= hi`` for each ``{col: (lo, hi)}``; a None side is
        unbounded."""
        return cls(
            [
                (c, op, v)
                for c, (lo, hi) in ranges.items()
                for op, v in ((">=", lo), ("<=", hi))
                if v is not None
            ],
            partitions,
        )

    @classmethod
    def overlapping(cls, stats: dict[str, Any], keys) -> Predicate:
        """The key envelope of an equality-delete file: ``lo <= key <= hi``
        on each key column its ``stats`` bound on both sides.  A data file
        or manifest this rejects holds no row the delete can mask."""
        return cls.within(
            {k: stats[k] for k in keys if stats.get(k) and None not in stats[k]}
        )

    def may_match(
        self,
        bounds: dict[str, Any],
        partition: dict[str, Any] | None = None,
        sketches: dict[str, Any] | None = None,
    ) -> bool:
        """Inclusive: False only when the bounds, partition values or
        blooms PROVE that nothing covered can satisfy the conjunction."""
        for col, test in self._inclusive:
            st = bounds.get(col)
            if st is None:
                continue
            mn, mx = st
            if mn is None or mx is None:
                continue
            try:
                if not test(mn, mx):
                    return False
            except TypeError:  # e.g. probing a string column with an int
                continue
        if self.partitions and partition:
            for name, allowed in self.partitions.items():
                v = partition.get(name)
                if v is None:
                    continue  # older spec (key absent) or hive default
                if isinstance(v, list):  # a manifest's value summary
                    if not any(x is None or x in allowed for x in v):
                        return False
                elif v not in allowed:  # a file's one value
                    return False
        if self._blooms and sketches:
            for key, op, v in self._blooms:
                bl = sketches.get(key)
                if is_bloom(bl) and not bloom_may_contain(bl, op, v):
                    return False
        return True

    def all_match(self, bounds: dict[str, Any]) -> bool:
        """Strict: True only when the bounds prove EVERY row satisfies the
        conjunction (its file then answers COUNT/MIN/MAX unopened).
        Missing or incomparable stats, and any timestamp conjunct, say
        no."""
        if not self._strict_ok:
            return False
        for col, test in self._strict:
            st = bounds.get(col)
            if st is None or st[0] is None or st[1] is None:
                return False
            try:
                if not test(st[0], st[1]):
                    return False
            except TypeError:
                return False
        return True

    def to_column(self, schema: T.StructType) -> Column:
        """Conservative Spark filter over manifest-entry rows (``stats`` /
        ``partition`` JSON columns): a superset of :meth:`may_match`'s
        survivors, minus blooms.  ``get_json_object`` returns NULL for a
        missing partition key and the string "null" for a JSON null — both
        keep the entry, like the driver rule."""
        dtypes = {f.name: f.dataType for f in schema.fields}
        cond = F.lit(True)
        for c, op, v in self._terms:
            cond = cond & _term_column(dtypes[c], c, op, v)
        for name, vals in self.partitions.items():
            raw = F.get_json_object(F.col("partition"), f"$['{name}']")
            val = F.nullif(raw, F.lit("null"))
            cond = cond & (raw.isNull() | val.isNull() | val.isin(sorted(vals)))
        return cond
