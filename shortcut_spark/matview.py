"""Incrementally-maintained materialized aggregate views over a Store.

EXTENSION — the reference engine has no derived-data surface (its tables
are plain row stores, ``src/lib.rs:25-26``); this is the standard
lakehouse companion feature: a grouped aggregate kept in sync with a base
``Store`` by consuming its CDC delta (``Store.changes``) instead of
recomputing from scratch.

Maintenance theory (classic self-maintainable IVM):

- ``count`` / ``sum`` / ``avg`` are **self-maintainable**: the new group
  state is a pure function of the old state and the signed delta
  (+row for insert, -row for delete). A refresh therefore reads ONLY the
  delta and the touched groups' current rows — never the base table.
- ``min`` / ``max`` are NOT self-maintainable under deletes (deleting the
  current minimum says nothing about the runner-up), so any view that
  carries one falls back to recomputing **only the touched groups** from
  the base — one scan semi-joined to the touched key set (file-level
  stats pruning applies when the base is Z-ordered/indexed on a group
  key).

Exactness: sums are carried in the state as ``DECIMAL(27,6)`` (the repo's
``dsum`` convention), so incremental +/- is order-independent and the
refreshed view is bit-identical to a from-scratch recompute — which is
exactly what the DuckDB oracle does.

State storage is itself a ``Store`` (dogfooding): each refresh is ONE
atomic ``merge`` commit keyed on a null-safe md5 group key, so readers see
the pre-refresh or post-refresh view, never a torn middle — and the view
inherits snapshots/history/time-travel for free. Groups whose count
reaches zero are retained as ``__n = 0`` rows (filtered by ``read()``)
so a later re-insert is a plain upsert; ``vacuum_groups()`` physically
drops them.

100 TB story: refresh cost is ∝ |delta| + |touched groups|, not |base|.
``changes()`` prunes unread files driver-side by manifest ``max_rowid``,
the state scan is bounded by view cardinality (and prunable via a hash
index on ``__gk``), and the merge commit rewrites only the state files
containing touched groups.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import scoped_confs
from .store import Store

_DEC = T.DecimalType(27, 6)

#: agg kinds a view may carry; (kind, needs_col, self_maintainable)
_KINDS = {
    "count": (False, True),
    "sum": (True, True),
    "avg": (True, True),
    "min": (True, False),
    "max": (True, False),
}

_META = "matview.json"
_GK = "__gk"
_N = "__n"


def _gk_expr(keys: Sequence[str]):
    """Null-safe canonical group key: md5 of the keys' JSON struct with
    explicit nulls — NULL and '' hash differently, and joins on it are
    null-safe without <=> plumbing."""
    return F.md5(
        F.to_json(
            F.struct(*[F.col(k).cast("string").alias(k) for k in keys]),
            {"ignoreNullFields": "false"},
        )
    )


class MatView:
    """A grouped-aggregate view over a base ``Store``, refreshed from CDC.

    ``aggs`` is a list of ``(out_name, kind, col)`` with kind one of
    count | sum | avg | min | max (col is None for count).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        base: Store,
        keys: list[str],
        aggs: list[tuple[str, str, str | None]],
        state: Store,
        base_version: int,
    ):
        self.spark = spark
        self.path = path
        self.base = base
        self.keys = list(keys)
        self.aggs = [tuple(a) for a in aggs]
        self.state = state
        self.base_version = base_version
        #: observability: did the last refresh scan the base table?
        self.last_refresh_scanned_base = False
        #: observability: Spark jobs the last refresh ran (job-group count)
        self.last_refresh_jobs = 0
        self._self_maintainable = all(_KINDS[k][1] for _, k, _ in self.aggs)

    # -- construction -------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        base: Store,
        keys: Sequence[str],
        aggs: Sequence[tuple[str, str, str | None]],
    ) -> "MatView":
        keys = list(keys)
        aggs = [tuple(a) for a in aggs]
        base_fields = {f.name: f for f in base.schema.fields}
        for k in keys:
            if k not in base_fields:
                raise ValueError(f"no such group key {k!r}")
        for name, kind, col in aggs:
            if kind not in _KINDS:
                raise ValueError(f"unknown agg kind {kind!r}")
            if _KINDS[kind][0] and col not in base_fields:
                raise ValueError(f"no such agg column {col!r}")
        fields = [T.StructField(_GK, T.StringType(), False)]
        fields += [
            T.StructField(k, base_fields[k].dataType, True) for k in keys
        ]
        fields.append(T.StructField(_N, T.LongType(), True))
        for name, kind, col in aggs:
            if kind in ("sum", "avg"):
                fields.append(T.StructField(f"__s_{name}", _DEC, True))
            elif kind == "min":
                fields.append(
                    T.StructField(f"__m_{name}", base_fields[col].dataType, True)
                )
            elif kind == "max":
                fields.append(
                    T.StructField(f"__x_{name}", base_fields[col].dataType, True)
                )
        schema = T.StructType(fields)
        state = Store.create(spark, os.path.join(path, "state"), schema)
        mv = cls(spark, path, base, keys, aggs, state, base.manifest.version)
        full = mv._full_agg(base.find([]))
        state.insert(mv._to_state_rows(full))
        mv._save_meta()
        return mv

    @classmethod
    def open(cls, spark: SparkSession, path: str, base: Store | None = None) -> "MatView":
        with open(os.path.join(path, _META)) as fh:
            meta = json.load(fh)
        if base is None:
            base = Store.open(spark, meta["base_path"])
        state = Store.open(spark, os.path.join(path, "state"))
        # base_version prefers the STATE STORE's committed manifest props
        # (r12: refresh stamps it inside the merge's own manifest flip,
        # so state + version advance atomically — a crash between the old
        # merge commit and the meta-JSON rewrite could otherwise reopen
        # with a stale version and re-apply, hence double-count, the
        # delta). The JSON value remains the create-time fallback.
        committed = state.manifest.props.get("mv_base_version")
        base_version = (
            int(committed) if committed is not None else meta["base_version"]
        )
        return cls(
            spark,
            path,
            base,
            meta["keys"],
            [tuple(a) for a in meta["aggs"]],
            state,
            base_version,
        )

    def _save_meta(self) -> None:
        tmp = os.path.join(self.path, _META + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "base_path": self.base.path,
                    "base_version": self.base_version,
                    "keys": self.keys,
                    "aggs": [list(a) for a in self.aggs],
                },
                fh,
            )
        os.replace(tmp, os.path.join(self.path, _META))

    # -- aggregation shapes -------------------------------------------

    def _full_agg(self, df: DataFrame) -> DataFrame:
        """From-scratch grouped aggregate in internal state shape
        (group keys + __n + per-agg state columns)."""
        exprs = [F.count(F.lit(1)).alias(_N)]
        for name, kind, col in self.aggs:
            if kind in ("sum", "avg"):
                exprs.append(F.sum(F.col(col).cast(_DEC)).alias(f"__s_{name}"))
            elif kind == "min":
                exprs.append(F.min(col).alias(f"__m_{name}"))
            elif kind == "max":
                exprs.append(F.max(col).alias(f"__x_{name}"))
        return df.groupBy(*self.keys).agg(*exprs)

    def _to_state_rows(self, agged: DataFrame) -> DataFrame:
        """Attach __gk and project to the exact state schema (order AND
        types — Spark widens SUM(DECIMAL(27,6)) to (37,6), so every
        column is cast back to its declared state type)."""
        with_gk = agged.withColumn(_GK, _gk_expr(self.keys))
        return with_gk.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in self.state.schema.fields]
        )

    # -- refresh -------------------------------------------------------

    def refresh(self) -> int:
        """Bring the view up to the base's current version. Returns the
        number of groups touched (upserted into the state store).

        Single-action refresh: the combined rows are materialized ONCE
        (``localCheckpoint``) before the merge — the merge needs them
        twice (victims key probe + the insert itself), and without the
        cut each use would re-execute the whole delta-agg + state-scan +
        join plan from scratch. Jobs per refresh are counted via a job
        group and exposed as ``last_refresh_jobs`` (observability for
        the many-small-jobs failure mode)."""
        cur = self.base.manifest.version
        if cur == self.base_version:
            self.last_refresh_scanned_base = False
            self.last_refresh_jobs = 0
            return 0
        import uuid

        sc = self.spark.sparkContext
        # group name unique PER CALL: getJobIdsForGroup returns every
        # retained job ever tagged with the group, so a reused name
        # (same view path + version across tests/sessions) accumulates
        group = f"mv_refresh_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, f"matview refresh to v{cur}")
        # Small-delta fast path (r9): a micro-batch refresh plan has ~8
        # exchanges, and AQE materializes EACH as its own Spark job —
        # measured 19-21 jobs per tiny refresh where the irreducible
        # actions are four (delta materialization, victims write, rowid
        # counts, batch write). When the driver-side manifest arithmetic
        # (zero jobs: rowid watermark + live-row deltas) bounds the delta
        # small, compile the refresh statically; a bulk delta keeps AQE
        # (skew joins / partition coalescing earn their jobs there).
        # Identical results either way — AQE only re-plans execution.
        est = self._estimate_delta_rows(cur)
        # the bypass must bound the PLAN's inputs, not just the delta.
        # When the CDC window is CHANGE-DATA-FEED-served (r12) and the
        # view is self-maintainable, the refresh plan never touches the
        # base snapshots at all — its inputs are the appended-tier files
        # (≈ est via rowid pruning), the delete changelog (≈ est), and
        # the state store (semi-probe + combine join + merge victims) —
        # so the gate bounds est + 2·STATE rows and a CoW delete on a
        # non-tiny base still compiles statically (measured: the AQE
        # plan materializes each tiny exchange as its own job).
        # Otherwise the old snapshot-diff delete tier anti-joins base
        # rowid scans, where AQE's dynamic broadcast earns its jobs
        # (measured: sf0.1 base +35% without it) — the gate then bounds
        # base + delta as before.
        feed = (
            self._self_maintainable
            and self.base._cdf_window_rels(self.base_version) is not None
        )
        bound = (
            self.state.manifest.live_rows
            if feed
            else self.base.manifest.live_rows
        )
        small = est is not None and est + 2 * bound <= 100_000
        # static compile needs a STATIC partition count to match: with AQE
        # off every exchange fans to the session's shuffle partitions (32 ×
        # ~8 exchanges ≈ 256 launch floors for a bounded-tiny delta —
        # measured slower than the 19 AQE jobs it replaced); the gate
        # already bounds the plan's inputs to ≤ 100k rows, which one
        # partition handles comfortably
        static = {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "1",
        }
        try:
            with scoped_confs(self.spark, static if small else {}):
                delta = self.base.changes(self.base_version)
                if self._self_maintainable:
                    touched = self._combine_self_maintainable(delta)
                    self.last_refresh_scanned_base = False
                else:
                    touched = self._recompute_touched(delta)
                    self.last_refresh_scanned_base = True
                # lazy cut (r12, the CC convergence-probe pattern): the
                # merge's victims probe is the first action over ``rows`` and
                # materializes the checkpoint in ITS job; an eager checkpoint
                # here was one whole extra job per refresh
                rows = self._to_state_rows(touched).localCheckpoint(eager=False)
                try:
                    # stable_input: rows is the materialized cut, so the
                    # merge's insert skips its own re-checkpoint (r9 — one
                    # fewer materialization job per refresh). The view's new
                    # base_version is STAGED as a manifest prop before the
                    # merge, so it persists inside the merge's one atomic
                    # manifest flip (r12, the stream_epoch pattern): state
                    # and version can never be durable separately — a
                    # failed merge rolls the state handle back to its
                    # committed snapshot, which drops the staged prop.
                    # micro_batch rides the SAME driver-side bound as the
                    # static compile: the state upsert then lands in one
                    # write job with footer-read counts (no counts pass).
                    self.state.manifest.props["mv_base_version"] = str(cur)
                    n_groups, _ = self.state.merge(
                        rows, on=_GK, stable_input=True, micro_batch=small
                    )
                finally:
                    rows.unpersist()
                self.base_version = cur
                if self.state.manifest.props.get("mv_base_version") != str(cur):
                    # belt-and-braces: a merge path that did not commit (e.g.
                    # an empty batch) still durably advances via the JSON
                    self._save_meta()
        finally:
            sc.setJobGroup(None, None)
        self.last_refresh_jobs = len(
            sc.statusTracker().getJobIdsForGroup(group)
        )
        return n_groups

    def _estimate_delta_rows(self, cur_version: int) -> int | None:
        """Driver-side (zero-job) estimate of the CDC delta's row count
        between the view's snapshot and ``cur_version``: appends are
        exactly the rowid-watermark advance (rowids are never reused and
        rewrites preserve them); deletes fall out of the live-row balance
        old_live + appended − cur_live (exact when nothing was restored —
        a resurrection-tier refresh just loses the fast path). None when
        the old snapshot's manifest is no longer retained (vacuumed):
        the caller then keeps the conservative AQE plan."""
        from .manifest import Manifest

        try:
            old = Manifest.load(self.base.path, version=self.base_version)
        except FileNotFoundError:
            return None
        cur = self.base.manifest
        appended = max(0, cur.rowid - old.rowid)
        deleted = max(0, old.live_rows + appended - cur.live_rows)
        return appended + deleted

    def _combine_self_maintainable(self, delta: DataFrame) -> DataFrame:
        """IVM fast path: new group state = old state + signed delta.
        Reads the delta and the state store only — NEVER the base."""
        sgn = F.when(F.col("change_type") == F.lit("insert"), F.lit(1)).otherwise(
            F.lit(-1)
        )
        exprs = [F.sum(sgn).alias("__dn")]
        for name, kind, col in self.aggs:
            if kind in ("sum", "avg"):
                exprs.append(
                    F.sum(
                        F.when(
                            F.col(col).isNotNull(),
                            (sgn.cast(_DEC) * F.col(col).cast(_DEC)).cast(_DEC),
                        )
                    ).alias(f"__ds_{name}")
                )
        d = (
            delta.groupBy(*self.keys)
            .agg(*exprs)
            .withColumn(_GK, _gk_expr(self.keys))
        )
        old = (
            self.state.find([])
            .join(d.select(_GK), _GK, "left_semi")
        )
        comb = old.alias("o").join(d.alias("d"), _GK, "full_outer")
        sel = [
            F.coalesce(F.col(f"o.{k}"), F.col(f"d.{k}")).alias(k) for k in self.keys
        ]
        sel.append(
            (
                F.coalesce(F.col(f"o.{_N}"), F.lit(0))
                + F.coalesce(F.col("d.__dn"), F.lit(0))
            ).alias(_N)
        )
        for name, kind, col in self.aggs:
            if kind in ("sum", "avg"):
                sel.append(
                    (
                        F.coalesce(F.col(f"o.__s_{name}"), F.lit(0).cast(_DEC))
                        + F.coalesce(F.col(f"d.__ds_{name}"), F.lit(0).cast(_DEC))
                    )
                    .cast(_DEC)
                    .alias(f"__s_{name}")
                )
        return comb.select(*sel)

    def _recompute_touched(self, delta: DataFrame) -> DataFrame:
        """min/max path: recompute ONLY the touched groups from the base.
        Groups that vanished entirely come back as __n = 0 rows so the
        merge tombstones them in the same commit."""
        touched = (
            delta.withColumn(_GK, _gk_expr(self.keys))
            .select(_GK, *self.keys)
            .distinct()
        )
        base_rows = (
            self.base.find([])
            .withColumn(_GK, _gk_expr(self.keys))
            .join(touched.select(_GK), _GK, "left_semi")
        )
        recomputed = self._full_agg(base_rows.drop(_GK))
        vanished = touched.join(
            recomputed.withColumn(_GK, _gk_expr(self.keys)).select(_GK),
            _GK,
            "left_anti",
        ).select(*self.keys)
        zero = vanished.withColumn(_N, F.lit(0).cast("long"))
        for name, kind, col in self.aggs:
            if kind in ("sum", "avg"):
                zero = zero.withColumn(f"__s_{name}", F.lit(None).cast(_DEC))
            elif kind == "min":
                dt = dict((f.name, f.dataType) for f in self.state.schema.fields)[
                    f"__m_{name}"
                ]
                zero = zero.withColumn(f"__m_{name}", F.lit(None).cast(dt))
            elif kind == "max":
                dt = dict((f.name, f.dataType) for f in self.state.schema.fields)[
                    f"__x_{name}"
                ]
                zero = zero.withColumn(f"__x_{name}", F.lit(None).cast(dt))
        return recomputed.unionByName(zero)

    # -- read ----------------------------------------------------------

    def read(self) -> DataFrame:
        """The view in user shape: group keys + finalized aggregates.
        avg finalizes as exact-decimal sum (cast double) / count — the
        ``davg`` twin convention."""
        df = self.state.find([]).filter(F.col(_N) > 0)
        sel = [F.col(k) for k in self.keys]
        for name, kind, col in self.aggs:
            if kind == "count":
                sel.append(F.col(_N).alias(name))
            elif kind == "sum":
                sel.append(F.col(f"__s_{name}").cast("double").alias(name))
            elif kind == "avg":
                sel.append(
                    (F.col(f"__s_{name}").cast("double") / F.col(_N)).alias(name)
                )
            elif kind == "min":
                sel.append(F.col(f"__m_{name}").alias(name))
            elif kind == "max":
                sel.append(F.col(f"__x_{name}").alias(name))
        return df.select(*sel)

    def vacuum_groups(self) -> int:
        """Physically drop retained __n = 0 group rows (cosmetic — read()
        already filters them). One CoW delete commit."""
        from .cmp import eq

        return self.state.delete([eq(_N, 0)])
